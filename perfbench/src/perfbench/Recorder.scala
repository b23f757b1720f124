package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Listener counters for one job group (one span, or one untraced op),
  * written to the record by field name in snake_case (`cpuNs` as `cpu_ns`).
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** (launch, finish) epoch-ms of every finished task. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var blockRdds = 0L
  var blockBytes = 0L
}

/** Spark listener that attributes scheduler counters to the job group the
  * client thread set (`SparkContext.setJobGroup`) when each job started.
  * Jobs started by the engine on helper threads inherit the caller's local
  * properties, so broadcast and subquery jobs land in the same group.
  * Events are only read after the session stops, when the bus is drained.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.LinkedHashMap.empty[String, Counters]
  /** rddId -> split -> bytes of its stored blocks. */
  private val blocks = mutable.HashMap.empty[Int, mutable.HashMap[Int, Long]]
  /** rddId -> group of the first stage that computed it. */
  private val rddGroup = mutable.HashMap.empty[Int, String]
  /** Catalyst phase (name, startMs, endMs) of every executed QueryExecution. */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def counters(g: String): Counters = synchronized(groups.getOrElseUpdate(g, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageGroup(s) = g)
    counters(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "none")
    e.stageInfo.rddInfos.foreach(r => rddGroup.getOrElseUpdate(r.id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, split) if info.storageLevel.isValid =>
        val b = blocks.getOrElseUpdate(rdd, mutable.HashMap.empty)
        b(split) = math.max(b.getOrElse(split, 0L), info.memSize + info.diskSize)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
  }

  /** Credits stored RDD blocks to the group whose stage first computed the RDD. */
  def attributeBlocks(): Unit = synchronized {
    blocks.foreach { case (rdd, splits) =>
      rddGroup.get(rdd).foreach { g =>
        val c = counters(g)
        c.blockRdds += 1
        c.blockBytes += splits.values.sum
      }
    }
  }
}
