package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code working set of the iterative queries. Spark caches
  * compiled classes in a 100-entry cache (4 LRU segments of 25) keyed by
  * class loader and source, so every distinct class a query compiles is a
  * cache entry: a whole-stage class fills two (the driver's fallback
  * check and the task threads), and the projections, orderings and
  * aggregation buffers of operators outside whole-stage codegen fill one
  * each. The loops fold their input through graft.Bounded, which plans it
  * once: a round after the first plans nothing, so it runs no SQL action
  * and compiles no class.
  */
class CodegenWorkingSetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  // log each job the calling thread runs, when it starts and when it ends
  private val jobLoggers = Seq("org.apache.spark.SparkContext",
    "org.apache.spark.scheduler.DAGScheduler")

  /** Runs `body` with an appender that records, in order, each class
    * CodeGenerator compiles (logged at DEBUG on the compiling thread) and
    * the start and end of each job a thread runs (logged at INFO on that
    * thread as "Starting job: <call site>" and "Job <id> finished: <call
    * site>, took …"). `event` maps each to a record or drops it; an
    * event's thread finishes logging it before it goes on, so a task's
    * compile comes before the end of its job.
    */
  private def eventsDuring[E](body: => Unit)(event: LogEvent => Option[E]): Seq[E] = {
    val seen = new ConcurrentLinkedQueue[E]()
    val appender = new AbstractAppender("graft-codegen-events", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = event(e).foreach(seen.add)
    }
    appender.start()
    val levels = (codegenLogger -> Level.DEBUG) +: jobLoggers.map(_ -> Level.INFO)
    val loggers = levels.map { case (name, level) =>
      val logger = LogManager.getLogger(name).asInstanceOf[Logger]
      val before = logger.getLevel
      Configurator.setLevel(name, level)
      logger.setAdditive(false) // the events stay out of the test log
      logger.addAppender(appender)
      (name, logger, before)
    }
    try body
    finally {
      loggers.foreach { case (name, logger, before) =>
        logger.removeAppender(appender)
        logger.setAdditive(true)
        Configurator.setLevel(name, before)
      }
      appender.stop()
    }
    seen.asScala.toSeq
  }

  private val bounded = "at Bounded.scala:"

  /** CodeGenerator logs each source it compiles at DEBUG (and the time it
    * took at INFO).
    */
  private def compiled(e: LogEvent): Boolean =
    e.getLoggerName == codegenLogger && e.getLevel == Level.DEBUG

  /** One build and noop write of `name`: (SQL actions, bounded rounds,
    * classes compiled after the first round ended and before the last one
    * ended, jobs other than rounds started in that span). A bounded round
    * is one fold of graft.Bounded, an RDD job that QueryExecutionListener
    * does not see.
    */
  private def rounds(name: String): (Int, Int, Int, Int) = {
    val actions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val events = try eventsDuring {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    } { e =>
      val msg = e.getMessage.getFormattedMessage
      if (compiled(e)) Some("compile")
      else if (msg.startsWith("Starting job: ")) Some("start " + msg)
      else if (msg.matches("(?s)Job \\d+ finished: .*")) Some("end " + msg)
      else None
    } finally {
      Thread.sleep(1500) // listener bus is async; let the write's event land
      spark.listenerManager.unregister(listener)
    }
    val ends = events.indices.filter(i => events(i).startsWith("end ") && events(i).contains(bounded))
    val span = if (ends.isEmpty) Nil else events.slice(ends.head + 1, ends.last)
    (actions.get(), ends.size, span.count(_ == "compile"),
      span.count(e => e.startsWith("start ") && !e.contains(bounded)))
  }

  test("BPE training rounds after the first add no generated source") {
    // the types checkpoint and the write are the SQL actions; 3 merge rounds
    assert(rounds("text_bpe_train3") == ((2, 3, 0, 0)))
  }

  test("BFS rounds after the first add no generated source") {
    // the rounds run on the driver over the folded edge set; the write of
    // the local result is the one SQL action
    assert(rounds("graph_shortest_hops") == ((1, 1, 0, 0)))
  }

  test("k-means iterations after the first add no generated source") {
    // the seed fold and 3 Lloyd rounds over one planned input; the write
    // of the local result is the one SQL action
    assert(rounds("embed_kmeans_converged") == ((1, 4, 0, 0)))
  }

  // ── every generated class, counted as it compiles ─────────────────────

  /** Runs `body` with an appender on CodeGenerator; returns the (job
    * group, compiled in a task) of each compile.
    */
  private def compilesDuring(body: => Unit): Seq[(String, Boolean)] =
    eventsDuring(body) { e =>
      if (!compiled(e)) None
      else {
        val tc = TaskContext.get()
        val group =
          if (tc != null) tc.getLocalProperty("spark.jobGroup.id")
          else spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        Some((String.valueOf(group), tc != null))
      }
    }

  /** Empties this JVM's codegen cache, so the next compiles are every
    * class a query needs, whatever ran before it.
    */
  private def clearCodegenCache(): Unit = {
    val owner = Class.forName(codegenLogger + "$")
    val field = try owner.getDeclaredField("cache") catch {
      case e: NoSuchFieldException =>
        fail(s"CodeGenerator has no `cache` field in this Spark version: $e")
    }
    field.setAccessible(true)
    val cache = field.get(owner.getField("MODULE$").get(null))
    cache.getClass.getMethod("invalidateAll").invoke(cache); ()
  }

  /** Classes one build and noop write of `name` compiles from an empty
    * cache: (driver, task).
    */
  private def classes(name: String): (Int, Int) = {
    val group = s"codegen-working-set-$name-${System.nanoTime()}"
    val mine = compilesDuring {
      clearCodegenCache()
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
    }.filter(_._1 == group)
    (mine.count(!_._2), mine.count(_._2))
  }

  test("each iterative query's generated classes, driver + task, are pinned") {
    // Measured at sf0.001 on local[8]. The iterative workload needs the
    // sum of these plus its output checks to fit the cache on every JVM,
    // whichever segments its entries hash to; a rise is a regression.
    val pinned = Map(
      "embed_kmeans_converged" -> (2, 1),
      "text_bpe_train3" -> (4, 7),
      "graph_shortest_hops" -> (6, 4),
      "sim_rerank_mmr" -> (6, 9))
    val got = pinned.keys.toSeq.sorted.map(n => n -> classes(n)).toMap
    assert(got == pinned, s"(driver, task) classes per query: $got")
  }
}
