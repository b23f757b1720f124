package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code working set of the iterative queries. Spark caches
  * compiled classes in a 100-entry cache (4 LRU segments of 25) keyed by
  * class loader and source, so every distinct class a query compiles is a
  * cache entry: a whole-stage class fills two (the driver's fallback
  * check and the task threads), and the projections, orderings and
  * aggregation buffers of operators outside whole-stage codegen fill one
  * each. A loop whose rounds run plans of the same shape over the same
  * schema reuses round 1's classes; a per-round literal, a schema that
  * changes after the seed or a per-round plan in the result makes every
  * round compile again.
  */
class CodegenWorkingSetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** One build and noop write of `name`: the whole-stage sources of each
    * action it runs (collects, checkpoints, the write), in order. Sources
    * come from the executed plans, so they do not depend on the cache.
    */
  private def actionSources(name: String): Seq[Set[String]] = {
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val written = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(codegenStringSeq(qe.executedPlan).map(_._2).toSet)
        if (funcName == "overwrite") written.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      // listener events arrive in order on the bus: the write's is last
      assert(written.await(60, TimeUnit.SECONDS), s"$name: no write event")
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Asserts that the loop's actions from `later` on (all but the final
    * write, which is built once) run no source that the earlier actions
    * did not; returns the query's distinct source count.
    */
  private def roundInvariant(name: String, actions: Int, later: Int): Int = {
    val acts = actionSources(name)
    val loop = acts.init
    val first = loop.take(later).flatten.toSet
    val added = (loop.drop(later).flatten.toSet -- first).size
    assert(added == 0, s"$name: rounds after the first compile $added new sources")
    val ran = acts.size
    assert(ran == actions, s"$name ran $ran actions, pinned $actions")
    acts.flatten.toSet.size
  }

  test("BPE training rounds after the first add no generated source") {
    // types checkpoint, one count per round and one after the last merge,
    // the write; round 2 is action 2
    assert(roundInvariant("text_bpe_train3", actions = 6, later = 2) == 4)
  }

  test("BFS rounds after the first add no generated source") {
    // the rounds run on the driver over the collected edge set: one
    // collect and the write of the local result
    assert(roundInvariant("graph_shortest_hops", actions = 2, later = 1) == 5)
  }

  test("k-means iterations after the first add no generated source") {
    // seed collect, one collect per iteration, the write; iteration 2 is
    // action 2
    assert(roundInvariant("embed_kmeans_converged", actions = 5, later = 2) == 2)
  }

  // ── every generated class, counted as it compiles ─────────────────────

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Runs `body` with an appender on CodeGenerator, which logs every
    * source it compiles at DEBUG on the compiling thread; returns the
    * (job group, compiled in a task) of each compile.
    */
  private def compilesDuring(body: => Unit): Seq[(String, Boolean)] = {
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]()
    val appender = new AbstractAppender("graft-codegen-compiles", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG) {
        val tc = TaskContext.get()
        val group =
          if (tc != null) tc.getLocalProperty("spark.jobGroup.id")
          else spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        seen.add((String.valueOf(group), tc != null)); ()
      }
    }
    appender.start()
    val logger = LogManager.getLogger(codegenLogger).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(codegenLogger, Level.DEBUG)
    logger.setAdditive(false) // the sources stay out of the test log
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setAdditive(true)
      Configurator.setLevel(codegenLogger, level)
      appender.stop()
    }
    seen.asScala.toSeq
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
      "embed_kmeans_converged" -> (6, 8),
      "text_bpe_train3" -> (7, 12),
      "graph_shortest_hops" -> (8, 8),
      "sim_rerank_mmr" -> (7, 9))
    val got = pinned.keys.toSeq.sorted.map(n => n -> classes(n)).toMap
    assert(got == pinned, s"(driver, task) classes per query: $got")
  }
}
