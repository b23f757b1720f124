package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code working set of the loop queries. Spark caches compiled
  * classes by source text in a 100-entry cache, so every distinct
  * whole-stage source a query runs is a cache entry (two in local mode:
  * one per class loader). A loop whose rounds run plans of the same shape
  * over the same schema reuses round 1's classes; a per-round literal, a
  * schema that changes after the seed or a per-round plan in the result
  * makes every round compile again. Sources are counted from the executed
  * plans, so the counts do not depend on what this JVM has cached.
  */
class CodegenWorkingSetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** One build and noop write of `name`: the whole-stage sources of each
    * action it runs (collects, checkpoints, the write), in order.
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
    // seed checkpoint, then per round a count and a merge checkpoint, and
    // the write; round 2 starts at action 3
    assert(roundInvariant("text_bpe_train3", actions = 8, later = 3) == 6)
  }

  test("BFS rounds after the first add no generated source") {
    // edge checkpoint, one collect per round, the write; round 2 is action 2
    assert(roundInvariant("graph_shortest_hops", actions = 5, later = 2) == 7)
  }

  test("k-means iterations after the first add no generated source") {
    // seed collect, one collect per iteration, the write; iteration 2 is
    // action 2
    assert(roundInvariant("embed_kmeans_converged", actions = 5, later = 2) == 2)
  }
}
