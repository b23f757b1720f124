package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. local[8]: the box
  * has 32 CPUs and the heavy scale guards (17 M-vector semdedup boundary
  * crossing, sf10 funnel) are compute-bound; 8 threads halves their wall
  * clock vs the old local[4] while leaving headroom for the driver's
  * concurrent work. No test asserts a partition count, and every query
  * is partitioning-independent (the same suite is oracle-matched at
  * local[4] and benched at local[32]).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkEntry.localSession(8)
}
