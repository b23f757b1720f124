package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.columnshim.SessionJobs
import org.apache.spark.sql.types.StructType

/** Loops whose state is fixed by a dimension, not by the data: k-means'
  * cells, BPE's symbol pairs, a nation graph's edges, a rerank's pool.
  * Such a loop folds its input into the state on the executors, brings
  * the state to the driver, iterates there and returns a local frame.
  *
  * Every fold declares its bound, an expression of dimension sizes, and
  * fails as soon as a state passes it, naming the size and the bound, so a
  * data-sized input is never collected silently.
  *
  * A fold is one `treeAggregate` job over `df.queryExecution.toRdd`.
  * Spark plans that RDD once per Dataset, so the rounds of a loop over one
  * input share one plan: a round after the first runs no analysis,
  * optimization or planning, no SQL action and no new generated class.
  * The jobs show in SparkListener job counts, not in QueryExecutionListener
  * events or `explain`.
  */
object Bounded {

  /** Folds every row of `df` into one state: `add` folds a row in, `merge`
    * combines two partial states, `size` measures one. Throws when a state
    * measures more than `bound`. Rows are reused buffers: copy what the
    * state keeps.
    */
  def aggregate[S: ClassTag](df: DataFrame, bound: Long)(zero: S)(
      add: (S, InternalRow) => S, merge: (S, S) => S, size: S => Long): S = {
    def within(s: S): S = {
      val n = size(s)
      if (n > bound) throw new IllegalStateException(
        s"bounded state holds $n, above its bound of $bound")
      s
    }
    val qe = df.queryExecution
    // The session's artifact state gives the tasks the class loader its SQL
    // jobs' tasks use, so a class the input's other stages compiled is
    // reused, not compiled again under the default loader. Depth 2 keeps
    // the driver's share at about sqrt(partitions) states.
    SessionJobs.withSession(qe.sparkSession) {
      qe.toRdd.treeAggregate(zero)(
        (s, r) => within(add(s, r)), (a, b) => within(merge(a, b)), depth = 2)
    }
  }

  /** Every row of `df`, failing above `maxRows`. */
  def collect(df: DataFrame, maxRows: Long): Array[Row] = {
    val rows = aggregate(df, maxRows)(ArrayBuffer.empty[InternalRow])(
      (buf, r) => buf += r.copy(), (a, b) => a ++= b, _.size.toLong)
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    rows.map(toRow(_).asInstanceOf[Row]).toArray
  }

  /** A local frame of driver-built rows. */
  def frame(spark: SparkSession, rows: Seq[Row], ddl: String): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))
}
