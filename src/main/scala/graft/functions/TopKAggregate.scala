package graft.functions

import java.nio.ByteBuffer
import java.util.{PriorityQueue => JPriorityQueue}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.columnshim.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._

/** Bounded-state top-k aggregation (north-star similarity search).
  *
  * The naive distributed top-k-per-query plan — score all |Q|×|C| pairs,
  * then `row_number() OVER (PARTITION BY qid ORDER BY sim DESC)` — shuffles
  * the *entire scored cross product* to rank it. At 100 TB that shuffle is
  * the job. This aggregate keeps a k-sized heap per group: partial
  * aggregation bounds every partition's state at k rows per query, the
  * merge combines k-sized states, and only |Q|·k rows ever cross the wire.
  *
  * Ordering contract: higher score wins; ties break on smaller id — the
  * same total order as `ORDER BY sim DESC, id` so results stay
  * deterministic and oracle-comparable.
  *
  * Duplicate semantics: exact (score, id) duplicate inputs count ONCE —
  * this is a top-k over the distinct pair set, not a bag. That is load-
  * bearing for the multi-table LSH caller (the same pair surfaces once
  * per hash table) and differs from `ORDER BY ... LIMIT k`, which would
  * keep duplicate rows. See [[TopKBuffer.offer]].
  */
case class TopKPairs(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"top-k needs k > 0, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TopKPairs.entryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b)) if a.dataType == DoubleType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"topk_pairs expects struct<score:double,id:bigint>, got ${dt.simpleString}")
  }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1)) buf.offer(row.getDouble(0), row.getLong(1))
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = { buf.absorb(other); buf }

  override def eval(buf: TopKBuffer): Any = {
    val arr = buf.sortedBestFirst()
    new GenericArrayData(arr.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    })
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): TopKPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKPairs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKPairs =
    copy(child = cs.head)
  override def prettyName: String = "topk_pairs"
}

object TopKPairs {
  val entryType: StructType =
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false)))
}

/** Min-heap of the k best (score, id) pairs; the head is the current
  * worst so inserts beyond k evict in O(log k).
  */
final class TopKBuffer(val k: Int) {
  // head = worst kept pair: lowest score, then largest id.
  private val heap = new JPriorityQueue[(Double, Long)](k + 1,
    (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    })

  /** Insert, ignoring exact (score, id) duplicates — multi-table LSH can
    * emit the same scored pair once per table; deduplicating inside the
    * k-bounded state (O(k) scan, k is small) avoids a whole
    * `dropDuplicates` shuffle in the plan.
    */
  def offer(score: Double, id: Long): Unit = {
    if (heap.size < k) {
      if (!heap.contains((score, id))) heap.offer((score, id))
    } else {
      val worst = heap.peek()
      if ((score > worst._1 || (score == worst._1 && id < worst._2)) &&
          !heap.contains((score, id))) {
        heap.poll(); heap.offer((score, id))
      }
    }
  }

  def absorb(other: TopKBuffer): Unit = {
    val it = other.heap.iterator()
    while (it.hasNext) { val (s, i) = it.next(); offer(s, i) }
  }

  def sortedBestFirst(): Array[(Double, Long)] = {
    val arr = new Array[(Double, Long)](heap.size)
    heap.toArray(arr)
    scala.util.Sorting.stableSort(arr,
      (a: (Double, Long), b: (Double, Long)) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
    arr
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + heap.size * 16)
    bb.putInt(heap.size)
    val it = heap.iterator()
    while (it.hasNext) { val (s, i) = it.next(); bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }
}

object TopKFunctions {
  /** agg column: array<struct<score,id>> of the k best pairs, best first.
    * NOTE: exact (score, id) duplicate input rows are counted once (set
    * semantics, not bag) — see [[TopKPairs]]; use `ORDER BY ... LIMIT k`
    * if duplicate pairs must be preserved.
    */
  def topKPairs(pair: Column, k: Int): Column =
    column(TopKPairs(expression(pair), k))
}
