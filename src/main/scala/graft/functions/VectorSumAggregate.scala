package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.columnshim.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._

/** Exact element-wise vector sum in fixed point — the Lloyd update step
  * of distributed k-means (per-cell component sums / member counts).
  *
  * Why fixed point: summing float components as doubles is
  * order-dependent, and Spark's partial/final aggregation tree visits
  * rows in partition order — two runs (or Spark vs a sequential oracle)
  * can differ in the last ulp. Scaling each component to an integer
  * FIRST — floor(x · 2^scaleBits), computed in double, which is exact
  * and engine-independent because both engines floor the identical IEEE
  * product — makes the aggregation integer arithmetic: associative,
  * commutative, and overflow-checked (`Math.addExact`, in ANSI spirit).
  * Any partitioning, any merge order, bit-identical results.
  *
  * Why an aggregate and not posexplode + groupBy(dim): state here is one
  * long per dimension PER GROUP, combined map-side, so only |cells| rows
  * reach the shuffle. The explode plan shuffles |rows|·dim rows — at
  * 100 TB of embeddings that multiplier is the job.
  */
case class FixedPointVecSum(
    child: Expression,
    scaleBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(scaleBits >= 0 && scaleBits < 63, s"scaleBits in [0, 62], got $scaleBits")

  private val scale: Double = (1L << scaleBits).toDouble

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"vec_fixedpoint_sum expects array<float>, got ${dt.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf else FixedPointKernel.add(buf, v.asInstanceOf[ArrayData], scale)
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    FixedPointKernel.merge(buf, other)

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.length * 8)
    bb.putInt(buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new Array[Long](n)
    var i = 0
    while (i < n) { b(i) = bb.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): FixedPointVecSum =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FixedPointVecSum =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FixedPointVecSum =
    copy(child = cs.head)
  override def prettyName: String = "vec_fixedpoint_sum"
}

/** The fixed-point vector sum of [[FixedPointVecSum]] and the k-means
  * fold: a sum buffer grows to the longest vector it has seen, null
  * components add nothing, and overflow throws.
  */
object FixedPointKernel {
  private def grown(buf: Array[Long], n: Int): Array[Long] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  /** Adds floor(x · scale) of each component x of `v` into `buf`. */
  def add(buf: Array[Long], v: ArrayData, scale: Double): Array[Long] = {
    val n = v.numElements()
    val b = grown(buf, n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i))
        b(i) = Math.addExact(b(i), math.floor(v.getFloat(i).toDouble * scale).toLong)
      i += 1
    }
    b
  }

  /** Adds the sums in `other` into `buf`. */
  def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    val b = grown(buf, other.length)
    var i = 0
    while (i < other.length) { b(i) = Math.addExact(b(i), other(i)); i += 1 }
    b
  }
}

object VectorAggFunctions {
  /** agg column: array<bigint> of per-component sums of
    * floor(x · 2^scaleBits).
    */
  def vecFixedPointSum(vec: Column, scaleBits: Int): Column =
    column(FixedPointVecSum(expression(vec), scaleBits))
}
