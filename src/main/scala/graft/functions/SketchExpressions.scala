package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.columnshim.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._

/** Native sketch kernels for the dedup/similarity operators.
  *
  * The first implementations composed these from `transform`/`aggregate`
  * higher-order functions — correct, but HOFs evaluate one boxed lambda
  * call per array element outside whole-stage codegen, which made the
  * signature computations the bench bottleneck (64 hashes × shingles per
  * doc, bits × dim multiply-adds per vector). These kernels run the same
  * math as one static while-loop per row, called from generated code —
  * the pattern that survives a 100 TB scan.
  */
object SketchKernels {

  /** xxhash64-style avalanche of a long (same finalizer family the
    * engine uses elsewhere; exact function is engine-defined).
    */
  @inline private def mix(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 33)
    h
  }

  /** MinHash signature over pre-hashed shingles: slot i =
    * min over elements of mix(h ^ seed_i). One pass per slot over a
    * primitive long array — no boxing, no per-slot array allocation.
    */
  def minhash(baseHashes: ArrayData, numHashes: Int): ArrayData = {
    val n = baseHashes.numElements()
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = 0x9E3779B97F4A7C15L * (i + 1)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = mix(baseHashes.getLong(j) ^ seed)
        if (v < best) best = v
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The ±1 component of hyperplane `j` at dimension `d` — public so the
    * oracle-SQL generator (and specs) can restate the exact plane matrix
    * as literals; [[rhSignature]] derives the same value inline.
    */
  def planeWeight(seed: Long, j: Int, d: Int): Double = {
    val h = mix(seed ^ (j.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL))
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  /** Two-pointer intersection size of two sorted long arrays — see
    * [[SortedIntersectCount]].
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Random-hyperplane signature: bit j = [dot(v, plane_j) >= 0] with
    * plane components ±1 derived from mix(seed, bit, dim) parity — the
    * planes never materialize.
    */
  def rhSignature(vec: ArrayData, bits: Int, seed: Long): Int = {
    val n = vec.numElements()
    var sig = 0
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val h = mix(seed ^ (j.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL))
        val w = if ((h & 1L) == 1L) 1.0 else -1.0
        dot += vec.getFloat(d).toDouble * w
        d += 1
      }
      if (dot >= 0) sig |= (1 << j)
      j += 1
    }
    sig
  }
}

/** minhash64(base_hashes, num_hashes) → array<bigint>. */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"minhash64 expects array<bigint>, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    SketchKernels.minhash(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.minhash($c, $numHashes)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "minhash64"
}

/** rh_signature(vec, bits, seed) → int bucket. */
case class RhSignature(child: Expression, bits: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"rh_signature expects array<float>, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    SketchKernels.rhSignature(v.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.rhSignature($c, $bits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "rh_signature"
}

/** Point estimate from a serialized Spark `CountMinSketch` (the binary
  * produced by SQL `count_min_sketch(...)`): Spark ships the aggregate
  * but no SQL-level probe, so querying an estimate IN-PLAN (the lazy
  * bounds pattern — no driver-side .head()) needs this expression. The
  * sketch deserializes per evaluation; by design it sits on the probe
  * side of a 1-row broadcast recombine (a handful of rows), never on a
  * corpus scan.
  */
object CmsKernel {
  def estimate(sketch: Array[Byte], item: Long): Long =
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketch))
      .estimateCount(java.lang.Long.valueOf(item))
}

case class CountMinEstimate(sketch: Expression, item: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = sketch
  override def right: Expression = item
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (sketch.dataType, item.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects (binary, bigint), got (${s.simpleString}, ${i.simpleString})")
    }
  override protected def nullSafeEval(sk: Any, it: Any): Any =
    CmsKernel.estimate(sk.asInstanceOf[Array[Byte]], it.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, i) => s"graft.functions.CmsKernel.estimate($s, $i)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression) = copy(sketch = newLeft, item = newRight)
  override def prettyName: String = "cms_estimate"
}

object SketchFunctions {
  def minhash64(baseHashes: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(baseHashes), numHashes))
  def cmsEstimate(sketch: Column, item: Column): Column =
    column(CountMinEstimate(expression(sketch), expression(item)))
  def rhSignature(vec: Column, bits: Int, seed: Long): Column =
    column(RhSignature(expression(vec), bits, seed))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}

/** sorted_intersect_count(a, b) → bigint: intersection size of two
  * SORTED long arrays by one two-pointer merge walk — the edge-iterator
  * triangle-count inner loop (sup(a,b) = |N(a) ∩ N(b)| per edge).
  * Spark's `array_intersect` builds a per-row hash set of boxed
  * elements and materializes the intersection array only to take its
  * size; this is the same count with zero allocation, inside
  * whole-stage codegen. Inputs MUST be sorted (the caller's
  * sort_array(collect_list(...)) adjacency build guarantees it) —
  * unsorted inputs undercount, the standard merge-walk contract.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  // containsNull=false is REQUIRED, not just expected: the kernel reads
  // every slot with getLong, so a null element would read garbage and
  // silently miscount (vs array_intersect's null semantics). Every
  // in-module producer (shingle_hashes, sort_array(collect_list(...)))
  // emits non-null elements; arbitrary SQL callers with nullable arrays
  // get a loud analysis error instead of a wrong count.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects two array<bigint> with non-null " +
          s"elements (containsNull=false — a null slot would be read as " +
          s"garbage by the merge kernel), got ${l.simpleString}, ${r.simpleString}")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}
