package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.columnshim.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math over
  * `ArrayType(FloatType)` columns (north-star similarity operators,
  * SURVEY.md §7.1 M4).
  *
  * Why a custom `Expression` instead of a UDF or `zip_with`/`aggregate`
  * HOFs: the expression stays inside whole-stage codegen (one virtual call
  * per row, no per-element lambda boxing), which is the difference between
  * a scan-speed ANN pass and a 10× slower one at 100 TB.
  *
  * Numeric contract: elements are widened float→double and accumulated
  * sequentially in index order, matching DuckDB's
  * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])` bit-for-bit so the
  * driver's oracle hash-compare holds.
  */
object VectorKernels {
  /** dot(x,y) with sequential double accumulation. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** cosine(x,y) = dot/(|x|·|y|), NaN-free for zero vectors (returns 0). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble; val b = y.getFloat(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** squared L2 distance, Σ (x_i−y_i)·(x_i−y_i) accumulated sequentially
    * in index order — the DuckDB twin is a `list_reduce(list_transform(
    * ...), (a,b) -> a+b)` fold (NOT `list_distance`, whose accumulation
    * order is not contractual), matching [[graft.functions.PqCoder]]'s
    * subspace arithmetic bit-for-bit.
    */
  def l2sq(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }
}

abstract class VectorBinaryExpression extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  /** Fully-qualified static kernel call emitted into generated code. */
  protected def kernel: String

  override protected def nullSafeEval(a: Any, b: Any): Any =
    evalKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  protected def evalKernel(x: ArrayData, y: ArrayData): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel($a, $b);")
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override protected def kernel = "graft.functions.VectorKernels.cosine"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double =
    VectorKernels.cosine(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

case class InnerProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override protected def kernel = "graft.functions.VectorKernels.dot"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double =
    VectorKernels.dot(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "inner_product"
}

case class L2Squared(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override protected def kernel = "graft.functions.VectorKernels.l2sq"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double =
    VectorKernels.l2sq(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "l2_sq"
}

/** The IVF routing step as a per-row kernel: cosine against every
  * centroid of a (small, driver-known) matrix, returning the top-nProbe
  * centroid POSITIONS ordered by (cosine desc, position asc). Routing is
  * embarrassingly parallel — expressing it as an expression over a
  * broadcast-literal matrix instead of a crossJoin + top-k aggregate
  * removes a |corpus|×|centroids| join AND a corpus-cardinality
  * aggregation from the plan (the ObjectHashAggregate behind the top-k
  * falls back to object-serialized external sorts past 128 distinct keys
  * — measured 10× slower than this narrow map at 200k vectors).
  */
class IvfRouter(cents: Array[Array[Float]], nProbe: Int) extends Serializable {
  def route(v: ArrayData): ArrayData = {
    val nc = cents.length
    val sims = new Array[Double](nc)
    var j = 0
    while (j < nc) { sims(j) = cosineF(v, cents(j)); j += 1 }
    val n = math.min(nProbe, nc)
    val out = new Array[Int](n)
    val used = new Array[Boolean](nc)
    var r = 0
    while (r < n) {
      var best = -1; var bs = Double.NegativeInfinity
      var i = 0
      // strict > keeps the FIRST (lowest-position) max on ties — the
      // oracle's ORDER BY sim DESC, cell ASC
      while (i < nc) { if (!used(i) && sims(i) > bs) { bs = sims(i); best = i }; i += 1 }
      used(best) = true; out(r) = best; r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Same accumulation order as [[VectorKernels.cosine]]. */
  private def cosineF(x: ArrayData, y: Array[Float]): Double = {
    val n = math.min(x.numElements(), y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** `ivf_route(vec, centroids_literal, nProbe)` — see [[IvfRouter]]. The
  * centroid matrix arrives as a foldable array<array<float>> literal
  * (driver-known, e.g. the seeded lowest-id pick), evaluated once per
  * executor into a primitive matrix.
  */
case class IvfRoute(vec: Expression, cents: Expression, nProbe: Int)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, cents.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _)) if cents.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ivf_route expects (array<float>, foldable array<array<float>>), got " +
        s"(${vec.dataType.simpleString}, ${cents.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val router: IvfRouter = {
    val ad = cents.eval(null).asInstanceOf[ArrayData]
    val m = Array.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray())
    new IvfRouter(m, nProbe)
  }

  override protected def nullSafeEval(v: Any, c: Any): Any =
    router.route(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfRouter", router, classOf[IvfRouter].getName)
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.route($v);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(vec = l, cents = r)
  override def prettyName: String = "ivf_route"
}

/** Product-quantization coder over a (small, driver-known) seed matrix:
  * the vector space is split into `m` contiguous subspaces of dim/m
  * components each, and subspace `mm`'s codebook entry `k` is the
  * `mm`-th slice of seed vector `k` — the same seeded "lowest-id rows
  * are the trained model" determinism trick as [[IvfRouter]], which is
  * what lets an external ANSI-SQL engine replay encoding bit-for-bit.
  *
  * Numeric contract (oracle hash-compare): each subspace distance is
  * Σ_d (v[d]−c[d])·(v[d]−c[d]) accumulated sequentially in index order
  * with float→double widening — matching DuckDB's
  * `list_reduce(list_transform(...), (a,b) -> a+b)` fold exactly
  * (squares are ≥ +0.0, so the 0.0 init is bitwise-neutral). Ties in
  * [[encode]] keep the LOWEST code (strict `<` scan), matching
  * `ORDER BY d, code`.
  */
class PqCoder(seeds: Array[Array[Float]], m: Int) extends Serializable {
  require(seeds.nonEmpty,
    "pq: empty codebook — the seeds table read back zero rows (wrong path or failed index build?)")
  private val ksub = seeds.length
  private val dsub = seeds(0).length / m
  require(dsub * m == seeds(0).length,
    s"pq: dim ${seeds(0).length} not divisible by m=$m")

  /** Null vector elements have no defined code/distance — fail loudly
    * instead of letting UnsafeArrayData read the zeroed slot as 0.0f
    * (a silently wrong distance). One flat pre-pass per row, outside
    * the m·ksub inner loops.
    */
  private def requireNoNulls(v: ArrayData): Unit = {
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(s"pq: null vector element at index $i")
      i += 1
    }
  }

  private def subDist(v: ArrayData, k: Int, mm: Int): Double = {
    val base = mm * dsub
    val s = seeds(k)
    var acc = 0.0
    var d = 0
    while (d < dsub) {
      val diff = v.getFloat(base + d).toDouble - s(base + d).toDouble
      acc += diff * diff
      d += 1
    }
    acc
  }

  /** vector → m argmin-L2 codes (one per subspace), ties to lower code. */
  def encode(v: ArrayData): ArrayData = {
    requireNoNulls(v)
    val out = new Array[Int](m)
    var mm = 0
    while (mm < m) {
      var best = 0
      var bd = subDist(v, 0, mm)
      var k = 1
      while (k < ksub) {
        val d = subDist(v, k, mm)
        if (d < bd) { bd = d; best = k }
        k += 1
      }
      out(mm) = best
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** query vector → flat m·ksub ADC distance table, layout mm·ksub+k.
    * Computed ONCE per query row; every candidate's approximate distance
    * is then m array lookups ([[PqKernels.adc]]) — the whole point of
    * ADC: scoring never touches the original vectors again.
    */
  def dtable(v: ArrayData): ArrayData = {
    requireNoNulls(v)
    val out = new Array[Double](m * ksub)
    var mm = 0
    while (mm < m) {
      var k = 0
      while (k < ksub) { out(mm * ksub + k) = subDist(v, k, mm); k += 1 }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object PqKernels {
  /** Asymmetric distance: Σ_mm dtable[mm·ksub + codes[mm]] in mm order
    * (sequential — the oracle's `sum(d ORDER BY m)`). ksub is implied by
    * the two lengths.
    */
  def adc(codes: ArrayData, dt: ArrayData): Double = {
    val m = codes.numElements()
    val ksub = dt.numElements() / m
    var acc = 0.0
    var mm = 0
    while (mm < m) {
      // parquet-read arrays are element-nullable by schema; a null code
      // slot would read as 0 under UnsafeArrayData (a silently wrong
      // neighbor) — fail loudly instead
      if (codes.isNullAt(mm))
        throw new IllegalArgumentException(s"pq_adc: null code at subspace $mm")
      acc += dt.getDouble(mm * ksub + codes.getInt(mm))
      mm += 1
    }
    acc
  }
}

/** Shared shape for the two PQ preprocessing kernels: (array<float> vec,
  * foldable array<array<float>> seed matrix) → array, with the coder
  * built once per executor from the literal.
  */
abstract class PqSeededExpression extends BinaryExpression {
  def vec: Expression
  def seeds: Expression
  def m: Int
  override def left: Expression = vec
  override def right: Expression = seeds

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, seeds.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _)) if seeds.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, foldable array<array<float>>), got " +
        s"(${vec.dataType.simpleString}, ${seeds.dataType.simpleString})")
  }

  @transient protected lazy val coder: PqCoder = {
    val ad = seeds.eval(null).asInstanceOf[ArrayData]
    new PqCoder(Array.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray()), m)
  }
  protected def call: String // method on PqCoder

  override protected def nullSafeEval(v: Any, s: Any): Any =
    call match {
      case "encode" => coder.encode(v.asInstanceOf[ArrayData])
      case _ => coder.dtable(v.asInstanceOf[ArrayData])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCoder", coder, classOf[PqCoder].getName)
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.$call($v);")
  }
}

/** `pq_encode(vec, seeds, m)` — the vector's m subspace codes (the PQ
  * INDEX payload: m small ints replace dim floats — at ksub=256 that is
  * m bytes/vector, the 100 TB memory-bound ANN economics).
  */
case class PqEncode(vec: Expression, seeds: Expression, m: Int)
    extends PqSeededExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def call = "encode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(vec = l, seeds = r)
  override def prettyName: String = "pq_encode"
}

/** `pq_dtable(vec, seeds, m)` — the query-side flat ADC distance table. */
case class PqDtable(vec: Expression, seeds: Expression, m: Int)
    extends PqSeededExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def call = "dtable"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(vec = l, seeds = r)
  override def prettyName: String = "pq_dtable"
}

/** `pq_adc(codes, dtable)` — approximate squared-L2 distance from codes
  * alone (m lookups, no vector access).
  */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pq_adc expects (array<int>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(c: Any, d: Any): Any =
    PqKernels.adc(c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, d) =>
      s"${ev.value} = graft.functions.PqKernels.adc($c, $d);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc"
}

/** One-pass SQ8 (max-abs scalar quantization) encode kernel. */
object Sq8Kernels {
  /** (scale, codes) for one vector: scale = max |double(v_i)| (0.0 for
    * the empty/all-zero vector), codes_i = floor(v_i/scale·127) stored
    * as float (integers ≤ 127 are float-exact). Arithmetic order is the
    * declarative form's — double division, ·127, floor — so results are
    * bit-identical to the oracle's list_transform replay.
    */
  def encode(x: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    var scale = 0.0
    var i = 0
    while (i < n) {
      // fail loudly on a null slot: getFloat would silently read it as
      // 0.0f, a semantic drift from the declarative form this kernel
      // replaced (r14 advisory) — embedding vectors never carry nulls,
      // so any null here is corrupt input, not a case to paper over
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        s"sq8_encode: null element at index $i — vectors must be dense")
      val a = math.abs(x.getFloat(i).toDouble)
      if (a > scale) scale = a
      i += 1
    }
    val codes = new Array[Float](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        codes(i) = math.floor(x.getFloat(i).toDouble / scale * 127.0).toFloat
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }
}

/** `sq8_encode(vec)` → struct(scale double, codes array<float>) — the
  * SQ8 index payload as ONE whole-stage-codegen pass. The declarative
  * form (array_max(transform(|v|)) + a second transform for the codes)
  * runs two boxed per-element lambdas outside codegen; on the
  * corpus-sized index build that was the dominant cost of every SQ8
  * query (r14 measurement: the sf10 sim_topk_sq8 end-to-end was 72 s of
  * which the stored-codes PROBE was 1.6 s — the rest was the boxed
  * encode).
  */
case class Sq8Encode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // parquet list elements arrive as containsNull=true even though
    // embedding vectors never actually hold null slots (and Cast cannot
    // strip containsNull), so the type stays accepted here — the KERNEL
    // raises on a null slot instead of silently reading it as 0.0f,
    // which is the semantic drift the r14 advisory flagged (the
    // declarative form this kernel replaced propagated the null)
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_encode expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  override protected def nullSafeEval(v: Any): Any =
    Sq8Kernels.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"graft.functions.Sq8Kernels.encode($v);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "sq8_encode"
}

/** Greedy Maximal Marginal Relevance over one query's candidate pool
  * (the kernel behind [[graft.operators.Similarity.mmrRerank]]). `pool`
  * holds (cid, rel, cvec) in any order; the result is at most `selectK`
  * (rank, cid, rel) picks in selection order. Step 1 takes the highest
  * `rel`; every later step the highest
  * `λ·rel − (1−λ)·max cosine(candidate, selected)`, the max kept
  * incrementally per candidate. Doubles compare under
  * `SQLOrderingUtil.compareDoubles` (NaN largest, 0.0 = −0.0) and ties go
  * to the lower cid: the order of Spark's `max(struct(score, −cid))`.
  */
object MmrKernel {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  def select(pool: Seq[(Long, Double, ArrayData)], selectK: Int,
      lambda: Double): Seq[(Int, Long, Double)] = {
    // cid order: a strict-greater scan then keeps the lower cid on ties
    val rows = pool.sortBy(_._1).toArray
    val n = rows.length
    val maxSim = new Array[Double](n)
    val picked = new Array[Boolean](n)
    val out = new Array[(Int, Long, Double)](math.min(selectK, n))
    var last = -1
    var step = 0
    while (step < out.length) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val score = if (last < 0) rows(i)._2 else {
            val s = VectorKernels.cosine(rows(i)._3, rows(last)._3)
            if (step == 1 || SQLOrderingUtil.compareDoubles(s, maxSim(i)) > 0) maxSim(i) = s
            lambda * rows(i)._2 - (1.0 - lambda) * maxSim(i)
          }
          if (best < 0 || SQLOrderingUtil.compareDoubles(score, bestScore) > 0) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      picked(best) = true
      last = best
      out(step) = (step + 1, rows(best)._1, rows(best)._2)
      step += 1
    }
    out.toSeq
  }
}

/** Typed Column API. */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def innerProduct(a: Column, b: Column): Column =
    column(InnerProduct(expression(a), expression(b)))
  def l2Sq(a: Column, b: Column): Column = column(L2Squared(expression(a), expression(b)))
  def ivfRoute(vec: Column, cents: Column, nProbe: Int): Column =
    column(IvfRoute(expression(vec), expression(cents), nProbe))
  def pqEncode(vec: Column, seeds: Column, m: Int): Column =
    column(PqEncode(expression(vec), expression(seeds), m))
  def pqDtable(vec: Column, seeds: Column, m: Int): Column =
    column(PqDtable(expression(vec), expression(seeds), m))
  def pqAdc(codes: Column, dtable: Column): Column =
    column(PqAdc(expression(codes), expression(dtable)))
  def sq8Encode(vec: Column): Column = column(Sq8Encode(expression(vec)))
}
