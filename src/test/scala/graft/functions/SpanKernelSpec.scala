package graft.functions

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `span_md5s` must be bitwise-identical to the built-in composition it
  * replaces — `split(lower(trim(text)), "\s+")` chunked into
  * non-overlapping spans, space-joined, md5-hexed — because the DuckDB
  * oracle replays that composition and the hash compare is exact.
  */
class SpanKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def builtin(df: DataFrame, spanWords: Int): DataFrame = {
    val toks = split(lower(trim(col("t"))), "\\s+")
    val nspans = floor((size(toks) + lit(spanWords - 1)) / lit(spanWords)).cast("int")
    val spans = transform(sequence(lit(0), nspans - 1),
      i => array_join(slice(toks, i * spanWords + 1, lit(spanWords)), " "))
    df.select(col("t"), transform(spans, s => md5(s)).as("v"))
  }

  private val edgeTexts = Seq(
    "a b c d e f g", // even chunking with remainder
    "one two three", // exactly one span at 3
    "single", // shorter than a span
    "", // empty → one empty token → md5("")
    "   ", // all spaces → trim → "" → md5("")
    "\tleading tab", // trim is space-only; \t survives → leading empty token
    "MiXeD CaSe   RUNS\t\tof WS", // lower + multi-whitespace runs
    "Ünïcödé Späns ÉÉ", // non-ASCII lowercase
    "a b c d a b c d a b c d" // repeated spans stay repeated (no dedup)
  )

  test("span_md5s equals the built-in split/slice/array_join/md5 composition") {
    for (sw <- Seq(1, 2, 3, 4)) {
      val df = edgeTexts.toDF("t")
      val got = df.select(col("t"),
        TextHashFunctions.spanMd5s(col("t"), sw).as("v")).collect()
      val want = builtin(df, sw).collect()
      got.zip(want).foreach { case (g, w) =>
        assert(g.getSeq[String](1) == w.getSeq[String](1),
          s"spanWords=$sw text=${g.getString(0)}")
      }
    }
  }

  test("span_md5s stays inside whole-stage codegen") {
    // non-foldable input (range-derived) so the projection can't constant-fold
    val plan = spark.range(4)
      .select(TextHashFunctions.spanMd5s(
        concat(lit("a b c "), col("id").cast("string")), 3))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(plan.contains("WholeStageCodegen"), plan.take(500))
  }
}
