package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RepetitionKernel must agree exactly with the HOF composition it
  * replaced: same tokenization (lower+space-trim, \s+ split keeping
  * boundary empties), bigrams = adjacent space-joins, length = code
  * points, top token = max multiplicity.
  */
class RepetitionKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // every case has ≥ 2 tokens: the old composition's
  // sequence(0, size-2) bigram builder is undefined below that
  private val cases = Seq(
    "the the the quick quick fox",
    "a b a b a b",                 // dup bigrams both directions
    "x y",
    "  padded   with   runs  ",    // trim + separator runs → empty tokens
    "ONE one One oNe two",         // case folding collapses distincts
    "😀 😀 emoji emoji",           // supplementary code-point lengths
    "\ttab lead",                  // leading empty token kept
    "word. word. word. tail")

  test("kernel counters equal the HOF composition") {
    val df = cases.toDF("text")
    val toks = split(lower(trim(col("text"))), "\\s+")
    val grams = transform(
      sequence(lit(0), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))
    val viaBuiltins = df.select(toks.as("toks"), grams.as("grams"))
      .select(
        size(col("toks")).cast("long"),
        size(array_distinct(col("toks"))).cast("long"),
        size(col("grams")).cast("long"),
        size(array_distinct(col("grams"))).cast("long"),
        array_max(transform(array_distinct(col("toks")),
          d => size(filter(col("toks"), t => t === d)))).cast("long"),
        aggregate(transform(col("toks"), t => length(t)), lit(0),
          (acc, x) => acc + x).cast("long"))
      .collect().map(_.toSeq).toSeq
    val viaKernel = df.select(TextHashFunctions.repetitionStats(col("text")).as("r"))
      .select((0 to 5).map(i => col("r").getItem(i)): _*)
      .collect().map(_.toSeq).toSeq
    cases.indices.foreach { i =>
      assert(viaKernel(i) == viaBuiltins(i), s"case '${cases(i)}'")
    }
  }

  test("single-token and empty inputs stay defined (n_bigrams = 0)") {
    val r = Seq("solo", "", "   ").toDF("text")
      .select(TextHashFunctions.repetitionStats(col("text")).as("r"))
      .collect().map(_.getSeq[Long](0))
    // one token each (empty string → one empty token), zero bigrams
    r.foreach { g => assert(g(0) == 1L && g(2) == 0L && g(3) == 0L, g) }
    assert(r(0).toSeq == Seq(1L, 1L, 0L, 0L, 1L, 4L))
    assert(r(1).toSeq == Seq(1L, 1L, 0L, 0L, 1L, 0L))
  }
}
