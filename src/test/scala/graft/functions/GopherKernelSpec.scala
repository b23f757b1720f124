package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GopherKernel must agree exactly with the built-in composition it
  * replaced: split(lower(trim(text)), "\\s+") tokens (leading AND
  * trailing empties kept), \s char class, non-overlapping "...",
  * space-only trim.
  */
class GopherKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val cases = Seq(
    "the quick brown fox and a dog",
    "",                       // empty → one empty token
    "   ",                    // spaces only → trims to empty
    "\tleading tab",          // leading \t survives space-trim → leading empty token
    "trailing tab\t",         // trailing \t → trailing empty token kept
    "a  b\t\nc",              // mixed separator runs
    "### #hash...tags.... x", // symbols: 4 hashes, 2 ellipses (non-overlap)
    "THE The tHe of of that", // case-folded distinct stopwords: the,of,that
    "12 34 #56",              // no alphabetic tokens
    "一二三 the 四五",          // CJK tokens have no [a-z]
    "smile 😀😀 the end", // supplementary (non-BMP): 1 code point each
    "🍕 pizza...#🍕",     // surrogate pairs around symbols
    "word." * 3 + " tail")

  test("kernel counters equal the built-in composition on edge cases") {
    val df = cases.toDF("text")
    val toks = split(lower(trim(col("text"))), "\\s+")
    val viaBuiltins = df.select(
      size(toks).cast("long"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long"),
      (length(col("text")) - length(expr("replace(text, '#', '')"))).cast("long"),
      expr("(length(text) - length(replace(text, '...', ''))) DIV 3").cast("long"),
      size(filter(toks, t => t.rlike("[a-z]"))).cast("long"),
      size(array_intersect(array_distinct(toks),
        array(Seq("the", "a", "and", "of", "to", "in", "is", "that").map(lit): _*)))
        .cast("long"))
      .collect().map(_.toSeq).toSeq
    val viaKernel = df.select(TextHashFunctions.gopherStats(col("text")).as("g"))
      .select((0 to 5).map(i => col("g").getItem(i)): _*)
      .collect().map(_.toSeq).toSeq
    cases.indices.foreach { i =>
      assert(viaKernel(i) == viaBuiltins(i), s"case '${cases(i)}'")
    }
  }

  test("documented casing boundary: ASCII-fold only (U+212A Kelvin stays non-alpha)") {
    // lower('K') is 'k' in full-Unicode casing, so the BUILT-IN
    // composition counts "212K" as an alpha token; the kernel folds
    // ASCII only and must NOT (GopherKernel scaladoc pins this choice).
    val df = Seq("212K the").toDF("text")
    val g = df.select(TextHashFunctions.gopherStats(col("text")).as("g"))
      .select(col("g").getItem(0), col("g").getItem(4), col("g").getItem(5))
      .head().toSeq
    assert(g == Seq(2L, 1L, 1L), g) // 2 words, 1 alpha token ("the"), 1 stop word
    val builtinAlpha = df.select(
      size(filter(split(lower(trim(col("text"))), "\\s+"),
        t => t.rlike("[a-z]"))).cast("long")).head().getLong(0)
    assert(builtinAlpha == 2L) // built-ins also count "212K" — the divergence
  }
}
