package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Text-analysis primitives on hand-checked inputs. */
class TextFunctionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import TextFunctions._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("v")).collect()(0).getAs[T]("v")

  private def strs(c: org.apache.spark.sql.Column, text: String): Seq[String] =
    Seq(text).toDF("t").select(c.as("v")).collect()(0).getSeq[String](0).toSeq

  test("tokens lower-cases and splits on runs of whitespace") {
    assert(strs(tokens(col("t")), "  Hello   World\tFoo ") == Seq("hello", "world", "foo"))
  }

  test("bpeishTokens splits letter runs, digit runs, single punctuation") {
    assert(strs(bpeishTokens(col("t")), "ab12,cd!") ==
      Seq("ab", "12", ",", "cd", "!"))
  }

  test("shingles builds distinct word 3-grams; short text → whole text") {
    assert(strs(shingles(tokens(col("t")), 3), "a b c d") ==
      Seq("a b c", "b c d"))
    assert(strs(shingles(tokens(col("t")), 3), "a b") == Seq("a b"))
  }

  test("langId picks the marker-dominant language, cjk wins, no signal → und") {
    assert(one[String](langId(col("t")), "the cat and the dog is here") == "en")
    assert(one[String](langId(col("t")), "la casa por los caminos con una luz") == "es")
    assert(one[String](langId(col("t")), "der hund ist nicht hier und da") == "de")
    assert(one[String](langId(col("t")), "le chat est dans les jardins des villes") == "fr")
    assert(one[String](langId(col("t")), "你好 世界") == "zh")
    assert(one[String](langId(col("t")), "xyzzy plugh") == "und")
  }

  test("qualityScore is the documented 0.4/0.3/0.3 blend") {
    // "the cat runs" → 3 tokens, 1 stopword ('the'), 12 chars, 0 punct
    val q = one[Double](qualityScore(col("t")), "the cat runs")
    val expect = 0.4 * (3.0 / 50.0) + 0.3 * (1.0 / 3.0) + 0.3 * 1.0
    assert(math.abs(q - expect) < 1e-12)
  }

  test("fingerprint is md5 of normalized text — stable across case/spacing") {
    val a = one[String](fingerprint(col("t")), "Hello   World")
    val b = one[String](fingerprint(col("t")), " hello world ")
    assert(a == b && a.length == 32)
  }

  test("one-pass text kernels are bit-identical to the Column compositions") {
    import org.apache.spark.sql.functions.col
    // the whole driver corpus plus adversarial edges: empty, whitespace
    // variants (tab/newline/vertical-tab survive trim), CJK, punct-only,
    // supplementary-plane codepoints, marker ties
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq ++ Seq(
      "", " ", "\t", "\n x \n", "the the el la der die le les", "一二三",
      "!!!", "ab", "mixed 中文 text the", "😀 emoji the cat",
      "  padded  ", "el la los las une est dans der")
    val df = corpus.toDF("t")
    val rows = df.select(
        langId(col("t")).as("l1"),
        TextHashFunctions.textLangId(col("t")).as("l2"),
        qualityScore(col("t")).as("q1"),
        TextHashFunctions.textQuality(col("t")).as("q2"))
      .collect()
    rows.zip(corpus).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1), s"langId mismatch on ${t.take(40)}")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"quality mismatch on ${t.take(40)}: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  /** The incremental rolling identity: window hash i of
    * token_window_hash64(text, k) must equal the plain fold
    * (token_rolling_hash64) over tokens[i, i+k) — the property the
    * exact-substring oracle's per-window list_reduce replay rests on.
    */
  test("tokenWindowHash64 windows equal the rolling fold of each slice") {
    val text = "The quick  Brown fox jumps over the quick brown fox again and again"
    val k = 4
    val toks = text.trim.toLowerCase.split("\\s+")
    val windows = Seq(text).toDF("t")
      .select(TextHashFunctions.tokenWindowHash64(col("t"), k).as("v"))
      .collect()(0).getSeq[Long](0)
    assert(windows.length == toks.length - k + 1)
    val folds = (0 to toks.length - k).map { i =>
      Seq(toks.slice(i, i + k).mkString(" ")).toDF("t")
        .select(TextHashFunctions.tokenRollingHash64(split(col("t"), " ")).as("v"))
        .collect()(0).getLong(0)
    }
    assert(windows == folds)
    // short doc → empty window list, never a partial window
    val short = Seq("a b c").toDF("t")
      .select(TextHashFunctions.tokenWindowHash64(col("t"), 4).as("v"))
      .collect()(0).getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("rollingHash64 and simhash64 registered expressions evaluate") {
    val h1 = one[Long](TextHashFunctions.rollingHash64(col("t")), "abc")
    val h2 = one[Long](TextHashFunctions.rollingHash64(col("t")), "abd")
    assert(h1 != h2)
    // identical token multisets → identical simhash
    val s1 = one[Long](TextHashFunctions.simhash64(tokens(col("t"))), "a b c a")
    val s2 = one[Long](TextHashFunctions.simhash64(tokens(col("t"))), "a a b c")
    assert(s1 == s2)
  }

  test("Column helpers evaluate on a session nobody registered functions into") {
    // the helpers build their Catalyst expressions directly, so no name
    // has to resolve in the session's function registry
    val fresh = spark.newSession()
    import fresh.implicits._
    val df = Seq(("a b c d", 1L, 0.5, Seq(1.0f, 2.0f)), ("a b c", 2L, 0.9, Seq(0.5f, 0.25f)))
      .toDF("t", "id", "score", "vec")
    assert(df.select(size(TextHashFunctions.shingleHashes(col("t"), 3))).as[Int]
      .collect().toSeq == Seq(2, 1))
    val top = df.agg(TopKFunctions.topKPairs(struct(col("score"), col("id")), 1).as("top"))
      .select(col("top.id")).head().getSeq[Long](0)
    assert(top == Seq(2L))
    // Σ floor(x · 2²) per component: (4 + 2, 8 + 1)
    val sums = df.agg(VectorAggFunctions.vecFixedPointSum(col("vec"), 2)).head().getSeq[Long](0)
    assert(sums == Seq(6L, 9L))
  }
}
