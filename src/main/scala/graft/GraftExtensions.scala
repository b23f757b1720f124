package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * injects every graft function into the session at build time, so SQL
  * users get `cosine_sim`, `topk_pairs`, `shingle_hashes`, … by name.
  * DataFrame code needs no session setup: the Column helpers
  * (`VectorFunctions.cosineSim`, …) build their expressions directly.
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  *   .sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // conf-gated incremental date-partition injection (no-op by default)
    ext.injectOptimizerRule(session => graft.plans.DatePartitionInjection(session))
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
        builder))
    }
  }
}

object GraftExtensions {

  /** SQL's literal arguments (k, bits, seed, …) arrive as expressions. */
  private def litInt(e: Expression): Int = litLong(e).toInt
  private def litLong(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"expected a literal integer, got $other")
  }

  /** Every graft function by SQL name: (name, usage, builder). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors",
      es => CosineSimilarity(es(0), es(1))),
    ("inner_product", "inner_product(a, b) - dot product of two float vectors",
      es => InnerProduct(es(0), es(1))),
    ("l2_sq", "l2_sq(a, b) - squared euclidean distance of two float vectors",
      es => L2Squared(es(0), es(1))),
    ("ivf_route", "ivf_route(vec, centroids, nProbe) - top-nProbe IVF cell positions for a vector",
      es => IvfRoute(es(0), es(1), litInt(es(2)))),
    ("pq_encode", "pq_encode(vec, seeds, m) - m product-quantization subspace codes",
      es => PqEncode(es(0), es(1), litInt(es(2)))),
    ("pq_dtable", "pq_dtable(vec, seeds, m) - flat m*ksub ADC distance table for a query vector",
      es => PqDtable(es(0), es(1), litInt(es(2)))),
    ("pq_adc", "pq_adc(codes, dtable) - asymmetric PQ distance from codes + query table",
      es => PqAdc(es(0), es(1))),
    ("sq8_encode", "sq8_encode(vec) - struct(scale, codes) max-abs scalar quantization",
      es => Sq8Encode(es(0))),
    ("vec_fixedpoint_sum", "vec_fixedpoint_sum(vec, scaleBits) - exact element-wise sum of floor(x*2^scaleBits)",
      es => FixedPointVecSum(es(0), litInt(es(1)))),
    ("topk_pairs", "topk_pairs(struct(score, id), k) - bounded top-k aggregate",
      es => TopKPairs(es(0), litInt(es(1)))),
    ("minhash64", "minhash64(hashes, k) - k-slot MinHash signature",
      es => MinHashSignature(es(0), litInt(es(1)))),
    ("rh_signature", "rh_signature(vec, bits, seed) - random-hyperplane LSH bucket",
      es => RhSignature(es(0), litInt(es(1)), litLong(es(2)))),
    ("cms_estimate", "cms_estimate(sketch, item) - point estimate from a count_min_sketch binary",
      es => CountMinEstimate(es(0), es(1))),
    ("sorted_intersect_count", "sorted_intersect_count(a, b) - intersection size of two sorted bigint arrays (two-pointer merge)",
      es => SortedIntersectCount(es(0), es(1))),
    ("char_stats", "char_stats(s) - [entropy_nats, distinct_chars, n_chars] one-pass byte statistics",
      es => CharStats(es(0))),
    ("rolling_hash64", "rolling_hash64(s) - polynomial rolling hash of a string",
      es => RollingHash64(es(0))),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array",
      es => SimHash64(es(0))),
    ("simhash64_md5", "simhash64_md5(tokens) - SimHash over md5-low-64 token hashes (oracle-replayable)",
      es => SimHash64(es(0), md5Based = true)),
    ("token_rolling_hash64", "token_rolling_hash64(tokens) - order-sensitive rolling document fingerprint",
      es => TokenRollingHash64(es(0))),
    ("token_window_hash64", "token_window_hash64(text, k) - rolling hash of every overlapping k-token window",
      es => TokenWindowHashes(es(0), litInt(es(1)))),
    ("shingle_hashes", "shingle_hashes(text, n) - sorted distinct word n-gram hashes",
      es => ShingleHashes(es(0), litInt(es(1)))),
    ("span_md5s", "span_md5s(text, spanWords) - md5 hex of each non-overlapping token span",
      es => SpanMd5s(es(0), litInt(es(1)))),
    ("span_texts", "span_texts(text, spanWords) - the non-overlapping token spans themselves",
      es => SpanTexts(es(0), litInt(es(1)))),
    ("text_quality", "text_quality(text) - engine-defined quality score in [0, 1]",
      es => TextQuality(es(0))),
    ("text_lang_id", "text_lang_id(text) - stopword-marker language id (en, es, de, fr, zh or und)",
      es => TextLangId(es(0))),
    ("gopher_stats", "gopher_stats(text) - [words, non-ws chars, '#', '...', alpha tokens, stop words] counters",
      es => GopherStats(es(0))),
    ("repetition_stats", "repetition_stats(text) - [tokens, distinct, bigrams, distinct bigrams, top token count, codepoints]",
      es => RepetitionStats(es(0))),
    ("bpe_pairs", "bpe_pairs(word, weight, merges) - weighted adjacent symbol pairs after the merges",
      es => BpePairs(es(0), es(1), es(2))))
}
