package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Config-driven function injection: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` exposes every graft
  * function to SQL.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }

  test("extension-built session resolves graft functions in SQL") {
    withExtensionSession { s =>
      val cos = s.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
        .collect()(0).getDouble(0)
      assert(cos == 1.0)
      val nShingles = s.sql("SELECT size(shingle_hashes('a b c d', 3)) AS n")
        .collect()(0).getInt(0)
      assert(nShingles == 2) // "a b c", "b c d"
      val top = s.sql(
        """SELECT topk_pairs(struct(CAST(v AS DOUBLE), CAST(id AS BIGINT)), 2) AS t
           FROM VALUES (1L, 0.5), (2L, 0.9), (3L, 0.1) AS x(id, v)""")
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      assert(top.map(_.getLong(1)) == Seq(2L, 1L))

      // conf-gated date-partition injection: same scan, restricted to
      // the run date once the confs are set; pushdown reaches the scan
      val sfDir = "/root/testdata/sf0.001"
      val all = s.read.parquet(s"$sfDir/orders.parquet").count()
      s.conf.set("spark.graft.inject.dateColumn", "o_orderdate")
      s.conf.set("spark.graft.inject.runDate", "1995-06-15 00:00:00")
      try {
        val injected = s.read.parquet(s"$sfDir/orders.parquet")
        val manual = s.read.parquet(s"$sfDir/orders.parquet")
        assert(injected.count() > 0 && injected.count() < all)
        s.conf.unset("spark.graft.inject.dateColumn")
        val expected = manual
          .filter(org.apache.spark.sql.functions.col("o_orderdate") ===
            org.apache.spark.sql.functions.lit("1995-06-15 00:00:00").cast("timestamp_ntz"))
          .count()
        s.conf.set("spark.graft.inject.dateColumn", "o_orderdate")
        assert(injected.count() == expected)
        val plan = injected.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"), plan)
      } finally {
        s.conf.unset("spark.graft.inject.dateColumn")
        s.conf.unset("spark.graft.inject.runDate")
      }
    }
  }

  test("every function of the extension table resolves and evaluates in SQL") {
    val v = "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))"
    val m = s"array($v, array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))"
    // one sample call per function; the key set must be the table's
    val calls = Map(
      "cosine_sim" -> s"cosine_sim($v, $v)",
      "inner_product" -> s"inner_product($v, $v)",
      "l2_sq" -> s"l2_sq($v, $v)",
      "ivf_route" -> s"ivf_route($v, $m, 1)",
      "pq_encode" -> s"pq_encode($v, $m, 1)",
      "pq_dtable" -> s"pq_dtable($v, $m, 1)",
      "pq_adc" -> "pq_adc(array(0), array(0.5D))",
      "sq8_encode" -> s"sq8_encode($v)",
      "vec_fixedpoint_sum" -> s"vec_fixedpoint_sum($v, 4)",
      "topk_pairs" -> "topk_pairs(struct(0.5D, 1L), 1)",
      "minhash64" -> "minhash64(array(1L, 2L), 4)",
      "rh_signature" -> s"rh_signature($v, 1, 7)",
      "cms_estimate" -> "cms_estimate(count_min_sketch(5L, 0.01D, 0.99D, 1), 5L)",
      "sorted_intersect_count" -> "sorted_intersect_count(array(1L, 3L), array(3L, 5L))",
      "char_stats" -> "char_stats('abca')",
      "rolling_hash64" -> "rolling_hash64('abc')",
      "simhash64" -> "simhash64(array('a', 'b'))",
      "simhash64_md5" -> "simhash64_md5(array('a', 'b'))",
      "token_rolling_hash64" -> "token_rolling_hash64(array('a', 'b'))",
      "token_window_hash64" -> "token_window_hash64('a b c d', 2)",
      "shingle_hashes" -> "shingle_hashes('a b c d', 3)",
      "span_md5s" -> "span_md5s('a b c d', 2)",
      "span_texts" -> "span_texts('a b c d', 2)",
      "text_quality" -> "text_quality('the cat sat')",
      "text_lang_id" -> "text_lang_id('the cat and the dog')",
      "gopher_stats" -> "gopher_stats('the cat')",
      "repetition_stats" -> "repetition_stats('a b a')",
      "bpe_pairs" -> "bpe_pairs('ab', 2L, array(struct('a', 'b')))")
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct.size == names.size, names)
    assert(calls.keySet == names.toSet)
    withExtensionSession { s =>
      val got = calls.map { case (name, call) => name -> s.sql(s"SELECT $call").head().get(0) }
      assert(got.forall(_._2 != null), got)
      assert(got("cosine_sim") == 1.0 && got("l2_sq") == 0.0, got)
      assert(got("sorted_intersect_count") == 1L && got("cms_estimate") == 1L, got)
      assert(got("span_texts") == Seq("a b", "c d") && got("text_lang_id") == "en", got)
      assert(got("vec_fixedpoint_sum") == Seq(16L, 0L), got)
    }
  }
}
