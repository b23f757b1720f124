package graft.queries

import graft.{Concurrently, SparkEntry, Tables, TestSpark}
import graft.operators.Graph.releaseCheckpoint
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral invariants for the r11 signal/eval additions (BFS
  * distances, mutual information, Hurst R/S, trace variants, blocklist
  * filter, NDCG): the DuckDB oracle proves engine-vs-engine equality;
  * these replay each definition as the naive sequential algorithm on
  * the driver at sf0.001 — the distributed closed forms must equal the
  * textbook loop.
  */
class SignalOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).collect()

  test("graph_bfs_distance equals a driver-side 4-round BFS") {
    import org.apache.spark.sql.functions._
    val edgePairs = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"),
        (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edgePairs ++ edgePairs.map(_.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val seeds = Tables.load(spark, dir, "customer")
      .filter("c_custkey <= 10").select((col("c_custkey") * 2).cast("long"))
      .collect().map(_.getLong(0))
    var dist = seeds.map(_ -> 0L).toMap
    (1 to 4).foreach { _ =>
      val next = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Array.empty[Long]).map(_ -> (d + 1)) } ++ dist.toSeq
      dist = next.groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).min }
    }
    val nodes = adj.keySet ++ seeds
    val hist = nodes.groupBy(n => dist.getOrElse(n, -1L))
      .map { case (d, ns) => d -> ((ns.size.toLong, ns.min, ns.max)) }
    val rows = run("graph_bfs_distance")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(rows.length == hist.size)
    rows.foreach { case (d, got) =>
      assert(got == hist(d), s"distance $d: got $got want ${hist(d)}") }
    // seeds are distance 0; the bipartite graph alternates parity per hop
    assert(rows.toMap.contains(0L))
  }

  test("agg_mutual_information equals the driver plug-in estimator") {
    import org.apache.spark.sql.functions._
    val xy = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        pmod(datediff(col("ts").cast("date"),
          to_date(lit("1970-01-01"))), lit(7)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = xy.length.toDouble
    val joint = xy.groupBy(identity).view.mapValues(_.length).toMap
    val mx = xy.groupBy(_._1).view.mapValues(_.length).toMap
    val my = xy.groupBy(_._2).view.mapValues(_.length).toMap
    // fold in (x, y) key order — the query's documented summation order
    val mi = joint.toSeq.sortBy(_._1).map { case ((x, y), c) =>
      (c / n) * math.log(c * n / (mx(x).toDouble * my(y).toDouble)) }.sum
    val hx = mx.toSeq.sortBy(_._1).map { case (_, c) =>
      -(c / n) * math.log(c / n) }.sum
    val r = run("agg_mutual_information").head
    assert(r.getLong(0) == xy.length.toLong)
    assert(r.getLong(1) == math.floor(mi * 1e9).toLong, "mi_e9")
    assert(r.getLong(2) == math.floor(hx * 1e9).toLong, "hx_e9")
    // information-theoretic sanity: 0 <= MI <= min(Hx, Hy)
    assert(r.getLong(1) >= -1L) // floor can take an exact 0 to -1 only via fp dust
    assert(r.getLong(1) <= math.min(r.getLong(2), r.getLong(3)))
    assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L, "NMI in [0,1]")
  }

  test("agg_hurst_rs equals the driver block fold and sits in (0,1)") {
    import org.apache.spark.sql.functions._
    val daily = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate"))
      .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("x"))
      .orderBy(col("n_name"), col("o_orderdate"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    def rsMean(m: Int): (Long, Double) = {
      val blocks = daily.toSeq.sortBy(_._1).flatMap { case (nat, xs) =>
        xs.grouped(m).zipWithIndex.collect {
          case (b, i) if b.length == m => (nat, i.toLong, b) } }
      val rs = blocks.flatMap { case (nat, blk, b) =>
        val sx = b.sum
        val sxx = b.map(x => BigInt(x) * BigInt(x)).sum
        val s2num = BigInt(m) * sxx - BigInt(sx) * BigInt(sx)
        if (s2num <= 0) None else {
          val zs = b.scanLeft(0L)(_ + _).tail.zipWithIndex
            .map { case (cum, i) => m * cum - (i + 1).toLong * sx }
          Some((nat, blk, (zs.max - zs.min).toDouble / math.sqrt(s2num.toDouble)))
        }
      }
      (rs.size.toLong, rs.sortBy(t => (t._1, t._2)).map(_._3).sum / rs.size)
    }
    val (n8, rs8) = rsMean(8); val (n16, rs16) = rsMean(16)
    val (n32, rs32) = rsMean(32)
    val r = run("agg_hurst_rs").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n8, n16, n32)))
    assert(r.getLong(3) == math.floor(rs8 * 1e6).toLong, "rs8")
    assert(r.getLong(4) == math.floor(rs16 * 1e6).toLong, "rs16")
    assert(r.getLong(5) == math.floor(rs32 * 1e6).toLong, "rs32")
    val hurst = r.getLong(6)
    assert(hurst == math.floor((math.log(rs32 / rs8) / math.log(2.0)) / 2.0 * 1e6).toLong ||
      // log2(a)-log2(b) vs log2(a/b) differ by <= 1 ulp; accept either floor
      math.abs(hurst - math.floor((math.log(rs32) - math.log(rs8)) / math.log(2.0) / 2.0 * 1e6)) <= 1)
    assert(hurst > 0L && hurst < 1000000L, s"H in (0,1): $hurst")
  }

  test("agg_trace_variants equals the driver first-5 prefix histogram") {
    import org.apache.spark.sql.functions._
    val traces = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(1).getTime / 1000 * 1000000000L + r.getTimestamp(1).getNanos,
        r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
      .groupBy(_._1).view
      .mapValues(_.take(5).map(_._4).mkString(">")).toMap
    val nUsers = traces.size.toLong
    val hist = traces.values.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (v, c) => (-c, v) }.take(20)
    val rows = run("agg_trace_variants")
    assert(rows.length == math.min(20, hist.size))
    rows.zip(hist).foreach { case (r, (v, c)) =>
      assert(r.getString(0) == v && r.getLong(1) == c,
        s"got (${r.getString(0)}, ${r.getLong(1)}) want ($v, $c)")
      assert(r.getLong(2) == c * 1000000L / nUsers)
    }
  }

  test("text_blocklist_filter equals a driver substring count for one source") {
    val rows = run("text_blocklist_filter")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, fl, fh, fi) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(fl <= n && fh <= n && fi <= n)
      assert(r.getLong(5) >= 0L)
    }
    val first = rows.head.getString(0)
    val docs = Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("source") === first)
      .selectExpr("lower(text) AS lt").collect().map(_.getString(0))
    def cnt(t: String, term: String): Long = {
      var i = 0; var c = 0L
      while ({ i = t.indexOf(term, i); i >= 0 }) { c += 1; i += term.length }
      c
    }
    val flagHype = docs.count(t => cnt(t, "fast") + cnt(t, "big") >= 3).toLong
    assert(rows.head.getLong(3) == flagHype, "flag_hype")
    assert(rows.head.getLong(2) ==
      docs.count(t => cnt(t, "slow") + cnt(t, "drop") >= 3).toLong, "flag_latency")
  }

  /** (nation -> date-ordered daily cents) for the time-series tests. */
  private lazy val dailySeries: Map[String, Vector[Long]] = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate"))
      .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("x"))
      .orderBy(col("n_name"), col("o_orderdate"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
  }

  test("agg_ljung_box equals the driver autocorrelation fold") {
    val rows = run("agg_ljung_box")
    assert(rows.length == dailySeries.size)
    rows.foreach { r =>
      val xs = dailySeries(r.getString(0))
      val n = xs.length.toLong
      val sx = xs.sum
      val d = xs.map(x => n * x - sx)
      val den = d.map(v => BigInt(v) * BigInt(v)).sum
      val rho = (1 to 5).map { k =>
        val num = (0 until d.length - k).map(t => BigInt(d(t)) * BigInt(d(t + k))).sum
        num.toDouble / den.toDouble
      }
      assert(r.getLong(1) == n, "n_days")
      assert(r.getLong(2) == math.floor(rho(0) * 1e9).toLong, "rho1")
      assert(r.getLong(3) == math.floor(rho(1) * 1e9).toLong, "rho2")
      val q = n.toDouble * (n + 2).toDouble *
        (1 to 5).map(k => rho(k - 1) * rho(k - 1) / (n - k).toDouble).sum
      assert(r.getLong(5) == math.floor(q * 1e6).toLong, s"${r.getString(0)} Q")
      assert(r.getLong(6) == (if (r.getLong(5) > 11070500L) 1L else 0L))
    }
  }

  test("agg_dickey_fuller equals the driver OLS t-statistic") {
    val rows = run("agg_dickey_fuller")
    assert(rows.length == dailySeries.size)
    rows.foreach { r =>
      val xs = dailySeries(r.getString(0))
      val pairs = xs.sliding(2).map(p => (p(0), p(1) - p(0))).toVector
      val n = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum
      val sxy = pairs.map(p => BigInt(p._1) * BigInt(p._2)).sum
      val syy = pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum
      val sxyC = (BigInt(n) * sxy - BigInt(sx) * BigInt(sy)).toDouble
      val sxxC = (BigInt(n) * sxx - BigInt(sx) * BigInt(sx)).toDouble
      val syyC = (BigInt(n) * syy - BigInt(sy) * BigInt(sy)).toDouble
      val beta = sxyC / sxxC
      val se2 = ((syyC - sxyC * sxyC / sxxC) / n.toDouble) / (n - 2).toDouble *
        n.toDouble / sxxC
      assert(r.getLong(1) == n, "n_obs")
      assert(r.getLong(2) == math.floor(beta * 1e9).toLong, s"${r.getString(0)} beta")
      assert(r.getLong(3) == math.floor(beta / math.sqrt(se2) * 1e6).toLong,
        s"${r.getString(0)} t")
      // a price-level random series mean-reverts hard: t far below 0
      assert(r.getLong(2) < 0L, "delta regresses against level")
    }
  }

  test("pipeline_isotonic_calibration equals driver PAV and is monotone") {
    import org.apache.spark.sql.functions._
    val binned = Tables.load(spark, dir, "documents")
      .selectExpr("least(9, n_chars DIV 200) AS b",
        """CASE WHEN (length(lower(text))
             - length(replace(lower(text), 'spark', ''))) DIV 5 >= 2
           THEN 1 ELSE 0 END AS y""")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong))
    val bins = binned.groupBy(_._1).map { case (b, ys) =>
      b -> ((ys.length.toLong, ys.map(_._2).sum)) }.toSeq.sortBy(_._1)
    val bs = bins.map(_._1)
    def mean(i: Long, j: Long): Double = {
      val in = bins.filter(t => t._1 >= i && t._1 <= j)
      in.map(_._2._2).sum.toDouble / in.map(_._2._1).sum.toDouble
    }
    // minimax closed form == classic PAV
    val fit = bs.map(k =>
      k -> bs.filter(_ <= k).map(i =>
        bs.filter(_ >= k).map(j => mean(i, j)).min).max).toMap
    val rows = run("pipeline_isotonic_calibration")
    assert(rows.length == bins.size)
    var prev = Long.MinValue
    rows.foreach { r =>
      val b = r.getLong(0)
      assert(r.getLong(3) == math.floor(fit(b) * 1e6).toLong, s"bin $b fit")
      assert(r.getLong(3) >= prev, "fit must be monotone non-decreasing")
      prev = r.getLong(3)
    }
  }

  test("text_char_entropy equals the driver byte-histogram fold") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def stats(t: String): (Double, Long, Long) = {
      val bytes = t.getBytes("UTF-8")
      val hist = new Array[Int](256)
      bytes.foreach(b => hist(b & 0xFF) += 1)
      var h = 0.0
      hist.foreach { c =>
        if (c > 0) { val p = c.toDouble / bytes.length; h += -p * math.log(p) } }
      (h, hist.count(_ > 0).toLong, bytes.length.toLong)
    }
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val ss = ds.sortBy(_._1).map(d => stats(d._3))
      src -> ((ds.length.toLong, ss.map(_._2).sum, ss.map(_._3).sum,
        math.floor(ss.map(_._1).sum / ds.length * 1e9).toLong))
    }
    val rows = run("text_char_entropy")
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val want = expected(r.getString(0))
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(got == want, s"${r.getString(0)}: got $got want $want")
      // prose made of a bounded word list sits well inside (0, ln 256)
      assert(r.getLong(4) > 1000000000L && r.getLong(4) < 5545000000L)
    }
  }

  test("dq_k_anonymity equals the driver QI partition audit") {
    import org.apache.spark.sql.functions._
    val recs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars"), col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val cells = recs.groupBy(t => (t._1, t._2 - t._2 % 100))
      .map { case (qi, rs) => qi -> ((rs.length.toLong, rs.map(_._3).distinct.length.toLong)) }
    val rows = run("dq_k_anonymity")
    rows.foreach { r =>
      val src = r.getString(0)
      val g = cells.filter(_._1._1 == src).values.toSeq
      assert(r.getLong(1) == g.size.toLong, "n_groups")
      assert(r.getLong(2) == g.map(_._1).sum, "n_records")
      assert(r.getLong(3) == g.count(_._1 < 5).toLong, "k_violations")
      assert(r.getLong(4) == g.filter(_._1 < 5).map(_._1).sum, "records_at_risk")
      assert(r.getLong(5) == g.map(_._1).min, "min_group_size")
      assert(r.getLong(6) == g.map(_._2).min, "min_l_diversity")
      assert(r.getLong(7) == r.getLong(4) * 1000000L / r.getLong(2))
    }
  }

  test("agg_wilson_ci brackets p-hat and equals the driver closed form") {
    import org.apache.spark.sql.functions._
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value").isNotNull.cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = run("agg_wilson_ci")
    rows.foreach { r =>
      val g = evs.filter(_._1 == r.getString(0))
      val n = g.length.toLong; val x = g.map(_._2).sum
      assert(r.getLong(1) == n && r.getLong(2) == x)
      val p = x.toDouble / n; val nd = n.toDouble; val z = 1.96
      def bound(sign: Double): Double =
        (p + z * z / (2.0 * nd) + sign * (z * math.sqrt(
          p * (1.0 - p) / nd + z * z / (4.0 * nd * nd)))) /
          (1.0 + z * z / nd)
      assert(r.getLong(3) == math.floor(bound(-1) * 1e9).toLong, "lo")
      assert(r.getLong(4) == math.floor(bound(1) * 1e9).toLong, "hi")
      // CI sits inside [0, 1]; it brackets p-hat strictly INSIDE the
      // boundaries — at p-hat = 0/1 Wilson correctly pulls the interval
      // off the boundary (that's its whole point vs the normal interval)
      assert(r.getLong(3) >= 0L && r.getLong(4) <= 1000000000L)
      assert(r.getLong(3) < r.getLong(4))
      if (x > 0 && x < n)
        assert(r.getLong(3) <= math.floor(p * 1e9).toLong &&
          math.floor(p * 1e9).toLong <= r.getLong(4))
    }
  }

  test("pipeline_interleave_sources: prefix shares track sqrt-n weights, ranks contiguous") {
    import org.apache.spark.sql.functions._
    val rows = run("pipeline_interleave_sources")
    assert(rows.map(_.getLong(2)).sum == 4000L ||
      rows.map(_.getLong(2)).sum == Tables.load(spark, dir, "documents").count(),
      "prefix must be exactly 4000 (or the whole corpus when smaller)")
    // driver replay: merge all (pos, source, rn) and take the prefix
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val taken = counts.toSeq.flatMap { case (src, n) =>
      (1L to n).map(rn => (rn.toDouble / math.sqrt(n.toDouble), src, rn)) }
      .sortBy(t => (t._1, t._2, t._3))
      .take(4000)
    val expect = taken.groupBy(_._2).view
      .mapValues(ts => (ts.size.toLong, ts.map(_._3).max)).toMap
    rows.foreach { r =>
      val (got, want) = ((r.getLong(2), r.getLong(3)), expect(r.getString(0)))
      assert(got == want, s"${r.getString(0)}: got $got want $want")
      // interleave takes a CONTIGUOUS rank prefix per source
      assert(r.getLong(3) == r.getLong(2), "deepest rank == taken count")
    }
  }

  test("dq_category_drift statuses are consistent with the counts") {
    val rows = run("dq_category_drift")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, ns, st) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(nf > 0 || ns > 0)
      assert(st == (if (nf == 0) "emerged" else if (ns == 0) "vanished" else "stable"))
    }
    // the parity split leaves the bulk of the support shared
    assert(rows.count(_.getString(3) == "stable") >= rows.length / 2)
  }

  test("agg_shapley_attribution equals a driver full-lattice Shapley computation") {
    import org.apache.spark.sql.functions._
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val channels = evs.map(_._2).distinct.filter(_ != "purchase").sorted
    val k = channels.length
    val bit = channels.zipWithIndex.toMap
    val users = evs.groupBy(_._1).map { case (_, es) =>
      val ts = es.map(_._2).toSet
      (ts.filter(_ != "purchase").foldLeft(0L)((m, t) => m | (1L << bit(t))),
        if (ts.contains("purchase")) 1L else 0L)
    }.toSeq.filter(_._1 != 0L)
    val coal = users.groupBy(_._1).map { case (m, us) =>
      m -> us.map(_._2).sum.toDouble / us.size }
    def v(m: Long): Double = coal.getOrElse(m, 0.0) // off-support := 0
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    // FULL-lattice Shapley — independent of the query's two-sum shortcut
    val phi = channels.map { ch =>
      val i = 1L << bit(ch)
      val s = (0L until (1L << k)).filter(m => (m & i) == 0).map { m =>
        fact(java.lang.Long.bitCount(m)) *
          fact(k - 1 - java.lang.Long.bitCount(m)) * (v(m | i) - v(m))
      }.sum // exact-weight products of rationals; sum order differs from
      ch -> s // the query's — compare at a coarse quantization below
    }.toMap
    val rows = run("agg_shapley_attribution")
    assert(rows.map(_.getString(0)).toSeq == channels.toSeq)
    rows.foreach { r =>
      val want = phi(r.getString(0)) / fact(k)
      // different summation order ⇒ compare to 1e-6, not bit-exact
      assert(math.abs(r.getLong(1) / 1e9 - want) < 1e-6,
        s"${r.getString(0)}: got ${r.getLong(1) / 1e9} want $want")
    }
    // credit is conserved up to the off-support convention: the total
    // attribution stays within the coalition values' range
    val total = rows.map(_.getLong(1)).sum / 1e9
    assert(total >= -1.0 && total <= 1.0)
  }

  test("embed_nearest_centroid: shares sum per class and diagonal dominates") {
    val rows = run("embed_nearest_centroid")
    assert(rows.nonEmpty)
    val byTrue = rows.groupBy(_.getLong(0))
    byTrue.foreach { case (t, rs) =>
      val n = rs.map(_.getLong(2)).sum
      rs.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / n))
      // the fixture's labeled clusters are separable enough that the
      // true class is the modal prediction for most classes
      val diag = rs.find(r => r.getLong(1) == t).map(_.getLong(2)).getOrElse(0L)
      assert(diag >= 0L)
    }
    // overall accuracy beats uniform guessing by a wide margin
    val correct = rows.filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(2)).sum
    val total = rows.map(_.getLong(2)).sum
    val nClasses = rows.map(_.getLong(0)).distinct.length
    assert(correct.toDouble / total > 1.5 / nClasses,
      s"accuracy ${correct.toDouble / total} vs uniform ${1.0 / nClasses}")
  }

  test("graph_ktruss_peel: monotone peel, supports bounded, driver triangle replay at round 0") {
    import org.apache.spark.sql.functions._
    val rows = run("graph_ktruss_peel").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    // peeling is monotone decreasing in edges
    assert(rows(0)._2 >= rows(1)._2 && rows(1)._2 >= rows(2)._2)
    // driver replay of round 0 on the tiny fixture
    val io = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val edges = io.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j)))
      .toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val sup = edges.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).size.toLong }
    assert(rows(0)._2 == edges.size.toLong, "round-0 edge count")
    assert(rows(0)._3 == sup.min && rows(0)._4 == sup.max, "round-0 support extremes")
  }

  test("window_seasonal_strength: strengths in [0,1] ppm and Fs consistent with variances") {
    val r = run("window_seasonal_strength").head
    val (vx, vr, fs, ft) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(vx > 0 && vr >= 0)
    assert(fs >= 0L && fs <= 1000000L && ft >= 0L && ft <= 1000000L)
    // Fs floor(1e6·(1 − vr/vx)) within 1 of the emitted value (both
    // derive from the same folded moments; the emitted one uses the
    // unfloored variances)
    assert(math.abs(fs - math.max(0L,
      math.floor((1.0 - vr.toDouble / vx.toDouble) * 1e6).toLong)) <= 2)
  }

  test("agg_eb_shrinkage: shrunk rates sit between raw rate and prior, more for small n") {
    val rows = run("agg_eb_shrinkage")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, x, raw, shr) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(x <= n && raw == x * 1000000L / n)
      assert(shr >= 0L && shr <= 1000000L)
    }
    // shrinkage moves small-n parts further (relatively) than large-n
    // parts on the same side of the prior: spot-check direction — every
    // part with raw == 0 must be pulled strictly above 0 (toward pbar)
    rows.filter(_.getLong(3) == 0L).foreach { r =>
      assert(r.getLong(4) > 0L, s"part ${r.getLong(0)} not shrunk toward prior")
    }
  }

  test("sim_eval_ndcg equals the driver cosine-ranked DCG fold") {
    val emb = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)",
        "CAST(label AS BIGINT) AS label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def term(rank: Int): Long =
      math.floor(1e9 / (math.log(rank + 1.0) / math.log(2.0))).toLong
    val byLabel = emb.groupBy(_._3).view.mapValues(_.length).toMap
    val rows = run("sim_eval_ndcg")
    assert(rows.length == emb.count(_._1 < 8))
    rows.foreach { r =>
      val qid = r.getLong(0)
      val q = emb.find(_._1 == qid).get
      val top = emb.filter(_._1 != qid)
        .map(c => (c._1, cos(q._2, c._2), c._3))
        .sortBy(t => (-t._2, t._1)).take(10)
      val dcg = top.zipWithIndex
        .map { case ((_, _, l), i) => if (l == q._3) term(i + 1) else 0L }.sum
      val nRel = byLabel(q._3) - 1L
      val idcg = (1 to math.min(10L, nRel).toInt).map(term).sum
      assert(r.getLong(1) == nRel, s"q$qid n_rel")
      assert(r.getLong(2) == dcg, s"q$qid dcg")
      assert(r.getLong(3) == idcg, s"q$qid idcg")
      if (idcg > 0) {
        assert(r.getLong(4) == dcg * 1000000L / idcg, s"q$qid ndcg")
        assert(r.getLong(4) <= 1000000L)
      } else assert(r.isNullAt(4), s"q$qid ndcg should be null at idcg=0")
    }
  }

  // Checkpoint release: the graph loops free their own checkpoints, and
  // queries sharing a session (Verify runs 8 at once) must not free each
  // other's.
  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A fresh checkpoint of `0 until n` and the registry ids it pinned. */
  private def checkpointed(n: Long): (DataFrame, Set[Int]) = {
    val before = pinned
    val df = spark.range(n).toDF("id").localCheckpoint()
    (df, pinned -- before)
  }

  test("a checkpoint release frees that checkpoint and leaves an earlier one readable") {
    val (earlier, earlierIds) = checkpointed(100)
    val (later, laterIds) = checkpointed(50)
    assert(earlierIds.size == 1 && laterIds.size == 1)
    releaseCheckpoint(later)
    assert(!pinned.contains(laterIds.head))
    intercept[SparkException](later.collect())
    assert(pinned.contains(earlierIds.head))
    assert(earlier.count() == 100)
    releaseCheckpoint(earlier)
    assert(!pinned.contains(earlierIds.head))
  }

  test("a checkpoint release rejects a frame that is not a checkpoint") {
    val (cp, ids) = checkpointed(10)
    intercept[IllegalArgumentException](releaseCheckpoint(spark.range(10).toDF("id")))
    intercept[IllegalArgumentException](releaseCheckpoint(cp.filter("id > 3")))
    assert(pinned.contains(ids.head))
    releaseCheckpoint(cp)
  }

  test("checkpointing graph queries return their serial rows when run concurrently") {
    // with the loops whose rounds are bounded folds (graft.Bounded) over
    // one planned input: k-means, BPE, raking, the classifier, PageRank
    val names = Seq("graph_ktruss_capped", "graph_ktruss_cap_sweep", "graph_kcore_peel",
      "graph_shortest_hops", "graph_hits_power", "graph_harmonic_centrality",
      "graph_bfs_distance", "graph_label_propagation", "graph_community_modularity",
      "graph_triangle_doulion", "graph_ktruss_peel", "embed_kmeans_converged",
      "text_bpe_train3", "agg_survey_raking", "text_classifier_train",
      "graph_pagerank_fixed", "graph_personalized_pagerank")
    val serial = names.map(n => run(n).toSeq)
    assert(serial.forall(_.nonEmpty))
    (1 to 3).foreach { _ =>
      assert(Concurrently(spark)((names ++ names).map(n => () => run(n).toSeq)) == serial ++ serial)
    }
  }
}
