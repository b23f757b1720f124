package graft.queries

import graft.{SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral invariants for the SPC/finance/survival/basket/readability
  * analytics queries — the DuckDB oracle proves value equality against
  * an independent engine; these pin the SEMANTICS on sf0.001 by
  * replaying each definition as the naive sequential algorithm on the
  * driver (the distributed closed forms must equal the textbook loop).
  */
class AnalyticsOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).collect()

  /** (user_id -> time-ordered cents), plus every event's cents. */
  private lazy val eventSeries: Map[Long, Vector[(Long, String)]] = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(t => (t._1, t._2.getTime / 1000 * 1000000000L + t._2.getNanos, t._3))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(t => (t._4, t._5)).toVector }
  }

  test("window_cusum_drift equals the sequential max(0, S+(x-T)) recurrence") {
    val all = eventSeries.values.flatten.map(_._1)
    val target = all.sum / all.size // both positive => floor == trunc
    val expected = eventSeries.map { case (u, xs) =>
      var s = 0L; var peak = 0L
      xs.foreach { case (x, _) =>
        s = math.max(0L, s + (x - target)); peak = math.max(peak, s)
      }
      u -> peak
    }
    val rows = run("window_cusum_drift")
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (u, peak, alarm) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(peak == expected(u), s"user $u cusum peak")
      assert(alarm == (if (peak > target * 100) 1L else 0L))
    }
  }

  test("window_drawdown_max equals the sequential equity-curve walk") {
    val rows = run("window_drawdown_max")
    rows.foreach { r =>
      val u = r.getLong(0)
      var cum = 0L; var runmax = Long.MinValue; var dd = 0L
      var peak = Long.MinValue
      eventSeries(u).foreach { case (cents, typ) =>
        cum += (if (typ == "purchase" || typ == "signup") cents else -cents)
        peak = math.max(peak, cum)
        runmax = math.max(runmax, cum) // frame starts at the FIRST row
        dd = math.max(dd, runmax - cum)
      }
      assert(r.getLong(2) == dd, s"user $u max drawdown")
      assert(r.getLong(3) == peak, s"user $u peak")
      assert(r.getLong(4) == cum, s"user $u final")
    }
  }

  test("window_bollinger_breakout equals the lagged-5-window sigma test") {
    val rows = run("window_bollinger_breakout")
    rows.foreach { r =>
      val u = r.getLong(0)
      val xs = eventSeries(u).map(_._1)
      var brk = 0L
      for (i <- xs.indices if i >= 5) {
        val w = xs.slice(i - 5, i)
        val (n, sm, sq) = (5L, w.sum, w.map(x => x * x).sum)
        val lhs = (n * xs(i) - sm) * (n * xs(i) - sm)
        if (lhs > 4L * (n * sq - sm * sm)) brk += 1
      }
      assert(r.getLong(2) == brk, s"user $u breakouts")
    }
  }

  test("agg_basket_lift: formula ties out and pairs obey support bounds") {
    val rows = run("agg_basket_lift")
    assert(rows.nonEmpty, "no frequent pairs at sf0.001 — threshold too high")
    rows.foreach { r =>
      val (p1, p2, ca, cb, cab, lift) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(p1 < p2)
      assert(ca >= 8 && cb >= 8 && cab >= 3)
      assert(cab <= math.min(ca, cb), "pair support exceeds item support")
      // recover N from the emitted fields: lift = cab*N/(ca*cb)
      val n = lift * ca * cb / cab
      assert(math.abs(n - math.round(n)) < 1e-6, "lift not of the exact form")
    }
    // every pair must share ONE n_total
    val ns = rows.map(r => math.round(
      r.getDouble(5) * r.getLong(2) * r.getLong(3) / r.getLong(4))).distinct
    assert(ns.length == 1, s"inconsistent implied order totals: $ns")
  }

  test("agg_survival_km: monotone in horizon and equal to the textbook product") {
    val rows = run("agg_survival_km")
    assert(rows.nonEmpty)
    // textbook KM at H=7 from raw per-user durations
    val perUser = {
      import org.apache.spark.sql.functions._
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), to_date(col("ts")).as("day"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getString(3), r.getDate(4)))
        .groupBy(_._1)
        .map { case (u, rows) =>
          val byId = rows.sortBy(_._3)
          val cohort = byId.head._4
          val firstDay = rows.minBy(t => (t._2.getTime / 1000 * 1000000000L + t._2.getNanos, t._3))._5.toLocalDate
          val buys = rows.filter(_._4 == "purchase")
          val dRaw =
            if (buys.isEmpty) None
            else {
              val pDay = buys.minBy(t => (t._2.getTime / 1000 * 1000000000L + t._2.getNanos, t._3))._5.toLocalDate
              Some(java.time.temporal.ChronoUnit.DAYS.between(firstDay, pDay))
            }
          val (dur, evt) = dRaw match {
            case Some(d) if d <= 7 => (d, 1)
            case _                 => (7L, 0)
          }
          (u, cohort, dur, evt)
        }.toVector
    }
    val byCohort = perUser.groupBy(_._2)
    rows.foreach { r =>
      val (cohort, nU, nC) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (km1, km3, km7) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(km1 >= km3 && km3 >= km7, "KM must be non-increasing in horizon")
      assert(km7 >= 0.0 && km1 <= 1.0)
      val us = byCohort(cohort)
      assert(nU == us.length && nC == us.count(_._4 == 1))
      // textbook product over ascending event days
      var surv = 1.0
      val durs = us.map(_._3)
      us.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (t, g) =>
        val d = g.count(_._4 == 1)
        if (t <= 7 && d > 0) {
          val n = durs.count(_ >= t)
          surv = surv * (1.0 - d.toDouble / n.toDouble)
        }
      }
      assert(km7 == surv, s"cohort $cohort KM(7): got $km7 want $surv")
    }
  }

  test("dq_reconcile_order_totals: buckets partition the orders; drift bounds hold") {
    val rows = run("dq_reconcile_order_totals")
    assert(rows.nonEmpty)
    val totalOrders = Tables.load(spark, dir, "orders").count()
    assert(rows.map(_.getLong(1)).sum == totalOrders,
      "per-status counts must cover every order exactly once")
    rows.foreach { r =>
      val (n, exact, within, drifted) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(exact + within + drifted == n, "buckets must partition n_orders")
      val (maxAbs, sumAbs) = (r.getLong(5), r.getLong(6))
      assert(maxAbs <= sumAbs && sumAbs >= 0)
      assert((drifted > 0) == (maxAbs > 100000000L) ||
        (drifted == 0 && maxAbs <= 100000000L))
    }
  }

  test("sample_poisson_bootstrap: 8 replicates, each resampling ~n rows") {
    val rows = run("sample_poisson_bootstrap")
    assert(rows.map(_.getInt(0)).toSeq == (0 until 8))
    val n = Tables.load(spark, dir, "events").count()
    rows.foreach { r =>
      val (nEff, rev) = (r.getLong(1), r.getLong(2))
      // Poisson(1) weights: E[n_eff] = n, sd = sqrt(n); 6 sigma bounds
      assert(math.abs(nEff - n) <= 6 * math.sqrt(n.toDouble) + 1,
        s"replicate ${r.getInt(0)} n_eff=$nEff vs n=$n")
      assert(rev > 0)
    }
  }

  test("multimodal_phash_dedup: exactly the planted flip-bit pairs, all verified") {
    val rows = run("multimodal_phash_dedup")
    assert(rows.nonEmpty)
    val ids = Tables.load(spark, dir, "events")
      .filter(org.apache.spark.sql.functions.col("event_id") < 4000)
      .select("event_id").collect().map(_.getLong(0))
    // planted truth: ids sharing event_id/4 pair at hamming 0 (same flip
    // bit) or 2 (distinct flip bits)
    val expected = ids.groupBy(_ / 4).values.flatMap { g =>
      for (a <- g.toSeq; b <- g.toSeq if a < b) yield (a, b)
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"pairs != planted structure (got ${got.size}, want ${expected.size})")
    rows.foreach { r =>
      val h = r.getLong(2)
      assert(h == 0L || h == 2L,
        s"within-group hamming must be 0 (same flip) or 2, got $h")
    }
  }

  test("text_ngram_novelty: first doc fully novel; every shingle first-seen once") {
    import org.apache.spark.sql.functions._
    val rows = run("text_ngram_novelty")
    assert(rows.nonEmpty)
    val firstDoc = rows.map(_.getLong(0)).min
    rows.foreach { r =>
      val (id, n, novel, ratio) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(novel >= 0 && novel <= n)
      assert(ratio == novel.toDouble / n.toDouble)
      if (id == firstDoc) assert(novel == n, "earliest doc must be all-novel")
    }
    // Σ n_novel over docs == distinct shingles in the corpus (each
    // shingle is first-seen by exactly one doc)
    val distinctShingles = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextHashFunctions
        .shingleHashes(col("text"), 3)).as("h"))
      .distinct().count()
    assert(rows.map(_.getLong(2)).sum == distinctShingles)
  }

  test("sim_knn_label_confusion: one 1-NN per vector, labels in domain") {
    val rows = run("sim_knn_label_confusion")
    val emb = Tables.load(spark, dir, "embeddings")
    val nVec = emb.count()
    val labels = emb.select("label").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(rows.map(_.getLong(2)).sum == nVec,
      "confusion cells must cover every vector exactly once")
    rows.foreach { r =>
      assert(labels.contains(r.getInt(0)) && labels.contains(r.getInt(1)))
      assert(r.getLong(2) >= 1)
    }
  }

  test("embed_centroid_drift: halves partition each label; exact denominator") {
    import org.apache.spark.sql.functions._
    val rows = run("embed_centroid_drift")
    val perLabel = Tables.load(spark, dir, "embeddings")
      .groupBy("label").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.length == perLabel.size)
    rows.foreach { r =>
      val (label, na, nb) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(na + nb == perLabel(label))
      assert(BigInt(r.getString(3)).signum >= 0, "squared drift must be >= 0")
      assert(r.getLong(4) == (na * nb) * (na * nb))
    }
  }

  test("pipeline_epoch_shuffle: epochs permute differently, shards balance") {
    val rows = run("pipeline_epoch_shuffle")
    val nDocs = Tables.load(spark, dir, "documents").count()
    val byEpoch = rows.groupBy(_.getInt(0))
    assert(byEpoch.keySet == Set(0, 1))
    byEpoch.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).toSet == Set(0L, 1L, 2L, 3L))
      assert(rs.map(_.getLong(2)).sum == nDocs,
        "shards must partition the corpus")
    }
    // different epoch ⇒ different permutation: the per-shard checksum
    // multiset must differ (md5 keys re-randomize the order)
    val sums = byEpoch.view.mapValues(_.map(_.getLong(3)).toSet).toMap
    assert(sums(0) != sums(1), "epoch 0 and 1 produced identical orders")
  }

  test("join_fact_scd2_temporal: every lineitem attributed exactly once") {
    val rows = run("join_fact_scd2_temporal")
    val nLi = Tables.load(spark, dir, "lineitem").count()
    assert(rows.map(_.getLong(1)).sum == nLi,
      "temporal join must neither drop nor duplicate facts")
    val statuses = rows.map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("O", "F", "P", "none")))
  }

  test("dq_distribution_ks: D in [0,1], equals the driver ECDF replay") {
    val rows = run("dq_distribution_ks")
    assert(rows.length == 1)
    val r = rows.head
    val (na, nb, num, ks) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(ks >= 0.0 && ks <= 1.0 && ks == num.toDouble / (na * nb).toDouble)
    // driver replay
    import org.apache.spark.sql.functions._
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(pmod(user_id, 2) AS BIGINT) AS half")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = vs.filter(_._2 == 0).map(_._1).sorted
    val b = vs.filter(_._2 == 1).map(_._1).sorted
    assert(na == a.length && nb == b.length)
    var best = 0L
    (a ++ b).distinct.sorted.foreach { v =>
      val ca = a.count(_ <= v).toLong; val cb = b.count(_ <= v).toLong
      best = math.max(best, math.abs(ca * nb - cb * na))
    }
    assert(num == best, s"KS numerator: got $num want $best")
  }

  test("streaming_lateness_histogram: buckets cover all but first-arrivals") {
    val rows = run("streaming_lateness_histogram")
    assert(rows.nonEmpty)
    val nEvents = Tables.load(spark, dir, "events").count()
    val nUsers = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    // every event except each user's first ARRIVAL lands in some bucket
    assert(rows.map(_.getLong(1)).sum == nEvents - nUsers)
    // jitter spans 2h => lateness can't exceed 12 ten-minute buckets
    rows.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) <= 12))
  }

  test("window_rolling_median: equals the sliding sort on the driver") {
    val rows = run("window_rolling_median")
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val xs = rs.map(_.getLong(2)) // emitted in (ts, event_id) order
      rs.zipWithIndex.foreach { case (r, i) =>
        if (i >= 6) {
          val want = xs.slice(i - 6, i + 1).sorted.apply(3)
          assert(r.getLong(3) == want, s"user $u row $i median")
        } else assert(r.isNullAt(3), s"user $u row $i warm-up must be NULL")
      }
    }
  }

  test("agg_autocorr_lag1: r^2 in [0,1] and Cauchy-Schwarz holds") {
    val rows = run("agg_autocorr_lag1")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sign) = (r.getLong(1), r.getLong(2))
      val (num2, den) =
        (BigDecimal(r.getString(3)), BigDecimal(r.getString(4)))
      assert(n >= 1 && (sign == -1 || sign == 0 || sign == 1))
      assert(num2 >= 0 && den >= 0)
      assert(num2 <= den, "r^2 must be <= 1 (Cauchy-Schwarz)")
    }
  }

  test("agg_session_abandonment: sessions partition events' days; rate consistent") {
    val rows = run("agg_session_abandonment")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ab, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(ab >= 0 && ab <= n)
      assert(rate == ab.toDouble / n.toDouble)
    }
  }

  test("agg_revenue_concentration: shares sum to 1, whales hold at least their headcount share") {
    val rows = run("agg_revenue_concentration")
    assert(rows.length == 2)
    val byWhale = rows.map(r => r.getBoolean(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val (nW, revW, total, shareW) = byWhale(true)
    val (nR, revR, total2, shareR) = byWhale(false)
    assert(total == total2 && revW + revR == total)
    assert(shareW == revW.toDouble / total.toDouble)
    assert(shareW + shareR > 0.999 && shareW + shareR < 1.001)
    // whales are the top spenders: their average must beat the rest's
    assert(revW.toDouble / nW > revR.toDouble / nR)
  }

  test("window_peak_concurrency: peaks positive and bounded by session starts") {
    val rows = run("window_peak_concurrency")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (peak, starts) = (r.getLong(1), r.getLong(2))
      assert(peak >= 1 || starts == 0)
      assert(peak <= starts + 1,
        "a day's peak cannot exceed its session starts (+1 midnight carry)")
    }
  }

  test("dq_pk_fk_orphan_report: all 7 edges audited, counts consistent") {
    val rows = run("dq_pk_fk_orphan_report")
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
    }
    // generated TPC-H-ish fixtures are referentially intact
    assert(rows.map(_.getLong(2)).sum == 0,
      "fixtures should have zero orphans — a nonzero count means the audit or data broke")
  }

  test("embed_norm_profile: bounds ordered, totals cover the corpus") {
    val rows = run("embed_norm_profile")
    val nVecs = Tables.load(spark, dir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs)
    rows.foreach { r =>
      val (n, mn, mx) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val sum = BigDecimal(r.getString(4))
      assert(mn >= 0 && mn <= mx)
      assert(sum >= BigDecimal(mn) * n && sum <= BigDecimal(mx) * n)
    }
  }

  test("agg_mann_whitney_u: U2 matches the driver rank replay; effect in [0,1]") {
    val rows = run("agg_mann_whitney_u")
    assert(rows.length == 1)
    val r = rows.head
    val (na, nb, u2, eff) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(eff >= 0.0 && eff <= 1.0 && u2 >= 0 && u2 <= 2 * na * nb)
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(pmod(user_id, 2) AS BIGINT) AS half")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pooled = vs.map(_._1).sorted
    // doubled tie-averaged rank per value
    val rank2 = pooled.zipWithIndex.groupBy(_._1).map { case (v, g) =>
      v -> (g.map(_._2.toLong + 1).sum * 2 / g.length)
    }
    val sumRank2A = vs.filter(_._2 == 0).map(t => rank2(t._1)).sum
    assert(u2 == sumRank2A - na * (na + 1),
      s"U2: got $u2 want ${sumRank2A - na * (na + 1)}")
  }

  test("agg_cross_corr_lagk: five lags, Cauchy-Schwarz bound holds") {
    val rows = run("agg_cross_corr_lagk")
    assert(rows.map(_.getInt(0)).toSeq == Seq(-2, -1, 0, 1, 2))
    rows.foreach { r =>
      val num2 = BigDecimal(r.getString(3))
      val den = BigDecimal(r.getString(4))
      assert(num2 >= 0 && num2 <= den)
    }
  }

  test("maintenance_partition_stats: covers all rows; median day has ratio ~1") {
    val rows = run("maintenance_partition_stats")
    val nEvents = Tables.load(spark, dir, "events").count()
    assert(rows.map(_.getLong(1)).sum == nEvents)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), "distinct users <= rows")
      assert(r.getDouble(4) > 0.0)
    }
    // at least one day at or below the median and one at or above
    assert(rows.exists(_.getDouble(4) <= 1.0) &&
      rows.exists(_.getDouble(4) >= 1.0))
  }

  test("sample_group_kfold: folds partition docs AND sources (no leakage)") {
    val rows = run("sample_group_kfold")
    val docs = Tables.load(spark, dir, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    // no source spans folds: per-fold distinct-source counts must sum to
    // the GLOBAL distinct-source count
    val nSources = docs.select("source").distinct().count()
    assert(rows.map(_.getLong(2)).sum == nSources,
      "a source appearing in two folds would double-count here")
  }

  test("text_keyphrase_rake: contains no stopwords, scores ordered") {
    val rows = run("text_keyphrase_rake")
    assert(rows.length == 20)
    var prev = Long.MaxValue
    rows.foreach { r =>
      val (phrase, n, score) = (r.getString(0), r.getLong(1), r.getLong(2))
      val words = phrase.split("\\s+")
      assert(!words.contains("a") && !words.contains("the"),
        s"stopword inside phrase '$phrase'")
      assert(n >= 1 && score >= 0 && score <= prev)
      prev = score
    }
  }

  test("sink_dynamic_partition_overwrite: only the target day changed") {
    import org.apache.spark.sql.functions._
    val rows = run("sink_dynamic_partition_overwrite")
    val expect = Tables.load(spark, dir, "events")
      .selectExpr("event_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day")
      .filter(col("day").isin(19723L, 19730L, 19745L))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("nEven"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (day, n) = (r.getLong(0), r.getLong(1))
      if (day == 19730L) assert(n == expect(day)._2, "overwritten day = even ids only")
      else assert(n == expect(day)._1, s"day $day must be untouched")
    }
  }

  test("agg_time_decay_score: bounded by undecayed and fully-decayed sums") {
    import org.apache.spark.sql.functions._
    val rows = run("agg_time_decay_score")
    val totals = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
        .as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.length == totals.size)
    rows.foreach { r =>
      val (u, n, s16) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (t, nn) = totals(u)
      assert(n == nn)
      // weights in [1, 16]: score_x16 between 1x and 16x the cent total
      assert(s16 >= t && s16 <= 16 * t, s"user $u decay out of bounds")
    }
  }

  test("agg_purchase_overdue: ratio ties to its own emitted components") {
    val rows = run("agg_purchase_overdue")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      if (n == 1) assert(r.isNullAt(2) && r.isNullAt(4),
        "single-purchase users carry NULL median and ratio")
      else if (!r.isNullAt(4)) {
        val (med, since, ratio) =
          (r.getDouble(2), r.getLong(3), r.getDouble(4))
        assert(ratio == since.toDouble / med)
        assert(since >= 0)
      }
    }
  }

  test("pipeline_importance_weights: per-language mass balanced within truncation") {
    val rows = run("pipeline_importance_weights")
    val n = Tables.load(spark, dir, "documents").count()
    val k = rows.length.toLong
    assert(rows.map(_.getLong(1)).sum == n)
    val target = n * 1000000L / k
    rows.foreach { r =>
      val mass = r.getLong(3)
      // w truncation loses at most n_lang micro-units of mass
      assert(mass <= target && target - mass < r.getLong(1) * k,
        s"lang ${r.getString(0)} mass $mass vs target $target")
    }
  }

  test("agg_stickiness_dau_wau: DAU <= WAU and stickiness in (0, 1]") {
    val rows = run("agg_stickiness_dau_wau")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, st) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dau >= 1 && dau <= wau, "daily actives are a subset of weekly")
      assert(st == dau.toDouble / wau.toDouble && st > 0.0 && st <= 1.0)
    }
  }

  test("join_event_order_attribution: banded join equals the plain range join") {
    import org.apache.spark.sql.functions._
    val rows = run("join_event_order_attribution")
    assert(rows.nonEmpty && rows.map(_.getLong(1)).sum > 0,
      "attribution must find orders in the mapped window")
    // replay WITHOUT banding: the band optimization must be lossless
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view", "signup"))
      .selectExpr("user_id AS custkey", "event_type",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS e_d")
    val ord = Tables.load(spark, dir, "orders")
      .selectExpr("o_custkey AS custkey", "o_orderkey",
        """19723L + pmod(CAST(CAST(o_orderdate AS DATE)
           - DATE '1970-01-01' AS BIGINT), 30) AS o_d""")
    val plain = ev.join(ord, Seq("custkey"))
      .filter(col("o_d") > col("e_d") && col("o_d") <= col("e_d") + 7)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == plain(r.getString(0)),
        s"banding dropped/duplicated pairs for ${r.getString(0)}")
    }
  }

  test("text_readability: counts match Java regex replay and band matches score") {
    val rows = run("text_readability")
    val texts = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val (id, w, sen, syl) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      val t = texts(id)
      val ww = math.max("""\S+""".r.findAllIn(t).length, 1).toLong
      val punct = """[.!?]+""".r.findAllIn(t).length.toLong
      val sy = """[aeiouyAEIOUY]+""".r.findAllIn(t).length.toLong
      assert(w == ww && syl == sy, s"doc $id counts")
      assert(sen == math.max(punct, 1 + (ww - 1) / 12), s"doc $id sentences")
      val num = 206835L * w * sen - 1015L * w * w - 84600L * syl * sen
      val den = 1000L * w * sen
      assert(r.getDouble(4) == num.toDouble / den.toDouble, s"doc $id flesch")
      val want = if (num >= 70 * den) "easy"
        else if (num >= 50 * den) "standard" else "difficult"
      assert(r.getString(5) == want, s"doc $id band")
    }
  }

  test("agg_chi_square_cramers equals the textbook (O-E)^2/E sum") {
    import org.apache.spark.sql.functions.col
    val rows = run("agg_chi_square_cramers")
    assert(rows.length == 1)
    val obs = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_mktsegment", "n_name").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val n = obs.values.sum
    val rTot = obs.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val cTot = obs.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    // naive textbook form in full double precision — the distributed
    // integer-rewritten terms must agree to float tolerance (exact
    // bitwise equality is the ORACLE's job; this pins the algebra)
    val chi2Naive = obs.map { case ((s0, nm), o) =>
      val e = rTot(s0).toDouble * cTot(nm).toDouble / n
      (o - e) * (o - e) / e
    }.sum
    val r = rows.head
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == rTot.size && r.getLong(2) == cTot.size)
    assert(r.getLong(3) == (rTot.size - 1).toLong * (cTot.size - 1))
    assert(math.abs(r.getDouble(4) - chi2Naive) < 1e-9 * (1 + chi2Naive),
      s"chi2 ${r.getDouble(4)} vs naive $chi2Naive")
    val v = math.sqrt(r.getDouble(4) / (n * (math.min(rTot.size, cTot.size) - 1)))
    assert(r.getDouble(5) == v)
  }

  test("graph_kcore_peel equals the sequential 3-round peel") {
    import org.apache.spark.sql.functions.col
    val e0 = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .selectExpr("o_custkey * 2 AS a", "l_suppkey * 2 + 1 AS b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges: Set[(Long, Long)] =
      (e0 ++ e0.map(t => (t._2, t._1))).toSet
    for (_ <- 1 to 3) {
      val deg = edges.groupBy(_._1).map { case (k, es) => k -> es.size }
      val alive = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => alive(e._1) && alive(e._2))
    }
    val expected = edges.groupBy(_._1)
      .map { case (k, es) => k -> es.size.toLong }
    val rows = run("graph_kcore_peel")
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val node = r.getLong(1) * 2 + (if (r.getString(0) == "supp") 1 else 0)
      assert(r.getLong(2) == expected(node),
        s"degree mismatch for ${r.getString(0)} ${r.getLong(1)}")
    }
  }

  test("agg_theil_sen equals the naive pairwise-median replay") {
    import org.apache.spark.sql.functions._
    val pts = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS tsm", "event_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS y")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
      .groupBy(_._1)
      .map { case (u, rs) => u -> rs.take(32).map(t => (t._4, t._5)) }
    val rows = run("agg_theil_sen")
    rows.foreach { r =>
      val u = r.getLong(0)
      val ps = pts(u)
      assert(r.getLong(1) == ps.length)
      val slopes = (for {
        i <- ps.indices; j <- (i + 1) until ps.length
        if ps(j)._1 > ps(i)._1
      } yield (ps(j)._2 - ps(i)._2).toDouble / (ps(j)._1 - ps(i)._1))
        .sorted
      assert(r.getLong(2) == slopes.length, s"user $u pair count")
      // exact PERCENTILE_CONT median on the sorted slope list
      val n = slopes.length
      val med = if (n % 2 == 1) slopes(n / 2)
        else slopes(n / 2 - 1) + (slopes(n / 2) - slopes(n / 2 - 1)) * 0.5
      assert(r.getDouble(3) == med, s"user $u sen slope")
    }
  }

  test("dq_bloom_fpr_eval: metric identities and theory formula") {
    val rows = run("dq_bloom_fpr_eval")
    assert(rows.length == 1)
    val r = rows.head
    val (nm, bits, neg, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nm > 0 && bits > 0 && bits <= math.min(4096L, 3 * nm))
    assert(fp <= neg)
    if (neg > 0) assert(r.getDouble(4) == fp.toDouble / neg)
    val p = bits.toDouble / 4096.0
    assert(r.getDouble(5) == p && r.getDouble(6) == p * p * p)
    // with a half-full filter the empirical rate should be within an
    // order of magnitude of theory (loose sanity, not a statistics test)
    if (neg >= 100 && p > 0.2)
      assert(r.getDouble(4) <= math.min(1.0, 10 * p * p * p))
  }

  test("window_ohlc_bars equals the sequential first/last walk") {
    val rows = run("window_ohlc_bars")
    // eventSeries is (user -> cents in (ts, event_id) order) but loses
    // the day split, so replay days independently
    import org.apache.spark.sql.functions._
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS tsm", "event_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byBar = evs.groupBy(e => (e._1, e._4))
    assert(rows.length == byBar.size)
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val es = byBar(key).sortBy(e => (e._2, e._3))
      assert(r.getLong(2) == es.head._5, s"$key open")
      assert(r.getLong(3) == es.map(_._5).max, s"$key high")
      assert(r.getLong(4) == es.map(_._5).min, s"$key low")
      assert(r.getLong(5) == es.last._5, s"$key close")
      assert(r.getLong(6) == es.length && r.getLong(7) == es.map(_._5).sum)
    }
  }

  test("agg_cpk_capability equals the naive mean/stddev replay") {
    import org.apache.spark.sql.functions._
    val rows = run("agg_cpk_capability")
    val by = Tables.load(spark, dir, "events")
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    rows.foreach { r =>
      val cs = by(r.getString(0)).map(_._2)
      val n = cs.length
      assert(r.getLong(1) == n)
      val mu = cs.sum.toDouble / n
      // naive double variance vs the distributed centered-int form:
      // equal to float tolerance (exactness is the oracle's job)
      val v = cs.map(c => (c - mu) * (c - mu)).sum / (n - 1)
      assert(math.abs(r.getDouble(2) - mu) < 1e-9 * (1 + math.abs(mu)))
      assert(math.abs(r.getDouble(3) - math.sqrt(v)) < 1e-6 * (1 + math.sqrt(v)))
      if (!r.isNullAt(4)) {
        assert(r.getDouble(4) == 50000.0 / (6.0 * r.getDouble(3)))
        assert(r.getDouble(5) ==
          math.min(50000.0 - r.getDouble(2), r.getDouble(2) - 0.0)
            / (3.0 * r.getDouble(3)))
      }
    }
  }

  test("embed_silhouette: memberships sum to corpus, scores in [-1e6, 1e6]") {
    val rows = run("embed_silhouette")
    val total = rows.map(_.getLong(1)).sum
    val corpus = Tables.load(spark, dir, "embeddings").count()
    assert(total == corpus, "every vector must land in exactly one cell")
    rows.foreach { r =>
      val (n, sum) = (r.getLong(1), r.getLong(2))
      // s ∈ [-1, 1] ⇒ each quantized term in [-1e6, 1e6]
      assert(sum >= -1000000L * n && sum <= 1000000L * n)
      assert(r.getDouble(3) == sum.toDouble / n)
      // a centroid's own vector has a = 0 ⇒ its cell (which contains at
      // least that vector) can reach mean 1e6 but never exceed it
      assert(r.getDouble(3) <= 1000000.0)
    }
  }

  test("agg_log2_histogram: bucket law, coverage, and bound consistency") {
    val rows = run("agg_log2_histogram")
    val total = rows.map(_.getLong(4)).sum
    val corpus = Tables.load(spark, dir, "events").count()
    assert(total == corpus, "buckets must partition the rows")
    rows.foreach { r =>
      val (b, lo, hi) = (r.getInt(1), r.getLong(2), r.getLong(3))
      val (loSeen, hiSeen) = (r.getLong(5), r.getLong(6))
      assert(lo == (if (b == 1) 0L else 1L << (b - 1)) && hi == (1L << b) - 1)
      assert(loSeen >= lo && hiSeen <= hi && loSeen <= hiSeen,
        s"bucket $b observed [$loSeen,$hiSeen] outside [$lo,$hi]")
      // bit-length law on the observed extremes
      assert(java.lang.Long.toBinaryString(hiSeen).length == b)
    }
  }

  test("graph_neighbor_jaccard equals the naive co-occurrence replay") {
    import org.apache.spark.sql.functions.col
    val e0 = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = e0.groupBy(_._1).filter(_._2.length <= 64)
    val adj = byCust.values.flatten.toSeq.groupBy(_._2)
      .map { case (s0, es) => s0 -> es.map(_._1).toSet }
    val expected = (for {
      s1 <- adj.keys; s2 <- adj.keys if s1 < s2
      shared = (adj(s1) & adj(s2)).size
      if shared > 0
      j = shared.toDouble / (adj(s1).size + adj(s2).size - shared)
      if j >= 0.25
    } yield (s1, s2) -> (shared, adj(s1).size, adj(s2).size, j)).toMap
    val rows = run("graph_neighbor_jaccard")
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val e = expected((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) == e._1 && r.getLong(3) == e._2
        && r.getLong(4) == e._3)
      assert(r.getDouble(5) == e._4)
    }
  }

  test("pipeline_decontaminate_embed: counts partition and max_sim bounds") {
    val rows = run("pipeline_decontaminate_embed")
    val corpus = Tables.load(spark, dir, "embeddings").count()
    val nEval = rows.length
    assert(nEval >= 1)
    rows.foreach { r =>
      assert(r.getLong(1) == corpus - nEval,
        "every eval item scores the full train side")
      assert(r.getLong(2) <= r.getLong(1))
      val ms = r.getDouble(3)
      assert(ms >= -1.0000001 && ms <= 1.0000001)
      if (r.getLong(2) > 0) assert(ms >= 0.9)
    }
  }

  test("snapshot_table_diff: classification partitions both versions") {
    val rows = run("snapshot_table_diff")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val v1 = Tables.load(spark, dir, "orders").count()
    import org.apache.spark.sql.functions._
    val nibs = Tables.load(spark, dir, "orders")
      .select(substring(md5(col("o_orderkey").cast("string")), 1, 1).as("n"))
      .collect().map(_.getString(0))
    val nF = nibs.count(_ == "f").toLong
    val nE = nibs.count(_ == "e").toLong
    val n01 = nibs.count(n => n == "0" || n == "1").toLong
    assert(rows("removed")._1 == nF)
    assert(rows("added")._1 == nE)
    // changed = repriced keys whose cents actually moved (cents*110/100
    // == cents only when cents == 0, which fixtures don't produce)
    assert(rows("changed")._1 == n01)
    assert(rows("unchanged")._1 == v1 - nF - n01)
    assert(rows.values.map(_._1).sum == v1 + nE)
    assert(rows("added")._2 > 100000000L, "inserted keys live in the new id range")
  }

  test("agg_ab_power_mde: formula identities against reported mean/sigma") {
    val rows = run("agg_ab_power_mde")
    rows.foreach { r =>
      val (n, mu, sg) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      val z = 2.801585218112969
      assert(r.getDouble(4) == z * sg * math.sqrt(2.0 / n))
      if (!r.isNullAt(5)) {
        val d = 0.05 * mu
        assert(r.getLong(5) ==
          math.ceil(2.0 * (z * sg / d) * (z * sg / d)).toLong)
        // detecting a smaller effect than the current MDE needs more
        // samples than we have
        if (r.getDouble(4) > d) assert(r.getLong(5) > n)
      }
    }
  }

  test("text_langid_confusion: margins are probability decompositions") {
    val rows = run("text_langid_confusion")
    val total = rows.map(_.getLong(2)).sum
    val corpus = Tables.load(spark, dir, "documents").count()
    assert(total == corpus)
    // recall shares sum to 1 within each actual language
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val s = rs.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"recall shares of $lang sum to $s")
    }
    rows.groupBy(_.getString(1)).foreach { case (pred, rs) =>
      val s = rs.map(_.getDouble(4)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"precision shares of $pred sum to $s")
    }
  }

  test("multimodal_scene_cuts: shot model yields the expected boundary count") {
    val rows = run("multimodal_scene_cuts")
    rows.foreach { r =>
      val (n, cuts, maxH) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // full 16-frame videos have exactly 3 shot boundaries; ragged tail
      // videos have ceil(n/4)-1
      val shots = (n + 3) / 4
      assert(cuts == shots - 1, s"video ${r.getLong(0)}: $cuts cuts for $n frames")
      // within-shot hamming is tiny (≤4: two flipped bits can differ),
      // cross-shot large — max must clear the threshold iff a cut exists
      if (cuts > 0) assert(maxH > 16) else if (n > 1) assert(maxH <= 4)
    }
  }

  test("agg_two_proportion_z equals the textbook pooled-z replay") {
    import org.apache.spark.sql.functions._
    val rows = run("agg_two_proportion_z")
    assert(rows.length == 1)
    val conv = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a0 = conv.filter(_._1 % 2 == 0)
    val a1 = conv.filter(_._1 % 2 == 1)
    val r = rows.head
    assert(r.getLong(0) == a0.length && r.getLong(1) == a0.map(_._2).sum)
    assert(r.getLong(2) == a1.length && r.getLong(3) == a1.map(_._2).sum)
    val p1 = a0.map(_._2).sum.toDouble / a0.length
    val p2 = a1.map(_._2).sum.toDouble / a1.length
    val pp = (a0.map(_._2).sum + a1.map(_._2).sum).toDouble / conv.length
    assert(r.getDouble(4) == p1 && r.getDouble(5) == p2)
    if (pp > 0 && pp < 1) {
      val z = (p1 - p2) / math.sqrt(pp * (1.0 - pp)
        * (1.0 / a0.length + 1.0 / a1.length))
      assert(math.abs(r.getDouble(6) - z) < 1e-12)
      assert(r.getLong(7) ==
        (if (math.abs(r.getDouble(6)) > 1.9599639845400545) 1L else 0L))
    } else {
      // degenerate arms (all or none converted): z undefined, verdict 0
      assert(r.isNullAt(6) && r.getLong(7) == 0L)
    }
  }

  test("agg_eventually_follows equals the naive min/max replay") {
    import org.apache.spark.sql.functions._
    val spans = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1)
      .map { case (k, vs) => k -> (vs.map(_._2).min, vs.map(_._2).max) }
    val usersWithType = spans.keys.groupBy(_._2).map { case (t, ks) => t -> ks.size }
    val rows = run("agg_eventually_follows")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val both = spans.keys.filter(_._2 == a).map(_._1)
        .filter(u => spans.contains((u, b)))
      assert(r.getLong(2) == both.size, s"($a,$b) both")
      val follows = both.count(u => spans((u, a))._1 < spans((u, b))._2)
      assert(r.getLong(3) == follows, s"($a,$b) follows")
      assert(r.getDouble(4) == follows.toDouble / usersWithType(a))
    }
  }

  test("dq_sequence_gaps: identity and detail accounting agree") {
    val rows = run("dq_sequence_gaps")
    assert(rows.length == 1)
    val r = rows.head
    val ids = Tables.load(spark, dir, "events")
      .select("event_id").distinct().collect().map(_.getLong(0)).sorted
    assert(r.getLong(0) == ids.length)
    assert(r.getLong(1) == ids.head && r.getLong(2) == ids.last)
    val totalMissing = ids.last - ids.head + 1 - ids.length
    assert(r.getLong(3) == totalMissing)
    // within + seam details must account for exactly the identity total
    // (no wholly-missing 8192-buckets in the fixtures; if one appears
    // the identity still holds and this decomposition check is skipped)
    val naiveGaps = ids.sliding(2).collect {
      case Array(x, y) if y - x > 1 => y - x - 1
    }.toSeq
    if (r.getLong(4) + r.getLong(6) == naiveGaps.length) {
      assert(r.getLong(5) + r.getLong(7) == naiveGaps.sum)
      assert(r.getLong(8) == (if (naiveGaps.isEmpty) 0L else naiveGaps.max))
    }
    assert(r.getLong(5) + r.getLong(7) <= totalMissing)
  }

  test("agg_gini_coefficient equals the textbook sorted rank-sum") {
    import org.apache.spark.sql.functions._
    val rows = run("agg_gini_coefficient")
    assert(rows.length == 1)
    val revs = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map(_._2.map(_._2).sum).toArray.sorted
    val n = revs.length
    val sx = revs.sum
    val srank = revs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
    val r = rows.head
    assert(r.getLong(0) == n && r.getLong(1) == sx)
    val gini = 2.0 * srank / (n.toDouble * sx) - (n + 1.0) / n
    assert(math.abs(r.getDouble(2) - gini) < 1e-12)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
  }

  test("agg_median_ci_rank: ranks bracket the median and values are order stats") {
    val rows = run("agg_median_ci_rank")
    assert(rows.length == 1)
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(_.getLong(0)).sorted
    val n = vs.length
    val r = rows.head
    assert(r.getLong(0) == n)
    val (lo, hi, med) = (r.getLong(1), r.getLong(2), (n + 1) / 2)
    assert(lo >= 1 && lo <= med && med <= hi && hi <= n)
    assert(r.getLong(3) == vs(med - 1), "median is the value at med rank")
    assert(r.getLong(4) == vs(lo.toInt - 1) && r.getLong(5) == vs(hi.toInt - 1))
    assert(r.getLong(4) <= r.getLong(3) && r.getLong(3) <= r.getLong(5))
  }

  test("agg_shipping_lag_percentiles: order stats bracket and late-rate law") {
    import org.apache.spark.sql.functions.col
    val rows = run("agg_shipping_lag_percentiles")
    val lags = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("o_orderpriority",
        "CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    assert(rows.length == lags.size)
    rows.foreach { r =>
      val ls = lags(r.getString(0))
      assert(r.getLong(1) == ls.length)
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4))
      assert(r.getDouble(2) >= ls.head && r.getDouble(4) <= ls.last)
      assert(r.getLong(5) == ls.count(_ > 90))
      assert(r.getDouble(6) == ls.count(_ > 90).toDouble / ls.length)
    }
  }

  test("text_fertility_by_lang: fertility >= 1 and sums partition the corpus") {
    val rows = run("text_fertility_by_lang")
    val corpus = Tables.load(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == corpus)
    rows.foreach { r =>
      // BPE-ish pieces subdivide whitespace words, so fertility >= 1
      // for any text with at least one word
      if (r.getLong(2) > 0) assert(r.getDouble(4) >= 1.0,
        s"${r.getString(0)} fertility ${r.getDouble(4)}")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("sort_pareto_skyline equals the quadratic dominance scan") {
    val pts = Tables.load(spark, dir, "part")
      .selectExpr("p_partkey", "CAST(round(p_retailprice * 100) AS BIGINT)",
        "p_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expected = pts.filter { case (_, c, sz) =>
      !pts.exists { case (_, qc, qs) =>
        qc <= c && qs >= sz && (qc < c || qs > sz)
      }
    }.map(t => (t._2, t._1)).sorted.map(t => (t._2, t._1))
    val rows = run("sort_pareto_skyline")
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == expected.toSeq.map(t => (t._1, t._2)))
    // frontier sanity: strictly increasing size along increasing price
    val sky = run("sort_pareto_skyline").map(r => (r.getLong(1), r.getInt(2)))
    sky.sliding(2).foreach {
      case Array((c1, s1), (c2, s2)) => assert(c1 < c2 && s1 < s2)
      case _ =>
    }
  }

  test("agg_welch_ttest: moments match the driver replay; t/df reproduce IEEE tree") {
    val rows = run("agg_welch_ttest")
    assert(rows.length == 1)
    val r = rows.head
    val cents = Tables.load(spark, dir, "events")
      .filter("event_type IN ('click','purchase') AND value IS NOT NULL")
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val a = cents.filter(_._1 == "click").map(_._2)
    val b = cents.filter(_._1 == "purchase").map(_._2)
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    assert(r.getLong(2) == a.sum && r.getLong(3) == b.sum)
    assert(r.getLong(4) == a.map(v => v * v).sum)
    assert(r.getLong(5) == b.map(v => v * v).sum)
    // replay the exact IEEE tree the query declares
    def mom(xs: Array[Long]): (Double, Double) = {
      val n = xs.length.toDouble
      val s = xs.sum.toDouble; val ss = xs.map(v => v * v).sum.toDouble
      (s / n, (ss - s * s / n) / (xs.length - 1).toDouble)
    }
    val (ma, va) = mom(a); val (mb, vb) = mom(b)
    val seA = va / a.length.toDouble; val seB = vb / b.length.toDouble
    val t = (ma - mb) / math.sqrt(seA + seB)
    val df = ((seA + seB) * (seA + seB)) /
      (seA * seA / (a.length - 1).toDouble +
        seB * seB / (b.length - 1).toDouble)
    assert(r.getDouble(6) == ma && r.getDouble(7) == mb)
    assert(r.getDouble(8) == t, s"t: got ${r.getDouble(8)} want $t")
    assert(r.getDouble(9) == df, s"df: got ${r.getDouble(9)} want $df")
    // Welch df is bounded by min-1 and pooled n-2
    assert(df >= math.min(a.length, b.length) - 1.0 - 1e-9)
    assert(df <= a.length + b.length - 2.0 + 1e-9)
  }

  test("agg_capture_recapture: Lincoln–Petersen components match an md5 replay") {
    val rows = run("agg_capture_recapture")
    assert(rows.length == 1)
    val r = rows.head
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val byFp = docs.groupBy(d => md5hex(d._2))
    val nTrue = byFp.size.toLong
    val nA = byFp.values.count(_.exists(d => md5hex(d._1.toString)(0) < '8')).toLong
    val nB = byFp.values.count(_.exists(d => md5hex(d._1.toString)(1) < '8')).toLong
    val nBoth = byFp.values.count(g =>
      g.exists(d => md5hex(d._1.toString)(0) < '8') &&
        g.exists(d => md5hex(d._1.toString)(1) < '8')).toLong
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((nTrue, nA, nB, nBoth)))
    assert(r.getDouble(4) == nA.toDouble * nB.toDouble / nBoth.toDouble)
    // the estimator should land within 2x of truth on ~50% samples
    assert(r.getDouble(4) > nTrue * 0.5 && r.getDouble(4) < nTrue * 2.0)
  }

  test("agg_anova_oneway matches the quantized-mean replay; SSB/SSW nonneg") {
    val rows = run("agg_anova_oneway")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val groups = vs.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val k = groups.size.toLong
    val n = vs.length.toLong
    val s = vs.map(_._2).sum
    val mHat = s * 1000000L / n
    def mg(xs: Array[Long]): Long = xs.sum * 1000000L / xs.length
    val ssb = groups.map { g =>
      val d = BigInt(mg(g) - mHat); BigInt(g.length) * d * d
    }.sum
    val ssw = groups.map { g =>
      val m = BigInt(mg(g))
      BigInt(g.map(v => v * v).sum) * BigInt(1000000000000L) -
        BigInt(2000000L) * m * BigInt(g.sum) + BigInt(g.length) * m * m
    }.sum
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(BigInt(r.getString(2)) == ssb)
    assert(BigInt(r.getString(3)) == ssw)
    assert(BigInt(r.getString(4)) == ssb * BigInt(n - k))
    assert(BigInt(r.getString(5)) == ssw * BigInt(k - 1))
    assert(ssb >= 0 && ssw >= 0)
  }

  test("window_rolling_corr: moments match a sequential 7-day frame replay") {
    val rows = run("window_rolling_corr")
    val daily = Tables.load(spark, dir, "events")
      .filter("event_type IN ('click','purchase')")
      .selectExpr("event_type",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val cl = daily.filter(_._1 == "click").groupBy(_._2)
      .map { case (d, g) => d -> g.map(_._3).sum }
    val pu = daily.filter(_._1 == "purchase").groupBy(_._2)
      .map { case (d, g) => d -> g.map(_._3).sum }
    val days = (cl.keySet & pu.keySet).toSeq.sorted
    val expected = days.zipWithIndex.collect {
      case (d, i) if i >= 6 =>
        val frame = days.slice(i - 6, i + 1)
        val xs = frame.map(cl); val ys = frame.map(pu)
        val (sx, sy) = (xs.sum, ys.sum)
        val sxy = frame.map(dd => cl(dd) * pu(dd)).sum
        val sxx = xs.map(v => v * v).sum; val syy = ys.map(v => v * v).sum
        val num = BigInt(7L * sxy - sx * sy)
        d -> ((num.signum.toLong, num * num,
          BigInt(7L * sxx - sx * sx) * BigInt(7L * syy - sy * sy)))
    }.toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val d = r.getLong(0)
      val got = (r.getLong(2), BigInt(r.getString(3)),
        BigInt(r.getString(4)))
      assert(got == expected(d), s"day $d")
      // Cauchy–Schwarz: r² ≤ 1
      assert(got._2 <= got._3 || got._3 == 0)
    }
  }

  test("sample_negative_candidates: pure-function draws, no positives leak") {
    val rows = run("sample_negative_candidates")
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val parts = Tables.load(spark, dir, "part")
      .selectExpr("p_partkey").collect().map(_.getLong(0)).toSet
    val minPk = parts.min; val nParts = parts.size.toLong
    val positives = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val orderKeys = Tables.load(spark, dir, "orders")
      .selectExpr("o_orderkey").collect().map(_.getLong(0))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = (for {
      ok <- orderKeys; slot <- 1 to 4
      u = java.lang.Long.parseLong(md5hex(s"$ok:$slot").take(8), 16)
      cand = minPk + u % nParts
      if parts(cand) && !positives((ok, cand))
    } yield (ok, slot, cand)).sortBy(t => (t._1, t._2))
    assert(rows.toSeq == expected.toSeq)
    rows.foreach { case (ok, _, cand) =>
      assert(!positives((ok, cand)) && parts(cand))
    }
  }

  test("pipeline_span_corruption equals a sequential mask replay; spans merge") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = run("pipeline_span_corruption")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val n = text.trim.toLowerCase.split("\\s+").length
      val starts = (1 to n).map(i => md5hex(s"$id:$i")(0) < '3')
      val masked = (1 to n).map(i =>
        (math.max(1, i - 2) to i).exists(j => starts(j - 1)))
      val nMasked = masked.count(identity).toLong
      val nSpans = masked.zipWithIndex.count { case (m, i) =>
        m && (i == 0 || !masked(i - 1))
      }.toLong
      assert(rows(id) == ((n.toLong, nMasked, nSpans)), s"doc $id")
    }
  }

  test("multimodal_audio_vad: segment islands match a sequential frame walk") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = run("multimodal_audio_vad")
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val ids = Tables.load(spark, dir, "events")
      .filter("event_id < 6000").selectExpr("event_id")
      .collect().map(_.getLong(0))
    ids.groupBy(_ / 48).foreach { case (aid, evs) =>
      val frames = evs.sorted.map { e =>
        val energy = java.lang.Long.parseLong(md5hex(s"vad:$e").take(4), 16)
        (energy, energy > 40000)
      }
      val active = frames.map(_._2)
      val segs = active.zipWithIndex.count { case (a, i) =>
        a && (i == 0 || !active(i - 1))
      }
      val maxLen = if (!active.contains(true)) 0L
        else active.foldLeft((0L, 0L)) { case ((cur, best), a) =>
          if (a) (cur + 1, math.max(best, cur + 1)) else (0L, best)
        }._2
      val want = (frames.length.toLong, active.count(identity).toLong,
        frames.map(_._1).sum, segs.toLong, maxLen)
      assert(rows(aid) == want, s"audio $aid: got ${rows(aid)} want $want")
    }
  }

  test("agg_winsorized_trimmed: clamped sums match replay; robust means bounded") {
    val rows = run("agg_winsorized_trimmed")
    val vs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, g) => t -> g.map(_._2) }
    rows.foreach { r =>
      val t = r.getString(0)
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val xs = vs(t)
      assert(n == xs.length)
      val wins = xs.map(v => math.min(math.max(v, lo), hi)).sum
      val trim = xs.filter(v => v >= lo && v <= hi)
      assert(r.getLong(4) == wins)
      assert(r.getLong(5) == trim.length && r.getLong(6) == trim.sum)
      // cut points must bracket the middle 90%
      assert(xs.count(_ < lo) <= (xs.length * 0.06).ceil.toInt + 1)
      assert(xs.count(_ > hi) <= (xs.length * 0.06).ceil.toInt + 1)
      // winsorized mean sits between trimmed min/max envelope
      assert(r.getDouble(7) >= lo.toDouble && r.getDouble(7) <= hi.toDouble)
      assert(r.getDouble(8) >= lo.toDouble && r.getDouble(8) <= hi.toDouble)
    }
  }

  test("graph_community_modularity: contributions satisfy the modularity identity") {
    val rows = run("graph_community_modularity")
    assert(rows.nonEmpty)
    val labels = run("graph_label_propagation")
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    // communities in the scoreboard are exactly the label-prop partition
    assert(rows.map(_.getLong(0)).toSet == labels.values.toSet)
    val w = rows.head.getLong(4)
    rows.foreach { r =>
      val (c, nn, dsum, inw, contrib) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(5))
      assert(r.getLong(4) == w) // W identical on every row
      assert(contrib == w * inw - dsum * dsum)
      assert(nn == labels.count(_._2 == c))
      assert(inw >= 0 && inw <= dsum, s"community $c: internal exceeds degree")
    }
    // node count conservation + Q in [-1, 1]
    assert(rows.map(_.getLong(1)).sum == labels.size)
    assert(rows.map(_.getLong(2)).sum == w) // Σ degrees = total weight
    val q = rows.map(_.getLong(5)).map(BigInt(_)).sum
    assert(q.abs <= BigInt(w) * BigInt(w))
  }

  test("graph_assortativity: moments match a driver edge replay; CS bound holds") {
    val rows = run("graph_assortativity")
    assert(rows.length == 1)
    val r = rows.head
    val sW = r.getLong(0)
    val num = BigInt(r.getString(1))
    val den1 = BigInt(r.getString(2))
    val den2 = BigInt(r.getString(3))
    assert(den1 >= 0 && den2 >= 0)
    assert(num * num <= den1 * den2, "Cauchy-Schwarz violated")
    assert(r.getLong(4) == num.signum.toLong)
    // replay: rebuild the undirected weighted edge list on the driver
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .selectExpr("c_nationkey AS a", "s_nationkey AS b")
      .collect().map(x => (x.getInt(0), x.getInt(1)))
    val dirW = e.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val und = scala.collection.mutable.Map.empty[(Int, Int), Long]
    dirW.foreach { case ((a, b), w) =>
      und((a, b)) = und.getOrElse((a, b), 0L) + w
      und((b, a)) = und.getOrElse((b, a), 0L) + w
    }
    val deg = und.toSeq.groupBy(_._1._1)
      .map { case (n, g) => n -> g.map(_._2).sum }
    assert(sW == und.values.sum)
    val sxy = und.map { case ((a, b), w) =>
      BigInt(w) * BigInt(deg(a)) * BigInt(deg(b)) }.sum
    val sx = und.map { case ((a, _), w) => BigInt(w) * BigInt(deg(a)) }.sum
    val sy = und.map { case ((_, b), w) => BigInt(w) * BigInt(deg(b)) }.sum
    assert(num == BigInt(sW) * sxy - sx * sy)
  }

  test("dq_inversion_rate equals a sequential adjacent-pair walk") {
    val rows = run("dq_inversion_rate")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS t", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    evs.groupBy(_._1).foreach { case (u, g) =>
      if (g.length >= 2) {
        val ordered = g.sortBy(t => (t._2, t._3)).map(_._3)
        val inv = ordered.sliding(2).count { case Array(a, b) => a > b }
        assert(rows(u) ==
          ((g.length.toLong, (g.length - 1).toLong, inv.toLong)), s"user $u")
      } else assert(!rows.contains(u))
    }
  }

  test("agg_ratio_metric_ci: cluster moments match replay; CI brackets ratio") {
    val rows = run("agg_ratio_metric_ci")
    assert(rows.length == 2)
    val perUser = Tables.load(spark, dir, "events")
      .selectExpr("user_id",
        "CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS rev")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, g) => (u % 2, g.map(_._2).sum, g.length.toLong) }
    rows.foreach { r =>
      val arm = r.getLong(0)
      val us = perUser.filter(_._1 == arm).toSeq
      assert(r.getLong(1) == us.length)
      assert(r.getLong(2) == us.map(_._2).sum)
      assert(r.getLong(3) == us.map(_._3).sum)
      assert(r.getLong(4) == us.map(t => t._2 * t._2).sum)
      assert(r.getLong(5) == us.map(t => t._3 * t._3).sum)
      assert(r.getLong(6) == us.map(t => t._2 * t._3).sum)
      val (ratio, se, lo, hi) =
        (r.getDouble(7), r.getDouble(8), r.getDouble(9), r.getDouble(10))
      assert(se >= 0 && lo <= ratio && ratio <= hi)
      assert(math.abs((hi - ratio) - 1.96 * se) <= 1e-12 * math.abs(ratio))
      assert(math.abs((ratio - lo) - 1.96 * se) <= 1e-12 * math.abs(ratio))
    }
  }

  test("agg_tost_equivalence: verdict consistent with its own statistics") {
    val rows = run("agg_tost_equivalence")
    assert(rows.length == 1)
    val r = rows.head
    val (tLo, tHi) = (r.getDouble(4), r.getDouble(5))
    val verdict = r.getString(6)
    assert(verdict ==
      (if (math.min(tLo, tHi) > 1.645) "EQUIVALENT" else "NOT_EQUIVALENT"))
    // t_lo + t_hi = 2δ/se exactly in exact arithmetic; allow float slack
    val se = r.getDouble(3)
    assert(math.abs((tLo + tHi) - 100.0 / se) < 1e-6 * (100.0 / se))
  }

  test("dedup_source_matrix: pair counts conserve the minhash pair set") {
    import org.apache.spark.sql.functions.col
    val matrix = run("dedup_source_matrix")
    val pairs = graft.operators.Dedup.minhashLshPairs(
        Tables.load(spark, dir, "documents"), "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(matrix.map(_.getLong(2)).sum == pairs.length)
    val srcOf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expected = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, g) => k -> g.length.toLong }
    matrix.foreach { r =>
      assert(expected((r.getString(0), r.getString(1))) == r.getLong(2))
    }
  }

  test("join_pit_trailing_features: strict-past window matches a driver replay") {
    val rows = run("join_pit_trailing_features")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val orders = Tables.load(spark, dir, "orders")
      .selectExpr("o_orderkey", "o_custkey",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val events = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS t",
        "coalesce(CAST(round(value * 100) AS BIGINT), 0) AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(rows.size == orders.length)
    val horizon = 30L * 86400L * 1000000L
    orders.foreach { case (ok, ck, t) =>
      val evs = events.getOrElse(ck, Array.empty)
        .filter(e => e._2 >= t - horizon && e._2 <= t - 1)
      val want = (ck, evs.length.toLong, evs.map(_._3).sum,
        if (evs.isEmpty) -1L else t - evs.map(_._2).max)
      assert(rows(ok) == want, s"order $ok: got ${rows(ok)} want $want")
    }
  }

  test("window_holt_linear equals the sequential coupled recurrence") {
    val rows = run("window_holt_linear")
    // the query orders each user's sequence by event_id (not ts)
    val series = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "event_id",
        "CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (u, g) => u -> g.sortBy(_._2).map(_._3).toVector }
    rows.foreach { r =>
      val u = r.getLong(0)
      val xs = series(u)
      assert(xs.length >= 2 && r.getLong(1) == xs.length)
      var l = xs(0); var t = xs(1) - xs(0)
      xs.drop(1).foreach { x =>
        val lNew = x * 0.5 + (l + t) * 0.5
        val tNew = (lNew - l) * 0.25 + t * 0.75
        l = lNew; t = tNew
      }
      assert(r.getDouble(2) == l, s"user $u level")
      assert(r.getDouble(3) == t, s"user $u trend")
      assert(r.getDouble(4) == l + t)
    }
    // every ≥2-event user appears
    assert(rows.length == series.count(_._2.length >= 2))
  }

  test("agg_diff_in_diff: cell moments match replay; CI brackets the estimate") {
    val rows = run("agg_diff_in_diff")
    assert(rows.length == 1)
    val r = rows.head
    val evs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("user_id % 2 AS arm",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    def cell(a: Long, p: Long) = evs.filter(e =>
      e._1 == a && (if (e._2 * 2 >= d0 + d1) 1L else 0L) == p)
    assert(r.getLong(0) == cell(1, 0).length && r.getLong(1) == cell(1, 1).length)
    assert(r.getLong(2) == cell(0, 0).length && r.getLong(3) == cell(0, 1).length)
    assert(r.getLong(4) == cell(1, 0).map(_._3).sum)
    assert(r.getLong(5) == cell(1, 1).map(_._3).sum)
    assert(r.getLong(6) == cell(0, 0).map(_._3).sum)
    assert(r.getLong(7) == cell(0, 1).map(_._3).sum)
    val (did, se, lo, hi) =
      (r.getDouble(8), r.getDouble(9), r.getDouble(10), r.getDouble(11))
    assert(se >= 0 && lo <= did && did <= hi)
    def m(xs: Array[(Long, Long, Long)]) =
      xs.map(_._3).sum.toDouble / xs.length
    val want = m(cell(1, 1)) - m(cell(1, 0)) - (m(cell(0, 1)) - m(cell(0, 0)))
    assert(math.abs(did - want) < 1e-9 * math.max(1.0, math.abs(want)))
  }

  test("text_bpe_train3 equals a driver replay of 3 greedy merge rounds") {
    val rows = run("text_bpe_train3")
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    var types: Map[Vector[String], Long] = Tables.load(spark, dir, "documents")
      .selectExpr("text").collect().flatMap(_.getString(0).trim.toLowerCase
        .split("\\s+"))
      .filter(w => w.matches("^[a-z]+$") && w.length >= 2)
      .groupBy(identity).map { case (w, g) =>
        w.map(_.toString).toVector -> g.length.toLong }
    (1 to 3).foreach { round =>
      val pairCounts = types.toSeq.flatMap { case (syms, c) =>
        syms.sliding(2).filter(_.length == 2).map(p => (p(0), p(1)) -> c)
      }.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
      val best = pairCounts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      val ((a, b), cnt) = best
      types = types.toSeq.map { case (syms, c) =>
        val out = scala.collection.mutable.ArrayBuffer(syms.head)
        syms.tail.foreach { x =>
          if (out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        out.toVector -> c
      }.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
      val toksAfter = types.map { case (syms, c) => syms.length * c }.sum
      assert(rows(round - 1) == ((round, a, b, cnt, toksAfter)),
        s"round $round: got ${rows(round - 1)} want ${(round, a, b, cnt, toksAfter)}")
    }
  }

  test("snapshot_expire_versions: expiry never touches the as-of-watermark version") {
    val rows = run("snapshot_expire_versions")
    assert(rows.nonEmpty)
    val hist = run("snapshot_scd2_history").map { r =>
      (r.getLong(0), Option(r.get(3)).map {
        case t: java.sql.Timestamp => t.getTime
        case l: java.time.LocalDateTime => java.sql.Timestamp.valueOf(l).getTime
      })
    }
    val cutoff = java.sql.Timestamp.valueOf("1996-01-01 00:00:00").getTime
    val perKey = hist.groupBy(_._1).map { case (k, g) =>
      k -> ((g.length.toLong,
        g.count(v => v._2.exists(_ < cutoff)).toLong))
    }
    rows.foreach { r =>
      val k = r.getLong(0)
      val (nv, ne) = perKey(k)
      assert(r.getLong(1) == nv && r.getLong(2) == ne)
      assert(r.getLong(3) == nv - ne && r.getLong(3) >= 1,
        s"key $k would lose its as-of-watermark version")
    }
    // output is exactly the keys with something to expire
    assert(rows.map(_.getLong(0)).toSet ==
      perKey.filter(_._2._2 > 0).keySet)
  }

  test("maintenance_zonemap_stats: skipping is sound against the raw data") {
    val rows = run("maintenance_zonemap_stats")
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS v", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val n = evs.size.toLong
    val preds: Map[String, ((Long, Long, Long)) => Boolean] = Map(
      "v_gt_90000" -> (e => e._2 > 90000L),
      "u_eq_42" -> (e => e._3 == 42L),
      "v_between_1_100" -> (e => e._2 >= 1L && e._2 <= 100L))
    preds.foreach { case (name, p) =>
      val (np, ns) = rows(name)
      assert(np == n)
      // soundness: every partition with a matching row must NOT be skipped
      val mustKeep = evs.count { case (_, g) => g.exists(p) }.toLong
      assert(ns <= n - mustKeep, s"$name skipped a partition with matches")
    }
    // the envelope rule is also tight for the range predicate family:
    // a day with no matching row and a disjoint envelope is counted
    val disjoint = evs.count { case (_, g) =>
      g.map(_._2).max < 1L || g.map(_._2).min > 100L }.toLong
    assert(rows("v_between_1_100")._2 == disjoint)
  }

  test("agg_price_index: fixed-point unit prices match replay; L=l_num/l_den") {
    val rows = run("agg_price_index")
    assert(rows.length == 1)
    val r = rows.head
    val li = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_partkey", "year(l_shipdate) AS yr",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(round(l_quantity) AS BIGINT) AS qty")
      .filter("yr IN (1996, 1997)")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    val py = li.groupBy(t => (t._1, t._2)).map { case (k, g) =>
      k -> ((g.map(_._3).sum * 1000000L / g.map(_._4).sum, g.map(_._4).sum))
    }
    val parts = py.keys.filter(_._2 == 1996).map(_._1).toSet &
      py.keys.filter(_._2 == 1997).map(_._1).toSet
    assert(r.getLong(0) == parts.size)
    def idx(cur: Boolean, curQty: Boolean): BigInt = parts.map { pk =>
      val (p, _) = py((pk, if (cur) 1997 else 1996))
      val (_, q) = py((pk, if (curQty) 1997 else 1996))
      BigInt(p) * BigInt(q)
    }.sum
    assert(BigInt(r.getString(1)) == idx(cur = true, curQty = false))
    assert(BigInt(r.getString(2)) == idx(cur = false, curQty = false))
    assert(BigInt(r.getString(3)) == idx(cur = true, curQty = true))
    assert(BigInt(r.getString(4)) == idx(cur = false, curQty = true))
    assert(r.getDouble(5) > 0 && r.getDouble(6) > 0)
  }

  test("agg_mann_kendall: S and tie-corrected variance match a pair replay") {
    val rows = run("agg_mann_kendall")
    assert(rows.length == 1)
    val r = rows.head
    val daily = Tables.load(spark, dir, "events")
      .filter("event_type = 'purchase'")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).map { case (d, g) => d -> g.map(_._2).sum }
      .toSeq.sortBy(_._1).map(_._2)
    val n = daily.length.toLong
    var sStat = 0L
    for (i <- daily.indices; j <- i + 1 until daily.length)
      sStat += java.lang.Long.signum(daily(j) - daily(i))
    val tie = daily.groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
    assert(r.getLong(0) == n && r.getLong(1) == sStat)
    assert(r.getLong(2) == n * (n - 1) * (2 * n + 5) - tie)
    // continuity correction maps |S| ≤ 1 to z = 0; beyond that signs agree
    if (math.abs(sStat) <= 1) assert(r.getDouble(3) == 0.0)
    else assert(java.lang.Double.compare(math.signum(r.getDouble(3)),
      java.lang.Long.signum(sStat).toDouble) == 0)
  }

  test("graph_clustering_coeff: triangles consistent with triangle_count; coeff in [0,1]") {
    val rows = run("graph_clustering_coeff")
    assert(rows.nonEmpty)
    val triOf = run("graph_triangle_count")
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (node, deg, tri) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(tri == triOf.getOrElse(node, 0L))
      assert(r.getLong(3) == 2 * tri && r.getLong(4) == deg * (deg - 1))
      val c = r.getDouble(5)
      assert(c >= 0.0 && c <= 1.0, s"node $node coeff $c out of range")
      // triangles can't exceed wedge count
      assert(2 * tri <= deg * (deg - 1))
    }
  }

  test("agg_user_entropy equals an ordered-fold replay; bounds hold") {
    val rows = run("agg_user_entropy")
    val hist = Tables.load(spark, dir, "events")
      .selectExpr("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (u, g) =>
        u -> g.groupBy(_._2).map { case (t, x) => t -> x.length.toLong }
      }
    rows.foreach { r =>
      val u = r.getLong(0)
      val counts = hist(u)
      val n = counts.values.sum
      assert(r.getLong(1) == n && r.getLong(2) == counts.size)
      var h = 0.0
      counts.toSeq.sortBy(_._1).foreach { case (_, c) =>
        val p = c.toDouble / n.toDouble
        h += -(p * math.log(p))
      }
      assert(r.getLong(3) == math.floor(h * 1.0e9).toLong, s"user $u entropy")
      val k = counts.size
      val norm = if (k > 1) math.floor(h / math.log(k.toDouble) * 1.0e9).toLong
        else 0L
      assert(r.getLong(4) == norm)
      // normalized entropy within [0, 1e9]
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000000L)
    }
  }

  test("pipeline_mixture_kl: both divergences nonnegative, zero iff p=q") {
    val rows = run("pipeline_mixture_kl")
    assert(rows.length == 1)
    val r = rows.head
    val (klPq, klQp) = (r.getDouble(2), r.getDouble(3))
    // Gibbs: KL ≥ 0 up to fold rounding
    assert(klPq >= -1e-12 && klQp >= -1e-12)
    // replay in source order
    val ns = Tables.load(spark, dir, "documents")
      .selectExpr("source").collect().map(_.getString(0))
      .groupBy(identity).map { case (s0, g) => s0 -> g.length.toLong }
      .toSeq.sortBy(_._1)
    assert(r.getLong(0) == ns.length)
    val nTot = ns.map(_._2).sum
    var z = 0.0
    ns.foreach { case (_, n) => z += math.sqrt(n.toDouble) }
    var kp = 0.0; var kq = 0.0
    ns.foreach { case (_, n) =>
      val p = n.toDouble / nTot.toDouble
      val q = math.sqrt(n.toDouble) / z
      kp += p * math.log(p / q); kq += q * math.log(q / p)
    }
    assert(math.abs(klPq - kp) < 1e-12 && math.abs(klQp - kq) < 1e-12)
  }

  test("agg_cuped_adjustment: moments match replay; rho2 in [0,1]") {
    val rows = run("agg_cuped_adjustment")
    assert(rows.length == 1)
    val r = rows.head
    val evs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("user_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val perUser = evs.groupBy(_._1).map { case (_, g) =>
      (g.filter(e => e._2 * 2 < d0 + d1).map(_._3).sum,
        g.filter(e => e._2 * 2 >= d0 + d1).map(_._3).sum)
    }.toSeq
    val n = perUser.length.toLong
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == perUser.map(_._1).sum)
    assert(r.getLong(2) == perUser.map(_._2).sum)
    val sx = BigInt(perUser.map(_._1).sum); val sy = BigInt(perUser.map(_._2).sum)
    val sxx = perUser.map(t => BigInt(t._1) * BigInt(t._1)).sum
    val syy = perUser.map(t => BigInt(t._2) * BigInt(t._2)).sum
    val sxy = perUser.map(t => BigInt(t._1) * BigInt(t._2)).sum
    assert(BigInt(r.getString(3)) == BigInt(n) * sxy - sx * sy)
    assert(BigInt(r.getString(4)) == BigInt(n) * sxx - sx * sx)
    assert(BigInt(r.getString(5)) == BigInt(n) * syy - sy * sy)
    assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0 + 1e-12)
  }

  test("sample_hard_negatives: argmax below dup threshold, never a near-dup") {
    val rows = run("sample_hard_negatives")
    assert(rows.length == 32)
    // independent replay with driver-side cosine
    val emb = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.toMap
    rows.foreach { r =>
      val (q, neg, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(sim < 0.95, s"query $q returned a near-dup")
      val simsBelow = emb.filter(e => e._1 != q)
        .map(e => (cos(byId(q), e._2), e._1)).filter(_._1 < 0.95)
      val best = simsBelow.maxBy(t => (t._1, -t._2))
      // driver cosine accumulates in a different order — compare by rank
      // membership with a tolerance window instead of bit equality
      assert(math.abs(best._1 - sim) < 1e-9, s"query $q sim")
      if (math.abs(best._1 - sim) < 1e-12) assert(best._2 == neg)
    }
  }

  test("dq_partition_checksums: xor fingerprints match replay; order-independent") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = run("dq_partition_checksums")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "event_id", "user_id", "event_type",
        "coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    evs.groupBy(_._1).foreach { case (d, g) =>
      val xor = g.map { e =>
        java.lang.Long.parseLong(md5hex(s"${e._2}:${e._3}:${e._4}").take(15), 16)
      }.reduce(_ ^ _)
      assert(rows(d) == ((g.length.toLong, xor, g.map(_._5).sum)), s"day $d")
    }
    assert(rows.size == evs.map(_._1).distinct.length)
  }

  test("agg_cvm_two_sample: U matches the ECDF replay; T consistent") {
    val rows = run("agg_cvm_two_sample")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(pmod(user_id, 2) AS BIGINT) AS half")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val na = vs.count(_._2 == 0).toLong; val nb = vs.count(_._2 == 1).toLong
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    val byV = vs.groupBy(_._1).toSeq.sortBy(_._1)
    var ca = 0L; var cb = 0L; var u = BigInt(0)
    byV.foreach { case (_, g) =>
      val a = g.count(_._2 == 0).toLong; val b = g.count(_._2 == 1).toLong
      ca += a; cb += b
      val gap = BigInt(ca * nb - cb * na)
      u += BigInt(a + b) * gap * gap
    }
    assert(BigInt(r.getString(2)) == u)
    val den = BigInt(na + nb) * BigInt(na + nb) * BigInt(na) * BigInt(nb)
    assert(BigInt(r.getString(3)) == den)
    assert(r.getDouble(4) >= 0.0)
  }

  test("agg_kruskal_wallis: H matches the textbook pooled-rank replay") {
    val rows = run("agg_kruskal_wallis")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v", "event_type")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    val n = vs.length.toLong
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == vs.map(_._2).distinct.length.toLong)
    // pooled tie-averaged ranks (1-based), sequential
    val sorted = vs.map(_._1).sorted
    val firstRank = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> (g.map(_._2).min + 1) }
    val tieCnt = sorted.groupBy(identity).map { case (v, g) => v -> g.length }
    def avgRank(v: Long): Double = firstRank(v) + (tieCnt(v) - 1) / 2.0
    val tieSum = tieCnt.values.map(t => BigInt(t) * t * t - t).sum
    assert(BigInt(r.getString(2)) == tieSum)
    val groups = vs.groupBy(_._2)
    val sumR2OverN = groups.values.map { g =>
      val rs = g.map(x => avgRank(x._1)).sum
      rs * rs / g.length
    }.sum
    val h = 12.0 * sumR2OverN / (n * (n + 1.0)) - 3.0 * (n + 1.0)
    assert(math.abs(r.getDouble(3) - h) < 1e-6 * math.max(1.0, math.abs(h)),
      s"H ${r.getDouble(3)} vs replay $h")
    val c = 1.0 - tieSum.toDouble / (BigInt(n) * n * n - n).toDouble
    assert(math.abs(r.getDouble(4) - h / c) <
      1e-6 * math.max(1.0, math.abs(h / c)))
  }

  test("agg_spearman_corr: rho matches the per-nation rank replay") {
    val rows = run("agg_spearman_corr")
    val li = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_suppkey", "CAST(l_quantity AS BIGINT) AS q",
        "CAST(round(l_discount * 100) AS BIGINT) AS d").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val supNation = {
      val sup = Tables.load(spark, dir, "supplier")
        .selectExpr("CAST(s_suppkey AS BIGINT)", "CAST(s_nationkey AS BIGINT)")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val nat = Tables.load(spark, dir, "nation")
        .selectExpr("CAST(n_nationkey AS BIGINT)", "n_name").collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      sup.map { case (s, nk) => s -> nat(nk) }
    }
    val byNation = li.groupBy(t => supNation(t._1))
    assert(rows.length == byNation.size)
    rows.foreach { r =>
      val g = byNation(r.getString(0))
      assert(r.getLong(1) == g.length.toLong)
      // doubled tie-averaged ranks per variable within the nation
      def ranks2(xs: Array[Long]): Map[Long, Long] = {
        val sorted = xs.sorted
        val first = sorted.zipWithIndex.groupBy(_._1)
          .map { case (v, grp) => v -> (grp.map(_._2).min + 1).toLong }
        val cnt = sorted.groupBy(identity).map { case (v, grp) => v -> grp.length }
        first.keys.map(v => v -> (2 * first(v) + cnt(v) - 1)).toMap
      }
      val rq = ranks2(g.map(_._2)); val rd = ranks2(g.map(_._3))
      val n = BigInt(g.length)
      val pairs = g.map(t => (BigInt(rq(t._2)), BigInt(rd(t._3))))
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      assert(BigInt(r.getString(3)) == n * sxy - sx * sy)
      assert(BigInt(r.getString(4)) == n * sxx - sx * sx)
      assert(BigInt(r.getString(5)) == n * syy - sy * sy)
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      if (den > 0)
        assert(math.abs(r.getDouble(6) - num / den) < 1e-12,
          s"nation ${r.getString(0)}")
    }
  }

  test("sample_class_balance: every class capped at the minority count; kept set reproducible") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byLang = docs.groupBy(_._1)
    val target = byLang.values.map(_.length).min
    val rows = run("sample_class_balance")
    assert(rows.length == byLang.size)
    rows.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(1) == target.toLong, s"class $lang not capped")
      val kept = byLang(lang).sortBy(t => (md5hex(t._2.toString), t._2))
        .take(target)
      assert(r.getLong(2) == kept.map(_._2).reduce(_ ^ _), s"$lang xor")
      assert(r.getLong(3) == kept.map(_._3).sum, s"$lang chars")
    }
  }

  test("window_changepoint_cusum: argmax matches the sequential cusum scan") {
    val daily = Tables.load(spark, dir, "events")
      .selectExpr("event_type AS g",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2)).map { case ((g, d), xs) =>
        (g, d, xs.map(_._3).sum) }
      .toSeq.groupBy(_._1)
    val rows = run("window_changepoint_cusum")
    assert(rows.length == daily.size)
    rows.foreach { r =>
      val series = daily(r.getString(0)).sortBy(_._2)
      val n = series.length.toLong
      val total = series.map(_._3).sum
      assert(r.getLong(1) == n && r.getLong(2) == total)
      var st = 0L; var best = -1L; var bestDay = Long.MaxValue
      series.zipWithIndex.foreach { case ((_, d, c), idx) =>
        st += c
        val dev = math.abs(n * st - (idx + 1) * total)
        if (dev > best) { best = dev; bestDay = d }
      }
      assert(r.getLong(3) == bestDay, s"${r.getString(0)} cp day")
      assert(r.getLong(4) == best, s"${r.getString(0)} max dev")
    }
  }

  test("agg_fdr_bh: step-up rule matches the sequential BH replay") {
    val rows = run("agg_fdr_bh")
    val m = rows.length
    // exact rational p-values ascending with the engine's tie-break
    val ps = rows.map(r => (r.getString(0), BigInt(r.getLong(2)),
      BigInt(r.getLong(3)), r.getLong(4), r.getLong(5)))
    val sorted = ps.sortWith { (a, b) =>
      val c = a._2 * b._3 - b._2 * a._3
      if (c != 0) c < 0 else a._1 < b._1
    }
    sorted.zipWithIndex.foreach { case (p, i) =>
      assert(p._4 == i + 1L, s"${p._1} bh_rank") }
    val kStar = sorted.zipWithIndex
      .filter { case (p, i) => p._2 * 20 * m <= p._3 * (i + 1) }
      .map(_._2 + 1).lastOption.getOrElse(0)
    sorted.zipWithIndex.foreach { case (p, i) =>
      assert(p._5 == (if (i + 1 <= kStar) 1L else 0L), s"${p._1} rejected")
    }
  }

  test("pipeline_token_budget: waterfilling exhausts the budget exactly under caps") {
    val rows = run("pipeline_token_budget")
    val srcTok = Tables.load(spark, dir, "documents")
      .selectExpr("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val total = srcTok.values.sum
    val b = total / 2
    assert(rows.length == srcTok.size)
    // invariants: Σ alloc = B; capped ⇒ alloc = n_tok; uncapped ⇒
    // waterline ≤ alloc ≤ waterline+1 and alloc ≤ n_tok
    assert(rows.map(_.getLong(6)).sum == b, "budget not exhausted exactly")
    rows.foreach { r =>
      val (nTok, wl, capped, bonus, alloc) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))
      assert(nTok == srcTok(r.getString(0)))
      if (capped == 1L) assert(alloc == nTok && bonus == 0L)
      else {
        assert(alloc == wl + bonus && bonus <= 1L)
        assert(alloc <= nTok, s"${r.getString(0)} alloc over cap")
      }
    }
    // replay the sequential waterfill: sort ascending, find j*
    val sorted = srcTok.toSeq.sortBy(t => (t._2, t._1))
    val k = sorted.length
    var pj = 0L; var jstar = 0
    var prefix = 0L
    sorted.zipWithIndex.foreach { case ((_, n), idx) =>
      prefix += n
      if (prefix + (k - idx - 1).toLong * n <= b) { jstar = idx + 1; pj = prefix }
    }
    val wl = (b - pj) / (k - jstar)
    rows.filter(_.getLong(4) == 0L).foreach { r =>
      assert(r.getLong(3) == wl, "waterline mismatch vs replay") }
    assert(rows.count(_.getLong(4) == 1L) == jstar, "capped count")
  }

  test("graph_hits_power: fixed-point iterations match the sequential replay") {
    val rows = run("graph_hits_power")
    // rebuild the nation edge list on the driver
    val li = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = Tables.load(spark, dir, "orders")
      .selectExpr("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cNat = Tables.load(spark, dir, "customer")
      .selectExpr("CAST(c_custkey AS BIGINT)", "CAST(c_nationkey AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sNat = Tables.load(spark, dir, "supplier")
      .selectExpr("CAST(s_suppkey AS BIGINT)", "CAST(s_nationkey AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = Tables.load(spark, dir, "nation")
      .selectExpr("CAST(n_nationkey AS BIGINT)").collect()
      .map(_.getLong(0)).sorted
    val edges = li.flatMap { case (ok, sk) =>
      ord.get(ok).map(ck => ((cNat(ck), sNat(sk)), 1L)) }
      .groupBy(_._1).map { case (e, xs) => (e._1, e._2, xs.length.toLong) }
    def rescale(m: Map[Long, BigInt]): Map[Long, BigInt] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000000L / mx }
    }
    var h: Map[Long, BigInt] = nodes.map(_ -> BigInt(1000000000L)).toMap
    var a: Map[Long, BigInt] = Map.empty
    (1 to 2).foreach { _ =>
      a = rescale(nodes.map(v => v -> edges.filter(_._2 == v)
        .map(e => h(e._1) * e._3).foldLeft(BigInt(0))(_ + _)).toMap)
      h = rescale(nodes.map(u => u -> edges.filter(_._1 == u)
        .map(e => a(e._2) * e._3).foldLeft(BigInt(0))(_ + _)).toMap)
    }
    assert(rows.length == nodes.length)
    rows.foreach { r =>
      val node = r.getAs[Number](0).longValue
      assert(BigInt(r.getLong(1)) == a(node), s"authority node $node")
      assert(BigInt(r.getLong(2)) == h(node), s"hub node $node")
    }
  }

  test("text_zipf_fit: slope matches the driver OLS on the top-100 curve") {
    val rows = run("text_zipf_fit")
    assert(rows.length == 1)
    val freqs = Tables.load(spark, dir, "documents")
      .selectExpr("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      .toSeq.sortBy(t => (-t._2, t._1)).take(100)
    val k = freqs.length
    assert(rows.head.getLong(0) == k.toLong)
    assert(rows.head.getLong(1) == freqs.map(_._2).sum)
    val pts = freqs.zipWithIndex.map { case ((_, n), i) =>
      (math.log((i + 1).toDouble), math.log(n.toDouble)) }
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(math.abs(rows.head.getLong(2) - math.floor(slope * 1e9)) <= 2,
      s"slope_e9 ${rows.head.getLong(2)} vs replay ${math.floor(slope * 1e9)}")
    assert(slope < 0, "zipf slope should be negative")
  }

  test("embed_rp_project: distortion concentrates near 1 and distances replay exactly") {
    val rows = run("embed_rp_project")
    assert(rows.nonEmpty)
    val emb = Tables.load(spark, dir, "embeddings")
      .filter("vec_id < 400")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val signs = Array.tabulate(16, 64)((k, j) =>
      if (md5hex(s"$k:$j").head < '8') 1L else -1L)
    rows.foreach { r =>
      val va = r.getLong(0)
      val qa = emb(va).map(x => math.floor(x * 1048576.0).toLong)
      val qb = emb(va + 1).map(x => math.floor(x * 1048576.0).toLong)
      val d2o = qa.zip(qb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(r.getLong(1) == d2o, s"pair $va d2_orig")
      val ya = signs.map(row => row.zip(qa).map { case (s0, q) => s0 * q }.sum)
      val yb = signs.map(row => row.zip(qb).map { case (s0, q) => s0 * q }.sum)
      val d2p = ya.zip(yb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(r.getLong(2) == d2p, s"pair $va d2_proj")
      assert(r.getDouble(3) == d2p.toDouble / (16L * d2o).toDouble)
    }
    // JL concentration: median distortion within [0.4, 2.5] of unity
    val ds = rows.map(_.getDouble(3)).sorted
    val med = ds(ds.length / 2)
    assert(med > 0.4 && med < 2.5, s"median distortion $med")
  }

  test("agg_levene_bf: F matches the fixed-point BF replay on median deviations") {
    val rows = run("agg_levene_bf")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val groups = vs.groupBy(_._1)
    assert(r.getLong(0) == groups.size.toLong)
    assert(r.getLong(1) == vs.length.toLong)
    // z = |2v - med2| per observation, BF = fixed-point ANOVA on z
    val zByG = groups.map { case (g, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length
      val med2 = sorted((n - 1) / 2) + sorted(n / 2)
      g -> xs.map(x => math.abs(2 * x._2 - med2))
    }
    val gm = zByG.map { case (g, zs) =>
      val s = zs.sum
      (g, zs.length.toLong, s, zs.map(z => z * z).sum,
        s * 1000000L / zs.length)
    }
    val nTot = gm.map(_._2).sum; val sTot = gm.map(_._3).sum
    val m = sTot * 1000000L / nTot
    val ssb = gm.map(t => BigInt(t._2) * BigInt(t._5 - m) * BigInt(t._5 - m)).sum
    val ssw = gm.map(t => BigInt(t._4) * BigInt(1000000000000L) -
      BigInt(2000000L) * BigInt(t._5) * BigInt(t._3) +
      BigInt(t._2) * BigInt(t._5) * BigInt(t._5)).sum
    assert(BigInt(r.getString(2)) == ssb)
    assert(BigInt(r.getString(3)) == ssw)
    val f = (ssb * (nTot - groups.size)).toDouble /
      (ssw * (groups.size - 1)).toDouble
    assert(math.abs(r.getDouble(6) - f) < 1e-9 * math.max(1.0, f))
  }

  test("agg_hill_tail: alpha matches the sequential top-k replay") {
    val rows = run("agg_hill_tail")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(_.getLong(0)).filter(_ >= 1L)
      .sorted(Ordering[Long].reverse).take(101)
    val xk1 = vs.min
    assert(r.getLong(0) == xk1)
    val terms = vs.filter(_ > xk1).map(v => math.log(v.toDouble / xk1))
    assert(r.getLong(1) == terms.length.toLong)
    val alpha = terms.length / terms.sorted.sum
    // fold-order drift tolerance: ±2 on the e9 grid
    assert(math.abs(r.getLong(2) - math.floor(alpha * 1e9)) <= 2)
    assert(r.getLong(2) > 0)
  }

  test("graph_copurchase_projection: pair counts equal the distinct shared-part replay") {
    val rows = run("graph_copurchase_projection")
    val ps = Tables.load(spark, dir, "lineitem")
      .selectExpr("l_partkey", "l_suppkey").collect()
      .map(x => (x.getLong(0), x.getLong(1))).distinct
    val pairCounts = ps.groupBy(_._1).values.flatMap { sup =>
      val sks = sup.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length)
        yield (sks(i), sks(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val expected = pairCounts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    assert(rows.length == math.min(20, pairCounts.size))
    rows.zip(expected).foreach { case (row, ((s1, s2), n)) =>
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((s1, s2, n)))
    }
  }

  test("agg_sprt_sequential: LLR walk matches the sequential replay") {
    val rows = run("agg_sprt_sequential")
    assert(rows.length == 1)
    val r = rows.head
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "event_type").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val daily = evs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, xs) =>
        (d, xs.length.toLong, xs.count(_._2 == "purchase").toLong) }
    assert(r.getLong(0) == daily.length.toLong)
    assert(r.getLong(1) == daily.map(_._2).sum)
    assert(r.getLong(2) == daily.map(_._3).sum)
    val l1 = math.log(0.25 / 0.2); val l0 = math.log(0.75 / 0.8)
    val bound = math.log(19.0)
    var cc = 0L; var nn = 0L
    var up = -1L; var down = -1L; var last = 0.0
    daily.foreach { case (d, n, c) =>
      cc += c; nn += n
      last = cc.toDouble * l1 + (nn - cc).toDouble * l0
      if (up == -1L && last >= bound) up = d
      if (down == -1L && last <= -bound) down = d
    }
    assert(r.getLong(3) == up && r.getLong(4) == down)
    assert(math.abs(r.getLong(5) - math.floor(last * 1e9)) <= 2)
  }

  test("text_simpson_diversity: collision probability matches exact token counts") {
    val rows = run("text_simpson_diversity")
    val toks = Tables.load(spark, dir, "documents")
      .selectExpr("lang", "text").collect()
      .flatMap(r => r.getString(1).trim.toLowerCase.split("\\s+")
        .map(t => (r.getString(0), t)))
    val byLang = toks.groupBy(_._1)
    assert(rows.length == byLang.size)
    rows.foreach { r =>
      val counts = byLang(r.getString(0)).groupBy(_._2)
        .map(_._2.length.toLong)
      val n = counts.sum
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == counts.size.toLong)
      val dnum = counts.map(c => c * (c - 1)).sum
      assert(r.getLong(3) == dnum)
      assert(math.abs(r.getDouble(4) -
        (1.0 - dnum.toDouble / (BigInt(n) * BigInt(n - 1)).toDouble)) < 1e-12)
    }
  }

  test("sim_mmr_rerank: greedy selection matches the sequential MMR replay") {
    val rows = run("sim_mmr_rerank")
    assert(rows.length == 3)
    val emb = Tables.load(spark, dir, "embeddings")
      .filter("vec_id <= 200")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = emb(0L)
    val cands = emb.keys.filter(c => c >= 1L && c <= 200L).toSeq.sorted
    val rel = cands.map(c => c -> cos(emb(c), q)).toMap
    var selected = Vector.empty[Long]
    (1 to 3).foreach { _ =>
      val pick = cands.filterNot(selected.contains).map { c =>
        val pen = if (selected.isEmpty) 0.0
          else selected.map(sv => cos(emb(c), emb(sv))).max
        val score = if (selected.isEmpty) rel(c)
          else 0.7 * rel(c) - 0.3 * pen
        (c, score)
      }.maxBy { case (c, sc) => (sc, -c) }
      selected :+= pick._1
    }
    rows.zip(selected).zipWithIndex.foreach { case ((r, exp), i) =>
      assert(r.getLong(0) == i + 1L)
      assert(r.getLong(1) == exp,
        s"rank ${i + 1}: got ${r.getLong(1)}, replay $exp")
    }
  }

  test("agg_peak_over_threshold: GPD moments match the sequential replay") {
    val rows = run("agg_peak_over_threshold")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v")
      .collect().map(_.getLong(0)).sorted
    val n = vs.length
    val u = vs((19 * n / 20 + 1) - 1) // rank -> 0-based index
    assert(r.getLong(0) == u, s"threshold ${r.getLong(0)} vs $u")
    val exc = vs.filter(_ > u).map(_ - u)
    assert(r.getLong(1) == exc.length.toLong)
    assert(r.getLong(2) == exc.sum)
    assert(r.getLong(3) == exc.map(y => y * y).sum)
    val ne = exc.length.toLong
    val sRep = exc.sum; val ssRep = exc.map(y => y * y).sum
    val rr = (BigInt(sRep) * sRep * (ne - 1)).toDouble /
      (BigInt(ne) * (BigInt(ne) * ssRep - BigInt(sRep) * sRep)).toDouble
    assert(math.abs(r.getLong(4) - math.floor(0.5 * (1.0 - rr) * 1e9)) <= 1)
    assert(math.abs(r.getLong(5) - math.floor(
      0.5 * (sRep.toDouble / ne) * (rr + 1.0) * 1e9)) <= 1)
  }

  test("agg_block_maxima_gumbel: weekly maxima moments match the replay") {
    val rows = run("agg_block_maxima_gumbel")
    assert(rows.length == 1)
    val r = rows.head
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val weekly = evs.groupBy(_._1).toSeq
      .map { case (d, xs) => (d / 7, xs.map(_._2).sum) }
      .groupBy(_._1).map { case (wk, xs) => wk -> xs.map(_._2).max }
    val mx = weekly.values.toSeq
    assert(r.getLong(0) == mx.length.toLong)
    assert(r.getLong(1) == mx.sum)
    assert(r.getLong(2) == mx.map(m => m * m).sum)
    val nb = mx.length
    val sdev = math.sqrt(
      (BigInt(nb) * mx.map(m => BigInt(m) * m).sum -
        BigInt(mx.sum) * mx.sum).toDouble /
        (BigInt(nb) * (nb - 1)).toDouble)
    val beta = sdev * math.sqrt(6.0) / math.Pi
    val mu = mx.sum.toDouble / nb - 0.5772156649015329 * beta
    assert(math.abs(r.getLong(3) - math.floor(beta * 1e9)) <= 1)
    assert(math.abs(r.getLong(4) - math.floor(mu * 1e9)) <= 1)
  }

  test("agg_cohort_decay_fit: lambda matches the pooled-rate OLS replay") {
    val rows = run("agg_cohort_decay_fit")
    assert(rows.length == 1)
    val r = rows.head
    val act = Tables.load(spark, dir, "events")
      .selectExpr("user_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) DIV 7 AS wk")
      .collect().map(x => (x.getLong(0), x.getLong(1))).distinct
    val first = act.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    assert(r.getLong(0) == first.size.toLong)
    val rates = (1L to 4L).map { a =>
      a -> act.count { case (u, wk) => wk - first(u) == a }.toLong
    }.filter(_._2 > 0)
    assert(r.getLong(1) == rates.length.toLong)
    val pts = rates.map { case (a, active) =>
      (a.toDouble, math.log(active.toDouble / first.size)) }
    val k = pts.length
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val lambda = -((k * sxy - sx * sy) / (k * sxx - sx * sx))
    assert(math.abs(r.getLong(2) - math.floor(lambda * 1e9)) <= 2)
  }

  test("agg_negbin_fit: moments and MoM parameters match the replay") {
    val rows = run("agg_negbin_fit")
    assert(rows.length == 1)
    val r = rows.head
    val counts = Tables.load(spark, dir, "events")
      .selectExpr("user_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) DIV 7 AS wk")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(identity).map(_._2.length.toLong).toSeq
    val n = counts.length.toLong
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == counts.sum)
    assert(r.getLong(2) == counts.map(c => c * c).sum)
    val m = counts.sum.toDouble / n
    val s2 = (BigInt(n) * counts.map(c => BigInt(c) * c).sum -
      BigInt(counts.sum) * counts.sum).toDouble / (BigInt(n) * (n - 1)).toDouble
    assert(math.abs(r.getLong(3) - math.floor(s2 / m * 1e9)) <= 1)
    if (s2 > m) {
      assert(math.abs(r.getLong(4) - math.floor(m * m / (s2 - m) * 1e9)) <= 1)
      assert(math.abs(r.getLong(5) - math.floor(m / s2 * 1e9)) <= 1)
    } else assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("text_burstiness: VMR rationals match the per-doc tf replay") {
    val rows = run("text_burstiness")
    assert(rows.length == 20)
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+"))
    val nDocs = docs.length.toLong
    val tf = docs.flatMap { case (d, toks) =>
      toks.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) } }
    val perTerm = tf.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.length.toLong, xs.map(_._2).sum, xs.map(x => x._2 * x._2).sum) }
    rows.foreach { r =>
      val (df, total, ss) = perTerm(r.getString(0))
      assert(r.getLong(1) == total && r.getLong(2) == df)
      val num = BigInt(nDocs) * ss - BigInt(total) * total
      assert(BigInt(r.getString(3)) == num)
      assert(BigInt(r.getString(4)) == BigInt(nDocs - 1) * total)
      assert(r.getDouble(5) == num.toDouble / (BigInt(nDocs - 1) * total).toDouble)
    }
    // descending by corpus frequency
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("embed_energy_distance: component sums match the quantized-distance replay") {
    val rows = run("embed_energy_distance")
    assert(rows.length == 1)
    val r = rows.head
    val emb = Tables.load(spark, dir, "embeddings")
      .filter("vec_id < 300 AND label IN (0, 1)")
      .selectExpr("vec_id", "CAST(label AS BIGINT)",
        "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(x => (x.getLong(0), x.getLong(1),
        x.getSeq[Double](2).toArray.map(v => math.floor(v * 1048576.0).toLong)))
    val nx = emb.count(_._2 == 0L).toLong; val ny = emb.count(_._2 == 1L).toLong
    assert(r.getLong(0) == nx && r.getLong(1) == ny)
    var sxx = 0L; var syy = 0L; var sxy = 0L
    for (i <- emb.indices; j <- emb.indices
         if emb(i)._1 < emb(j)._1) {
      val d2 = emb(i)._3.zip(emb(j)._3)
        .map { case (a, b) => (a - b) * (a - b) }.sum
      val qd = math.floor(math.sqrt(d2.toDouble) * 1e6).toLong
      (emb(i)._2, emb(j)._2) match {
        case (0L, 0L) => sxx += qd
        case (1L, 1L) => syy += qd
        case _ => sxy += qd
      }
    }
    assert(r.getLong(2) == sxx && r.getLong(3) == syy && r.getLong(4) == sxy)
    val e = 2.0 * sxy / (nx * ny).toDouble -
      2.0 * sxx / (nx * (nx - 1)).toDouble -
      2.0 * syy / (ny * (ny - 1)).toDouble
    assert(math.abs(r.getDouble(5) - e) < 1e-9 * math.max(1.0, math.abs(e)))
  }

  test("join_entity_blocking: matches equal the within-block edit-distance replay") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = run("join_entity_blocking")
    val cust = Tables.load(spark, dir, "customer")
      .selectExpr("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = cust.groupBy(_._2.substring(9, 16)).values.flatMap { blk =>
      val sorted = blk.sortBy(_._1)
      for (i <- sorted.indices; j <- (i + 1) until sorted.length
           if lev(sorted(i)._2, sorted(j)._2) <= 1)
        yield (sorted(i)._1, sorted(j)._1,
          lev(sorted(i)._2, sorted(j)._2).toLong)
    }.toSeq.sortBy(t => (t._1, t._2)).take(50)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (ka, kb, d)) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(4)) == ((ka, kb, d)))
    }
  }

  test("split_temporal_holdout: cut at the exact 80% day; leakage audit consistent") {
    val rows = run("split_temporal_holdout")
    assert(rows.length == 2)
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("user_id",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val days = evs.map(_._2).sorted
    val cut = days((4 * days.length / 5 + 1) - 1)
    val train = evs.filter(_._2 < cut); val test = evs.filter(_._2 >= cut)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("train").getLong(1) == train.length.toLong)
    assert(byName("test").getLong(1) == test.length.toLong)
    assert(byName("train").getLong(2) == train.map(_._1).distinct.length.toLong)
    assert(byName("test").getLong(2) == test.map(_._1).distinct.length.toLong)
    assert(byName("train").getLong(5) < cut && byName("test").getLong(4) == cut)
    val overlap = (train.map(_._1).toSet & test.map(_._1).toSet).size.toLong
    rows.foreach(r => assert(r.getLong(6) == overlap))
  }

  test("text_prefix_templates: clusters equal the 8-token prefix replay") {
    val rows = run("text_prefix_templates")
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2).trim.toLowerCase.split("\\s+").take(8).mkString(" ")))
    val clusters = docs.groupBy(_._3).values.filter(_.length >= 2).map { g =>
      (g.length.toLong, g.map(_._1).min, g.map(_._1).max, g.map(_._2).sum)
    }.toSeq
    assert(rows.length == math.min(25, clusters.size))
    val got = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSet
    assert(got.subsetOf(clusters.toSet),
      "engine clusters not found in replay")
    // ordered by size descending
    assert(rows.map(_.getLong(1)).toSeq ==
      rows.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("agg_psi_bands: PSI matches the sequential decile-band replay") {
    val rows = run("agg_psi_bands")
    assert(rows.length == 1)
    val r = rows.head
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(pmod(user_id, 2) AS BIGINT) AS half")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val n = vs.length.toLong
    val byV = vs.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L
    val bands = byV.map { case (v, g) =>
      cum += g.length
      val band = math.min(10L, (cum - 1) * 10 / n + 1)
      (band, g.count(_._2 == 0).toLong, g.count(_._2 == 1).toLong)
    }.groupBy(_._1).map { case (b, xs) =>
      (b, xs.map(_._2).sum, xs.map(_._3).sum) }.toSeq.sortBy(_._1)
    val na = bands.map(_._2).sum; val nb = bands.map(_._3).sum
    val kept = bands.filter(t => t._2 > 0 && t._3 > 0)
    assert(r.getLong(0) == kept.length.toLong)
    assert(r.getLong(1) == (bands.length - kept.length).toLong)
    val psi = kept.map { case (_, ca, cb) =>
      val p = ca.toDouble / na; val q = cb.toDouble / nb
      (p - q) * math.log(p / q)
    }.sum
    assert(math.abs(r.getLong(2) - math.floor(psi * 1e9)) <= 2)
  }

  test("dq_catalog_coverage: anti-join counts match the set-difference replay") {
    val rows = run("dq_catalog_coverage").map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def keys(t: String, c: String): Set[Long] =
      Tables.load(spark, dir, t).selectExpr(s"CAST($c AS BIGINT)")
        .collect().map(_.getLong(0)).toSet
    val parts = keys("part", "p_partkey")
    val custs = keys("customer", "c_custkey")
    val supps = keys("supplier", "s_suppkey")
    val liP = keys("lineitem", "l_partkey")
    val liS = keys("lineitem", "l_suppkey")
    val oC = keys("orders", "o_custkey")
    assert(rows("part") == (((parts -- liP).size.toLong, parts.size.toLong)))
    assert(rows("customer") == (((custs -- oC).size.toLong, custs.size.toLong)))
    assert(rows("supplier") == (((supps -- liS).size.toLong, supps.size.toLong)))
  }

  test("embed_spherical_concentration: resultant lengths match the quantized replay") {
    val rows = run("embed_spherical_concentration")
    val emb = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(label AS BIGINT)",
        "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(x => (x.getLong(1), x.getSeq[Double](2).toArray
        .map(v => math.floor(v * 1048576.0).toLong)))
    val byLabel = emb.groupBy(_._1)
    assert(rows.length == byLabel.size)
    rows.foreach { r =>
      val g = byLabel(r.getLong(0))
      assert(r.getLong(1) == g.length.toLong)
      val units = g.map { case (_, qi) =>
        val norm = math.sqrt(qi.map(x => (x * x).toDouble).sum)
        qi.map(x => math.floor(x / norm * 1e6).toLong)
      }
      val sj = units.transpose.map(_.sum)
      val r2 = sj.map(s0 => s0 * s0).sum
      assert(r.getLong(2) == r2, s"label ${r.getLong(0)} r2")
      assert(math.abs(r.getDouble(3) -
        math.sqrt(r2.toDouble) / (g.length * 1e6)) < 1e-12)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("agg_friedman_test: chi2 matches the blocked-rank replay") {
    val rows = run("agg_friedman_test")
    assert(rows.length == 1)
    val r = rows.head
    val daily = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "event_type", "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .groupBy(t => (t._1, t._2)).map { case ((d, g), xs) =>
        (d, g, xs.map(_._3).sum) }.toSeq
    val k = daily.map(_._2).distinct.length
    val complete = daily.groupBy(_._1).filter(_._2.length == k)
    assert(r.getLong(0) == complete.size.toLong)
    assert(r.getLong(1) == k.toLong)
    // doubled tie-averaged within-block ranks
    val sum2r = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    complete.values.foreach { block =>
      block.foreach { case (_, g, c) =>
        val smaller = block.count(_._3 < c).toLong
        val equal = block.count(_._3 == c).toLong
        sum2r(g) += 2 * smaller + equal + 1
      }
    }
    val n = complete.size.toLong
    val dev2 = sum2r.values.map { s2 =>
      BigInt(s2 - n * (k + 1)) * BigInt(s2 - n * (k + 1)) }.sum
    assert(BigInt(r.getString(2)) == dev2)
    val chi2 = 3.0 * dev2.toDouble / (n * k * (k + 1)).toDouble
    assert(math.abs(r.getDouble(3) - chi2) < 1e-9 * math.max(1.0, chi2))
  }

  test("window_forecast_backtest: error sums match the sequential lag replay") {
    val rows = run("window_forecast_backtest")
    val daily = Tables.load(spark, dir, "events")
      .selectExpr("event_type",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .groupBy(t => (t._1, t._2)).map { case ((g, d), xs) =>
        (g, d, xs.map(_._3).sum) }
      .groupBy(_._1).map { case (g, xs) =>
        g -> xs.toSeq.sortBy(_._2).map(_._3).toVector }
    rows.foreach { r =>
      val series = daily(r.getString(0))
      val evalIdx = (7 until series.length)
      assert(r.getLong(1) == evalIdx.length.toLong)
      assert(r.getLong(2) ==
        evalIdx.map(i => math.abs(series(i) - series(i - 1))).sum)
      assert(r.getLong(3) ==
        evalIdx.map(i => math.abs(series(i) - series(i - 7))).sum)
      val q9 = evalIdx.map { i =>
        math.floor(math.abs(series(i) - series(i - 1)).toDouble * 2.0e9 /
          (series(i) + series(i - 1)).toDouble).toLong }.sum
      assert(r.getLong(4) == q9)
    }
  }

  test("agg_page_hinkley: detector walk matches the sequential replay") {
    val rows = run("agg_page_hinkley")
    assert(rows.length == 1)
    val r = rows.head
    val daily = Tables.load(spark, dir, "events")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, xs) => (d, xs.map(_._2).sum, xs.length.toLong) }
    assert(r.getLong(0) == daily.length.toLong)
    var cumC = 0L; var cumN = 0L; var u = 0.0; var uMin = Double.MaxValue
    var maxPh = Double.MinValue; var minU = Double.MaxValue
    var alarm = -1L
    daily.foreach { case (d, c, n) =>
      cumC += c; cumN += n
      u += c.toDouble / n - cumC.toDouble / cumN - 50.0
      uMin = math.min(uMin, u)
      val ph = u - uMin
      maxPh = math.max(maxPh, ph); minU = math.min(minU, u)
      if (alarm == -1L && ph > 5000.0) alarm = d
    }
    assert(r.getLong(1) == alarm)
    assert(math.abs(r.getLong(2) - math.floor(maxPh * 1e6)) <= 2)
    assert(math.abs(r.getLong(3) - math.floor(minU * 1e6)) <= 2)
  }

  test("agg_quantile_treatment_effect: per-arm order statistics match the replay") {
    val rows = run("agg_quantile_treatment_effect")
    assert(rows.length == 3)
    val vs = Tables.load(spark, dir, "events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(pmod(user_id, 2) AS BIGINT) AS half")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    def quantile(half: Long, p: Long): Long = {
      val sorted = vs.filter(_._2 == half).map(_._1).sorted
      val rank = (sorted.length * p + 99) / 100
      sorted((rank - 1).toInt)
    }
    rows.foreach { r =>
      val p = r.getLong(0)
      assert(r.getLong(1) == quantile(0L, p), s"p$p control")
      assert(r.getLong(2) == quantile(1L, p), s"p$p treat")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }

  test("sample_neyman_allocation: allocation exhausts the budget; proportional to N_h*S_h") {
    val rows = run("sample_neyman_allocation")
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byLang = docs.groupBy(_._1)
    assert(rows.length == byLang.size)
    assert(rows.map(_.getLong(4)).sum == 1000L, "budget not exhausted")
    val weights = byLang.map { case (l, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum; val sxx = xs.map(x => x._2 * x._2).sum
      val varr = (BigInt(n) * sxx - BigInt(sx) * sx).toDouble /
        (BigInt(n) * (n - 1)).toDouble
      l -> n.toDouble * math.sqrt(varr)
    }
    val z = weights.toSeq.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    rows.foreach { r =>
      val share = 1000.0 * weights(r.getString(0)) / z
      assert(r.getLong(2) == math.floor(share).toLong,
        s"${r.getString(0)} floor share")
      // alloc within 1 of the floor (largest-remainder top-up)
      assert(r.getLong(4) - r.getLong(2) <= 1L && r.getLong(4) >= r.getLong(2))
    }
  }

  test("agg_transition_entropy: entropy rate matches the sequential replay") {
    val rows = run("agg_transition_entropy")
    assert(rows.length == 1)
    val r = rows.head
    val trans = eventSeries.values.flatMap { xs =>
      xs.map(_._2).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1)))
    }.toSeq
    assert(r.getLong(0) == trans.length.toLong)
    val byFrom = trans.groupBy(_._1)
    val n = trans.length.toDouble
    val rate = byFrom.map { case (_, xs) =>
      val nf = xs.length.toDouble
      val rowH = xs.groupBy(_._2).values.map { g =>
        val p = g.size / nf; -p * math.log(p) }.sum
      (nf / n) * rowH
    }.sum
    assert(math.abs(r.getLong(1) - math.floor(rate * 1e9)) <= 3)
  }

  test("agg_lorenz_deciles: cumulative shares match the sorted replay") {
    val rows = run("agg_lorenz_deciles")
    val perUser = Tables.load(spark, dir, "events")
      .selectExpr("user_id",
        "coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).toSeq.map { case (u, xs) => (u, xs.map(_._2).sum) }
    val sorted = perUser.sortBy(t => (t._2, t._1))
    val n = sorted.length.toLong
    val deciles = sorted.zipWithIndex.groupBy { case (_, i) =>
      math.min(10L, i.toLong * 10 / n + 1) }
    assert(rows.length == deciles.size)
    val total = sorted.map(_._2).sum
    var cum = 0L
    rows.foreach { r =>
      val d = r.getLong(0)
      val g = deciles(d)
      assert(r.getLong(1) == g.length.toLong, s"decile $d users")
      val cents = g.map(_._1._2).sum
      assert(r.getLong(2) == cents, s"decile $d cents")
      cum += cents
      assert(r.getDouble(3) == cents.toDouble / total)
      assert(r.getDouble(4) == cum.toDouble / total)
    }
    // Lorenz monotonicity holds per USER (deciles of unequal size —
    // 15 users at sf0.001 band as 2,1,2,1… — break it for totals)
    val meanShares = rows.map(r =>
      r.getLong(2).toDouble / r.getLong(1)).toSeq
    assert(meanShares == meanShares.sorted)
  }

  test("embed_matryoshka_eval: overlap consistent with its own two rankings") {
    val rows = run("embed_matryoshka_eval")
    assert(rows.nonEmpty && rows.length <= 32)
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n >= 1 && n <= 5)
      assert(r.getDouble(2) == n.toDouble / 5.0)
    }
    // replay with driver cosine: overlap of top-5 full vs 16-dim prefix
    val emb = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.toMap
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    emb.filter(_._1 < 32).foreach { case (q, qv) =>
      def top5(d: Int): Set[Long] = emb.filter(_._1 != q)
        .map(e => (cos(qv, e._2, d), e._1))
        .sortBy(t => (-t._1, t._2)).take(5).map(_._2).toSet
      val overlap = (top5(64) & top5(16)).size.toLong
      // driver cosine accumulation order differs; near-ties can flip a
      // rank — allow ±1 against the engine's exact count
      val engine = got.getOrElse(q, 0L)
      assert(math.abs(engine - overlap) <= 1, s"query $q: $engine vs $overlap")
    }
  }

  test("sample_kcenter_greedy equals the sequential farthest-point traversal") {
    val rows = run("sample_kcenter_greedy")
    assert(rows.length == 4)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 0L &&
      rows(0).getLong(2) == 0L)
    // driver replay in the same exact integer arithmetic
    val vecs = Tables.load(spark, dir, "embeddings")
      .filter("vec_id < 200")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => math.floor(x * 1048576.0).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val byId = vecs.toMap
    var selected = Vector(0L)
    var expected = Vector((1L, 0L, 0L))
    for (rank <- 2 to 4) {
      val (cid, rad) = vecs.filter(v => !selected.contains(v._1))
        .map { case (id, q) => (id, selected.map(s => d2(q, byId(s))).min) }
        .maxBy { case (id, mind) => (mind, -id) }
      selected :+= cid
      expected :+= ((rank.toLong, cid, rad))
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
    assert(got == expected, s"got $got want $expected")
  }

  test("agg_runs_test equals the sequential runs count and Wald-Wolfowitz moments") {
    val rows = run("agg_runs_test")
    assert(rows.length == 1)
    // value can be NULL — the engine's sum() skips those rows (a day of
    // only-null values would carry c NULL, which percentile and the
    // <> med filter both drop); filtering here mirrors that exactly
    val daily = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }
      .toVector.sortBy(_._1)
    val vals = daily.map(_._2.toDouble).sorted
    val n = vals.length
    // PERCENTILE_CONT lower-interpolated median
    val med = if (n % 2 == 1) vals(n / 2)
      else (vals(n / 2 - 1) + vals(n / 2)) / 2.0
    val signs = daily.map(_._2.toDouble).filter(_ != med).map(c => if (c > med) 1 else -1)
    val n1 = signs.count(_ == 1).toLong
    val n2 = signs.count(_ == -1).toLong
    val runs = 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
    assert(rows(0).getLong(0) == n1)
    assert(rows(0).getLong(1) == n2)
    assert(rows(0).getLong(2) == runs)
    val mu = 2.0 * (n1 * n2).toDouble / (n1 + n2).toDouble + 1.0
    val sigma = math.sqrt(2.0 * (n1 * n2).toDouble *
      (2.0 * (n1 * n2).toDouble - (n1 + n2).toDouble) /
      (((n1 + n2) * (n1 + n2)).toDouble * (n1 + n2 - 1).toDouble))
    assert(math.abs(rows(0).getDouble(3) - mu) < 1e-9)
    assert(math.abs(rows(0).getDouble(4) - sigma) < 1e-12)
    assert(math.abs(rows(0).getDouble(5) - (runs.toDouble - mu) / sigma) < 1e-9)
  }

  test("graph_shortest_hops equals a sequential 3-round BFS relaxation") {
    val rows = run("graph_shortest_hops")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val edges = Tables.load(spark, dir, "lineitem").selectExpr("l_orderkey", "l_suppkey")
      .join(Tables.load(spark, dir, "orders").selectExpr("o_orderkey", "o_custkey"),
        org.apache.spark.sql.functions.expr("l_orderkey = o_orderkey"))
      .join(Tables.load(spark, dir, "customer").selectExpr("c_custkey", "c_nationkey"),
        org.apache.spark.sql.functions.expr("o_custkey = c_custkey"))
      .join(Tables.load(spark, dir, "supplier").selectExpr("s_suppkey", "s_nationkey"),
        org.apache.spark.sql.functions.expr("l_suppkey = s_suppkey"))
      .selectExpr("CAST(c_nationkey AS BIGINT) AS src", "CAST(s_nationkey AS BIGINT) AS dst")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    var dist = Map(0L -> 0L)
    for (_ <- 1 to 3) {
      val relaxed = edges.flatMap { case (s0, d0) =>
        dist.get(s0).map(h => (d0, h + 1L))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => (k, vs.map(_._2).min) }
    }
    assert(rows == dist, s"got $rows want $dist")
  }

  test("agg_mcnemar equals the sequential 2x2 disagreement count") {
    val rows = run("agg_mcnemar")
    assert(rows.length == 1)
    val docs = Tables.load(spark, dir, "documents")
      .selectExpr("n_chars", "lang").collect()
      .map(r => (r.getLong(0) >= 300, r.getLong(0) >= 200 && r.getString(1) == "en"))
    val b = docs.count { case (a, bb) => a && !bb }.toLong
    val c = docs.count { case (a, bb) => !a && bb }.toLong
    assert(rows(0).getLong(0) == b && rows(0).getLong(1) == c)
    assert(rows(0).getLong(2) == (b - c) * (b - c))
    assert(rows(0).getLong(3) == b + c)
    assert(math.abs(rows(0).getDouble(4) -
      ((b - c) * (b - c)).toDouble / (b + c).toDouble) < 1e-12)
    val want = if ((b - c) * (b - c) * 1000000L > 3841459L * (b + c)) 1 else 0
    assert(rows(0).getInt(7) == want)
  }

  test("agg_jensen_shannon: JS in [0, ln 2], equals the sequential fold") {
    val rows = run("agg_jensen_shannon")
    assert(rows.length == 1)
    val js = rows(0).getLong(1).toDouble / 1e9
    assert(js >= 0.0 && js <= math.log(2.0) + 1e-9)
    // sequential replay
    val evs = Tables.load(spark, dir, "events")
      .selectExpr("event_type",
        "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2 AS side")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = evs.map(_._1).distinct.sorted
    val tEven = evs.count(_._2 == 0).toDouble
    val tOdd = evs.count(_._2 == 1).toDouble
    var sp = 0.0; var sq = 0.0
    types.foreach { t =>
      val p = evs.count(e => e._1 == t && e._2 == 0).toDouble / tEven
      val q = evs.count(e => e._1 == t && e._2 == 1).toDouble / tOdd
      val m = (p + q) * 0.5
      if (p > 0) sp += p * math.log(p / m)
      if (q > 0) sq += q * math.log(q / m)
    }
    assert(rows(0).getLong(0) == types.length.toLong)
    assert(math.abs(js - (sp + sq) * 0.5) < 1e-6)
  }

  test("text_code_detect: densities consistent and ppm exact") {
    val rows = run("text_code_detect")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, codeDocs) = (r.getLong(1), r.getLong(2))
      assert(codeDocs >= 0 && codeDocs <= nDocs)
      val (sym, digit, punct, symPpm) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(sym >= 0 && digit >= 0 && punct >= 0)
      assert(symPpm >= 0 && symPpm <= 1000000L)
      assert(r.getLong(7) <= 1000000L && r.getLong(8) <= 1000000L)
    }
    // spot-replay one source on the driver
    val first = rows.head.getString(0)
    val docs = Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("source") === first)
      .selectExpr("text", "n_chars").collect()
    val symCls = "[{}();=<>\\[\\]]".r
    val sumSym = docs.map(d => symCls.findAllIn(d.getString(0)).length.toLong).sum
    val codeDocs = docs.count { d =>
      symCls.findAllIn(d.getString(0)).length.toLong * 100L > d.getLong(1)
    }.toLong
    assert(rows.head.getLong(3) == sumSym)
    assert(rows.head.getLong(2) == codeDocs)
  }

  test("window_rsi equals the sequential trailing-14 gain/loss fold") {
    val rows = run("window_rsi")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    import org.apache.spark.sql.functions._
    val evs = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
      .groupBy(_._1)
    val expected = evs.collect { case (u, es) if es.length >= 2 =>
      val deltas = es.map(_._4).sliding(2).map(p => p(1) - p(0)).toVector
      var nOver = 0L; var nUnder = 0L
      var lastG = 0L; var lastL = 0L; var lastRsi = -1L
      deltas.indices.foreach { i =>
        val win = deltas.slice(math.max(0, i - 13), i + 1)
        val g = win.filter(_ > 0).sum
        val l = -win.filter(_ < 0).sum
        val rsi = if (i + 1 >= 14 && g + l > 0) g * 10000L / (g + l) else -1L
        if (rsi >= 7000) nOver += 1
        if (rsi >= 0 && rsi <= 3000) nUnder += 1
        lastG = g; lastL = l; lastRsi = rsi
      }
      u -> ((deltas.length.toLong, lastG, lastL, lastRsi, nOver, nUnder))
    }
    assert(rows.size == expected.size)
    expected.foreach { case (u, want) =>
      assert(rows(u) == want, s"user $u: got ${rows(u)} want $want")
    }
  }

  test("agg_seasonal_decompose: seasonal sums balance and match the driver fold") {
    val rows = run("agg_seasonal_decompose")
    assert(rows.length <= 7)
    val daily = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }
      .toVector.sortBy(_._1)
    // ROWS frame: 7 grid ROWS, not 7 consecutive calendar days
    val expected = daily.indices
      .filter(i => i >= 3 && i + 3 < daily.length)
      .map { i =>
        val t7 = (i - 3 to i + 3).map(daily(_)._2).sum
        (daily(i)._1 % 7, 7L * daily(i)._2 - t7)
      }
      .groupBy(_._1).map { case (dow, xs) =>
        dow -> ((xs.length.toLong, xs.map(_._2).sum))
      }
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"got $got want $expected")
  }

  test("window_interval_coalesce equals a sequential per-user interval merge") {
    val rows = run("window_interval_coalesce")
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val iv = Tables.load(spark, dir, "events")
      .filter("value IS NOT NULL")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS s",
        "unix_micros(ts) + greatest(CAST(round(value) AS BIGINT), 1)" +
          " * 1000000 AS e")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val expected = iv.groupBy(_._1).map { case (u, xs) =>
      val sorted = xs.sortBy(t => (t._3, t._4, t._2))
      var islands = List.empty[(Long, Long)] // (start, end) merged, reversed
      sorted.foreach { case (_, _, s0, e0) =>
        islands match {
          case (s1, e1) :: rest if s0 <= e1 =>
            islands = (s1, math.max(e1, e0)) :: rest
          case _ => islands = (s0, e0) :: islands
        }
      }
      u -> ((xs.length.toLong, islands.size.toLong,
        islands.map(t => t._2 - t._1).sum))
    }
    assert(rows.size == expected.size)
    expected.foreach { case (u, want) =>
      assert(rows(u) == want, s"user $u: got ${rows(u)} want $want")
    }
  }
  /** Driver replay of the delete-a-group jackknife: per-group totals,
    * quantized LOO ratios, pseudo-values, the (G−1)/G variance and the
    * CI must equal the naive loop exactly.
    */
  test("agg_jackknife_ratio_ci equals the naive jackknife loop") {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("g")),
        col("o_custkey") === col("c_custkey"))
      .select("g", "cents").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val byG = base.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
    val gN = byG.size.toLong
    val n = base.length.toLong
    val s = base.map(_._2).sum
    val loo = byG.map { case (g, (ng, sg)) =>
      g -> math.floor((s - sg).toDouble / (n - ng).toDouble * 1e9).toLong
    }
    val rFull = math.floor(s.toDouble / n.toDouble * 1e9).toLong
    val rbar = loo.values.sum / gN
    val dev2 = loo.values.map(r => BigInt(r - rbar) * (r - rbar)).sum
    val se = math.floor(math.sqrt(
      (BigInt(gN - 1) * dev2).toDouble / (gN * gN).toDouble)).toLong
    val rows = run("agg_jackknife_ratio_ci")
    assert(rows.length == gN)
    rows.foreach { r =>
      val g = r.getAs[Number]("nation").longValue
      assert(r.getAs[Long]("n_g") == byG(g)._1)
      assert(r.getAs[Long]("s_g") == byG(g)._2)
      assert(r.getAs[Long]("r_loo_e9") == loo(g))
      assert(r.getAs[Long]("pseudo_e9") == gN * rFull - (gN - 1) * loo(g))
      assert(r.getAs[Long]("r_full_e9") == rFull)
      assert(r.getAs[Long]("se_e9") == se)
      assert(r.getAs[Long]("ci_lo_e9") == rFull - 2 * se)
      assert(r.getAs[Long]("ci_hi_e9") == rFull + 2 * se)
    }
  }
  /** Sequential replay of the Hampel windows: per user the driver walks
    * the event_id-ordered series, takes the lower median of the ±3
    * window and of its deviations, and re-derives every per-user count.
    */
  test("window_hampel_filter equals the sequential window replay") {
    import org.apache.spark.sql.functions._
    val series = Tables.load(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    def lowerMedian(xs: Vector[Long]): Long =
      xs.sorted.apply((xs.length + 1) / 2 - 1)
    val expected = series.map { case (u, xs) =>
      var flagged = 0L; var mass = 0L
      xs.indices.foreach { i =>
        val win = xs.slice(math.max(0, i - 3), math.min(xs.length, i + 4))
        val med = lowerMedian(win)
        val mad = lowerMedian(win.map(v => math.abs(v - med)))
        val isFlag = (mad > 0 && math.abs(xs(i) - med) * 10000L > 44478L * mad) ||
          (mad == 0 && xs(i) != med)
        if (isFlag) { flagged += 1; mass += math.abs(xs(i) - med) }
      }
      u -> ((xs.length.toLong, flagged, flagged * 1000000L / xs.length, mass))
    }
    val rows = run("window_hampel_filter")
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val e = expected(u)
      assert(r.getAs[Long]("n_events") == e._1, s"user $u n")
      assert(r.getAs[Long]("n_flagged") == e._2, s"user $u flagged")
      assert(r.getAs[Long]("flagged_ppm") == e._3, s"user $u ppm")
      assert(r.getAs[Long]("repair_mass_cents") == e._4, s"user $u mass")
    }
  }

  /** BigInt replay of the personalized power iterations off the
    * independently re-derived edge weights; plus the PPR invariants:
    * total mass conserved up to integral-division truncation, and the
    * seed neighborhood holds more mass than the uniform share.
    */
  test("graph_personalized_pagerank equals the BigInt power-iteration replay") {
    import org.apache.spark.sql.functions._
    val edges = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => ((r.getAs[Number]("src").longValue,
        r.getAs[Number]("dst").longValue), r.getAs[Long]("w"))).toMap
    val nodes = (0L until 25L).toVector
    val seeds = Set(0L, 1L, 2L)
    val ow = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def iterate(r: Map[Long, Long]): Map[Long, Long] = {
      val in = edges.toSeq.groupBy(_._1._2).view.mapValues(_.map {
        case ((src, _), w) => (r(src) * w) / ow(src)
      }.sum).toMap
      nodes.map(v => v -> ((if (seeds(v)) 15000000000L / (100L * 3L) else 0L)
        + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
    }
    val r0 = nodes.map(v =>
      v -> (if (seeds(v)) 1000000000L / 3L else 0L)).toMap
    val r1 = iterate(r0); val r2 = iterate(r1)
    val rows = run("graph_personalized_pagerank")
    assert(rows.length == 25)
    rows.foreach { r =>
      val v = r.getAs[Number]("node").longValue
      assert(r.getAs[Long]("ppr_i1") == r1(v), s"node $v i1")
      assert(r.getAs[Long]("ppr_i2") == r2(v), s"node $v i2")
      assert(r.getAs[Long]("seed") == (if (seeds(v)) 1L else 0L))
    }
    val total = r2.values.sum
    assert(total <= 1000000000L && total >= 1000000000L - 2000L,
      s"mass conserved up to truncation, got $total")
    val seedMass = seeds.toSeq.map(r2).sum
    assert(seedMass > 3L * 1000000000L / 25L,
      "seed neighborhood must hold more than the uniform share")
  }
  /** BigInt replay of the 3 unrolled IPF iterations off independently
    * re-derived cells, plus the raking contract: final weighted margins
    * match the population margins within integer-truncation ppm.
    */
  test("agg_survey_raking equals the BigInt IPF replay and converges") {
    import org.apache.spark.sql.functions._
    val cells = Tables.load(spark, dir, "customer")
      .selectExpr("c_mktsegment AS seg", "c_nationkey DIV 5 AS band",
        """CASE WHEN CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 2), 16, 10) AS BIGINT)
          < 128 + 24 * (length(c_mktsegment) % 3) THEN 1L ELSE 0L END AS in_samp""")
      .groupBy("seg", "band")
      .agg(count(lit(1)).as("n_full"), sum("in_samp").as("n_samp"))
      .collect()
      .map(r => ((r.getString(0), r.getAs[Number](1).longValue),
        (r.getLong(2), r.getLong(3)))).toMap
    val rowT = cells.groupBy(_._1._1).view.mapValues(_.values.map(_._1).sum).toMap
    val colT = cells.groupBy(_._1._2).view.mapValues(_.values.map(_._1).sum).toMap
    var w: Map[(String, Long), BigInt] = cells.collect {
      case (k, (_, ns)) if ns > 0 => k -> BigInt(1000000)
    }
    (0 until 3).foreach { _ =>
      val rw = w.groupBy(_._1._1).view
        .mapValues(m => m.map { case (k, v) => v * cells(k)._2 }.sum).toMap
      w = w.map { case (k, v) =>
        k -> (v * rowT(k._1) * 1000000) / rw(k._1) }
      val cw = w.groupBy(_._1._2).view
        .mapValues(m => m.map { case (k, v) => v * cells(k)._2 }.sum).toMap
      w = w.map { case (k, v) =>
        k -> (v * colT(k._2) * 1000000) / cw(k._2) }
    }
    val rows = run("agg_survey_raking")
    assert(rows.length == w.size)
    rows.foreach { r =>
      val k = (r.getString(0), r.getAs[Number]("band").longValue)
      assert(r.getAs[Long]("n_full") == cells(k)._1)
      assert(r.getAs[Long]("n_samp") == cells(k)._2)
      assert(r.getAs[Long]("w_e6") == w(k).toLong, s"cell $k weight")
      // convergence: the col pass runs last, so col margins are exact
      // up to truncation; rows lag one half-step (571 ppm at sf0.001)
      assert(r.getAs[Long]("max_row_gap_ppm") <= 2000L,
        "row margins must be near-matched after 3 iterations")
      assert(r.getAs[Long]("max_col_gap_ppm") <= 5L)
    }
  }
}
