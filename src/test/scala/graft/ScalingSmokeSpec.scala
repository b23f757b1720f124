package graft

import org.scalatest.funsuite.AnyFunSuite

/** Saturation guard (SCALING.md methodology; r6 verdict item 9): the
  * approximate dedup operators have FIXED or corpus-sized key spaces
  * whose failure mode is quadratic — bucket occupancy grows ∝ n, so
  * within-bucket candidate pairs grow ∝ n², invisible at sf0.1. Both
  * historical walls (dedup_simhash 29.9×, dedup_embedding_lsh 17.1× at
  * 10× data, SCALING.md) would trip this spec; their fixed shapes
  * (sub-banding, corpus-auto-sized bucket bits) measure ≤ 8×.
  *
  * Runs only when tools/gen_sf1.py output is present (the data is
  * gitignored and driver-cleaned between rounds), so routine `sbt test`
  * stays fast; the scaling pass re-arms it by generating sf1.
  *
  * One timed pass per (query, sf) after a warmup — noisier than the
  * bench's min-of-2, hence the generous 15× bar: a healthy sub-linear
  * operator measures ≤ 13× even with noise, a quadratic wall ≥ 17×.
  */
class ScalingSmokeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.1"
  private val sf1 = "/root/repo/sf1"

  private def timeOnce(name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // min-of-2 like the bench: one-shot timings put dedup_embedding_lsh
  // (~10× at 10× data — linear, its signature+bucket join cost tracks n)
  // right against the old 12× bar on a noisy run
  private def timeMin2(name: String, dir: String): Double =
    math.min(timeOnce(name, dir), timeOnce(name, dir))

  private val guarded =
    Seq("dedup_simhash", "dedup_embedding_lsh", "dedup_minhash_lsh",
      // retrieval/sampling additions (r11): scan + bounded-heap /
      // TakeOrdered shapes — should track n linearly; a regression to a
      // global-sort or window plan would blow past the bar
      "text_hybrid_retrieval", "sample_weighted_ares",
      // r11 heavy additions. containment: A-prefix ⋈ full inverted index
      // — candidate volume is the quadratic risk the df-order/length
      // prune must hold down. mips_norm: fixed 8-bit buckets × 12 tables
      // — candidate side linear in n for a constant query set. pca:
      // two integer matvec aggregates per iteration, linear. pagerank:
      // the fact-join edge build dominates, linear.
      "dedup_containment", "sim_topk_mips_norm", "embed_pca_power",
      "graph_pagerank_fixed",
      // entity blocking: the purge cap (≤150/block) is the guard —
      // pre-purge this measured WEDGED at sf1 (the fixture's verbatim
      // name copies make every block 10×, pairs 100×); post-purge the
      // pathological blocks drop and the query is scan-bound
      "join_entity_blocking",
      // r12: semdedup's cell count auto-sizes ~√n — the balanced sizing
      // (measured 2.6× at 10×). This guard CAUGHT the first cut's n/32
      // sizing at 14.5×: cells ∝ n makes the routing pass (n × cells
      // cosines) quadratic even while in-cell occupancy stays flat.
      "dedup_semdedup_cells")

  // r16 (VERDICT item 2): the three heavyweight decade guards below cost
  // 10+ minutes of wall clock between them (243 s + 549 s + 31 s measured
  // this round) and the r15 verify budget killed `sbt test` mid-suite.
  // They now run only when SPARK_GRAFT_STRESS is set — the scaling pass's
  // documented toggle (SCALING.md "Stress gate") — so routine `sbt test`
  // fits the budget; the cheap sf1 recall guards stay always-armed.
  private def assumeStress(): Unit =
    assume(sys.env.contains("SPARK_GRAFT_STRESS"),
      "stress decade gated off (set SPARK_GRAFT_STRESS=1; see SCALING.md)")

  test("approximate dedup operators stay sub-quadratic at 10× data") {
    assumeStress()
    assume(new java.io.File(s"$sf1/documents.parquet").exists(),
      "sf1 not generated (tools/gen_sf1.py)")
    // warm up EVERY guarded query, not just the first — each has its own
    // codegen/JIT startup, and a warmup landing inside a timed sf0.1 run
    // inflates that query's denominator (r7 advice)
    guarded.foreach(timeOnce(_, sf01))
    val offenders = guarded.flatMap { name =>
      val small = timeMin2(name, sf01)
      val big = timeMin2(name, sf1)
      val ratio = big / math.max(small, 0.05)
      info(f"$name%-22s sf0.1 $small%5.2fs  sf1 $big%5.2fs  ratio $ratio%4.1f×")
      // Bar rationale: the walls this guard exists for measured ≥17×
      // (dedup_simhash 29.9×, dedup_embedding_lsh 17.1× — and 16.6× in
      // r11 when the occupancy-32 sizing saturated, SCALING.md).
      // Healthy shapes measure 2–13×: embedding LSH's corpus-auto-sized
      // bucket bits (occupancy target 4; 12→15 bits across this decade)
      // measured 2.8×, and the ~0.3 s sf0.1 runs are fixed-overhead-
      // dominated. 15 separates the populations.
      if (ratio > 15.0) Some(f"$name $ratio%.1f× at 10× data") else None
    }
    assert(offenders.isEmpty,
      "bucket-space saturation (quadratic wall): " + offenders.mkString(", "))
  }

  test("semdedup auto-sizing crosses the 4096-cell flat boundary sub-quadratically") {
    // r12 verdict item 1: the old [64, 4096] clamp froze the cell count
    // past n ≈ 4096² ≈ 16.8 M vectors — occupancy then grew ∝ n and
    // in-cell pair work returned to n²/4096, the exact wall the √n
    // sizing was built to avoid. The fix: ⌊√n⌋ unclamped, built as a
    // TWO-LEVEL quantizer past maxFlatCells (coarse ~n^(1/4) broadcast
    // tier + per-coarse-cell keyed sub-split). This guard actually
    // CROSSES the boundary — 17 M synthetic dim-2 vectors through the
    // real auto-sizing — and asserts the mechanism: the index goes
    // two-level, the realized cell count keeps growing past the old
    // clamp, and the candidate-pair volume Σ occ·(occ−1)/2 stays within
    // a small factor of the n^1.5 envelope (a frozen 4096-cell index is
    // AT the envelope exactly at the boundary and ∝ n² beyond it, so
    // the mechanism assertions are what make this a boundary guard).
    // Vector angles follow the golden-angle spiral so ids are
    // uncorrelated with direction — the lowest-id seeding needs spread
    // seeds, same as the real embeddings fixture (ids ⊥ geometry).
    assumeStress()
    assume(new java.io.File(s"$sf1/documents.parquet").exists(),
      "sf1 not generated (scaling pass only — this test is synthetic but heavyweight)")
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val n = 17000000L
    val cells = math.max(64L, math.sqrt(n.toDouble).toLong).toInt // semDedupCells' auto-sizing
    assert(cells > Similarity.maxFlatCells,
      s"guard must cross the flat boundary: cells=$cells")
    val golden = 2.399963229728653d
    val cand = spark.range(n).select(col("id").as("cid"),
      array(cos(col("id") * lit(golden)).cast("float"),
        sin(col("id") * lit(golden)).cast("float")).as("cvec"))
    val index = Similarity.buildCellIndex(cand, cells)
    assert(index.sub.isDefined, "past maxFlatCells the index must be two-level")
    val t0 = System.nanoTime()
    val row = index.route(cand).groupBy("cell").agg(count(lit(1)).as("occ"))
      .agg(sum(col("occ") * (col("occ") - lit(1L)) / lit(2L)).as("cand_pairs"),
        count(lit(1)).as("n_cells"), max(col("occ")).as("max_occ"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val candPairs = row.getAs[Number]("cand_pairs").doubleValue()
    val nCells = row.getAs[Long]("n_cells")
    val maxOcc = row.getAs[Long]("max_occ")
    val envelope = n.toDouble * math.sqrt(n.toDouble) / 2.0
    info(f"n=$n cells=$nCells maxOcc=$maxOcc candPairs=$candPairs%.3g " +
      f"envelope=$envelope%.3g ratio=${candPairs / envelope}%.2f route+occ=$secs%.1fs")
    assert(nCells > Similarity.maxFlatCells,
      s"cell count re-froze at the old clamp: $nCells")
    assert(candPairs <= 8.0 * envelope,
      f"candidate volume ${candPairs}%.3g exceeds 8× the n^1.5 envelope $envelope%.3g")
  }

  test("embedding LSH keeps near-identical recall at the sf1 bucket sizing") {
    assume(new java.io.File(s"$sf1/embeddings.parquet").exists(),
      "sf1 not generated (tools/gen_sf1.py)")
    // The occupancy-4 auto-sizing widens the bucket space (15 bits at
    // the 100 k decade vs 12 under the old occupancy-32 target); each
    // extra bit raises a true pair's expected hamming, so this pins the
    // recall half of the tradeoff the r11 resize bought its 6× speedup
    // with. Planted pairs are deterministic ±0.15/√dim perturbations
    // (cosine ≈ 0.989 — the near-identical regime this operator exists
    // for; the fixture's own ≥0.4-cosine pairs are moderate-angle and
    // invisible to hamming-1 probing at ANY sizing, see Dedup scaladoc).
    // Measured: 0.905 recall at 12 bits, 0.881 at 15, 0.833 at 18,
    // zero false positives. Floor 0.75 = the gentle-degradation claim.
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sf1, "embeddings")
    val offset = 10000000L
    val base = emb.filter(pmod(col("vec_id"), lit(101)) === 0)
      .select(col("vec_id"), col("embedding"))
    val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val pert = base.select((col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") + lit(0.15d) / lit(8.0d) * norm *
          when(pmod(xxhash64(col("vec_id"), i), lit(2)) === 0, -1.0d)
            .otherwise(1.0d)).cast("float")).as("embedding"))
    val corpus = base.unionByName(pert)
    val pairs = graft.operators.Dedup
      .embeddingNearDupPairsLsh(corpus, "vec_id", "embedding",
        threshold = 0.9, bits = 15) // sf1's auto-sized width
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + offset)).toSet
    val recall = (pairs & planted).size.toDouble / planted.size
    info(f"planted=${planted.size} recall=$recall%.3f false-pos=${(pairs -- planted).size}")
    assert(planted.size >= 100, s"subset too small: ${planted.size}")
    assert(recall >= 0.75, f"near-identical recall degraded: $recall%.3f")
  }

  test("funnel window tolerates a planted hot user holding 20% of sf10 events") {
    // The funnel's per-user running windows route a hot key through one
    // task; its cost there is the task-local sort, so a 20%-of-corpus
    // user must degrade boundedly, not explode — and out-of-order input
    // needs no repair pass (the window's (t, event_id) sort re-orders).
    val sf10 = "/root/repo/sf10"
    assumeStress()
    assume(new java.io.File(s"$sf10/events.parquet").exists(),
      "sf10 not generated (tools/gen_sf1.py)")
    import org.apache.spark.sql.functions._
    import graft.operators.Funnel
    val events = Tables.load(spark, sf10, "events")
    def time(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(Funnel.stageCounts(events)) // warmup
    val even = time(Funnel.stageCounts(events))
    // plant the hot key AND scramble arrival order within it: rows keep
    // their (t, event_id) but lose any correlation with input order
    val skewed = events.withColumn("user_id",
      when(pmod(col("event_id"), lit(5)) === 0, lit(-42L)).otherwise(col("user_id")))
    val hot = time(Funnel.stageCounts(skewed))
    info(f"funnel sf10: even $even%5.2fs  hot-key $hot%5.2fs  ratio ${hot / even}%4.1f×")
    assert(hot <= even * 5 + 5.0,
      f"hot user exploded the funnel window: even $even%.2fs hot $hot%.2fs")
    // sanity: the hot variant still yields a well-formed stage histogram
    val stages = Funnel.stageCounts(skewed).collect().map(_.getInt(0)).toSet
    assert(stages.subsetOf(Set(0, 1, 2, 3)), stages)
  }

  test("ANN recall vs brute-force truth holds at sf1 (10× corpus)") {
    // The SimilaritySpec recall bound is asserted at fixture scale only;
    // hyperplane bucket occupancy and IVF cell population both change
    // with corpus size, so re-measure recall@k at 10× with the SAME
    // parameters the registered sim_topk_* queries use (r7 verdict item 2).
    assume(new java.io.File(s"$sf1/embeddings.parquet").exists(),
      "sf1 not generated (tools/gen_sf1.py)")
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf1, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(queries, cands, k))
    val lsh = pairs(Similarity.lshTopK(queries, cands, k, bits = 10,
      tables = 8, probeHamming = 2))
    val ivf = pairs(Similarity.ivfTopKSeeded(queries, cands, k,
      numCentroids = 64, nProbe = 24))
    val rLsh = (truth & lsh).size.toDouble / truth.size
    val rIvf = (truth & ivf).size.toDouble / truth.size
    info(f"sf1 recall@$k over ${queries.count()} queries: lsh $rLsh%.3f  ivf $rIvf%.3f")
    assert(rLsh >= 0.9, f"sim_topk_lsh recall degraded at sf1: $rLsh%.3f")
    assert(rIvf >= 0.9, f"sim_topk_ivf recall degraded at sf1: $rIvf%.3f")
  }

  test("PQ-ADC recall vs exact-L2 truth holds at sf1 (10× corpus)") {
    // PQ approximates SQUARED-L2, so its truth metric is exact L2 top-k
    // (cosine truth would conflate metric mismatch with quantization
    // loss on unnormalized vectors). Exact truth is computed driver-side
    // (|Q|·|corpus| distances — 50·20k at sf1, a test-only cost); the
    // measured quantization loss of the registered m=4/ksub=16 operating
    // point pins the floor, and IVFPQ adds the 24/64 routing loss on top.
    assume(new java.io.File(s"$sf1/embeddings.parquet").exists(),
      "sf1 not generated (tools/gen_sf1.py)")
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf1, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val k = 5
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) {
        val d = x(i).toDouble - y(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    val truth = (for ((q, qv) <- vecs if q < 50) yield {
      vecs.filter(_._1 != q).map { case (c, cv) => (c, l2(qv, cv)) }
        .sortBy { case (c, d) => (d, c) }.take(k).map { case (c, _) => (q, c) }
    }).flatten.toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = pairs(Similarity.pqTopKSeeded(queries, cands, k, m = 4, ksub = 16))
    val ivfpq = pairs(Similarity.ivfPqTopKSeeded(queries, cands, k,
      numCentroids = 64, nProbe = 24, m = 4, ksub = 16))
    val rr = pairs(Similarity.pqTopKRerank(queries, cands, k, rerank = 50,
      m = 4, ksub = 16))
    val rPq = (truth & pq).size.toDouble / truth.size
    val rIvfPq = (truth & ivfpq).size.toDouble / truth.size
    val rRr = (truth & rr).size.toDouble / truth.size
    info(f"sf1 L2-recall@$k: pq $rPq%.3f  ivfpq $rIvfPq%.3f  rerank $rRr%.3f")
    // These are STRUCTURAL floors, not quality claims: the synthetic
    // fixture is structureless noise, the one regime where quantized
    // distances carry almost no signal (every production embedding space
    // is structured — SimilaritySpec pins the clustered regime at
    // 0.5/0.95). Chance recall@5 here is k/(n-1) ≈ 0.00025; measured
    // r11: pq 0.008 (32× chance), ivfpq 0.012, rerank@50 0.052 (208×
    // chance). The floors catch a broken encode/ADC (which collapses to
    // chance), while staying far below honest noise-run variance.
    assert(rPq >= 0.002, f"sim_topk_pq below the noise floor at sf1: $rPq%.3f")
    assert(rIvfPq >= 0.002, f"sim_topk_ivfpq below the noise floor at sf1: $rIvfPq%.3f")
    assert(rRr >= 0.015, f"sim_topk_pq_rerank below the noise floor at sf1: $rRr%.3f")
  }
}
