package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Top-k similarity: bounded-heap aggregate correctness + LSH recall
  * measured against the exact baseline on the driver's embeddings table.
  */
class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def asQ(df: DataFrame) =
    df.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def asC(df: DataFrame) =
    df.select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  test("bruteForceTopK matches a literal sort-and-take per query") {
    val k = 4
    val got = Similarity.bruteForceTopK(asQ(emb.filter($"vec_id" < 5)), asC(emb), k)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    // reference: driver-side exact computation
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    for ((q, qv) <- vecs if q < 5) {
      val expect = vecs.filter(_._1 != q)
        .map { case (c, cv) => (c, cos(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(k).toSeq
      assert(got(q) == expect, s"query $q")
    }
  }

  test("sq8TopKRerank recall@5 >= 0.95 vs exact cosine truth (near-lossless quantization)") {
    // SQ8 keeps per-vector max-abs scale, so relative component error is
    // <= 1/254 of the largest component — the shortlist should almost
    // never drop a true top-k neighbor, and the exact re-rank restores
    // true cosine ORDER for everything shortlisted.
    val k = 5
    val queries = asQ(emb.filter($"vec_id" < 20))
    def keyed(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = keyed(Similarity.bruteForceTopK(queries, asC(emb), k))
    val sq8 = keyed(Similarity.sq8TopKRerank(queries, asC(emb), k, rerank = 50))
    val recall = (truth & sq8).size.toDouble / truth.size
    info(f"SQ8 recall@$k: $recall%.3f")
    assert(recall >= 0.95, f"SQ8 recall $recall below 0.95")
    // shortlisted results carry EXACT cosine scores: any pair reported by
    // both paths must agree bitwise (the re-rank uses the same kernel)
    val bruteScores = Similarity.bruteForceTopK(queries, asC(emb), k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.sq8TopKRerank(queries, asC(emb), k, rerank = 50)
      .collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        bruteScores.get(key).foreach(exp =>
          assert(r.getDouble(2) == exp, s"non-exact rerank score at $key"))
      }
  }

  test("ivfSq8TopKSeeded recall tracks the scanned fraction; probe ≡ recompute via parquet") {
    // Fused IVF-SQ8: on an unclustered corpus IVF recall tracks
    // nProbe/nc exactly as sim_topk_ivf's sweep measured, and SQ8's
    // shortlist is near-lossless WITHIN the probed cells — so the fused
    // recall should sit at the IVF-only level (the SQ8 stage must not
    // cost measurable recall on top of the pruning).
    val k = 5
    val queries = asQ(emb.filter($"vec_id" < 20))
    def keyed(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = keyed(Similarity.bruteForceTopK(queries, asC(emb), k))
    val ivfOnly = keyed(Similarity.ivfTopKSeeded(queries, asC(emb), k,
      numCentroids = 16, nProbe = 8))
    val fused = keyed(Similarity.ivfSq8TopKSeeded(queries, asC(emb), k,
      numCentroids = 16, nProbe = 8, rerank = 50))
    val rIvf = (truth & ivfOnly).size.toDouble / truth.size
    val rFused = (truth & fused).size.toDouble / truth.size
    info(f"recall@$k ivf=$rIvf%.3f fused ivf-sq8=$rFused%.3f")
    assert(rFused >= rIvf - 0.02,
      f"SQ8 stage cost recall on top of IVF pruning: $rFused%.3f vs $rIvf%.3f")
    // persisted-artifact probe ≡ recompute, through a parquet round-trip
    val root = java.nio.file.Files.createTempDirectory("graft_ivfsq8_spec").toString
    val (centroids, assignments) = Similarity.ivfIndex(asC(emb), 16)
    centroids.write.mode("overwrite").parquet(root + "/centroids")
    assignments.write.mode("overwrite").parquet(root + "/assignments")
    Similarity.sq8Index(asC(emb)).write.mode("overwrite").parquet(root + "/codes")
    val viaIndex = Similarity.ivfSq8ViaIndex(
      spark.read.parquet(root + "/centroids"),
      spark.read.parquet(root + "/assignments"),
      spark.read.parquet(root + "/codes"),
      queries, asC(emb), k, nProbe = 8, rerank = 50)
    val recompute = Similarity.ivfSq8TopKSeeded(queries, asC(emb), k,
      numCentroids = 16, nProbe = 8, rerank = 50)
    def rows(df: DataFrame): Set[(Long, Long, Double, Int)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.get(3).toString.toInt)).toSet
    assert(rows(viaIndex) == rows(recompute))
  }

  test("mipsTopK matches a literal inner-product sort-and-take per query") {
    val k = 4
    val got = Similarity.mipsTopK(asQ(emb.filter($"vec_id" < 5)), asC(emb), k)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0
      for (i <- x.indices) d += x(i).toDouble * y(i).toDouble
      d
    }
    for ((q, qv) <- vecs if q < 5) {
      val expect = vecs.filter(_._1 != q)
        .map { case (c, cv) => (c, dot(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(k).toSeq
      assert(got(q) == expect, s"query $q")
    }
  }

  test("mipsLshTopK recall >= 0.9 vs exact MIPS on clustered varying-magnitude vectors") {
    // MIPS differs from cosine exactly when magnitude carries signal:
    // scale each clustered vector by a deterministic factor in [0.5, 2]
    // so the true inner-product top-k disagrees with the cosine top-k,
    // then check the norm-augmentation route recovers the MIPS answer.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val center = Array.fill(dim)(0.0)
      val crnd = new scala.util.Random(1000 + i / 10) // 20 clusters of 10
      for (d <- 0 until dim) center(d) = crnd.nextGaussian()
      val mag = 0.5 + 1.5 * ((i * 37) % 100) / 100.0
      val v = center.map(x => ((x + 0.1 * rnd.nextGaussian()) * mag).toFloat)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val k = 5
    val q = asQ(df.filter($"vec_id" < 40))
    val c = asC(df)
    val exact = Similarity.mipsTopK(q, c, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cosine = Similarity.bruteForceTopK(q, c, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact != cosine, "fixture too easy: MIPS and cosine top-k agree")
    // defaults (bits=8/L=12/h≤2) — the sweep that picked them measured
    // 10/8 ⇒ 0.71, 8/8 ⇒ 0.905, 8/12 ⇒ 0.94 on this fixture
    val alsh = Similarity.mipsLshTopK(q, c, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & alsh).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"ALSH recall $recall below 0.9 (|exact|=${exact.size}, |alsh|=${alsh.size})")
  }

  test("topk aggregate keeps ties deterministic (smaller id wins)") {
    val pairs = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.5), (1L, 12L, 0.5), (1L, 13L, 0.9)
    ).toDF("qid", "cid", "sim")
    val top = pairs
      .select(col("qid"), struct(col("sim").as("score"), col("cid").as("id")).as("p"))
      .groupBy("qid")
      .agg(graft.functions.TopKFunctions.topKPairs(col("p"), 3).as("top"))
      .select(explode(col("top")).as("e")).select("e.id").as[Long].collect().toSeq
    assert(top == Seq(13L, 10L, 11L)) // 0.9 first, then tie broken by id
  }

  /** LSH only concentrates genuinely-near neighbors into shared buckets —
    * on clustered vectors (the realistic near-dup/ANN workload) the
    * multi-table hamming-1 probe must recover ≥ 0.9 of the true top-k;
    * uniform-random vectors have no structure to exploit and are not a
    * meaningful recall benchmark.
    */
  test("lshTopK recall >= 0.9 vs bruteForceTopK on clustered vectors") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val center = Array.fill(dim)(0.0)
      val crnd = new scala.util.Random(1000 + i / 10) // 20 clusters of 10
      for (d <- 0 until dim) center(d) = crnd.nextGaussian()
      val v = center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val k = 5
    val q = asQ(df.filter($"vec_id" < 40))
    val c = asC(df)
    val brute = Similarity.bruteForceTopK(q, c, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, c, k, bits = 8, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("ivfTopK recall >= 0.9 vs bruteForceTopK on clustered vectors") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val crnd = new scala.util.Random(2000 + i / 10) // 20 clusters of 10
      val center = Array.fill(dim)(crnd.nextGaussian())
      (i.toLong, center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val k = 5
    val q = asQ(df.filter($"vec_id" < 40))
    val c = asC(df)
    val brute = Similarity.bruteForceTopK(q, c, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, c, k, numCentroids = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9 (|brute|=${brute.size}, |ivf|=${ivf.size})")
  }

  /** ivfTopKSeeded is a pure function of the data — this replays the
    * exact algorithm driver-side (lowest-id centroids, argmax cell
    * assignment with ties to the lower cell, top-nProbe probe cells,
    * in-cell exact ranking) and demands equality, the same argument the
    * DuckDB oracle twin rests on.
    */
  test("ivfTopKSeeded equals a driver-side replay of the deterministic algorithm") {
    val (nc, np, k) = (8, 3, 5)
    val got = Similarity.ivfTopKSeeded(asQ(emb.filter($"vec_id" < 10)), asC(emb), k, nc, np)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    val cents = vecs.take(nc)
    def bestCells(v: Array[Float], n: Int): Seq[Long] =
      cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    val cellOf = vecs.map { case (id, v) => id -> bestCells(v, 1).head }.toMap
    for ((q, qv) <- vecs if q < 10) {
      val probed = bestCells(qv, np).toSet
      val expect = vecs
        .filter { case (c, _) => c != q && probed.contains(cellOf(c)) }
        .map { case (c, cv) => (c, cos(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(k).toSeq
      assert(got(q) == expect, s"query $q")
    }
  }

  test("ivfTopKViaIndex through a parquet round-trip equals the recompute form") {
    // The persisted-index serving path must be output-identical to
    // ivfTopKSeeded: same stored centroids, same stored assignments, no
    // corpus re-assignment at probe time — the argument sim_index_probe's
    // shared oracle rests on.
    val (nc, np, k) = (8, 3, 5)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val (centroids, assignments) = Similarity.ivfIndex(asC(emb), nc)
    centroids.write.mode("overwrite").parquet(root + "/centroids")
    assignments.write.mode("overwrite").parquet(root + "/assignments")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaIndex = key(Similarity.ivfTopKViaIndex(
      spark.read.parquet(root + "/centroids"),
      spark.read.parquet(root + "/assignments"),
      asQ(emb.filter($"vec_id" < 10)), asC(emb), k, np)
      .withColumn("rank", $"rank".cast("int")))
    val recompute = key(Similarity.ivfTopKSeeded(
      asQ(emb.filter($"vec_id" < 10)), asC(emb), k, nc, np)
      .withColumn("rank", $"rank".cast("int")))
    assert(viaIndex == recompute)
    assert(viaIndex.nonEmpty)
  }

  test("rangeSearchLsh recall vs exact rangeSearch on clustered vectors") {
    // Range search returns all neighbors over a cosine threshold; the
    // LSH-pruned path must recover nearly all of them on clustered data
    // (same bucket-concentration argument as lshTopK), with zero false
    // positives by construction (identical exact filter after pruning).
    val rnd = new scala.util.Random(31)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val crnd = new scala.util.Random(4000 + i / 10) // 20 clusters of 10
      val center = Array.fill(dim)(crnd.nextGaussian())
      (i.toLong, center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = asQ(df.filter($"vec_id" < 40))
    val c = asC(df)
    def pairs(d: DataFrame) = d.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.rangeSearch(q, c, threshold = 0.9))
    val lsh = pairs(Similarity.rangeSearchLsh(q, c, threshold = 0.9,
      bits = 8, tables = 4))
    assert(exact.nonEmpty, "threshold yielded an empty truth set")
    assert((lsh -- exact).isEmpty, "LSH range search produced false positives")
    val recall = (exact & lsh).size.toDouble / exact.size
    info(f"range-search truth=${exact.size} recall=$recall%.3f")
    assert(recall >= 0.9, f"range-search LSH recall $recall below 0.9")
  }

  /** PQ quality is data-dependent in a way LSH/IVF are not: those prune
    * candidates but re-rank with EXACT distances, while PQ replaces the
    * distance itself with the quantized approximation — so on
    * structureless noise its recall collapses to slightly-above-chance
    * (measured in ScalingSmokeSpec on the synthetic fixture), but on
    * clustered vectors (the realistic embedding workload: points near a
    * low-dimensional manifold) the codebook captures the structure and
    * recall@k against exact-L2 truth is high. This pins the clustered
    * regime; the scale spec pins the noise floor.
    */
  test("pqTopKSeeded recall vs exact-L2 truth on clustered vectors") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    val rows = (0 until 200).map { i =>
      val crnd = new scala.util.Random(3000 + i / 10) // 20 clusters of 10
      val center = Array.fill(dim)(crnd.nextGaussian())
      (i.toLong, center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val k = 5
    def l2(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0
      for (i <- x.indices) { val d = x(i).toDouble - y(i).toDouble; acc += d * d }
      acc
    }
    val truth = (for ((q, qv) <- rows if q < 40) yield {
      rows.filter(_._1 != q).map { case (c, cv) => (c, l2(qv, cv)) }
        .sortBy { case (c, d) => (d, c) }.take(k).map { case (c, _) => (q, c) }
    }).flatten.toSet
    val pq = Similarity.pqTopKSeeded(asQ(df.filter($"vec_id" < 40)), asC(df),
        k, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & pq).size.toDouble / truth.size
    info(f"clustered PQ recall@$k: $recall%.3f")
    // Direct ADC resolves the CLUSTER but not near-tie siblings inside
    // it (quantization maps them to the same codewords): measured 0.585
    // with the md5-spread codebook (0.505 with lowest-id seeding; 0.69-
    // 0.73 with ksub 32-64 or trained codebooks — the ceiling is the
    // sibling-resolution limit, not codebook quality). Floor 0.45.
    assert(recall >= 0.45, f"PQ recall $recall below floor")
    // The production two-stage fixes exactly that: a 20-deep ADC
    // shortlist contains the true top-5, exact L2 re-ranks. Measured
    // 1.000 at rerank=20 and 50; floor 0.95.
    val rr = Similarity.pqTopKRerank(asQ(df.filter($"vec_id" < 40)), asC(df),
        k, rerank = 20, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rRecall = (truth & rr).size.toDouble / truth.size
    info(f"clustered PQ rerank recall@$k: $rRecall%.3f")
    assert(rRecall >= 0.95, f"PQ rerank recall $rRecall below floor")
    // Trained codebooks (pqIndexTrained) must not be WORSE than the
    // seeded pick on clustered data — the guard that training converges
    // rather than diverges. Measured 0.615 vs 0.585 seeded.
    val tr = Similarity.pqTopKTrained(asQ(df.filter($"vec_id" < 40)), asC(df),
        k, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tRecall = (truth & tr).size.toDouble / truth.size
    info(f"clustered PQ trained recall@$k: $tRecall%.3f")
    assert(tRecall >= recall - 0.05, f"trained PQ ($tRecall) fell below seeded ($recall)")
  }

  /** PQ is a pure function of the data (seeded codebook = slices of the
    * lowest-ksub-id vectors, argmin-L2 encoding with ties to the lower
    * code, ordered ADC sums, dist-asc/cid-asc ranking) — replay it
    * driver-side and demand equality, the argument `sim_topk_pq`'s
    * DuckDB oracle rests on.
    */
  test("pqTopKSeeded equals a driver-side replay of the deterministic algorithm") {
    val (m, ksub, k) = (4, 16, 5)
    val got = Similarity.pqTopKSeeded(asQ(emb.filter($"vec_id" < 10)), asC(emb), k, m, ksub)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val dsub = vecs.head._2.length / m
    // md5-spread seed pick (see Similarity.pqSeedRows): ksub smallest
    // by (md5(id-as-string) hex, id)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val seeds = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(ksub).map(_._2)
    def subDist(v: Array[Float], s: Array[Float], mm: Int): Double = {
      var acc = 0.0
      for (d <- 0 until dsub) {
        val diff = v(mm * dsub + d).toDouble - s(mm * dsub + d).toDouble
        acc += diff * diff
      }
      acc
    }
    def encode(v: Array[Float]): Array[Int] = Array.tabulate(m) { mm =>
      var best = 0; var bd = subDist(v, seeds(0), mm)
      for (kk <- 1 until ksub) {
        val d = subDist(v, seeds(kk), mm)
        if (d < bd) { bd = d; best = kk }
      }
      best
    }
    val codes = vecs.map { case (id, v) => id -> encode(v) }.toMap
    for ((q, qv) <- vecs if q < 10) {
      val expect = vecs.filter(_._1 != q).map { case (c, _) =>
        val cd = codes(c)
        var dist = 0.0
        for (mm <- 0 until m) dist += subDist(qv, seeds(cd(mm)), mm)
        (c, dist)
      }.sortBy { case (c, d) => (d, c) }.take(k).toSeq
      assert(got(q) == expect, s"query $q")
    }
  }

  test("pqTopKViaCodes through a parquet round-trip equals the recompute form") {
    // The persisted-codes serving path (stored quantizer + stored codes,
    // no vector access at probe time) must be output-identical to
    // pqTopKSeeded — the argument sim_index_pq's shared oracle rests on.
    val (m, ksub, k) = (4, 16, 5)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_spec").toString
    val (seeds, codes) = Similarity.pqIndex(asC(emb), m, ksub)
    seeds.write.mode("overwrite").parquet(root + "/seeds")
    codes.write.mode("overwrite").parquet(root + "/codes")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaIndex = key(Similarity.pqTopKViaCodes(
      spark.read.parquet(root + "/seeds"),
      spark.read.parquet(root + "/codes"),
      asQ(emb.filter($"vec_id" < 10)), k, m)
      .withColumn("rank", $"rank".cast("int")))
    val recompute = key(Similarity.pqTopKSeeded(
      asQ(emb.filter($"vec_id" < 10)), asC(emb), k, m, ksub)
      .withColumn("rank", $"rank".cast("int")))
    assert(viaIndex == recompute)
    assert(viaIndex.nonEmpty)
  }

  test("ivfIndexRotate: appended assignments equal a from-scratch rebuild") {
    // Frozen-quantizer rotation: incoming ids sit above the seed range,
    // so the stored centroid set equals the union's seed pick and
    // rotation must be indistinguishable from rebuilding.
    val nc = 8
    val ids = emb.select($"vec_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 4 / 5)
    val existing = asC(emb.filter($"vec_id" < cut))
    val incoming = asC(emb.filter($"vec_id" >= cut))
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val (centroids, assignments) = Similarity.ivfIndex(existing, nc)
    centroids.write.mode("overwrite").parquet(root + "/centroids")
    assignments.write.mode("overwrite").parquet(root + "/assignments")
    Similarity.ivfIndexRotate(
      spark.read.parquet(root + "/centroids"), incoming, root + "/assignments")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rotated = cells(spark.read.parquet(root + "/assignments"))
    val rebuilt = cells(Similarity.ivfIndex(asC(emb), nc)._2)
    assert(rotated == rebuilt)
    assert(rotated.size == ids.length)
  }

  test("ivfReversionOnDrift: keep below threshold (probe ≡ rebuild), re-version above") {
    val nc = 8
    val ids = emb.select($"vec_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 4 / 5)
    // NO-DRIFT branch: incoming ids sit ABOVE the seed range, so the
    // frozen seed pick equals the union's fresh pick — drift share 0,
    // the operator must KEEP version 1, and (because the quantizers are
    // identical) re-routing against v1 must equal a from-scratch rebuild
    val prefix = asC(emb.filter($"vec_id" < cut))
    val (c1, _) = Similarity.ivfIndex(prefix, nc)
    val (vKeep, cKeep, aKeep) =
      Similarity.ivfReversionOnDrift(c1, asC(emb), nc, maxDriftShare = 0.01)
    assert(vKeep == 1)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents(cKeep) == cents(c1), "keep branch must return the stored quantizer")
    assert(cells(aKeep) == cells(Similarity.ivfIndex(asC(emb), nc)._2),
      "keep-branch routing must equal a from-scratch rebuild when drift is 0")
    // DRIFTED branch: freeze the quantizer on the vec_id % 5 != 0 slice —
    // fresh union seeds interleave below the frozen range, cells move
    val (cOld, _) = Similarity.ivfIndex(asC(emb.filter($"vec_id" % 5 =!= 0L)), nc)
    val audit = Similarity.ivfDriftAudit(cOld, asC(emb), nc)
    val share = audit.agg(avg($"cell_changed".cast("double"))).head().getDouble(0)
    assert(share > 0.01, f"fixture produced no drift ($share%.4f) — split choice broken")
    val (vNew, cNew, aNew) =
      Similarity.ivfReversionOnDrift(cOld, asC(emb), nc, maxDriftShare = 0.01)
    assert(vNew == 2)
    assert(cents(cNew) == cents(Similarity.ivfIndex(asC(emb), nc)._1),
      "rebuild branch must return the fresh seed pick")
    // a threshold ABOVE the measured drift keeps the frozen quantizer
    assert(Similarity.ivfReversionOnDrift(cOld, asC(emb), nc,
      maxDriftShare = 1.0)._1 == 1)
    // probe comparability across the version bump: (a) EXHAUSTIVE
    // probes (nProbe = nc) against old and new indexes return the
    // identical exact top-k — re-versioning moves PRUNING structure,
    // never scoring; (b) on the UNCHANGED subset the two versions index
    // every vector identically (the comparable slice the rotation
    // contract promises), checked against actual routing, not the audit
    val queries = asQ(emb.filter($"vec_id" < 20))
    def probes(c: org.apache.spark.sql.DataFrame) = Similarity
      .ivfTopKViaIndex(c, Similarity.routeToCells(c, asC(emb)), queries,
        asC(emb), k = 3, nProbe = nc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probes(cOld) == probes(cNew),
      "exhaustive probes diverged across the version bump")
    val oldRoute = cells(Similarity.routeToCells(cOld, asC(emb)))
    val newRoute = cells(Similarity.routeToCells(cNew, asC(emb)))
    val unchanged = audit.filter(!$"cell_changed")
      .select($"cid").collect().map(_.getLong(0))
    assert(unchanged.nonEmpty)
    unchanged.foreach { id =>
      assert(oldRoute(id) == newRoute(id),
        s"vector $id marked unchanged but routed differently")
    }
  }

  test("pqReversionOnDrift: keep below threshold (encode ≡ rebuild), re-version above") {
    val m = 4
    val ksub = 8
    val ids = emb.select($"vec_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 4 / 5)
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def seeds(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    // NO-DRIFT branch: prefix-stable (spread=false) seeds over a prefix
    // slice equal the union's fresh pick — version 1, and re-encoding
    // under the frozen book must equal a from-scratch rebuild
    val sPrefix = Similarity.pqIndex(asC(emb.filter($"vec_id" < cut)),
      m, ksub, spread = false)._1
    val (vKeep, sKeep, cKeep) =
      Similarity.pqReversionOnDrift(sPrefix, asC(emb), m, maxDriftShare = 0.01)
    assert(vKeep == 1)
    assert(seeds(sKeep) == seeds(sPrefix))
    assert(codes(cKeep) ==
      codes(Similarity.pqIndex(asC(emb), m, ksub, spread = false)._2),
      "keep-branch encode must equal a from-scratch rebuild when drift is 0")
    // DRIFTED branch: freeze on the vec_id % 5 != 0 slice — fresh union
    // seeds interleave below the frozen range. The audit must compare
    // assigned QUANTIZATION VECTORS through the content bijection, not
    // positional code numbers (a renumbered shared seed is NOT drift).
    val sOld = Similarity.pqIndex(asC(emb.filter($"vec_id" % 5 =!= 0L)),
      m, ksub, spread = false)._1
    val audit = Similarity.pqDriftAudit(sOld, asC(emb), m)
    val share = audit.agg(avg($"code_changed".cast("double"))).head().getDouble(0)
    assert(share > 0.01 && share < 1.0,
      f"audit share $share%.4f — either no drift or the positional-" +
        "renumbering bug is back (1.0 means every vector read as changed)")
    // hand replay of one vector's n_sub_changed through the bijection
    val oldSeeds = sOld.orderBy($"code").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toVector).toMap
    val freshSeeds = Similarity.pqIndex(asC(emb), m, ksub, spread = false)._1
      .collect().map(r => r.getSeq[Float](1).toVector -> r.getInt(0)).toMap
    val row = audit.orderBy($"cid").head()
    val oc = row.getSeq[Int](1)
    val nc2 = row.getSeq[Int](2)
    val expectChanged = oc.zip(nc2).count { case (a, b) =>
      freshSeeds.get(oldSeeds(a)) != Some(b)
    }
    assert(row.getLong(3) == expectChanged.toLong)
    val (vNew, sNew, cNew) =
      Similarity.pqReversionOnDrift(sOld, asC(emb), m, maxDriftShare = 0.01)
    assert(vNew == 2)
    assert(seeds(sNew) ==
      seeds(Similarity.pqIndex(asC(emb), m, ksub, spread = false)._1),
      "rebuild branch must return the fresh seed pick")
    assert(codes(cNew) ==
      codes(Similarity.pqIndex(asC(emb), m, ksub, spread = false)._2))
    // a threshold ABOVE the measured drift keeps the frozen book
    assert(Similarity.pqReversionOnDrift(sOld, asC(emb), m,
      maxDriftShare = 1.0)._1 == 1)
    // empty corpus: zero drift by definition, keep version 1 (the
    // ivfReversionOnDrift empty-audit guard, mirrored)
    assert(Similarity.pqReversionOnDrift(sOld,
      asC(emb.filter($"vec_id" < -1L)), m, maxDriftShare = 0.01)._1 == 1)
  }

  test("ANN index rotation under Structured Streaming equals a batch rebuild") {
    // The serving deployment shape: vectors arrive as micro-batches and
    // foreachBatch routes each against the FROZEN quantizers (stored IVF
    // centroids + stored PQ codebook), appending assignments and codes —
    // the same recipe sim_index_rotate / sim_index_pq_rotate prove in
    // batch form. After three streamed batches both persisted index
    // tables must equal a from-scratch rebuild over the union (valid
    // because streamed ids sit above the seed range, so the frozen
    // quantizers equal the union's seed picks).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_annstream")
    val (cents, assigns) = (root.resolve("c").toString, root.resolve("a").toString)
    val (seeds, codes) = (root.resolve("s").toString, root.resolve("k").toString)
    val sq8codes = root.resolve("q").toString
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val cut = rows(rows.length * 2 / 5)._1
    val existing = asC(emb.filter($"vec_id" <= cut))
    val (cDf, aDf) = Similarity.ivfIndex(existing, numCentroids = 8)
    cDf.write.mode("overwrite").parquet(cents)
    aDf.write.mode("overwrite").parquet(assigns)
    val (sDf, kDf) = Similarity.pqIndex(existing, m = 4, ksub = 8, spread = false)
    sDf.write.mode("overwrite").parquet(seeds)
    kDf.write.mode("overwrite").parquet(codes)
    Similarity.sq8Index(existing).write.mode("overwrite").parquet(sq8codes)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    var lastBatch = -1L
    val q = mem.toDF().toDF("cid", "cvec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val b = batch.persist()
        // batchId-keyed rotations: a replayed batch overwrites its own
        // subdir instead of double-appending (foreachBatch's retry
        // contract is at-least-once; the sink must be idempotent)
        Similarity.ivfIndexRotate(spark.read.parquet(cents), b, assigns,
          batchId = Some(id))
        Similarity.pqIndexRotate(spark.read.parquet(seeds), b, codes, m = 4,
          batchId = Some(id))
        Similarity.sq8IndexRotate(b, sq8codes, batchId = Some(id))
        lastBatch = id
        b.unpersist(); ()
      }
      .start()
    val streamed = rows.filter(_._1 > cut)
    val (b1, b2) = (streamed.length / 3, 2 * streamed.length / 3)
    try {
      mem.addData(streamed.take(b1).toSeq); q.processAllAvailable()
      mem.addData(streamed.slice(b1, b2).toSeq); q.processAllAvailable()
      mem.addData(streamed.drop(b2).toSeq); q.processAllAvailable()
    } finally q.stop()
    // simulate an engine RETRY of the final batch: re-running the same
    // batchId must leave the index unchanged (overwrite, not append)
    val replayDf = streamed.drop(b2).toSeq.toDF("cid", "cvec")
    Similarity.ivfIndexRotate(spark.read.parquet(cents), replayDf, assigns,
      batchId = Some(lastBatch))
    Similarity.pqIndexRotate(spark.read.parquet(seeds), replayDf, codes, m = 4,
      batchId = Some(lastBatch))
    Similarity.sq8IndexRotate(replayDf, sq8codes, batchId = Some(lastBatch))
    val rotatedAssign = Similarity.readIndexTable(spark, assigns).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rotatedAssignRows = Similarity.readIndexTable(spark, assigns).count()
    val rebuiltAssign = Similarity.ivfIndex(asC(emb), 8)._2.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rotatedAssign == rebuiltAssign)
    assert(rotatedAssignRows == rows.length.toLong,
      s"replay double-appended: $rotatedAssignRows rows for ${rows.length} vectors")
    val rotatedCodes = Similarity.readIndexTable(spark, codes).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rebuiltCodes = Similarity.pqIndex(asC(emb), 4, 8, spread = false)._2
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rotatedCodes == rebuiltCodes)
    // SQ8 rotation: stateless per-vector encode, so rotated ≡ rebuild
    // holds UNCONDITIONALLY (no seed-stability caveat like IVF/PQ)
    val rotatedSq8 = Similarity.readIndexTable(spark, sq8codes).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Float](2)))).toMap
    val rebuiltSq8 = Similarity.sq8Index(asC(emb)).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Float](2)))).toMap
    assert(rotatedSq8 == rebuiltSq8)
    assert(rotatedAssign.size == rows.length)
  }

  test("ivfKnnJoinSeeded equals a driver-side replay over the whole corpus") {
    val (nc, np, k) = (8, 3, 3)
    val got = Similarity.ivfKnnJoinSeeded(
        emb.select(col("vec_id").as("vid"), col("embedding").as("vec")), k, Some(nc), np)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    val cents = vecs.take(nc)
    def bestCells(v: Array[Float], n: Int): Seq[Long] =
      cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    val cellOf = vecs.map { case (id, v) => id -> bestCells(v, 1).head }.toMap
    for ((q, qv) <- vecs) {
      val probed = bestCells(qv, np).toSet
      val expect = vecs
        .filter { case (c, _) => c != q && probed.contains(cellOf(c)) }
        .map { case (c, cv) => (c, cos(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(k).toSeq
      assert(got.getOrElse(q, Seq.empty) == expect, s"vector $q")
    }
  }

  test("kmeansStepSeeded equals a driver-side fixed-point replay, any partitioning") {
    val (nc, bits) = (4, 20)
    val input = emb.select(col("vec_id").as("vid"), col("embedding").as("vec"))
    def run(df: DataFrame) = Similarity.kmeansStepSeeded(df, nc, bits)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val got = run(input)

    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    val cents = vecs.take(nc)
    val expect = vecs
      .groupBy { case (_, v) =>
        // strict > keeps the first (lowest-cell) max on ties
        cents.map { case (cid, cv) => (cid, cos(v, cv)) }
          .sortBy { case (cid, s) => (-s, cid) }.head._1
      }
      .flatMap { case (cell, members) =>
        val dim = members.head._2.length
        (0 until dim).map { d =>
          val s = members.map { case (_, v) =>
            math.floor(v(d).toDouble * (1L << bits)).toLong }.sum
          (cell, d + 1) -> (members.length.toLong, s,
            s.toDouble / (members.length.toLong * (1L << bits)).toDouble)
        }
      }
    assert(got == expect)
    assert(run(input.repartition(7)) == got)
  }

  test("kmeansTwoStepSeeded keeps cluster mass exact and is partitioning-invariant") {
    val input = emb.select(col("vec_id").as("vid"), col("embedding").as("vec"))
    def run(df: DataFrame) = Similarity.kmeansTwoStepSeeded(df, 4, 20).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val got = run(input)
    // every vector lands in exactly one cell: per-dim member counts sum
    // to the corpus size
    assert(got.filter(_._1._2 == 1).values.map(_._1).sum == emb.count())
    // iteration 2 must differ from iteration 1 somewhere on this fixture
    // (otherwise the test would pass with a two-step that ignores round 1)
    val one = Similarity.kmeansStepSeeded(input, 4, 20).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(one != got)
    assert(run(input.repartition(7)) == got)
  }

  test("lshTopK explain has no cartesian/broadcast-nested-loop join") {
    val q = asQ(emb.filter($"vec_id" < 5))
    val plan = Similarity.lshTopK(q, asC(emb), 5, bits = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("topk plans contain no Window operator (bounded aggregate instead)") {
    val plan = Similarity.bruteForceTopK(asQ(emb.filter($"vec_id" < 5)), asC(emb), 5)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  /** Driver replay of the MMR greedy over (id, vector) rows: the pool is
    * each query's top-poolK by (rel desc, id asc), then picks maximize
    * λ·rel − (1−λ)·maxSim. Doubles compare as Spark's SQL ordering does
    * (`SQLOrderingUtil.compareDoubles`: 0.0 = −0.0, NaN largest), ties to
    * the lower id. Returns qid → [(cid, rel)] in pick order.
    */
  private def mmrReplay(vecs: Seq[(Long, Array[Float])], qids: Seq[Long],
      poolK: Int, selectK: Int, lambda: Double): Map[Long, Seq[(Long, Double)]] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    // (score desc, id asc) as one total order
    val byScore: Ordering[(Long, Double)] = (a, b) => {
      val c = compareDoubles(b._2, a._2); if (c != 0) c else a._1.compare(b._1)
    }
    val byId = vecs.toMap
    qids.map { q =>
      val pool = vecs.filter(_._1 != q).map { case (c, cv) => (c, cos(byId(q), cv)) }
        .sorted(byScore).take(poolK)
      val rel = pool.toMap
      val selected = scala.collection.mutable.ArrayBuffer(pool.head._1)
      while (selected.size < math.min(selectK, pool.size)) {
        selected += pool.filterNot(p => selected.contains(p._1))
          .map { case (c, r) =>
            val maxSim = selected.map(s => cos(byId(c), byId(s)))
              .reduce((a, b) => if (compareDoubles(b, a) > 0) b else a)
            (c, lambda * r - (1.0 - lambda) * maxSim)
          }
          .min(byScore)._1
      }
      q -> selected.map(c => (c, rel(c))).toSeq
    }.toMap
  }

  private def mmrGot(df: DataFrame, qids: Seq[Long], poolK: Int, selectK: Int,
      lambda: Double): Map[Long, Seq[(Long, Double)]] = {
    val rows = Similarity.mmrRerank(asQ(df.filter($"vec_id".isin(qids: _*))), asC(df),
      poolK, selectK, lambda).collect()
    // rows come sorted by (query_id, rank) and ranks are 1..n per query
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        .flatMap { case (q, rs) => rs.indices.map(i => (q, i + 1)) })
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(2), r.getDouble(3))).toSeq }
  }

  test("mmrRerank equals the driver greedy replay (pool, pairwise sims, unrolled picks)") {
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val qids = vecs.map(_._1).filter(_ < 10)
    assert(mmrGot(emb, qids, 8, 4, 0.75) == mmrReplay(vecs, qids, 8, 4, 0.75))

    def check(rows: Seq[(Long, Seq[Float])], qids: Seq[Long], poolK: Int, selectK: Int,
        lambda: Double): Map[Long, Seq[(Long, Double)]] = {
      val got = mmrGot(rows.toDF("vec_id", "embedding"), qids, poolK, selectK, lambda)
      assert(got == mmrReplay(rows.map { case (i, v) => (i, v.toArray) }, qids,
        poolK, selectK, lambda))
      got
    }
    // exact ties: 11/12 and 13/14 share vectors and all four have the same
    // rel, so steps 1-3 each face an exact tie and take the lower id
    val dups = check(Seq(0L -> Seq(1f, 0f, 0f), 12L -> Seq(1f, 1f, 0f),
      11L -> Seq(1f, 1f, 0f), 14L -> Seq(1f, 0f, 1f), 13L -> Seq(1f, 0f, 1f),
      15L -> Seq(0f, 1f, 1f)), Seq(0L), 6, 5, 0.75)
    assert(dups(0L).map(_._1) == Seq(11L, 13L, 12L, 14L, 15L), dups)
    // 0.0 vs −0.0: with λ = 0, 0·rel − 1·maxSim is −0.0 for id 1 (rel < 0)
    // and 0.0 for id 2 (rel > 0), both orthogonal to the first pick 3.
    // SQL ordering ties them, so the lower id wins; java.lang.Double.compare
    // would have picked 2.
    val signed = check(Seq(0L -> Seq(1f, 0f, 2f), 3L -> Seq(0f, 0f, 1f),
      2L -> Seq(1f, 0f, 0f), 1L -> Seq(-1f, 0f, 0f)), Seq(0L), 3, 3, 0.0)
    assert(signed(0L).map(_._1) == Seq(3L, 1L, 2L), signed)
    // a pool smaller than selectK: every pool member, ranked
    val few = check(Seq(0L -> Seq(1f, 0f, 0f), 1L -> Seq(1f, 1f, 0f),
      2L -> Seq(0f, 1f, 0f), 3L -> Seq(1f, 0f, 1f), 9L -> Seq(0f, 0f, 1f)),
      Seq(0L, 9L), 8, 6, 0.75)
    assert(few.values.map(_.size).toSet == Set(4), few)
  }
}
