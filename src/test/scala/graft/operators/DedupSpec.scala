package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Dedup operators against planted duplicates with hand-computed overlap. */
class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // Planted corpus: 1↔2 exact dup (modulo case/whitespace), 3↔4 near-dup
  // (one word changed), 5 unrelated, 6↔7 near-dup with different sizes.
  private def corpus: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "  The quick brown fox jumps over the lazy dog and runs far away home "),
    (3L, "pack my box with five dozen liquor jugs before the long trip starts now"),
    (4L, "pack my box with five dozen liquor jugs before the long trip ends now"),
    (5L, "completely different text about spark query engines and distributed systems"),
    (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
    (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi")
  ).toDF("doc_id", "text")

  test("exactGroups groups case/whitespace-normalized duplicates") {
    val groups = Dedup.exactGroups(corpus, "doc_id", "text").collect()
    assert(groups.length == 6) // 7 docs, one pair merged
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("canonical_id") == 1L)
  }

  /** Hand math for 3↔4: 14-token texts, 12 shingles each (3-grams); the
    * changed 13th word "starts"→"ends" appears in the last 2 windows →
    * 10 shared shingles, 14 distinct → j = 10/14.
    */
  test("ngramJaccardPairs finds near-dups with exact hand-computed jaccard") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((3L, 4L)) && math.abs(pairs((3L, 4L)) - 10.0 / 14.0) < 1e-12)
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  /** ADVICE round-1 regression: one-sided blocking missed pairs whose
    * lower-id doc was in the HIGHER size bucket. 6↔7: doc 6 has 14 tokens
    * (12 shingles), doc 7 has 16 (14 shingles), 12 shared → j = 12/14 ≈
    * 0.857 ≥ 0.8, while sizes straddle a bucket boundary for base ≈ 1.3.
    */
  // Round-1 ADVICE regression (one-sided size blocking lost pairs like
  // 6↔7 where the lower-id doc sat in the higher size bucket) — kept as a
  // general exactness guard: prefix-filtered candidates must reproduce
  // the brute-force pair set at every threshold.
  test("ngramJaccardPairs candidate filter is lossless vs brute force") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((6L, 7L)))
    // exhaustive check against a brute-force pass at several thresholds
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val blocked = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = bruteJaccardPairs(t)
      assert(blocked == brute, s"threshold $t: blocked=$blocked brute=$brute")
    }
  }

  private def bruteJaccardPairs(t: Double): Set[(Long, Long)] = {
    def sh(s: String): Set[String] = {
      val toks = s.trim.toLowerCase.split("\\s+").toSeq
      (0 to math.max(toks.size - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val docs = corpus.collect().map(r => r.getLong(0) -> sh(r.getString(1)))
    (for {
      (ia, sa) <- docs; (ib, sb) <- docs if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= t
    } yield (ia, ib)).toSet
  }

  test("containmentPairs detects directed near-supersets, lossless vs brute force") {
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 6 is a verbatim prefix of doc 7: containment(6→7) = 1.0 while
    // jaccard is only 12/14 ≈ 0.857 — the directed case symmetric dedup
    // under-scores; the reverse direction (7→6 = 12/14) must NOT appear
    // at threshold 0.9
    assert(pairs((6L, 7L)) == 1.0)
    assert(!pairs.contains((7L, 6L)))
    // exhaustive losslessness vs a brute-force directed pass
    for (t <- Seq(0.3, 0.5, 0.8, 0.9)) {
      val blocked = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = bruteContainmentPairs(t)
      assert(blocked == brute, s"threshold $t: blocked=$blocked brute=$brute")
    }
  }

  private def bruteContainmentPairs(t: Double): Set[(Long, Long)] = {
    def sh(s: String): Set[String] = {
      val toks = s.trim.toLowerCase.split("\\s+").toSeq
      (0 to math.max(toks.size - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val docs = corpus.collect().map(r => r.getLong(0) -> sh(r.getString(1)))
    (for {
      (ia, sa) <- docs; (ib, sb) <- docs if ia != ib
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= t
    } yield (ia, ib)).toSet
  }

  test("minhashLshPairs recalls all planted near-dups and verifies exactly") {
    val mh = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // verify step makes every reported jaccard exact → subset of brute
    val brute = bruteJaccardPairs(0.5)
    assert(mh.keySet.subsetOf(brute))
    // and the planted pairs (j = 1.0, 0.857, 0.538 — all with detection
    // prob ≈ 1 at b=16,r=4) are present with exact values
    assert(mh((1L, 2L)) == 1.0)
    assert(math.abs(mh((3L, 4L)) - 10.0 / 14.0) < 1e-12)
    assert(mh.contains((6L, 7L)))
  }

  test("b-bit minhash equals the full-width pair set (truncation only adds candidates)") {
    // The b-bit form may admit MORE candidates (low-b slot collisions)
    // but never fewer, and the exact verify filters the extras — so the
    // OUTPUT pair relation must be identical pair-for-pair, values too.
    val full = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (bits <- Seq(0, 1, 4, 8)) { // 0 = the auto-sized registered path
      val bbit = Dedup.minhashLshPairsBbit(corpus, "doc_id", "text",
          threshold = 0.5, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(bbit == full, s"b=$bits diverged from full-width")
    }
  }

  test("minhashLshPairsAgainst equals the symmetric pairs restricted to cross-side") {
    // asymmetric ingest-shape dedup must find exactly the near-dup pairs
    // that cross the existing/incoming boundary — no same-side pairs, no
    // misses vs the symmetric operator
    val existing = corpus.filter(col("doc_id") % 2 === 0)
    val incoming = corpus.filter(col("doc_id") % 2 === 1)
    val asym = Dedup.minhashLshPairsAgainst(existing, incoming,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sym = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val crossOnly = sym.collect {
      case ((a, b), j) if a % 2 == 0 && b % 2 == 1 => (a, b) -> j
      case ((a, b), j) if a % 2 == 1 && b % 2 == 0 => (b, a) -> j
    }
    assert(asym == crossOnly, s"asym=$asym cross=$crossOnly")
    assert(asym.keys.forall { case (a, b) => a % 2 == 0 && b % 2 == 1 })
  }

  test("minhashPairsViaIndex through a parquet round-trip equals the recompute form") {
    // The persisted signature index is the production ingest path: band
    // keys sliced from STORED signatures must land on exactly the pairs
    // the recompute-everything operator finds — a banding-definition
    // drift between index write and probe would silently miss here.
    val existing = corpus.filter(col("doc_id") % 2 === 0)
    val incoming = corpus.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx_spec")
      .resolve("idx").toString
    Dedup.minhashIndex(existing, "doc_id", "text")
      .write.mode("overwrite").parquet(idx)
    val viaIndex = Dedup.minhashPairsViaIndex(
        spark.read.parquet(idx), existing, incoming,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recompute = Dedup.minhashLshPairsAgainst(existing, incoming,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaIndex == recompute, s"viaIndex=$viaIndex recompute=$recompute")
    assert(viaIndex.nonEmpty) // fixture plants cross-side near-dups
  }

  test("rotateIndex: appended index is row-identical to a from-scratch rebuild") {
    // The ingest-loop close: after probing batch t, its signatures are
    // appended (parquet file-add) so batch t+1 probes a complete index.
    // Rotation must be indistinguishable from rebuilding over the union.
    val existing = corpus.filter(col("doc_id") % 2 === 0)
    val incoming = corpus.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx_spec")
      .resolve("rot").toString
    Dedup.minhashIndex(existing, "doc_id", "text")
      .write.mode("overwrite").parquet(idx)
    Dedup.rotateIndex(incoming, "doc_id", "text", idx)
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rotated = sigs(spark.read.parquet(idx))
    val rebuilt = sigs(Dedup.minhashIndex(corpus, "doc_id", "text"))
    assert(rotated == rebuilt)
    assert(rotated.size == corpus.count())
  }

  test("compactIndex collapses rotation file sets and preserves content") {
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx_spec")
      .resolve("cmp").toString
    Dedup.minhashIndex(corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      .write.mode("overwrite").parquet(idx)
    Dedup.rotateIndex(corpus.filter(col("doc_id") % 3 === 1), "doc_id", "text", idx)
    Dedup.rotateIndex(corpus.filter(col("doc_id") % 3 === 2), "doc_id", "text", idx)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val before = parquetFiles(idx)
    val dest = idx + "_c"
    Dedup.compactIndex(spark.read.parquet(idx), dest, numFiles = 1)
    assert(before >= 3, s"expected >=3 rotation file sets, got $before")
    assert(parquetFiles(dest) == 1)
    def sigs(p: String) = spark.read.parquet(p).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(dest) == sigs(idx))
  }

  test("ingest loop under Structured Streaming equals the batch pair set") {
    // The production deployment shape: docs arrive as micro-batches, and
    // foreachBatch runs the same ingestStep recipe (within-batch LSH +
    // index probe + rotation) the batch query dedup_ingest_loop runs.
    // Streaming and batch must find the IDENTICAL pair set — including
    // no duplicates, which pins that each probe saw only the
    // pre-rotation index snapshot under the streaming engine too.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_spec")
    val idx = root.resolve("idx").toString
    val rows = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = rows.last._1
    val (b1, b2) = (maxId / 3, 2L * maxId / 3)
    Dedup.minhashIndex(corpus.limit(0), "doc_id", "text")
      .write.mode("overwrite").parquet(idx)
    val seen = scala.collection.mutable.Map[Long, org.apache.spark.sql.DataFrame]()
    val found = scala.collection.mutable.Set[(Long, Long, Double)]()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val b = batch.persist() // re-read across the probe's two passes
        val existing = seen.values.reduceOption(_ unionByName _)
          .getOrElse(corpus.limit(0).select(col("doc_id"), col("text")))
        found ++= Dedup.ingestStep(idx, existing, b, "doc_id", "text", threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        seen(id) = spark.createDataFrame(
          spark.sparkContext.parallelize(b.collect().toSeq), b.schema)
        b.unpersist(); ()
      }
      .start()
    try {
      mem.addData(rows.filter(_._1 <= b1).toSeq); q.processAllAvailable()
      mem.addData(rows.filter(r => r._1 > b1 && r._1 <= b2).toSeq); q.processAllAvailable()
      mem.addData(rows.filter(_._1 > b2).toSeq); q.processAllAvailable()
    } finally q.stop()
    val batchPairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(found.toSet == batchPairs)
    assert(found.nonEmpty)
  }

  test("ingest loop unioned into ONE plan equals the batch pair set (snapshot regression)") {
    // Regression for the same-path snapshot conflation the r11 review
    // caught: with dir-based reads, two index scans at different epochs
    // canonicalize equal and exchange reuse serves the wrong epoch —
    // but ONLY when the steps execute inside one unioned plan (separate
    // collects, as the streaming test does, mask it). This pins the
    // exact QueryDef shape: build all three steps eagerly, union, ONE
    // execution.
    val idx = java.nio.file.Files.createTempDirectory("graft_ingest_spec")
      .resolve("uidx").toString
    val maxId = corpus.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head.getLong(0)
    val (b1, b2) = (maxId / 3, 2L * maxId / 3)
    val batches = Seq(
      corpus.filter(col("doc_id") <= b1),
      corpus.filter(col("doc_id") > b1 && col("doc_id") <= b2),
      corpus.filter(col("doc_id") > b2))
    val earlier = Seq(
      corpus.limit(0), batches(0), corpus.filter(col("doc_id") <= b2))
    Dedup.minhashIndex(corpus.limit(0), "doc_id", "text")
      .write.mode("overwrite").parquet(idx)
    val unioned = batches.zip(earlier)
      .map { case (b, ex) =>
        Dedup.ingestStep(idx, ex, b, "doc_id", "text", threshold = 0.5) }
      .reduce(_ unionByName _)
    val got = unioned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("minhashPairsViaIndex fails fast on an index with mismatched LSH geometry") {
    // A stored signature shorter than bands*rowsPerBand would slice
    // short/empty band keys and silently MISS pairs; the in-plan guard
    // must turn that into a job failure instead.
    val existing = corpus.filter(col("doc_id") % 2 === 0)
    val incoming = corpus.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx_spec")
      .resolve("badgeom").toString
    Dedup.minhashIndex(existing, "doc_id", "text", numHashes = 32) // probe expects 64
      .write.mode("overwrite").parquet(idx)
    val e = intercept[Exception] {
      Dedup.minhashPairsViaIndex(spark.read.parquet(idx), existing, incoming,
        "doc_id", "text", threshold = 0.5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("geometry mismatch")), e.toString)
  }

  test("simhashPairs honors the 4-band hamming<=3 guarantee") {
    import graft.functions.TextHashFunctions
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    // all-pairs hamming distances, brute force
    val hashes = corpus
      .select(col("doc_id"), TextHashFunctions.simhash64(tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected) // banding loses nothing at distance <= 3
    assert(got.contains((1L, 2L))) // identical normalized text → distance 0
  }

  test("simhashPairs md5 variant equals brute force (the oracle's exactness premise)") {
    import graft.functions.TextHashFunctions
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val hashes = corpus
      .select(col("doc_id"), TextHashFunctions.simhash64Md5(tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxDistance = 3, md5TokenHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // the md5 kernel itself: low 64 bits of the hex digest, big-endian
    val one = graft.functions.TextKernels.md5Low64(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello"))
    // md5('hello') = 5d41402abc4b2a76 b9719d911017c592 → low half b971…c592
    assert(one == java.lang.Long.parseUnsignedLong("b9719d911017c592", 16))
  }

  test("spanDedupStats keeps corpus-wide first occurrences of 4-word spans") {
    val docs = Seq(
      (1L, "a b c d e f g h"), // both spans first occurrences → not reported
      (2L, "a b c d x y z w"), // span 0 duplicates doc 1's span 0
      (3L, "q r s t"), // unique single span → not reported
      (4L, "a b c d e f g h") // both spans duplicate doc 1's
    ).toDF("doc_id", "text")
    def run(df: DataFrame) = Dedup.spanDedupStats(df, "doc_id", "text", spanWords = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = run(docs)
    assert(got == Set((2L, 2L, 1L, 1L), (4L, 2L, 0L, 2L)), got)
    // first-occurrence winners are a pure function of (id, span_idx) —
    // partitioning must not change the report
    assert(run(docs.repartition(7)) == got)
  }

  /** Exact-substring dedup vs an independent brute-force replay of the
    * Lee et al. rule (window TEXT as the grouping key — the operator
    * groups on the rolling hash, so parity also witnesses that the
    * kernel's incremental hashes collide exactly when window text is
    * equal): first occurrence by (doc id, window start) wins, every
    * later occurrence (cross-doc AND within-doc) marks its k tokens,
    * a token is removed iff any marked window covers it.
    */
  test("exactSubstringDedup matches brute force, any partitioning") {
    val k = 3
    val raw = Seq(
      (1L, "a b c d e f g"), // all windows first occurrences
      (2L, "x y a b c d z"), // "a b c"/"b c d" duplicate doc 1 → drop a..d
      (3L, "a b c a b c a b c"), // within-doc repeats + cross-doc dup
      (4L, "p q"), // shorter than k → no windows, untouched
      (5L, "entirely fresh words here")
    )
    val docs = raw.toDF("doc_id", "text")

    // brute force on window text
    val toks = raw.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+") }
    val occ = for {
      (id, ts) <- toks
      i <- 0 to ts.length - k
    } yield (ts.slice(i, i + k).mkString(" "), id, i)
    val firstOf = occ.groupBy(_._1).map { case (key, os) =>
      key -> os.map(o => (o._2, o._3)).min
    }
    val marked = occ.filter(o => firstOf(o._1) != ((o._2, o._3)))
      .map(o => (o._2, o._3))
    val expected = toks.map { case (id, ts) =>
      val ms = marked.collect { case (d, p) if d == id => p }
      val removed = (0 until ts.length)
        .filter(t => ms.exists(s => s <= t && t < s + k))
      val rebuilt = ts.zipWithIndex.collect {
        case (w, i) if !removed.contains(i) => w
      }.mkString(" ")
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(rebuilt.getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> ((ts.length.toLong, ms.size.toLong, removed.size.toLong,
        rebuilt.length.toLong, fp))
    }.toMap

    def run(df: DataFrame) =
      Dedup.exactSubstringDedup(df, "doc_id", "text", windowTokens = k)
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
            r.getAs[Long]("n_removed"), r.getAs[Long]("dedup_chars"),
            r.getAs[String]("dedup_fp")))).toMap
    val got = run(docs)
    assert(got == expected, s"got=$got expected=$expected")
    // first-occurrence winners are a pure function of (id, pos) —
    // partitioning must not change the report
    assert(run(docs.repartition(7)) == got)
  }

  test("applySpanDedup rebuilds docs from kept spans, any partitioning") {
    // sw=2 over docs 1/2: identical normalized text → doc 1 keeps all 7
    // spans, doc 2 keeps none (every span first occurred in doc 1) and
    // rebuilds to "" (the pinned empty-rebuild rule).
    def run(df: DataFrame) = Dedup.applySpanDedup(df, "doc_id", "text", spanWords = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val got = run(corpus)
    assert(got(1L)._1 == 7L && got(1L)._2 == 7L)
    assert(got(2L) == (7L, 0L, 0L,
      // md5("") — the deterministic empty-rebuild fingerprint
      "d41d8cd98f00b204e9800998ecf8427e"))
    // doc 5 shares nothing → rebuilt text is its normalized self
    assert(got(5L)._2 == got(5L)._1 && got(5L)._3 > 0L)
    // doc 7 loses its 7 leading spans to doc 6, keeps the 8th ("omicron pi")
    assert(got(7L)._1 == 8L && got(7L)._2 == 1L && got(7L)._3 == "omicron pi".length.toLong)
    assert(run(corpus.repartition(7)) == got)
  }

  test("boilerplateSpanStats flags spans in >= minDocs distinct docs, everywhere") {
    val docs = Seq(
      (1L, "a b c d"), // "a b" + "c d"
      (2L, "a b x y"), // "a b" + "x y"
      (3L, "a b z w"), // "a b" + "z w"
      (4L, "p q r s"), // no frequent span → not reported
      (5L, "a b a b") // frequent span twice; df counts DISTINCT docs
    ).toDF("doc_id", "text")
    def run(df: DataFrame) = Dedup.boilerplateSpanStats(
        df, "doc_id", "text", spanWords = 2, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run(docs)
    // "a b" appears in 4 distinct docs → boilerplate; flagged in EVERY
    // doc (including the first), twice in doc 5
    assert(got == Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L), (5L, 2L, 2L)), got)
    assert(run(docs.repartition(7)) == got)
  }

  test("curatedDocs fuses first-occurrence dedup with boilerplate strip") {
    val docs = Seq(
      (1L, "s1", "a b c d"), // "a b"(boiler) + "c d"(first occurrence)
      (2L, "s1", "a b x y"), // "a b"(boiler) + "x y"(unique)
      (3L, "s2", "a b z w"), // "a b"(boiler) + "z w"(unique)
      (4L, "s2", "c d c d"), // both spans lost to doc 1's first "c d"
      (5L, "s2", "m n") // unique single span
    ).toDF("doc_id", "source", "text")
    def run(df: DataFrame) = Dedup.curatedDocs(
        df, "doc_id", "text", "source", spanWords = 2, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val got = run(docs)
    // "a b" hits df=3 >= minDocs → stripped EVERYWHERE (even doc 1);
    // "c d" df=2 → first occurrence (doc 1) survives, doc 4's copies
    // don't; doc 4 keeps nothing → dropped from the output entirely
    assert(got == Map(
      (1L, "s1") -> (2L, 1L, "c d"), (2L, "s1") -> (2L, 1L, "x y"),
      (3L, "s2") -> (2L, 1L, "z w"), (5L, "s2") -> (1L, 1L, "m n")), got)
    assert(run(docs.repartition(7)) == got)
  }

  test("dropExactDuplicates keeps the canonical (min-id) doc per group") {
    val kept = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L, 7L)) // doc 2 is the dup of 1
  }

  test("duplicateClusters finds connected components with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component {1,2,3,7} → 1; component {5,6} → 5
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicateClusters converges on a chain (diameter > 1)") {
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet == Set(1L))
    assert(clusters.keySet == (1L to 9L).toSet)
  }

  test("duplicateClusters star loop (local finish disabled) agrees with the union-find path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L), (9L, 9L)) ++
      (10L to 18L).sliding(2).map(s => (s(0), s(1))).toSeq
    val df = pairs.toDF("doc_a", "doc_b")
    val viaLoop = Dedup.duplicateClusters(df, localFinishEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = Dedup.duplicateClusters(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop == viaLocal)
    assert(viaLoop((18L)) == 10L) // chain labeled by its min
  }

  /** ADVICE round-5/6: the at-scale path is a HANDOFF — some star rounds
    * contract the edge set, THEN the union-find finishes over the partially
    * contracted edges. Force it with localFinishEdges strictly between 1 and
    * the initial edge count, so at least one star round runs before the
    * local finish, and assert label equality with the pure star loop.
    */
  test("duplicateClusters mid-contraction handoff agrees with the pure star loop") {
    // 50-node chain (49 edges) + a separate triangle + an isolated pair:
    // deep component exercises multi-round contraction before the handoff
    val pairs = (1L to 50L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val df = pairs.toDF("doc_a", "doc_b")
    val viaLoop = Dedup.duplicateClusters(df, localFinishEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 53 initial edges; thresholds force 1+ star rounds then the union-find
    for (threshold <- Seq(2L, 10L, 40L)) {
      val viaHandoff = Dedup.duplicateClusters(df, localFinishEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaHandoff == viaLoop, s"handoff at localFinishEdges=$threshold")
    }
    assert(viaLoop(50L) == 1L && viaLoop(102L) == 100L && viaLoop(201L) == 200L)
  }

  test("embedding near-dup: LSH path result ⊆ exact path, full recall here") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // near 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.98f, 0.15f, 0.0f)), // near 3
      (5L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L), (3L, 4L)))
    val lsh = Dedup.embeddingNearDupPairsLsh(vecs, "vec_id", "embedding", 0.9,
      bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh == exact) // hamming-1 probing recovers both planted pairs
  }

  test("semDedupCells: cells partition the corpus; pair counts equal the in-cell brute join") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val report = Dedup.semDedupCells(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 16).collect()
    assert(report.map(_.getLong(1)).sum == emb.count(), "members partition corpus")
    report.foreach { r =>
      val (members, pairs, removed, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(removed <= pairs && removed < members)
      assert(kept == members - removed && kept >= 1)
    }
    // replay: within-cell brute pairs (exact path restricted to the cell)
    // must match the reported per-cell pair counts exactly
    val (_, assign) = Similarity.ivfIndex(
      emb.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 16)
    val cellOf = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brutePairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
      .groupBy { case (a, _) => cellOf(a) }.view.mapValues(_.length.toLong).toMap
    report.foreach { r =>
      assert(r.getLong(2) == brutePairs.getOrElse(r.getLong(0), 0L),
        s"cell ${r.getLong(0)} pair count")
    }
  }

  test("semDedupCellsTwoLevel: partition + report invariants hold and the quantizer is genuinely two-tier") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val index = Similarity.buildCellIndexTwoLevel(cand, coarseCells = 4, subCells = 4)
    assert(index.sub.isDefined)
    // routing is total and single-valued: every vector gets exactly one cell
    val assign = index.route(cand).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(assign.length == emb.count() && assign.map(_._1).distinct.length == assign.length)
    // every cell id is a sub-centroid's member vec id (no fallback cells
    // when routing the build corpus itself), and ≤ 16 cells exist
    val subIds = index.sub.get.collect().map(_.getLong(1)).toSet
    assert(assign.map(_._2).toSet.subsetOf(subIds))
    assert(assign.map(_._2).distinct.length <= 16)
    // the report over the two-level routing preserves the semdedup
    // invariants: members partition the corpus, kept = members − removed
    val report = Dedup.semDedupCellsTwoLevel(emb, "vec_id", "embedding",
      threshold = 0.4, coarseCells = 4, subCells = 4).collect()
    assert(report.map(_.getLong(1)).sum == emb.count())
    report.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) - r.getLong(3) && r.getLong(4) >= 1)
    }
  }

  test("semDedupProbe prebuilt-index overload equals the convenience form (and never re-routes the corpus)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val stored = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val batch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val convenience = Dedup.semDedupProbe(stored, batch, threshold = 0.4, numCells = 16)
      .collect().map(_.toString).sorted.toSeq
    // serving shape: build once, persist (localCheckpoint stands in for
    // the parquet round-trip), probe with the frozen artifacts
    val index = Similarity.buildCellIndex(stored, 16)
    val storedAssign = index.route(stored).localCheckpoint(true)
    val viaIndex = Dedup.semDedupProbe(index, storedAssign, stored, batch, threshold = 0.4)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex == convenience)
  }

  test("semDedupProbe: admit decisions match the brute same-cell replay") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val stored = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val batch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val got = Dedup.semDedupProbe(stored, batch, threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getBoolean(4))).toMap
    assert(got.size == batch.count())
    // driver replay: frozen routing over stored centroids, candidates =
    // same-cell stored + smaller-id same-cell batch, cosine >= t
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { val a = x(i).toDouble; val b = y(i).toDouble; d += a*b; nx += a*a; ny += b*b }
      val den = math.sqrt(nx) * math.sqrt(ny); if (den == 0) 0 else d / den
    }
    val storedIds = vecs.keys.filter(_ % 4 != 0).toSeq.sorted
    val batchIds = vecs.keys.filter(_ % 4 == 0).toSeq.sorted
    val nCells = math.min(4096L, math.max(64L,
      math.sqrt(storedIds.size.toDouble).toLong)).toInt
    val cents = storedIds.take(nCells)
    def route(id: Long): Long =
      cents.map(c => (c, cos(vecs(id), vecs(c))))
        .maxBy { case (c, s) => (s, -c) }._1
    val storedCell = storedIds.map(id => id -> route(id)).toMap
    val batchCell = batchIds.map(id => id -> route(id)).toMap
    batchIds.foreach { id =>
      val cands = storedIds.filter(s => storedCell(s) == batchCell(id)) ++
        batchIds.filter(b => b < id && batchCell(b) == batchCell(id))
      val hits = cands.map(c => (c, cos(vecs(id), vecs(c))))
        .filter(_._2 >= 0.4)
      val (n, best, adm) = got(id)
      assert(n == hits.size.toLong, s"vec $id match count")
      assert(adm == hits.isEmpty, s"vec $id admit")
      if (hits.nonEmpty)
        assert(best == hits.maxBy { case (c, s) => (s, -c) }._1, s"vec $id best")
    }
  }

  test("semDedupProbe under Structured Streaming equals the one-shot batch admission") {
    // The serving contract: micro-batches arriving in id order, each
    // probed against (initial index + everything seen so far), must
    // produce the SAME per-vector decisions as one probe over the whole
    // incoming set — because "all earlier batches" and "smaller-id
    // batchmates" coincide under id-ordered arrival, and the quantizer
    // stays frozen (incoming ids sit above the stored seed range, the
    // sim_index_rotate precedent).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def asCand(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val stored0 = asCand(emb.filter(col("vec_id") < 300))
    val incoming = emb.filter(col("vec_id") >= 300)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val oneShot = Dedup.semDedupProbe(stored0, asCand(emb.filter(col("vec_id") >= 300)),
        threshold = 0.4, numCells = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getBoolean(4))).toMap
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float])]
    val decisions = scala.collection.mutable.Map.empty[Long, (Long, Long, Boolean)]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
        val storedNow = stored0.unionByName(
          spark.createDataFrame(seen.toSeq).toDF("cid", "cvec")
            .withColumn("cvec", col("cvec").cast("array<float>")))
        val b = spark.createDataFrame(rows.toSeq).toDF("cid", "cvec")
          .withColumn("cvec", col("cvec").cast("array<float>"))
        decisions ++= Dedup.semDedupProbe(storedNow, b,
            threshold = 0.4, numCells = 16)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
              r.getBoolean(4)))
        seen ++= rows; ()
      }
      .start()
    try {
      mem.addData(incoming.filter(_._1 < 400).toSeq); q.processAllAvailable()
      mem.addData(incoming.filter(_._1 >= 400).toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(decisions.toMap == oneShot)
    assert(decisions.nonEmpty && decisions.values.exists(!_._3))
  }
}
