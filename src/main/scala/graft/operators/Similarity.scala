package graft.operators

import scala.collection.mutable.ArrayBuffer

import graft.Bounded
import graft.functions.{FixedPointKernel, IvfRouter, MmrKernel, TopKFunctions, VectorFunctions}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star similarity-search operators).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *    score every candidate with the codegen'd [[graft.functions.CosineSimilarity]]
  *    expression (one scan over candidates), rank per query.
  *  - [[lshTopK]]: scale path — random-hyperplane signatures bucket both
  *    sides; only same-bucket pairs are scored, turning the cross product
  *    into an equi join. The *query* side is multi-probed: each query is
  *    emitted into its own bucket plus every bucket at hamming distance 1
  *    (bits+1 probes), recovering most of the recall lost to boundary
  *    effects without touching the (large) candidate side.
  *
  * Both paths rank with [[graft.functions.TopKPairs]] — a bounded-heap
  * aggregate whose partial states are k-sized — instead of a global
  * `row_number()` window, so no plan ever shuffles the full scored pair
  * set: per partition, at most k rows per query survive the map side.
  */
object Similarity {

  /** (query_id, neighbor_id, sim, rank) from a (qid, scored-pair) relation. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    scored
      .select(col("qid"),
        struct(col("sim").as("score"), col("cid").cast("long").as("id")).as("p"))
      .groupBy(col("qid"))
      .agg(TopKFunctions.topKPairs(col("p"), k).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("sim"), (col("pos") + 1).as("rank"))
  }

  /** Exact top-k neighbors per query vector. Queries must be small enough
    * to broadcast (at 100 TB you batch the query set). Ties break on
    * neighbor id.
    */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int): DataFrame = {
    val scored = candidates.join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Exact top-k by INNER PRODUCT (MIPS — maximum inner-product search,
    * the recommender / learned-retrieval scoring where vectors are NOT
    * normalized and magnitude carries signal; FAISS METRIC_INNER_PRODUCT
    * to [[bruteForceTopK]]'s cosine). Same broadcast-queries + codegen
    * kernel + bounded-heap plan; only the scoring expression differs.
    * Note MIPS is not a metric (no triangle inequality), so the
    * LSH/IVF pruning used for cosine does not transfer unchanged —
    * the standard scale route is the norm-augmentation reduction to
    * cosine over (x, √(M²−|x|²)) vectors; the exact form here is the
    * correctness anchor for it.
    */
  def mipsTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int): DataFrame = {
    val scored = candidates.join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.innerProduct(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR'98
    * — the standard retrieval diversifier): from each query's exact
    * top-`poolK` pool, greedily select `selectK` results maximizing
    * `λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — relevance traded
    * against redundancy with what's already picked. The first pick is
    * pure relevance; ties break to the lower candidate id at every
    * step, so the selection is a pure function of the data.
    *
    * Plan shape: one job. The pool is the bounded-heap top-k (|Q|·poolK
    * rows), joined to the candidate vectors and collected with that bound
    * ([[graft.Bounded.collect]], at most [[MaxRerankQueries]] queries):
    * the query set is broadcast by contract, and poolK is a constant, so
    * nothing collected scales with the corpus. The greedy loop is one
    * [[graft.functions.MmrKernel]] call per query on the driver
    * (poolK·selectK cosines in doubles), and the result is a local frame
    * sorted by (query_id, rank).
    */
  def mmrRerank(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      poolK: Int,
      selectK: Int,
      lambda: Double): DataFrame = {
    require(selectK >= 1 && selectK <= poolK, s"selectK $selectK vs poolK $poolK")
    val poolPlan = bruteForceTopK(queries, candidates, poolK)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cid"),
        col("sim").as("rel"))
      .join(candidates.select(col("cid"), col("cvec")), "cid")
      .select(col("qid"), col("cid"), col("rel"), col("cvec"))
    val pool = Bounded.collect(poolPlan, poolK.toLong * MaxRerankQueries)
    val picks = pool.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (qid, rows) =>
      val entries = rows.toSeq.map { r =>
        require(!r.isNullAt(3), s"mmrRerank: null vector for cid ${r.getLong(1)}")
        (r.getLong(1), r.getDouble(2), ArrayData.toArrayData(r.getSeq[Float](3).toArray))
      }
      MmrKernel.select(entries, selectK, lambda).map { case (rank, cid, rel) =>
        Row(qid, rank, cid, rel)
      }
    }
    Bounded.frame(candidates.sparkSession, picks,
      "query_id BIGINT NOT NULL, rank INT NOT NULL, neighbor_id BIGINT NOT NULL, rel DOUBLE NOT NULL")
  }

  /** The most queries one [[mmrRerank]] call takes: the query set is
    * broadcast by contract, and the pool of |Q|·poolK rows with their
    * vectors is collected, so a larger set is reranked in batches.
    */
  private val MaxRerankQueries = 1 << 16

  /** MIPS at scale: the norm-augmentation reduction to angular LSH
    * (Bachrach et al., RecSys'14 / Shrivastava & Li, NIPS'14 ALSH).
    * Candidates x map to x' = [x, √(M²−|x|²)] (M = corpus max norm) and
    * queries q to q' = [q, 0]; then cos(q',x') = ⟨q,x⟩/(|q|·M), monotone
    * in the inner product per query — so the existing hyperplane
    * bucketing applies verbatim to the AUGMENTED dim+1 vectors, and only
    * same-bucket pairs pay the exact inner product on the ORIGINAL
    * vectors. Every step is a pure function of the data (M is a 1-row
    * max aggregate broadcast back in-plan, the appended residual rounds
    * to float32 exactly once), so an ANSI-SQL engine can replay the
    * whole algorithm as an exact oracle.
    *
    * Plan shape matches [[lshTopK]]: candidate rows stream through a
    * broadcast hash join on (table, bucket), the bounded heap keeps
    * |Q|·k rows, and the M aggregate adds one scan — at 100 TB you pin
    * M at index-build time instead (any upper bound ≥ the true max is
    * semantically safe: it only shrinks the residual's angular spread).
    *
    * Default operating point is COARSER than cosine [[lshTopK]]'s
    * (bits=8/L=12 vs 10/8): augmentation compresses angles toward the
    * residual axis — a true MIPS neighbor's augmented cosine is
    * ⟨q,x⟩/(|q|·M), far from 1 whenever |x| ≪ M — so recall needs wider
    * buckets and more tables (measured in SimilaritySpec's
    * varying-magnitude sweep: 10/8 ⇒ 0.71, 8/8 ⇒ 0.905, 8/12 ⇒ 0.94;
    * the published sharper fix is norm-range sharding with per-shard M).
    */
  def mipsLshTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      bits: Int = 8,
      tables: Int = 12,
      seed: Long = 42L,
      probeHamming: Int = 2): DataFrame = {
    def tableSeed(t: Int): Long = seed + 0x9E3779B97F4A7C15L * t
    val m2 = candidates.agg(
      max(VectorFunctions.innerProduct(col("cvec"), col("cvec"))).as("__m2"))
    val caug = concat(col("cvec"), array(
      sqrt(greatest(col("__m2") -
        VectorFunctions.innerProduct(col("cvec"), col("cvec")), lit(0.0)))
        .cast("float")))
    val qaug = concat(col("qvec"), array(lit(0.0f)))
    val q = queries
      .select(col("qid"), col("qvec"),
        posexplode(array((0 until tables).map(t =>
          probes(signature(qaug, bits, tableSeed(t)), bits, probeHamming)): _*))
          .as(Seq("qtable", "ps")))
      .select(col("qid"), col("qvec"), col("qtable"), explode(col("ps")).as("probe"))
    val c = candidates.crossJoin(broadcast(m2))
      .select(col("cid"), col("cvec"),
        posexplode(array((0 until tables).map(t =>
          signature(caug, bits, tableSeed(t))): _*)).as(Seq("ctable", "bucket")))
    val scored = c.join(broadcast(q),
        col("ctable") === col("qtable") && col("bucket") === col("probe") &&
          col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.innerProduct(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Range (radius) search — the other half of the ANN API surface
    * (FAISS `range_search` to [[bruteForceTopK]]'s `search`): ALL
    * neighbors with cosine ≥ `threshold` per query, not a fixed k.
    * Exact form: one scan over candidates against the broadcast query
    * set, the codegen'd cosine kernel, and a scan-level filter — no
    * aggregate at all, so the result streams straight out of the map
    * stage (output is data-bounded, not k-bounded; pick thresholds
    * accordingly at scale).
    *
    * Scale path: [[rangeSearchLsh]] prunes the same scan through the
    * multi-table hyperplane buckets first — identical output filter, so
    * its recall (pinned in SimilaritySpec on clustered data) is the
    * only difference.
    */
  def rangeSearch(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      threshold: Double): DataFrame = {
    candidates.join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** LSH-pruned range search: candidates hash into `tables` independent
    * hyperplane bucket spaces once; each query probes its bucket plus
    * hamming-≤`probeHamming` neighbors per table, and only same-bucket
    * pairs pay the exact cosine + threshold filter. Duplicate (q,c)
    * matches across tables collapse via `dropDuplicates` on the pair
    * key — planned as a hash aggregate (group by (qid,cid), first(vec))
    * shuffling the PRUNED candidate-sized pair set, never the corpus.
    */
  def rangeSearchLsh(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      threshold: Double,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      probeHamming: Int = 1): DataFrame = {
    def tableSeed(t: Int): Long = seed + 0x9E3779B97F4A7C15L * t
    val q = queries
      .select(col("qid"), col("qvec"),
        posexplode(array((0 until tables).map(t =>
          probes(signature(col("qvec"), bits, tableSeed(t)), bits, probeHamming)): _*))
          .as(Seq("qtable", "ps")))
      .select(col("qid"), col("qvec"), col("qtable"), explode(col("ps")).as("probe"))
    val c = candidates.select(col("cid"), col("cvec"),
      posexplode(array((0 until tables).map(t =>
        signature(col("cvec"), bits, tableSeed(t))): _*)).as(Seq("ctable", "bucket")))
    c.join(broadcast(q),
        col("ctable") === col("qtable") && col("bucket") === col("probe") &&
          col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qvec"), col("cvec"))
      .dropDuplicates("qid", "cid")
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Random-hyperplane signature as an Int column: bit j =
    * [dot(v, plane_j) >= 0] with ±1 plane components derived in-kernel —
    * a native codegen'd expression ([[graft.functions.RhSignature]]); the
    * earlier `zip_with`/`aggregate` composition paid a boxed lambda call
    * per (bit × dim) element. The dimension is implied by the vector length.
    */
  def signature(vec: Column, bits: Int, seed: Long): Column =
    graft.functions.SketchFunctions.rhSignature(vec, bits, seed)

  /** The signature bucket plus every bucket within hamming distance
    * `maxHamming` of it — multi-probe expansion. Probe count is
    * Σ_{d≤maxHamming} C(bits, d) (e.g. 56 for bits=10, maxHamming=2);
    * the expansion lives on the broadcast query side only, so deeper
    * probing never touches the candidate-side scan.
    */
  def probes(bucket: Column, bits: Int, maxHamming: Int = 1): Column = {
    // Masks are generated combinatorially (C(bits,1) + C(bits,2) + …),
    // never by scanning all 2^bits ints — corpus-auto-sized bucket
    // spaces legitimately reach 24 bits, where a scan would allocate
    // 16 M ints on the driver per plan build.
    require(bits >= 1 && bits <= 30, s"probes(): bits=$bits out of [1,30]")
    require(maxHamming >= 0 && maxHamming <= 2,
      s"probes(): maxHamming=$maxHamming — the probe array grows C(bits,d); " +
        "distances > 2 belong in a wider bucket space, not deeper probing")
    val singles = (0 until bits).map(1 << _)
    val masks = maxHamming match {
      case 0 => Seq.empty[Int]
      case 1 => singles
      case _ => singles ++ (for {
        i <- 0 until bits; j <- (i + 1) until bits
      } yield (1 << i) | (1 << j))
    }
    array(bucket +: masks.map(m => bucket.bitwiseXOR(lit(m))): _*)
  }

  /** ANN top-k with multi-table random-hyperplane LSH: `tables`
    * independent signatures bucket the candidates; the (broadcast) query
    * side probes each table at hamming distance ≤ `probeHamming`. A
    * neighbor at angle θ agrees with a query bit w.p. p = 1−θ/π, so the
    * per-table hamming-≤d hit rate is Σ_{j≤d} C(b,j)·p^(b−j)(1−p)^j and
    * the overall miss rate decays as (1−hit)^L — recall vs
    * [[bruteForceTopK]] is measured in SimilaritySpec on clustered data
    * and re-measured at 10× corpus in ScalingSmokeSpec, whose sweep
    * picked the default operating point: on a corpus whose true top-k
    * are mid-similarity (~0.45 cosine — pure noise neighbors, the
    * hardest regime), bits=10/L=8/hamming≤2 holds recall ≥0.9 while
    * scoring ~6% of the brute-force pair space; hamming-1 probing at
    * bits=8/L=4 holds ≥0.9 only when true neighbors are high-similarity.
    *
    * Plan shape: candidate rows stream through a broadcast hash join
    * (no candidate-side shuffle, explode factor L), duplicate (q,c)
    * matches across tables are suppressed inside the k-bounded heap of
    * [[graft.functions.TopKPairs]], and only |Q|·k rows reach the final
    * exchange.
    */
  def lshTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      probeHamming: Int = 1): DataFrame = {
    def tableSeed(t: Int): Long = seed + 0x9E3779B97F4A7C15L * t
    val q = queries
      .select(col("qid"), col("qvec"),
        posexplode(array((0 until tables).map(t =>
          probes(signature(col("qvec"), bits, tableSeed(t)), bits, probeHamming)): _*))
          .as(Seq("qtable", "ps")))
      .select(col("qid"), col("qvec"), col("qtable"), explode(col("ps")).as("probe"))
    val c = candidates.select(col("cid"), col("cvec"),
      posexplode(array((0 until tables).map(t =>
        signature(col("cvec"), bits, tableSeed(t))): _*)).as(Seq("ctable", "bucket")))
    val scored = c.join(broadcast(q),
        col("ctable") === col("qtable") && col("bucket") === col("probe") &&
          col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer partitions
    * the candidate corpus into `numCentroids` cells; each query probes its
    * `nProbe` nearest cells and scores only those candidates. The probe
    * assignment reuses the bounded top-k aggregate (score = −distance),
    * and the candidate join is an equi join on cell id — candidate rows
    * stream through a broadcast hash join against the (small) probe set.
    * At 100 TB the cell assignment is a write-time partitioning key
    * (train once, assign at ingest), so queries touch nProbe/numCentroids
    * of the data.
    */
  /** IVF top-k with a *deterministic* coarse quantizer: the centroids are
    * the candidate vectors with the `numCentroids` smallest ids (corpus
    * sampling is a standard quantizer initialization; quantizer quality
    * only moves recall/cost, never the operator's semantics). Every step —
    * centroid pick, cell assignment (argmax cosine, ties to the lower
    * cell), probe choice, final ranking — is a pure function of the data,
    * so an external ANSI-SQL engine can replay the whole algorithm and
    * serve as an exact oracle. Plan shape matches [[ivfTopK]]: candidates
    * stream through broadcast joins; only |C| + |Q|·k rows shuffle.
    */
  def ivfTopKSeeded(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      numCentroids: Int = 8,
      nProbe: Int = 3): DataFrame = {
    val (centroids, assignments) = ivfIndex(candidates, numCentroids)
    ivfTopKViaIndex(centroids, assignments, queries, candidates, k, nProbe)
  }

  /** The IVF INDEX as a persistable artifact: (centroids, assignments)
    * where centroids = (cell_id, centroid vector) — |C| rows — and
    * assignments = (cid, cell) — one row per candidate. These two tables
    * are everything serving-time probing needs besides the vectors
    * themselves: built ONCE at ingest (the |corpus|×|C| routing pass),
    * written to parquet, and probed per query batch by
    * [[ivfTopKViaIndex]] without ever re-assigning the corpus. At 100 TB
    * the assignment table is ~16 bytes/vector (two longs) — the same
    * ~0.05%-of-corpus index economics as the minhash signature index
    * ([[graft.operators.Dedup.minhashIndex]]). Centroid pick and argmax
    * assignment are the same pure functions as in [[ivfTopKSeeded]]
    * (seeded lowest-id centroids; cosine argmax, ties to lower cell), so
    * index-then-probe is output-identical to the recompute form —
    * `sim_index_probe` shares `sim_topk_ivf`'s DuckDB oracle to prove it.
    */
  def ivfIndex(
      candidates: DataFrame, // (cid, cvec)
      numCentroids: Int): (DataFrame, DataFrame) = {
    val centroids = candidates.orderBy(col("cid"))
      .limit(numCentroids)
      .select(col("cid").as("cell_id"), col("cvec").as("centroid"))
    (centroids, assignCells(centroids, candidates))
  }

  /** vector → owning cell: argmax cosine over the broadcast centroid set
    * via the k=1 bounded heap (ties: lower cell id, the heap's order).
    * The one routing pass both index BUILD (whole corpus, once) and
    * index ROTATION (per incoming batch) run — sharing it is what makes
    * rotate-then-probe provably equal to rebuild-then-probe.
    */
  /** Public frozen-quantizer routing: assign vectors to their owning
    * cell against a STORED centroid table — the per-batch step of every
    * incremental index consumer (ivfIndexRotate, Dedup.semDedupProbe).
    */
  def routeToCells(centroids: DataFrame, vectors: DataFrame): DataFrame =
    assignCells(centroids, vectors)

  private def assignCells(centroids: DataFrame, vectors: DataFrame): DataFrame = {
    argmaxCell(vectors.crossJoin(broadcast(centroids))
      .select(col("cid"),
        VectorFunctions.cosineSim(col("cvec"), col("centroid")).as("sim"),
        col("cell_id")))
  }

  /** argmax-cosine cell pick from (cid, sim, cell_id) scored rows — the
    * k=1 rank with the SAME semantics as [[rankTopK]] at k=1 (highest
    * sim, ties → lower cell id: max of struct(sim, −cell) compares
    * lexicographically), but as a codegen'd declarative `max` instead of
    * the boxed bounded-heap aggregate. Routing is the corpus-sized pass
    * of every index build (n·|centroids| rows flow through this), so the
    * k=1 special case is worth the native form: the 17 M-vector boundary
    * guard measured the heap form ~6× slower end-to-end.
    */
  private def argmaxCell(scored: DataFrame): DataFrame =
    scored
      .select(col("cid"),
        struct(col("sim"), (-col("cell_id")).as("ncell")).as("p"))
      .groupBy(col("cid"))
      .agg(max(col("p")).as("best"))
      .select(col("cid"), (-col("best.ncell")).as("cell"))

  /** A frozen cell-quantizer artifact, one or two levels.
    *
    * `coarse` = (cell_id, centroid): the broadcast tier — at most
    * [[maxFlatCells]] rows single-level, ~n^(1/4) rows two-level, so it
    * broadcasts at ANY corpus size. `sub` = Some((ccell, cell_id,
    * centroid)): the second tier, routed by a KEYED equi join on the
    * coarse cell (a shuffle join, never a broadcast BNLJ), so its row
    * count — ~√n at the two-level sizing — never has to fit in a
    * broadcast budget. Final cell ids are member vector ids in both
    * shapes (globally unique; a vector's cell is its quantizer-nearest
    * sub-centroid's id).
    */
  final case class CellIndex(coarse: DataFrame, sub: Option[DataFrame]) {
    /** Route vectors (cid, cvec) → (cid, cell) against the frozen
      * quantizer: |v|·|coarse| broadcast cosines, plus — two-level only —
      * one keyed join to the owning coarse cell's sub-centroids
      * (≤ |v|·c2 cosines through a shuffle join). Never corpus-sized,
      * never an unbounded broadcast.
      */
    def route(vectors: DataFrame): DataFrame = sub match {
      case None => assignCells(coarse, vectors)
      case Some(subCents) =>
        val coarseAssign = assignCells(
          coarse.select(col("cell_id"), col("centroid")), vectors)
          .select(col("cid"), col("cell").as("ccell"))
        val subAssign = argmaxCell(vectors.join(coarseAssign, "cid")
          .join(subCents, "ccell") // keyed shuffle join — no broadcast
          .select(col("cid"),
            VectorFunctions.cosineSim(col("cvec"), col("centroid")).as("sim"),
            col("cell_id")))
        // A PROBED vector can land in a coarse cell that was EMPTY when
        // the index was built (no sub-quantizer there) — the inner join
        // above drops it. Such a vector gets the deterministic fallback
        // cell −ccell−1: negative, so it can never collide with a real
        // sub-cell id (member vec ids, ≥ 0), and empty-at-build means no
        // stored member shares it — exactly the "nothing to compare
        // against" semantics an empty cell should have.
        coarseAssign.join(subAssign, Seq("cid"), "left")
          .select(col("cid"),
            coalesce(col("cell"), -col("ccell") - 1).as("cell"))
    }
  }

  /** Above this, a flat quantizer stops scaling: broadcast-routing √n
    * centroids is fine to here (4096 × 1 KiB vectors ≈ 4 MiB), but the
    * r3-documented wall is the ROUTING product n·√n — past n ≈ 4096²
    * (~17 M vectors) the two-level split keeps both tiers ~n^(1/4) and
    * total routing ~n^(5/4) instead.
    */
  val maxFlatCells = 4096

  /** Seeded deterministic cell quantizer, auto-shaped to the corpus:
    * single-level (lowest-id centroids, [[ivfIndex]] semantics) while
    * `totalCells` ≤ [[maxFlatCells]]; past that, TWO-LEVEL — ~√totalCells
    * coarse cells from the lowest ids, then each coarse cell re-split by
    * its own lowest-id members into ~√totalCells sub-centroids. The
    * two-level shape removes BOTH 100 TB walls of the flat form at once:
    * the routing pass drops from n·√n to ~2·n^(5/4) cosines (coarse tier
    * broadcast, sub tier a keyed shuffle join), and the broadcast payload
    * stays ~n^(1/4) rows no matter how big the corpus grows. Hot cells
    * are re-split BY CONSTRUCTION (every coarse cell gets its own
    * sub-quantizer), so occupancy keeps shrinking as cells grow with n —
    * no frozen-cell-count quadratic. Fully deterministic: both tiers are
    * lowest-id seeds, both argmaxes tie-break to the lower cell id, so a
    * DuckDB oracle can replay the construction exactly.
    */
  def buildCellIndex(candidates: DataFrame, totalCells: Int): CellIndex = {
    require(totalCells > 0, s"totalCells must be positive, got $totalCells")
    if (totalCells <= maxFlatCells) {
      val (centroids, _) = ivfIndex(candidates, totalCells)
      CellIndex(centroids, None)
    } else {
      // ceil(sqrt) on both tiers: c1·c2 ≥ totalCells, each tier ~√totalCells
      val c1 = math.ceil(math.sqrt(totalCells.toDouble)).toInt
      val c2 = math.ceil(totalCells.toDouble / c1).toInt
      buildCellIndexTwoLevel(candidates, c1, c2)
    }
  }

  /** The two-level construction with EXPLICIT tier sizes — what
    * [[buildCellIndex]] auto-picks past [[maxFlatCells]]; exposed so the
    * two-level path can be exercised (and oracle-replayed) at small
    * corpus sizes instead of only past 17 M vectors.
    */
  def buildCellIndexTwoLevel(candidates: DataFrame, coarseCells: Int,
      subCells: Int): CellIndex = {
    require(coarseCells > 0 && subCells > 0,
      s"tier sizes must be positive, got ($coarseCells, $subCells)")
    val coarse = candidates.orderBy(col("cid")).limit(coarseCells)
      .select(col("cid").as("cell_id"), col("cvec").as("centroid"))
    val coarseAssign = assignCells(coarse, candidates)
      .select(col("cid"), col("cell").as("ccell"))
    import org.apache.spark.sql.expressions.Window
    val sub = candidates.join(coarseAssign, "cid")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ccell")).orderBy(col("cid"))))
      .filter(col("rn") <= subCells)
      .select(col("ccell"), col("cid").as("cell_id"), col("cvec").as("centroid"))
    CellIndex(coarse, Some(sub))
  }

  /** Rotation for the persisted IVF index: route the incoming batch
    * against the STORED centroid table (|batch|×|C| — the only per-batch
    * cost; the quantizer is frozen, exactly as a serving tier versions
    * it) and append the new (cid, cell) rows to the assignment parquet —
    * an O(batch) file-add, mirroring
    * [[graft.operators.Dedup.rotateIndex]]. `sim_index_rotate` proves
    * the rotated assignment table row-identical to a from-scratch
    * [[ivfIndex]] rebuild over the union — which holds exactly when the
    * frozen centroid set equals the union's seed pick (true whenever
    * incoming ids sit above the seed-id range; a production system
    * re-trains and re-versions the quantizer on drift instead, and this
    * proof pins the assignment half of that contract).
    */
  def ivfIndexRotate(
      centroids: DataFrame, // (cell_id, centroid), the stored quantizer
      incoming: DataFrame, // (cid, cvec)
      assignmentsPath: String,
      batchId: Option[Long] = None): Unit =
    writeRotation(assignCells(centroids, incoming), assignmentsPath, batchId)

  /** Quantizer DRIFT AUDIT — the monitoring number behind every
    * rotation's validity caveat ([[ivfIndexRotate]]: "valid while the
    * frozen centroid set equals the union's seed pick"): for each
    * vector, its cell under the STORED (frozen) quantizer vs under a
    * FRESH seed pick over the current corpus. The share of changed
    * cells is exactly how stale the frozen quantizer is; a serving tier
    * alarms on it and re-versions past a threshold
    * ([[ivfReversionOnDrift]]). Cost: two routing passes over `vectors`
    * (|v|·|C| broadcast cosines each) + one |v|-row equi join — the
    * same linear shape as one index build.
    *
    * Returns (cid, old_cell, new_cell, cell_changed).
    */
  def ivfDriftAudit(
      storedCentroids: DataFrame, // (cell_id, centroid), the frozen quantizer
      vectors: DataFrame, // (cid, cvec), the CURRENT corpus
      numCentroids: Int): DataFrame = {
    val oldA = assignCells(storedCentroids, vectors)
      .select(col("cid"), col("cell").as("old_cell"))
    val newA = ivfIndex(vectors, numCentroids)._2
      .select(col("cid"), col("cell").as("new_cell"))
    oldA.join(newA, "cid")
      .select(col("cid"), col("old_cell"), col("new_cell"),
        (col("old_cell") =!= col("new_cell")).as("cell_changed"))
  }

  /** Version-bump RE-TRAIN on drift — the operator every rotation
    * scaladoc here defers to: audit the frozen quantizer against the
    * current corpus; while drift ≤ `maxDriftShare` KEEP version 1 (the
    * stored centroids, re-routing the corpus against them — the cheap
    * branch, and on the no-drift fixture provably identical to a
    * rebuild: see `sim_index_rotate`); past it, REBUILD as version 2
    * (fresh seed pick + fresh assignment — after which old probes are
    * only comparable on the unchanged-cell subset, which SimilaritySpec
    * pins). One bounded build-time action: the 1-row drift-share
    * aggregate (the alarm metric a serving tier already tracks).
    *
    * Returns (version, centroids, assignments).
    */
  def ivfReversionOnDrift(
      storedCentroids: DataFrame,
      vectors: DataFrame,
      numCentroids: Int,
      maxDriftShare: Double = 0.01): (Int, DataFrame, DataFrame) = {
    val audit = ivfDriftAudit(storedCentroids, vectors, numCentroids)
    // coalesce: avg over an empty audit is null, and an empty corpus
    // trivially has zero drift — keep version 1 instead of NPE-ing on
    // the null unbox (r14 advisory)
    val share = audit
      .agg(coalesce(avg(col("cell_changed").cast("double")), lit(0.0)))
      .head().getDouble(0)
    if (share > maxDriftShare) {
      val (c2, a2) = ivfIndex(vectors, numCentroids)
      (2, c2, a2)
    } else (1, storedCentroids, assignCells(storedCentroids, vectors))
  }

  /** Rotation write with optional REPLAY IDEMPOTENCE: with `batchId`
    * set (the foreachBatch id), the batch's rows land in an overwrite-
    * mode `batch_<id>/` subdirectory, so a streaming-engine retry of
    * the same batch overwrites rather than double-appends — the
    * exactly-once contract a foreachBatch sink must provide itself.
    * With None (single-shot batch pipelines), a plain append. Indexes
    * holding rotation subdirs are read back via [[readIndexTable]]
    * (recursive file lookup; no partition-column inference).
    */
  private def writeRotation(rows: DataFrame, path: String,
      batchId: Option[Long]): Unit = batchId match {
    case Some(id) => rows.write.mode("overwrite").parquet(s"$path/batch_$id")
    case None => rows.write.mode("append").parquet(path)
  }

  /** Read an index table that may carry `batch_<id>` rotation subdirs
    * (see [[writeRotation]]): recursive lookup unifies root files and
    * per-batch subdirectories without inventing partition columns.
    */
  def readIndexTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(path)

  /** Serving-time probe of a persisted IVF index (see [[ivfIndex]]):
    * queries pick their nProbe cells from the STORED centroid table
    * (broadcast — |C| rows), and scoring joins the STORED assignments to
    * the candidate vectors so only probed cells' members are scored.
    * Per batch the routing work is |Q|×|C|, never |corpus|×|C| — the
    * corpus-sized pass happened once at index build. (The cid join back
    * to `candidates` fetches vectors for scoring; at scale that scan is
    * cell-prunable if vectors are stored partitioned by the same cell
    * key the index carries.)
    */
  def ivfTopKViaIndex(
      centroids: DataFrame, // (cell_id, centroid) from ivfIndex
      assignments: DataFrame, // (cid, cell) from ivfIndex
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec), vectors for scoring only
      k: Int,
      nProbe: Int): DataFrame = {
    val cAssigned = assignments.join(candidates, "cid")
    val qProbes = rankTopK(
        queries.crossJoin(broadcast(centroids))
          .select(col("qid"),
            col("cell_id").as("cid"),
            VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("sim")),
        nProbe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cell"))
      .join(queries, "qid")
    val scored = cAssigned.join(broadcast(qProbes),
        cAssigned("cell") === qProbes("cell") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Product-quantization ANN (the memory-bound 100 TB index shape):
    * vectors are ENCODED once into m small subspace codes (the index is
    * m ints/vector — at the classic ksub=256 that is m bytes, a
    * 64×float → 4-byte, ~64× storage cut), and query-time scoring is
    * asymmetric distance computation: one m·ksub distance table per
    * query, then m array lookups per candidate — candidates' original
    * vectors are NEVER read at query time. Everything stays in one
    * whole-stage-codegen map over the codes table; the only shuffle is
    * the |Q|·k bounded-heap finish shared with every other ANN path.
    *
    * Determinism for the oracle: the codebook is seeded — subspace mm's
    * entry k is the mm-th slice of the k-th LOWEST-ID corpus vector
    * (the [[ivfIndex]] trick applied per subspace), encoding argmin
    * ties to the lower code, ADC sums subspaces in order, ranking ties
    * to the lower cid — so DuckDB can replay codebook, codes, distance
    * tables, and ranking exactly (`sim_topk_pq`'s oracle does).
    *
    * Build-time actions: one ksub-row collect for the seed matrix (the
    * trained-quantizer state, same caveat as [[ivfKnnJoinSeeded]]).
    */
  def pqTopKSeeded(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      m: Int = 4,
      ksub: Int = 16): DataFrame = {
    val (seeds, codes) = pqIndex(candidates, m, ksub)
    pqTopKViaCodes(seeds, codes, queries, k, m)
  }

  /** Deterministic seed-vector pick for the PQ codebook, collected to the
    * driver (ksub rows — the trained-quantizer state). Two orders:
    *  - `spread = true` (the search queries): ksub smallest by
    *    (md5(cid), cid) — a pseudo-random but replayable spread over the
    *    corpus, so when ids correlate with clusters the codebook still
    *    covers them (lowest-id seeding measured 0.505 recall@5 on
    *    20-cluster data because 16 lowest ids hit 2 clusters; md5 spread
    *    recovers the coverage). TakeOrdered — no global sort.
    *  - `spread = false` (the rotate proof): ksub lowest ids — PREFIX-
    *    STABLE, i.e. the pick over the first 80% equals the pick over
    *    the union whenever incoming ids sit above the seed range, which
    *    is exactly what makes `sim_index_pq_rotate`'s from-scratch-
    *    rebuild comparison valid (an md5 pick has no such stability: any
    *    incoming vector can hash into the top-ksub).
    * The returned `code` is the 0-based POSITION in the chosen order —
    * stored explicitly so a parquet round-trip preserves matrix order.
    */
  private def pqSeedRows(candidates: DataFrame, ksub: Int, spread: Boolean)
      : Array[(Int, Seq[Float])] = {
    val ordered =
      if (spread)
        candidates.orderBy(md5(col("cid").cast("string")), col("cid"))
      else candidates.orderBy(col("cid"))
    ordered.limit(ksub).select(col("cvec")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0)) }
  }

  /** The PQ INDEX as persistable artifacts: `seeds` = (code, vec) — the
    * ksub seed vectors whose slices are the per-subspace codebooks (the
    * quantizer model a serving tier versions and stores) — and `codes` =
    * (cid, codes array<int>) — m codes per corpus vector, the entire
    * per-vector state query-time ADC needs. Encoding is the one
    * corpus-sized pass (a narrow codegen map inside the scan, no
    * shuffle); `sim_index_pq` round-trips both through parquet and
    * proves probe-from-index ≡ recompute by sharing `sim_topk_pq`'s
    * oracle.
    */
  def pqIndex(
      candidates: DataFrame, // (cid, cvec)
      m: Int,
      ksub: Int,
      spread: Boolean = true): (DataFrame, DataFrame) = {
    val s = candidates.sparkSession
    val picked = pqSeedRows(candidates, ksub, spread)
    import s.implicits._
    val seeds = picked.toSeq.toDF("code", "vec")
    val mat = typedlit(picked.map(_._2).toSeq)
    val codes = candidates.select(col("cid"),
      VectorFunctions.pqEncode(col("cvec"), mat, m).as("codes"))
    (seeds, codes)
  }

  /** Serving-time ADC over a stored codes table: per query batch, one
    * m·ksub distance table per query (|Q|·ksub·dim flops, corpus-free),
    * broadcast against the codes scan, scored by [[graft.functions.PqAdc]]
    * lookups, ranked by the bounded heap (distance asc ⇒ heap on −dist;
    * ties to lower cid). The `seeds` table is the stored quantizer —
    * ksub rows, collected here exactly as a serving tier loads its
    * model checkpoint.
    */
  def pqTopKViaCodes(
      seeds: DataFrame, // (code, vec) from pqIndex, possibly parquet-read
      codes: DataFrame, // (cid, codes) from pqIndex, possibly parquet-read
      queries: DataFrame, // (qid, qvec)
      k: Int,
      m: Int): DataFrame = {
    val mat = seedMatrix(seeds)
    val dts = queries.select(col("qid"),
      VectorFunctions.pqDtable(col("qvec"), mat, m).as("dt"))
    val scored = codes.join(broadcast(dts), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (-VectorFunctions.pqAdc(col("codes"), col("dt"))).as("sim"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("sim")).as("dist"), col("rank"))
  }

  /** IVF-PQ — the two indexes composed, i.e. the standard shape a
    * billion-vector serving tier actually runs: the coarse (IVF)
    * quantizer prunes the corpus to nProbe cells per query, and PQ-ADC
    * scores the survivors from codes alone. Per query batch:
    * |Q|×|C| routing + one m·ksub distance table per query + m lookups
    * per probed candidate — neither the corpus vectors nor the
    * unprobed cells are touched. All four index artifacts (centroids,
    * assignments, seeds, codes) are the persistable tables of
    * [[ivfIndex]]/[[pqIndex]]; probe routing keeps the cosine coarse
    * metric (shared with every IVF path here) while ADC is L2 — the
    * conventional IVFPQ split. Deterministic end to end, so
    * `sim_topk_ivfpq`'s oracle replays both quantizers and the fused
    * scoring exactly.
    */
  def ivfPqTopKSeeded(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      numCentroids: Int,
      nProbe: Int,
      m: Int,
      ksub: Int): DataFrame = {
    val (centroids, assignments) = ivfIndex(candidates, numCentroids)
    val (seeds, codes) = pqIndex(candidates, m, ksub)
    ivfPqViaIndex(centroids, assignments, seeds, codes, queries, k, nProbe, m)
  }

  /** Serving-time fused probe: stored IVF tables route, stored PQ codes
    * score. The assignments⋈codes join is the index-build-time
    * co-location (at scale the two columns live in ONE index table
    * keyed by cid, written together at ingest); the query side stays a
    * broadcast of |Q|·nProbe probe rows carrying each query's distance
    * table.
    */
  def ivfPqViaIndex(
      centroids: DataFrame, // (cell_id, centroid) from ivfIndex
      assignments: DataFrame, // (cid, cell) from ivfIndex
      seeds: DataFrame, // (code, vec) from pqIndex
      codes: DataFrame, // (cid, codes) from pqIndex
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nProbe: Int,
      m: Int): DataFrame = {
    val mat = seedMatrix(seeds)
    val dts = queries.select(col("qid"),
      VectorFunctions.pqDtable(col("qvec"), mat, m).as("dt"))
    val qProbes = rankTopK(
        queries.crossJoin(broadcast(centroids))
          .select(col("qid"), col("cell_id").as("cid"),
            VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("sim")),
        nProbe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cell"))
      .join(dts, "qid")
    val cIndexed = assignments.join(codes, "cid")
    val scored = cIndexed.join(broadcast(qProbes),
        cIndexed("cell") === qProbes("cell") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (-VectorFunctions.pqAdc(col("codes"), col("dt"))).as("sim"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("sim")).as("dist"), col("rank"))
  }

  /** PQ shortlist + exact re-rank — the standard two-stage that fixes
    * ADC's inherent resolution limit: quantization collapses near-ties
    * (same-cluster siblings land on the same codewords, measured
    * 0.585–0.73 direct-ADC recall@5 on clustered data regardless of
    * codebook size/training), but a `rerank`-deep ADC shortlist almost
    * always CONTAINS the true top-k, and re-scoring just those
    * candidates with exact L2 restores it. Cost shape: the corpus pays
    * codes-only ADC (the memory-bound scan); exact distances touch only
    * |Q|·rerank fetched vectors — the two-stage every production PQ
    * deployment runs.
    *
    * Deterministic end to end (seeded codebook, ADC ties → lower cid at
    * the shortlist cut, exact-L2 ties → lower cid at the final cut), so
    * `sim_topk_pq_rerank`'s oracle replays shortlist and re-rank
    * exactly.
    */
  def pqTopKRerank(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      rerank: Int = 50,
      m: Int = 4,
      ksub: Int = 16): DataFrame = {
    val (seeds, codes) = pqIndex(candidates, m, ksub)
    val shortlist = pqTopKViaCodes(seeds, codes, queries, rerank, m)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cid"))
    val exact = shortlist
      .join(queries, "qid")
      .join(candidates, "cid")
      .select(col("qid"), col("cid"),
        (-VectorFunctions.l2Sq(col("qvec"), col("cvec"))).as("sim"))
    rankTopK(exact, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("sim")).as("dist"), col("rank"))
  }

  /** Asymmetric scalar-quantized top-k (FAISS SQ8's search shape): the
    * corpus is stored as per-vector max-abs int8 codes (4× smaller than
    * float32 — the quantization `embed_quantize_int8` audits), queries
    * stay full-precision, and the first stage scores approximately as
    * `(scale/127)·⟨q, codes⟩` — the dot kernel runs on the CODES, so
    * the stage-1 scan reads a quarter of the bytes (at 100 TB the scan
    * is memory-bandwidth-bound and the byte cut is the speedup). The
    * exact cosine re-rank then touches only `rerank` full vectors per
    * query. Two-stage like [[pqTopKRerank]]; SQ8 trades PQ's higher
    * compression for zero codebook training and near-lossless recall.
    *
    * Every arithmetic step is engine-replayable: scale = max |component|
    * (exact over float→double), codes = floor(v/scale·127) (integers,
    * exactly representable as the float the kernel reads), approx and
    * exact scores are the same left-to-right double folds the oracle's
    * `list_dot_product`/`list_cosine_similarity` run.
    */
  def sq8TopKRerank(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      rerank: Int = 50): DataFrame =
    sq8TopKViaCodes(sq8Index(candidates), queries, candidates, k, rerank)

  /** The persisted SQ8 index artifact: (cid, scale, codes) — per-vector
    * max-abs scale + int8 codes stored as float (exactly representable;
    * parquet round-trips them bit-identically). One narrow map over the
    * corpus, no shuffle — built once at ingest, ~¼ the corpus bytes.
    * Encoding is the native one-pass [[graft.functions.Sq8Encode]]
    * kernel: the declarative array_max(transform)+transform form ran
    * two boxed per-element lambdas outside codegen and dominated every
    * SQ8 query end-to-end (r14: 72 s sf10 total vs 1.6 s stored-codes
    * probe). Identical arithmetic (double max-abs, floor(v/scale·127))
    * ⇒ the oracle replay is unchanged.
    */
  def sq8Index(candidates: DataFrame): DataFrame = {
    candidates
      .select(col("cid"), VectorFunctions.sq8Encode(col("cvec")).as("e"))
      .select(col("cid"), col("e.scale").as("scale"), col("e.codes").as("codes"))
  }

  /** Rotation for the persisted SQ8 index: encode the incoming batch —
    * a per-vector pure function, so unlike IVF/PQ there is NO frozen
    * quantizer state to version — and append the new (cid, scale,
    * codes) rows to the codes parquet: an O(batch) narrow map +
    * file-add, mirroring [[ivfIndexRotate]]/[[pqIndexRotate]] (same
    * `batch_<id>` replay-idempotence contract via [[writeRotation]]).
    * Because encoding is stateless per vector, rotated codes ≡ a
    * from-scratch [[sq8Index]] rebuild over the union UNCONDITIONALLY —
    * no seed-stability caveat; SimilaritySpec's streaming-parity test
    * pins it alongside the IVF/PQ rotations.
    */
  def sq8IndexRotate(
      incoming: DataFrame, // (cid, cvec)
      codesPath: String,
      batchId: Option[Long] = None): Unit =
    writeRotation(sq8Index(incoming), codesPath, batchId)

  /** SQ8 search against a STORED index: stage 1 touches ONLY the codes
    * table (the serving tier never loads full vectors for the scan);
    * full-precision `candidates` are joined back for the exact re-rank
    * of the shortlist alone. [[sq8TopKRerank]] delegates here, so the
    * index-probe form is output-identical to the recompute form by
    * construction — `sim_index_sq8` shares `sim_topk_sq8`'s oracle to
    * make the driver prove it every round.
    */
  def sq8TopKViaCodes(
      index: DataFrame, // (cid, scale, codes)
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      rerank: Int = 50): DataFrame = {
    val approx = index.join(broadcast(queries), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (col("scale") / lit(127.0d) *
          VectorFunctions.innerProduct(col("qvec"), col("codes"))).as("sim"))
    val shortlist = rankTopK(approx, rerank)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cid"))
    val exact = shortlist
      .join(queries, "qid")
      .join(candidates, "cid")
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(exact, k)
  }

  /** IVF-SQ8 fused (FAISS `IVFx,SQ8` — the serving shape that closes
    * SQ8's last corpus-sized cost): [[sq8TopKViaCodes]]'s stage 1 scans
    * the WHOLE codes table per query batch — fine locally, not the
    * serving shape at 100 TB. Here the coarse (IVF) quantizer prunes
    * the corpus to nProbe cells per query first, so the SQ8 approximate
    * dot runs only over probed cells' members: per batch |Q|×|C|
    * routing + (nProbe/|C|)·corpus code reads + |Q|·rerank exact
    * cosines — neither the unprobed cells' codes nor any unshortlisted
    * full vector is touched. The composition mirrors [[ivfPqViaIndex]]
    * (IVF routes, compressed codes score, broadcast |Q|·nProbe probe
    * rows carry the query vectors); SQ8 trades PQ's higher compression
    * for zero codebook training and a near-lossless shortlist. All
    * three index artifacts — (cell_id, centroid), (cid, cell),
    * (cid, scale, codes) — persist to parquet; at scale assignments and
    * codes live in ONE table keyed by cid, written together at ingest.
    *
    * Deterministic end to end (seeded centroids, IEEE-replayable
    * scale/floor/dot/cosine, ties → lower id at every cut), so
    * `sim_topk_ivfsq8` / `sim_index_ivfsq8`'s shared oracle replays
    * routing, code construction, the probed approximate scan, and both
    * ranking cuts exactly.
    */
  def ivfSq8TopKSeeded(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      numCentroids: Int,
      nProbe: Int,
      rerank: Int = 50): DataFrame = {
    val (centroids, assignments) = ivfIndex(candidates, numCentroids)
    ivfSq8ViaIndex(centroids, assignments, sq8Index(candidates),
      queries, candidates, k, nProbe, rerank)
  }

  /** Serving-time fused probe against STORED artifacts: stored IVF
    * tables route, stored SQ8 codes score the probed cells, full
    * vectors are fetched only for the |Q|·rerank exact re-rank.
    * Separate assignment/codes tables are re-fused here by a cid equi
    * join; prefer [[ivfSq8Index]] + [[ivfSq8ViaFusedIndex]], where the
    * index is written as ONE cell-partitioned table and the probe prunes
    * unprobed cells at SCAN time.
    */
  def ivfSq8ViaIndex(
      centroids: DataFrame, // (cell_id, centroid) from ivfIndex
      assignments: DataFrame, // (cid, cell) from ivfIndex
      index: DataFrame, // (cid, scale, codes) from sq8Index
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec), exact re-rank only
      k: Int,
      nProbe: Int,
      rerank: Int = 50): DataFrame =
    ivfSq8ViaFusedIndex(centroids, assignments.join(index, "cid"),
      queries, candidates, k, nProbe, rerank)

  /** The fused IVF-SQ8 index as ONE table: (cid, cell, scale, codes) —
    * routing assignment and quantized codes written TOGETHER at ingest,
    * keyed by cid, meant to be persisted PARTITIONED BY `cell`
    * (`.write.partitionBy("cell")`). That layout is what turns the
    * probed-cells cut from a row filter into a SCAN cut: the probe's
    * equi join on `cell` against the broadcast |Q|·nProbe probe rows
    * dynamic-partition-prunes the parquet scan, so unprobed cells'
    * FILES are never read — at 100 TB that is nProbe/|C| of the index
    * bytes per batch instead of all of them. (The r14 end-to-end
    * measurement that motivated this: with codes and assignments stored
    * as separate unpartitioned tables, the probe's cid re-fuse join had
    * to READ the whole codes table, and fused probing was no faster
    * than the brute codes scan.)
    */
  def ivfSq8Index(
      candidates: DataFrame, // (cid, cvec)
      numCentroids: Int): (DataFrame, DataFrame) = {
    val (centroids, assignments) = ivfIndex(candidates, numCentroids)
    (centroids, assignments.join(sq8Index(candidates), "cid"))
  }

  /** Probe the fused cell-partitioned index (see [[ivfSq8Index]]):
    * routing |Q|×|C| against broadcast centroids, then the SQ8
    * approximate dot only over probed cells — a broadcast equi join on
    * `cell` that partition-prunes a cell-partitioned scan — and the
    * exact cosine re-rank over the |Q|·rerank shortlist.
    */
  def ivfSq8ViaFusedIndex(
      centroids: DataFrame, // (cell_id, centroid) from ivfIndex
      fused: DataFrame, // (cid, cell, scale, codes) from ivfSq8Index
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec), exact re-rank only
      k: Int,
      nProbe: Int,
      rerank: Int = 50): DataFrame = {
    val qProbes = rankTopK(
        queries.crossJoin(broadcast(centroids))
          .select(col("qid"), col("cell_id").as("cid"),
            VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("sim")),
        nProbe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cell"))
      .join(queries, "qid")
    val approx = fused.join(broadcast(qProbes),
        fused("cell") === qProbes("cell") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (col("scale") / lit(127.0d) *
          VectorFunctions.innerProduct(col("qvec"), col("codes"))).as("sim"))
    val shortlist = rankTopK(approx, rerank)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cid"))
    val exact = shortlist
      .join(queries, "qid")
      .join(candidates, "cid")
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(exact, k)
  }

  /** TRAINED product-quantization codebooks — the production-quality
    * path, mirroring how [[ivfTopK]] (KMeans-trained) relates to
    * [[ivfTopKSeeded]]: the seeded form buys oracle-exactness, this
    * form buys recall (measured on clustered data in SimilaritySpec:
    * seeded 0.585 recall@5 → trained substantially higher — the
    * codebook actually fits the data instead of sampling it).
    *
    * Training is the standard sample-based Lloyd: a deterministic
    * md5-spread sample of `sampleN` vectors (TakeOrdered — no global
    * sort; FAISS trains PQ the same way, on an in-memory sample) is
    * collected to the driver and each subspace's ksub-entry codebook is
    * refined for `iters` iterations (argmin-L2 assignment, ties to the
    * lower code; empty cells keep their centroid; means in double,
    * stored as float). Deterministic end to end — same sample, same
    * arithmetic order — just not replayed by an external-SQL oracle;
    * SimilaritySpec pins its recall and its determinism instead.
    *
    * The returned seeds table has the [[pqIndex]] artifact shape:
    * seed vector k = concat over subspaces of codeword k, so
    * [[pqTopKViaCodes]], [[pqIndexRotate]] and the persisted-index
    * round-trip all work unchanged on a trained codebook.
    */
  def pqIndexTrained(
      candidates: DataFrame, // (cid, cvec)
      m: Int,
      ksub: Int,
      sampleN: Int = 1024,
      iters: Int = 8): (DataFrame, DataFrame) = {
    val s = candidates.sparkSession
    val sample = candidates
      .orderBy(md5(col("cid").cast("string")), col("cid")).limit(sampleN)
      .select(col("cvec")).collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqIndexTrained: empty training sample")
    val dim = sample.head.length
    val dsub = dim / m
    require(dsub * m == dim, s"pq: dim $dim not divisible by m=$m")
    // per-subspace Lloyd on the driver sample
    val books = Array.tabulate(m) { mm =>
      val base = mm * dsub
      val pts = sample.map(v => Array.tabulate(dsub)(d => v(base + d).toDouble))
      var cents = Array.tabulate(math.min(ksub, pts.length))(k => pts(k).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var k = 0
          while (k < cents.length) {
            var d = 0.0; var i = 0
            while (i < dsub) { val t = p(i) - cents(k)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = k }
            k += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += p(i); i += 1 }
        }
        cents = Array.tabulate(cents.length) { k =>
          if (counts(k) == 0) cents(k)
          else Array.tabulate(dsub)(i => sums(k)(i) / counts(k))
        }
        it += 1
      }
      cents
    }
    val nCodes = books.map(_.length).min
    val picked: Array[(Int, Seq[Float])] = Array.tabulate(nCodes) { k =>
      (k, (0 until m).flatMap(mm => books(mm)(k).map(_.toFloat)))
    }
    import s.implicits._
    val seeds = picked.toSeq.toDF("code", "vec")
    val mat = typedlit(picked.map(_._2).toSeq)
    val codes = candidates.select(col("cid"),
      VectorFunctions.pqEncode(col("cvec"), mat, m).as("codes"))
    (seeds, codes)
  }

  /** ADC top-k over a trained codebook (see [[pqIndexTrained]]). */
  def pqTopKTrained(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      m: Int = 4,
      ksub: Int = 16,
      sampleN: Int = 1024,
      iters: Int = 8): DataFrame = {
    val (seeds, codes) = pqIndexTrained(candidates, m, ksub, sampleN, iters)
    pqTopKViaCodes(seeds, codes, queries, k, m)
  }

  /** Rotation for the persisted PQ index: encode the incoming batch
    * against the STORED seed table (the frozen quantizer — ksub rows,
    * exactly as a serving tier versions its codebook) and append the
    * new (cid, codes) rows to the codes parquet — an O(batch) narrow
    * map + file-add, mirroring [[ivfIndexRotate]] and
    * [[graft.operators.Dedup.rotateIndex]]. `sim_index_pq_rotate`
    * proves the rotated codes table row-identical to a from-scratch
    * [[pqIndex]] rebuild over the union — which holds exactly when the
    * frozen seed set equals the union's seed pick (incoming ids above
    * the seed-id range; on real drift a production system re-trains and
    * re-versions the codebook, then re-encodes — the same contract as
    * the IVF quantizer).
    */
  def pqIndexRotate(
      seeds: DataFrame, // (code, vec), the stored quantizer
      incoming: DataFrame, // (cid, cvec)
      codesPath: String,
      m: Int,
      batchId: Option[Long] = None): Unit = {
    val mat = seedMatrix(seeds)
    writeRotation(
      incoming.select(col("cid"),
        VectorFunctions.pqEncode(col("cvec"), mat, m).as("codes")),
      codesPath, batchId)
  }

  /** (code, vec) rows → foldable array<array<float>> ordered by code. */
  private def seedMatrix(seeds: DataFrame): Column = {
    val rows = seeds.orderBy(col("code")).collect()
    typedlit(rows.map(_.getSeq[Float](1).toSeq).toSeq)
  }

  /** PQ codebook drift audit — the PQ twin of [[ivfDriftAudit]] (r14
    * verdict item 4: `pqIndexRotate`'s frozen-seed encode is only
    * comparable to a rebuild while the frozen seed pick equals the
    * union's pick; this is what a serving tier runs to DETECT when that
    * stops holding): encode every CURRENT corpus vector under the
    * frozen (stored) codebook AND under a fresh prefix-stable
    * (spread=false) pick over the current corpus, and report per-vector
    * subspace code agreement. Cost: two corpus encode passes (narrow
    * codegen maps inside the scan — the [[pqIndex]] shape) + one
    * |corpus|-row equi join; the codebooks stay ksub-row driver
    * matrices.
    *
    * Returns (cid, old_codes, new_codes, n_sub_changed, code_changed).
    */
  def pqDriftAudit(
      storedSeeds: DataFrame, // (code, vec), the frozen quantizer
      vectors: DataFrame, // (cid, cvec), the CURRENT corpus
      m: Int): DataFrame = {
    val ksub = storedSeeds.count().toInt
    val oldMat = seedMatrix(storedSeeds)
    val oldCodes = vectors.select(col("cid"),
      VectorFunctions.pqEncode(col("cvec"), oldMat, m).as("old_codes"))
    // empty corpus → trivially empty audit (a fresh pick over zero
    // vectors has no codebook to encode against — PqCoder rejects it)
    if (vectors.isEmpty)
      return oldCodes.select(col("cid"), col("old_codes"),
        col("old_codes").as("new_codes"), lit(0L).as("n_sub_changed"),
        lit(false).as("code_changed")).limit(0)
    val (freshSeeds, newCodesDf) = pqIndex(vectors, m, ksub, spread = false)
    val newCodes = newCodesDf.withColumnRenamed("codes", "new_codes")
    // Codes are POSITIONAL (code k = k-th seed in pick order), so a new
    // low id entering the fresh pick renumbers every later seed — raw
    // code comparison would read that shift as 100% drift. The audit
    // therefore compares the assigned QUANTIZATION VECTOR: a content-
    // keyed bijection old code → fresh code over the shared seed
    // vectors (both collected ksub-row driver matrices), with dropped
    // seeds mapping to -1 (always drift — their code word no longer
    // exists in the fresh book).
    val oldSeedRows = storedSeeds.orderBy(col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toVector))
    val freshRows = freshSeeds.collect()
      .map(r => (r.getSeq[Float](1).toVector, r.getInt(0)))
    // uniqueness among the seeds actually picked (an empty corpus picks
    // none — the audit is then trivially empty, not an error)
    val freshByVec = freshRows.toMap
    require(freshByVec.size == freshRows.length,
      "duplicate seed vectors make the drift bijection ill-defined")
    val codeMap: Map[Int, Int] =
      oldSeedRows.map { case (oc, v) => oc -> freshByVec.getOrElse(v, -1) }.toMap
    val mapLit = typedlit(codeMap)
    oldCodes.join(newCodes, "cid")
      .withColumn("n_sub_changed",
        aggregate(
          zip_with(col("old_codes"), col("new_codes"),
            (a, b) => when(coalesce(element_at(mapLit, a), lit(-1)) === b, 0)
              .otherwise(1)),
          lit(0), (acc, x) => acc + x).cast("long"))
      .select(col("cid"), col("old_codes"), col("new_codes"),
        col("n_sub_changed"), (col("n_sub_changed") > 0L).as("code_changed"))
  }

  /** Version-bump RE-TRAIN on PQ codebook drift — [[ivfReversionOnDrift]]
    * for the codes index: audit the frozen codebook against the current
    * corpus; while the share of vectors whose code word changed stays ≤
    * `maxDriftShare`, KEEP version 1 (stored seeds + re-encode under
    * them — cheap, and on a no-drift corpus provably identical to a
    * rebuild: `sim_index_pq_rotate`); past it, REBUILD as version 2
    * (fresh prefix-stable pick + fresh encode). One bounded build-time
    * action: the 1-row drift-share aggregate.
    *
    * Returns (version, seeds, codes).
    */
  def pqReversionOnDrift(
      storedSeeds: DataFrame,
      vectors: DataFrame,
      m: Int,
      maxDriftShare: Double = 0.01): (Int, DataFrame, DataFrame) = {
    val audit = pqDriftAudit(storedSeeds, vectors, m)
    // coalesce: an empty corpus trivially has zero drift (the
    // ivfReversionOnDrift empty-audit rule)
    val share = audit
      .agg(coalesce(avg(col("code_changed").cast("double")), lit(0.0)))
      .head().getDouble(0)
    if (share > maxDriftShare) {
      val ksub = storedSeeds.count().toInt
      val (s2, c2) = pqIndex(vectors, m, ksub, spread = false)
      (2, s2, c2)
    } else {
      val mat = seedMatrix(storedSeeds)
      (1, storedSeeds, vectors.select(col("cid"),
        VectorFunctions.pqEncode(col("cvec"), mat, m).as("codes")))
    }
  }

  /** Corpus×corpus k-NN JOIN via the same seeded IVF quantizer as
    * [[ivfTopKSeeded]]: every vector gets its top-k neighbors from the
    * whole corpus. The search variants broadcast the (small) query set;
    * a k-NN join cannot — the "queries" ARE the corpus. So the probe
    * side and the assignment side meet in a SHUFFLE join on the cell id:
    * both sides hash-partition by cell, each cell's members score only
    * against that cell's probes, and the bounded-heap aggregate ranks
    * per vector. Nothing corpus-sized is ever broadcast or globally
    * sorted — the |corpus|×|centroids| assignment cross product is the
    * standard linear IVF routing cost, against a broadcast centroid set.
    *
    * Deterministic end to end (seeded centroids = lowest-id vectors,
    * argmax ties to lower cell), so an external SQL engine can replay it
    * exactly — the `sim_knn_join` oracle does.
    *
    * NOT side-effect-free at build time: constructing the DataFrame runs
    * two bounded Spark jobs — a count() when `numCentroids` is None (the
    * auto-sizing input, a number a real ingest pipeline already tracks)
    * and an nc-row collect() for the quantizer matrix (the trained-model
    * state a production system loads from its model store). Pass
    * `numCentroids=Some(nc)` to skip the count on plan-only paths; the
    * seed collect is inherent to the flat-IVF design. `EngineCli explain`
    * documents the same caveat.
    */
  def ivfKnnJoinSeeded(
      vectors: DataFrame, // (vid, vec)
      k: Int,
      numCentroids: Option[Int] = None,
      nProbe: Int = 8): DataFrame = {
    val v = vectors.select(col("vid"), col("vec"))
    // Cell count must grow with the corpus or the join is a quadratic
    // wall in disguise: fixed nc ⇒ cell size ∝ n ⇒ scored candidates
    // ∝ n²/nc (measured: OOM at 200k vectors with nc=64). Auto-size to
    // the flat-IVF cost-balance point nc ≈ √(8n) — routing (n·nc) and
    // scoring (nProbe·n²/nc) both land at O(n^1.5), the inherent cost of
    // a flat coarse quantizer (sub-√ growth re-opens the wall; linear nc
    // makes ROUTING quadratic). Power-of-two via integer bit-length so
    // the oracle replays the sizing exactly; the one count() action is
    // the |corpus| a real ingest pipeline already knows.
    val nc = numCentroids.getOrElse {
      val n = math.max(v.count(), 1L)
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(8L * n - 1L)
      1 << ((bitlen + 1) / 2)
    }
    // Routing (vector → ranked cells) is embarrassingly parallel, so it
    // runs as the narrow codegen'd ivf_route kernel over the collected
    // centroid matrix (nc rows — KBs to MBs; a real pipeline pins the
    // trained quantizer exactly like this) instead of a corpus×centroid
    // crossJoin + top-k aggregate: past 128 distinct keys the
    // ObjectHashAggregate behind the heap falls back to object-serialized
    // external sorts, measured 10× slower at 200k vectors. Same reason
    // the final per-vector rank is a qid-PARTITIONED window over slim
    // (qid, cid, sim) rows — flat-row sort, bounded partitions — rather
    // than the corpus-cardinality heap aggregate the small-|Q| search
    // variants correctly use.
    val centRows = v.orderBy(col("vid")).limit(nc).collect()
    val ids: Seq[Long] = centRows.map(_.getLong(0)).toSeq
    val mat: Seq[Seq[Float]] = centRows.map(_.getSeq[Float](1).toSeq).toSeq
    val idsLit = typedlit(ids)
    // The routing kernel is the compute-heavy narrow stage (nc·dim flops
    // per row); spread it across spark.sql.shuffle.partitions instead of
    // inheriting the scan's file-granularity partitioning — a compact
    // embeddings table can land in ONE input split and serialize the
    // whole join onto one core (measured 10× at sf1).
    val vp = v.repartition(col("vid"))
    val routed = vp.withColumn("cells",
      VectorFunctions.ivfRoute(col("vec"), typedlit(mat), nProbe))
    val assigned = routed.select(
      element_at(idsLit, element_at(col("cells"), 1) + 1).as("cell"),
      col("vid").as("cid"), col("vec").as("cvec"))
    val probes = routed
      .select(col("vid").as("qid"), col("vec").as("qvec"),
        explode_outer(col("cells")).as("cpos"))
      .select(col("qid"), col("qvec"), element_at(idsLit, col("cpos") + 1).as("cell"))
    val scored = assigned.join(probes, Seq("cell")) // shuffle on cell — by design
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").cast("long").as("neighbor_id"),
        col("sim"), col("rank"))
  }

  /** One exact Lloyd iteration over the seeded quantizer — the training
    * step that turns [[ivfKnnJoinSeeded]]'s lowest-id seed pick into a
    * principled coarse quantizer. Assignment is [[graft.functions.IvfRouter]]
    * (the `ivf_route` kernel with nProbe=1: nearest centroid, cosine ties
    * to the lower cell); the update sums each cell's components in FIXED
    * POINT ([[graft.functions.FixedPointKernel]], the add behind
    * `vec_fixedpoint_sum`), so the reduction is integer arithmetic,
    * order-independent and bit-exact under any partitioning (the reason
    * k-means on doubles is normally non-reproducible across cluster
    * layouts). The state is one long per dimension per cell, combined on
    * the executors: only numCentroids cells reach the driver, the state a
    * 100 TB k-means needs.
    *
    * Returns one row per (cell, dimension), sorted by (cell, dim): member
    * count, exact fixed-point component sum, and the implied new centroid
    * component (a single integer÷integer double division — reproducible
    * anywhere). Rows with a null vid or vector take no part.
    */
  def kmeansStepSeeded(
      vectors: DataFrame, // (vid, vec)
      numCentroids: Int = 32,
      scaleBits: Int = 20): DataFrame = {
    val v = vectors.select(col("vid"), col("vec"))
    centroidFrame(v, lloydRound(v, seedCentroids(v, numCentroids), scaleBits), scaleBits, None)
  }

  /** TWO exact Lloyd iterations — the iterative form of
    * [[kmeansStepSeeded]], proving the training LOOP (not just one step)
    * stays bit-exact and cheap on Spark. The trick that keeps iteration
    * 2 reproducible: cosine is scale-invariant, so the round-2 centroids
    * are the round-1 INTEGER component sums themselves (no division —
    * dividing by n·2^scaleBits changes no assignment), cast long→float
    * by both engines' identical IEEE round-to-nearest. Per iteration:
    * one fold over the corpus; the only driver traffic is the
    * ≤numCentroids×dim sum matrix — the broadcast every distributed
    * k-means round makes.
    *
    * Output shape = [[kmeansStepSeeded]] (cell label = its seed's vid).
    */
  def kmeansTwoStepSeeded(
      vectors: DataFrame, // (vid, vec)
      numCentroids: Int = 32,
      scaleBits: Int = 20): DataFrame = {
    val v = vectors.select(col("vid"), col("vec"))
    val it1 = lloydRound(v, seedCentroids(v, numCentroids), scaleBits)
    centroidFrame(v, lloydRound(v, centroidsOf(it1), scaleBits), scaleBits, None)
  }

  /** Lloyd to CONVERGENCE (bounded): run up to `maxIters` exact
    * fixed-point iterations, stopping early when the per-cell integer
    * state — (cell, member count, component-sum vector) — reaches a
    * FIXPOINT. The stop rule needs no epsilon: the state is integers, so
    * "unchanged" is exact equality, and once s_t = s_(t-1) the centroids
    * reproduce themselves (cosine is scale-invariant; round-t centroids
    * are round-(t-1)'s integer sums), making every later iteration a
    * no-op. That no-op property is also what keeps the operator
    * oracle-checkable with a data-dependent iteration count: an engine
    * that always runs exactly `maxIters` iterations produces the
    * identical final state, so early exit changes cost, never results.
    *
    * Seeding and every iteration fold over the same planned input
    * ([[graft.Bounded.aggregate]]), so later iterations plan nothing and
    * compile no new class. Driver traffic per iteration is the
    * ≤numCentroids×dim integer sum matrix (the broadcast every distributed
    * k-means round makes). The returned frame is a local frame of the
    * final state's rows sorted by (cell, dim), with a `converged` flag —
    * true iff the fixpoint appeared among the `maxIters - 1` earlier
    * states.
    *
    * `maxIters >= 3` is required because convergence DETECTION needs two
    * earlier states to compare: with maxIters = 2 the fixpoint loop body
    * never runs (the only comparison would be against the final
    * iteration, which only feeds the output), so `converged` could only
    * ever be false — a silently degraded flag rather than a cheaper run.
    * Callers wanting exactly 2 iterations without the flag should use
    * [[kmeansTwoStepSeeded]].
    */
  def kmeansConvergedSeeded(
      vectors: DataFrame, // (vid, vec)
      numCentroids: Int = 32,
      scaleBits: Int = 20,
      maxIters: Int = 3): DataFrame = {
    require(maxIters >= 3,
      s"maxIters must be >= 3 (convergence detection compares two " +
        s"collected states; use kmeansTwoStepSeeded for 2 iterations " +
        s"without the flag), got $maxIters")
    val v = vectors.select(col("vid"), col("vec"))
    var cur = lloydRound(v, seedCentroids(v, numCentroids), scaleBits)
    var converged = false
    var it = 1
    while (it < maxIters - 1 && !converged) {
      val next = lloydRound(v, centroidsOf(cur), scaleBits)
      converged = next == cur
      if (!converged) cur = next
      it += 1
    }
    // final iteration: centroids = last state's sums
    centroidFrame(v, lloydRound(v, centroidsOf(cur), scaleBits), scaleBits, Some(converged))
  }

  /** A Lloyd state: (cell label, member count, fixed-point component sums)
    * per non-empty cell, sorted by label.
    */
  private type LloydState = Seq[(Long, Long, Seq[Long])]

  /** Centroids as (labels, matrix), rows in label order, so a cosine tie
    * routes to the lower label.
    */
  private type Centroids = (Seq[Long], Array[Array[Float]])

  /** The `numCentroids` lowest-vid vectors, in one fold that keeps them
    * sorted by vid.
    */
  private def seedCentroids(v: DataFrame, numCentroids: Int): Centroids = {
    def keep(buf: ArrayBuffer[(Long, Array[Float])], vid: Long,
        vec: => Array[Float]): ArrayBuffer[(Long, Array[Float])] = {
      if (buf.size < numCentroids || vid < buf.last._1) {
        buf.insert(buf.lastIndexWhere(_._1 <= vid) + 1, vid -> vec)
        if (buf.size > numCentroids) buf.remove(numCentroids)
      }
      buf
    }
    val seeds = Bounded.aggregate(v, numCentroids)(ArrayBuffer.empty[(Long, Array[Float])])(
      (buf, r) =>
        if (r.isNullAt(0) || r.isNullAt(1)) buf
        else keep(buf, r.getLong(0), r.getArray(1).toFloatArray()),
      (a, b) => b.foldLeft(a) { case (buf, (vid, vec)) => keep(buf, vid, vec) },
      _.size.toLong)
    (seeds.map(_._1).toSeq, seeds.map(_._2).toArray)
  }

  /** The next round's centroids: cosine is scale-invariant, so a cell's
    * integer sums, cast to float, are its centroid.
    */
  private def centroidsOf(state: LloydState): Centroids =
    (state.map(_._1), state.map(_._3.map(_.toFloat).toArray).toArray)

  /** Assignment (nearest centroid, ties to the lower cell position) and
    * the per-cell member count and fixed-point sums, in one fold over the
    * vectors: numCentroids cells by construction.
    */
  private def lloydRound(v: DataFrame, centroids: Centroids, scaleBits: Int): LloydState = {
    val (ids, mat) = centroids
    val nc = ids.size
    val router = new IvfRouter(mat, 1)
    val scale = (1L << scaleBits).toDouble
    val (counts, sums) = Bounded.aggregate(v, nc)(
        (new Array[Long](nc), Array.fill(nc)(Array.emptyLongArray)))(
      (s, r) => {
        if (!r.isNullAt(1)) {
          val vec = r.getArray(1)
          val c = router.route(vec).getInt(0)
          s._1(c) += 1
          s._2(c) = FixedPointKernel.add(s._2(c), vec, scale)
        }
        s
      },
      (a, b) => {
        for (c <- 0 until nc) {
          a._1(c) += b._1(c)
          a._2(c) = FixedPointKernel.merge(a._2(c), b._2(c))
        }
        a
      },
      _._1.length.toLong)
    (0 until nc).filter(counts(_) > 0).map(c => (ids(c), counts(c), sums(c).toSeq))
      .sortBy(_._1)
  }

  /** One row per (cell, dim) of a Lloyd state, sorted by (cell, dim), with
    * the `converged` flag when given.
    */
  private def centroidFrame(v: DataFrame, state: LloydState, scaleBits: Int,
      converged: Option[Boolean]): DataFrame = {
    val scale = 1L << scaleBits
    val rows = for {
      (cell, n, sums) <- state
      (sum, pos) <- sums.zipWithIndex
    } yield Row.fromSeq(Seq[Any](cell, pos + 1, n, sum,
      sum.toDouble / Math.multiplyExact(n, scale).toDouble) ++ converged)
    Bounded.frame(v.sparkSession, rows,
      "cell BIGINT NOT NULL, dim INT NOT NULL, n_members BIGINT NOT NULL, " +
        "comp_sum BIGINT NOT NULL, centroid_fp DOUBLE NOT NULL" +
        converged.fold("")(_ => ", converged BOOLEAN NOT NULL"))
  }

  def ivfTopK(
      queries: DataFrame, // (qid, qvec)
      candidates: DataFrame, // (cid, cvec)
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val trainDf = candidates.select(array_to_vector(col("cvec")).as("features"))
    // few iterations suffice: the quantizer only routes probes — recall
    // comes from nProbe, not from a converged clustering
    val model = new KMeans().setK(numCentroids).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features")
      .fit(trainDf)

    // candidate → owning cell (at scale this is precomputed at ingest)
    val cAssigned = model.transform(
        candidates.select(col("cid"), col("cvec"),
          array_to_vector(col("cvec")).as("features")))
      .select(col("cid"), col("cvec"), col("prediction").as("cell"))

    // query → nProbe nearest cells, ranked with the bounded heap over the
    // tiny |Q| × numCentroids cross product of broadcast centroids
    val centroids = candidates.sparkSession.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toArray.map(_.toFloat))
      }.toSeq).toDF("cell_id", "centroid")
    val qProbes = rankTopK(
        queries.crossJoin(broadcast(centroids))
          .select(col("qid"),
            col("cell_id").as("cid"), // rankTopK contract: (qid, cid, sim)
            VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("sim")),
        nProbe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("cell"))
      .join(queries, "qid")

    val scored = cAssigned.join(broadcast(qProbes),
        cAssigned("cell") === qProbes("cell") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }
}
