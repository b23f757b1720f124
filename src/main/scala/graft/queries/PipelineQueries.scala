package graft.queries

import graft.{Ansi, Bounded, Tables}
import graft.functions.BpeKernel
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Graph, Similarity}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** LLM-training-data pipeline operators (north-star) as oracle-checked
  * queries over the driver's `documents` / `embeddings` tables:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine),
  * similarity search (brute-force + LSH top-k), text analysis
  * (lang-id, quality, token stats).
  *
  * Oracle notes: the DuckDB twins recompute shingle sets / cosine values
  * exactly — `list_cosine_similarity` over DOUBLE[] matches
  * [[graft.functions.VectorKernels.cosine]] bit-for-bit (sequential
  * double accumulation, dot/(√nx·√ny)), and integer-ratio Jaccard is
  * exact in both engines. Every query here is oracle-checked, including
  * the LSH/SimHash/IVF family: their randomness is seed-derived and
  * data-independent, so [[OracleGen]] restates the exact hyperplane
  * matrices / hash constants in SQL and the oracle replays the full
  * algorithm (see each query's comment for the exactness argument).
  */
object PipelineQueries extends QueryModule {

  /** Per-invocation scratch for the persisted-index queries, delegating
    * to the JVM-wide [[QueryScratch]] root (one temp root, one shutdown
    * hook — r14 advisory: this module previously kept a second root +
    * hook + counter of its own). The dataDir hash stays in the tag so
    * concurrent runs against different fixtures never collide; the _N
    * suffix QueryScratch appends keeps invocations unique — two builds
    * of the same query must not share an index directory, or the second
    * build's overwrite would delete files a still-unexecuted first plan
    * has already listed (FileNotFoundException at execute time). Note
    * the index parquet write these queries perform is an EAGER Spark
    * action at DataFrame-BUILD time — the index is an input artifact of
    * the returned plan, not a node in it, so its build cost lands in
    * whichever phase calls the query fn.
    */
  private def scratchDir(tag: String, dataDir: String): String =
    QueryScratch.dir(
      tag + "_" + Integer.toHexString(dataDir.hashCode)).toString

  /** The embeddings search split: the first 10 vectors are the queries
    * (qid, qvec), every vector is a candidate (cid, cvec).
    */
  private def querySplit(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      emb.select(col("vec_id").as("cid"), col("embedding").as("cvec")))

  /** Oracle for the seeded-IVF top-k search: replays centroid pick
    * (lowest-64 ids), cosine-argmax assignment (ties → lower cell),
    * 24-probe choice, and in-cell ranking. Shared verbatim by
    * `sim_topk_ivf` (recompute form) and `sim_index_probe` (persisted-
    * index form) — the two queries are output-identical by construction,
    * and sharing the oracle makes the driver prove it every round.
    */
  private val sqlIvfTopk =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10) WHERE rn <= 24),
        scored AS (SELECT p.qid, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM scored)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""

  /** Oracle for the PQ-ADC top-k: replays the seeded codebook (slices of
    * the 16 lowest-id vectors), per-subspace argmin-L2 encoding (ties →
    * lower code), the query-side distance tables, the ordered subspace
    * sum, and (dist asc, cid asc) ranking. Numeric twin of
    * [[graft.functions.PqCoder]]: subspace distances fold
    * (v[d]−c[d])·(v[d]−c[d]) left-to-right via `list_reduce` (bitwise ≡
    * the kernel's sequential loop), and the ADC total is `sum(d ORDER BY
    * m)` ≡ the kernel's mm-order accumulation. Shared verbatim by
    * `sim_topk_pq` (recompute) and `sim_index_pq` (persisted codes) —
    * the driver proves probe ≡ recompute every round.
    */
  private val sqlPqTopk =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cb AS (SELECT code, ce FROM (
            SELECT row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
              e AS ce FROM v) WHERE code < 16),
        ms AS (SELECT unnest(range(4)) AS m),
        sub AS (SELECT x.vec_id, ms.m, cb.code,
            list_reduce(list_transform(range(1, 17), i ->
                (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])
                  * (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])),
              (acc, t) -> acc + t) AS d
          FROM v x CROSS JOIN cb CROSS JOIN ms),
        enc AS (SELECT vec_id AS cid, m, code FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        qdt AS (SELECT vec_id AS qid, m, code, d FROM sub WHERE vec_id < 10),
        scored AS (SELECT q.qid, c.cid, sum(q.d ORDER BY q.m) AS dist
          FROM enc c JOIN qdt q ON c.m = q.m AND c.code = q.code
          WHERE q.qid <> c.cid
          GROUP BY q.qid, c.cid),
        r AS (SELECT qid, cid, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
          FROM scored)
        SELECT qid AS query_id, cid AS neighbor_id, dist, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""

  /** DuckDB fragment: distinct word-3-gram shingles of lower-cased text —
    * the exact twin of [[graft.functions.TextFunctions.shingles]].
    */
  private val sqlShingles =
    """list_distinct([array_to_string(toks[i:i+2], ' ')
      |  FOR i IN generate_series(1, greatest(len(toks)-2, 1))])""".stripMargin

  /** Shared CTE pyramid for the fixed-point PCA queries: quantized
    * corpus `q`, start vector `v0`, and three integer power iterations
    * ending at `v3` — the SQL twin of
    * [[graft.operators.LinearAlgebra.pcaPowerDirection]].
    */
  private val sqlPcaCtes: String = {
    def iter(i: Int, prev: String): String =
      s"""s$i AS (SELECT q.vec_id, CAST(sum(q.q * $prev.v) AS BIGINT) // 67108864 AS t
         |  FROM q JOIN $prev ON q.d = $prev.d GROUP BY q.vec_id),
         |w$i AS (SELECT q.d, CAST(sum(q.q * s$i.t) AS BIGINT) // 67108864 AS w2
         |  FROM q JOIN s$i ON q.vec_id = s$i.vec_id GROUP BY q.d),
         |n$i AS (SELECT CAST(sum(w2 * w2) AS BIGINT) AS n2 FROM w$i),
         |v$i AS (SELECT w$i.d,
         |    (w$i.w2 * 1048576) // greatest(CAST(floor(sqrt(CAST(n$i.n2 AS DOUBLE))) AS BIGINT), 1) AS v
         |  FROM w$i CROSS JOIN n$i)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings),
       |q AS (SELECT vec_id, CAST(r.range AS INTEGER) AS d,
       |    CAST(floor(em[CAST(r.range AS INTEGER)] * 1048576.0) AS BIGINT) AS q
       |  FROM e, range(1, 65) r),
       |v0 AS (SELECT CAST(r.range AS INTEGER) AS d,
       |    CASE WHEN r.range = 1 THEN 1048576 ELSE 0 END AS v FROM range(1, 65) r),
       |${iter(1, "v0")},
       |${iter(2, "v1")},
       |${iter(3, "v2")}""".stripMargin
  }

  private val sqlExactJaccardPairs =
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, $sqlShingles AS sh FROM t)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM s a, s b
       |WHERE a.doc_id < b.doc_id
       |  AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact cross-side Jaccard over the deterministic 80/20 doc_id split —
    * shared by dedup_incremental (recompute form) and
    * dedup_signature_index (persisted-index form): both must land on the
    * identical exact pair set.
    */
  private val sqlCrossSidePairs =
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
       |e AS (SELECT * FROM s WHERE doc_id % 10 < 8),
       |i AS (SELECT * FROM s WHERE doc_id % 10 >= 8)
       |SELECT e.doc_id AS doc_a, i.doc_id AS doc_b,
       |  len(list_intersect(e.sh, i.sh)) / len(list_distinct(list_concat(e.sh, i.sh))) AS jaccard
       |FROM e, i
       |WHERE len(list_intersect(e.sh, i.sh)) / len(list_distinct(list_concat(e.sh, i.sh))) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Held-out per-doc bigram-LM fluency scores — the stupid-backoff
    * pipeline `text_lm_score` registers, factored out so the CCNet
    * bucket split reuses the IDENTICAL plan: reference LM (unigram +
    * bigram counts) trains on doc_id % 4 ≠ 0, scores the held-out
    * quarter; per bigram S(w2|w1) = c(w1w2)/c(w1) if seen else
    * 0.4·c(w2)/N; doc score = mean S, summed in POSITION order so
    * doubles match the oracle's ordered list_reduce bitwise.
    * Returns (doc_id, n_bigrams, lm_score).
    */
  private def lmHeldOutScores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val held = docs.filter(col("doc_id") % 4 === 0)
    def bigrams(df: org.apache.spark.sql.DataFrame) = df
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(i.as("pos"),
          element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val trainToks = train.select(explode(col("toks")).as("w"))
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("c_w"))
    val nTot = trainToks.agg(count(lit(1)).as("n_tokens"))
    val bi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    val sval = bigrams(held)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_w1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_w2")), Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"), col("pos"),
        when(col("c_bg").isNotNull, col("c_bg") / col("c_w1"))
          .otherwise(lit(0.4) * (coalesce(col("c_w2"), lit(0L)) / col("n_tokens")))
          .as("sv"))
    sval.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("sv")))),
          lit(0.0), (acc, x) => acc + x.getField("sv")).as("ssum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("ssum") / col("n_bigrams")).as("lm_score"))
  }

  /** DuckDB twin of [[lmHeldOutScores]] up to the per-doc `agg` CTE
    * (doc_id, n_bigrams, ssum) — shared by `text_lm_score` and
    * `pipeline_perplexity_buckets`.
    */
  private val sqlLmScoreCtes =
    """WITH tt AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
      |tr AS (SELECT * FROM tt WHERE doc_id % 4 <> 0),
      |sc AS (SELECT * FROM tt WHERE doc_id % 4 = 0 AND len(toks) >= 2),
      |uni AS (SELECT unnest(toks) AS w FROM tr),
      |uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
      |nt AS (SELECT count(*) AS n_tokens FROM uni),
      |trb0 AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM tr WHERE len(toks) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS c_bg FROM (
      |    SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM trb0) GROUP BY w1, w2),
      |scb0 AS (SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks) - 1)) AS i FROM sc),
      |scb AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM scb0),
      |sval AS (SELECT s.doc_id, s.pos,
      |    CASE WHEN b.c_bg IS NOT NULL THEN b.c_bg / u1.c_w
      |      ELSE 0.4 * (coalesce(u2.c_w, 0) / nt.n_tokens) END AS sv
      |  FROM scb s
      |  LEFT JOIN bc b ON s.w1 = b.w1 AND s.w2 = b.w2
      |  LEFT JOIN uc u1 ON s.w1 = u1.w
      |  LEFT JOIN uc u2 ON s.w2 = u2.w
      |  CROSS JOIN nt),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    list_reduce(list(sv ORDER BY pos), (a, b) -> a + b) AS ssum
      |  FROM sval GROUP BY doc_id)""".stripMargin

  /** Oracle for the SQ8 two-stage search — shared verbatim by
    * `sim_topk_sq8` (recompute form) and `sim_index_sq8` (persisted-
    * codes form): the two are output-identical by construction and
    * sharing the oracle makes the driver prove it every round.
    */
  private val sqlSq8Topk =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c AS (SELECT vec_id, e,
            list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
        codes AS (SELECT vec_id, scale,
            list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
              ELSE floor(x / scale * 127) END) AS cd
          FROM c),
        ap AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
            c.scale / 127 * list_dot_product(q.e, c.cd) AS asim
          FROM v q JOIN codes c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10),
        sl AS (SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY asim DESC, cid) AS rn
          FROM ap) WHERE rn <= 50),
        ex AS (SELECT sl.qid, sl.cid,
            list_cosine_similarity(q.e, cv.e) AS sim
          FROM sl JOIN v q ON sl.qid = q.vec_id
            JOIN v cv ON sl.cid = cv.vec_id),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM ex)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""

  /** Oracle for the fused IVF-SQ8 search — [[sqlIvfTopk]]'s routing CTEs
    * (seeded lowest-64 centroids, argmax assignment, 24-probe choice)
    * composed with [[sqlSq8Topk]]'s code construction and two-stage
    * scoring, with the approximate scan restricted to probed cells.
    * Shared verbatim by `sim_topk_ivfsq8` (recompute form) and
    * `sim_index_ivfsq8` (persisted-artifact form) — output-identical by
    * construction, and sharing the oracle makes the driver prove it
    * every round.
    */
  private val sqlIvfSq8Topk =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10) WHERE rn <= 24),
        sc AS (SELECT vec_id, e,
            list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
        codes AS (SELECT vec_id, scale,
            list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
              ELSE floor(x / scale * 127) END) AS cd
          FROM sc),
        ap AS (SELECT p.qid, a.vec_id AS cid,
            c.scale / 127 * list_dot_product(q.e, c.cd) AS asim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN v q ON q.vec_id = p.qid
          WHERE p.qid <> a.vec_id),
        sl AS (SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY asim DESC, cid) AS rn
          FROM ap) WHERE rn <= 50),
        ex AS (SELECT sl.qid, sl.cid,
            list_cosine_similarity(q.e, cv.e) AS sim
          FROM sl JOIN v q ON sl.qid = q.vec_id
            JOIN v cv ON sl.cid = cv.vec_id),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM ex)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""

  val defs: Seq[QueryDef] = Seq(

    // ── exact dedup: one hash aggregate on a text fingerprint ───────────
    QueryDef("dedup_exact_groups",
      (s, dir) => Dedup.exactGroups(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp"),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS canonical_id
        FROM documents GROUP BY 1 ORDER BY fp""")),

    // ── span-level exact dedup (RefinedWeb line-dedup analog on 4-word
    //    windows): corpus-wide first occurrence of every span fingerprint
    //    wins, losers are the boilerplate-removal report. The window is
    //    partitioned by the fingerprint — shuffle on a high-cardinality
    //    hash, no global order. Oracle rebuilds the identical spans
    //    (ordered string_agg ≡ array_join(slice)) and replays the rule. ──
    QueryDef("dedup_span_exact",
      (s, dir) => Dedup.spanDedupStats(Tables.load(s, dir, "documents"),
          "doc_id", "text", spanWords = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
            generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS ti
          FROM documents),
        sp AS (SELECT doc_id, (ti - 1) // 4 AS span_idx,
            md5(string_agg(tok, ' ' ORDER BY ti)) AS h
          FROM t GROUP BY doc_id, (ti - 1) // 4),
        r AS (SELECT doc_id, span_idx, h,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
          FROM sp)
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM r GROUP BY doc_id HAVING n_dropped > 0 ORDER BY doc_id""")),

    // ── corpus-frequency boilerplate (CCNet-style df rule): spans seen in
    //    ≥ minDocs DISTINCT docs are chrome, flagged in EVERY doc (unlike
    //    first-occurrence span dedup above). Absolute threshold, not a
    //    fraction — repetition defines boilerplate regardless of corpus
    //    size. Two hash aggregates + a Zipf-tiny broadcast join back. ────
    QueryDef("text_boilerplate_spans",
      (s, dir) => Dedup.boilerplateSpanStats(Tables.load(s, dir, "documents"),
          "doc_id", "text", spanWords = 3, minDocs = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
            generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS ti
          FROM documents),
        sp AS (SELECT doc_id, (ti - 1) // 3 AS span_idx,
            md5(string_agg(tok, ' ' ORDER BY ti)) AS h
          FROM t GROUP BY doc_id, (ti - 1) // 3),
        b AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 5)
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        FROM sp LEFT JOIN b ON sp.h = b.h
        GROUP BY doc_id HAVING n_boiler > 0 ORDER BY doc_id""")),

    // ── the span-dedup APPLY step: rebuild every doc from its KEPT spans
    //    (same first-occurrence rule as dedup_span_exact); rebuilt text is
    //    length+md5 summarized. Same two-shuffle shape as the stats query;
    //    the rebuild sorts only each doc's own spans. The empty rebuild
    //    (every span lost to an earlier doc) is pinned to '' in BOTH
    //    engines (coalesce in the oracle ≡ array_join of empty array). ───
    QueryDef("dedup_span_apply",
      (s, dir) => Dedup.applySpanDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", spanWords = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
            generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS ti
          FROM documents),
        sp AS (SELECT doc_id, (ti - 1) // 4 AS span_idx,
            string_agg(tok, ' ' ORDER BY ti) AS span
          FROM t GROUP BY doc_id, (ti - 1) // 4),
        r AS (SELECT doc_id, span_idx, span,
            row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn
          FROM sp),
        g AS (SELECT doc_id, count(*) AS n_spans,
            CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '') AS rebuilt
          FROM r GROUP BY doc_id)
        SELECT doc_id, n_spans, n_kept,
          CAST(length(rebuilt) AS BIGINT) AS dedup_chars, md5(rebuilt) AS dedup_fp
        FROM g ORDER BY doc_id""")),

    // ── EXACT-SUBSTRING dedup (Lee et al. 2022 — the ≥k-token
    //    duplicate-passage removal the fixed-span form above
    //    approximates only at span alignment): every OVERLAPPING
    //    8-token window rolling-hash fingerprints in one O(n) kernel
    //    scan, corpus-wide first occurrence wins, later occurrences
    //    mark their k tokens, per-doc overlap merge = trailing rolling
    //    max over the duplicate-start flags, rebuilt text length+md5
    //    summarized. The oracle refolds every window's hash with an
    //    8-term list_reduce (the window fold ≡ the kernel's incremental
    //    rolling identity), replays the first-occurrence rule, the
    //    coverage merge, and the ordered rebuild. ──────────────────────
    QueryDef("dedup_substring_exact",
      (s, dir) => Dedup.exactSubstringDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", windowTokens = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some {
        val foldExpr =
          s"""list_reduce(list_prepend(0::HUGEINT,
            [${OracleGen.md5Low64Expr("md5(tok)")} FOR tok IN toks[i:i+7]]),
            (acc, x) -> (acc * 1000003::HUGEINT + x)
              % 18446744073709551616::HUGEINT)"""
        s"""WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        w0 AS (SELECT doc_id, toks,
            unnest(generate_series(1, len(toks) - 7)) AS i FROM t),
        wh AS (SELECT doc_id, i - 1 AS pos, $foldExpr AS h FROM w0),
        r AS (SELECT doc_id, pos,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
          FROM wh),
        mk AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        tok AS (SELECT doc_id, unnest(toks) AS tok,
            generate_subscripts(toks, 1) - 1 AS pos FROM t),
        f AS (SELECT tok.doc_id, tok.pos, tok.tok,
            CASE WHEN mk.pos IS NOT NULL THEN 1 ELSE 0 END AS sf
          FROM tok LEFT JOIN mk
            ON tok.doc_id = mk.doc_id AND tok.pos = mk.pos),
        m AS (SELECT doc_id, pos, tok, sf,
            max(sf) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS removed
          FROM f),
        g AS (SELECT doc_id, count(*) AS n_tokens,
            CAST(sum(sf) AS BIGINT) AS n_dup_windows,
            CAST(sum(removed) AS BIGINT) AS n_removed,
            coalesce(string_agg(CASE WHEN removed = 0 THEN tok END,
              ' ' ORDER BY pos), '') AS rebuilt
          FROM m GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_dup_windows, n_removed,
          CAST(length(rebuilt) AS BIGINT) AS dedup_chars,
          md5(rebuilt) AS dedup_fp
        FROM g ORDER BY doc_id"""
      }),

    // ── n-gram Jaccard near-dup (lossless size blocking, exact result) ──
    QueryDef("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(sqlExactJaccardPairs)),

    // ── directed containment (|A∩B|/|A| ≥ 0.8): the asymmetric
    //    near-superset detector — quotes / doc-embedded-in-crawl pairs
    //    that symmetric Jaccard structurally misses. A-side prefix
    //    filter ⋈ full B-side inverted index, one-sided length prune,
    //    exact set-intersection verify (operators/Dedup.containmentPairs;
    //    losslessness argument in its scaladoc, brute-force-asserted in
    //    DedupSpec). Oracle: the exact directed pair set. ───────────────
    QueryDef("dedup_containment",
      (s, dir) => Dedup.containmentPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.sh, b.sh)) / len(a.sh) AS containment
         |FROM s a, s b
         |WHERE a.doc_id <> b.doc_id
         |  AND len(list_intersect(a.sh, b.sh)) / len(a.sh) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── MinHash+LSH near-dup: banded candidates, exact-Jaccard verify ───
    // Oracle is the same exact pair set: at (bands=16, r=4) the miss
    // probability at j≥0.8 is ≈ (1-0.8^4)^16 ≈ 2e-4 per pair, and the
    // verify step removes all false positives — asserted equal to the
    // exact result on this data (checked locally; DedupSpec guards it).
    QueryDef("dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(sqlExactJaccardPairs)),

    // ── b-bit MinHash (Li & König WWW'10): signature slots truncated
    //    before banding — the persisted index shrinks 8-16×, the
    //    property that decides whether a 100 TB signature index fits
    //    executor memory. b auto-sizes to the corpus (smallest b with
    //    2^(r·b) ≥ 4n — a FIXED b is the fixed-key-space trap: frozen
    //    b=4 measured 16.9× at the sf1→sf10 decade before the sizer).
    //    Truncation only ADDS candidates (equal slots stay equal), so
    //    banding's no-miss guarantee holds and the exact-Jaccard verify
    //    removes the extra false positives: the output is the identical
    //    exact pair relation, pinned by sharing dedup_minhash_lsh's
    //    oracle (DedupSpec pins b-bit ≡ full-width pair-for-pair too). ──
    QueryDef("dedup_minhash_bbit",
      (s, dir) => Dedup.minhashLshPairsBbit(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("doc_a", "doc_b"),
      Some(sqlExactJaccardPairs)),

    // ── Cross-source duplication matrix (which sources copy which —
    //    the licensing/contamination triage view a corpus audit opens
    //    with): the minhash near-dup pair set rolled up to unordered
    //    source pairs via two equi joins onto the doc→source map, pair
    //    key normalized with least/greatest. Pairs are already
    //    candidate-bounded by the banded LSH; the rollup is a
    //    |sources|²-bounded aggregate. ───────────────────────────────────
    QueryDef("dedup_source_matrix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val srcs = docs.select(col("doc_id"), col("source"))
        Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
          .join(srcs.select(col("doc_id").as("doc_a"),
            col("source").as("src_a")), "doc_a")
          .join(srcs.select(col("doc_id").as("doc_b"),
            col("source").as("src_b")), "doc_b")
          .select(least(col("src_a"), col("src_b")).as("source_lo"),
            greatest(col("src_a"), col("src_b")).as("source_hi"))
          .groupBy(col("source_lo"), col("source_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("source_lo"), col("source_hi"))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        sh AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a, sh b
          WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.sh, b.sh))
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
        SELECT least(da.source, db.source) AS source_lo,
          greatest(da.source, db.source) AS source_hi,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM p JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
        GROUP BY 1, 2 ORDER BY source_lo, source_hi""")),

    // ── incremental (asymmetric) dedup: which INCOMING docs (deterministic
    //    20% slice) near-duplicate the EXISTING corpus — the streaming
    //    ingest shape, where the existing side's banded signatures are a
    //    write-once index and only the incoming shard computes per batch.
    //    Same no-miss band parameters as dedup_minhash_lsh, so the oracle
    //    is the exact cross-side Jaccard. ────────────────────────────────
    QueryDef("dedup_incremental",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.minhashLshPairsAgainst(
            docs.filter(pmod(col("doc_id"), lit(10)) < 8),
            docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
            "doc_id", "text", threshold = 0.8)
          .orderBy("doc_a", "doc_b")
      },
      Some(sqlCrossSidePairs)),

    // ── persisted-bloom ingest pre-filter (r13 verdict item 5 — the
    //    100 TB trick of skipping already-seen docs before ANY shingle
    //    work): a bloom over the stored 80%'s exact fingerprints —
    //    m auto-sized to the smallest power of two ≥ 16·n_stored (the
    //    anti-fixed-key-space sizing, replayed by the oracle via
    //    integer bit-length), k = 3 md5-derived positions, persisted as
    //    a distinct-position parquet — is probed by the incoming 20%.
    //    Misses are DEFINITE negatives (skip the exact join entirely);
    //    only hits pay the fingerprint equi join, whose verdict is the
    //    is_dup column. Exactness preserved: the filter can only skip
    //    work, never a dup — every is_dup=true row must carry
    //    bloom_hit=true, which the oracle's independent replay pins
    //    every round. Probe cost per batch: fingerprint kernel +
    //    3·|batch| probe rows through one equi join — O(batch). The
    //    stored-count sizing input is one bounded build-time count
    //    (a number a real ingest pipeline already tracks). ──────────────
    QueryDef("dedup_bloom_prefilter",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stored = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
        val storedFps = stored
          .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        val m = Dedup.bloomSize(stored.count())
        val root = scratchDir("bloom", dir)
        Dedup.bloomBits(storedFps, m)
          .write.mode("overwrite").parquet(root + "/bits")
        val probed = Dedup.bloomPrefilter(
          s.read.parquet(root + "/bits"), incoming, "doc_id", "text", m)
        // the exact check runs ONLY on bloom survivors — that is the
        // saved work; misses are definite-new by the bloom contract
        val verdict = probed.filter(col("bloom_hit"))
          .join(storedFps.distinct().withColumn("seen", lit(true)),
            Seq("fp"), "left")
          .select(col("id"), coalesce(col("seen"), lit(false)).as("is_dup"))
        probed.join(verdict, Seq("id"), "left")
          .select(col("id").as("doc_id"), col("bloom_hit"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
          .orderBy("doc_id")
      },
      Some {
        // 15 nibbles = 60-bit positions, matching Dedup.bloomPositions
        // (a 32-bit source would saturate once bloomSize crosses 2^32 —
        // the r14 advisory)
        val posExpr = OracleGen.md5PrefixExpr(
          "md5(CAST(j AS VARCHAR) || ':' || fp)", 15)
        s"""WITH d AS (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents),
        st AS (SELECT fp FROM d WHERE doc_id % 10 < 8),
        mm AS (SELECT (1::BIGINT << length(format('{:b}', 16 * count(*) - 1))) AS m
          FROM st),
        bits AS (SELECT DISTINCT ($posExpr) % m AS pos
          FROM st CROSS JOIN mm, (SELECT unnest([1, 2, 3]) AS j)),
        inc AS (SELECT doc_id, fp FROM d WHERE doc_id % 10 >= 8),
        ph AS (SELECT doc_id, ($posExpr) % m AS pos
          FROM inc CROSS JOIN mm, (SELECT unnest([1, 2, 3]) AS j)),
        hit AS (SELECT doc_id FROM ph JOIN bits USING (pos)
          GROUP BY doc_id HAVING count(*) = 3)
        SELECT i.doc_id, h.doc_id IS NOT NULL AS bloom_hit,
          h.doc_id IS NOT NULL
            AND EXISTS (SELECT 1 FROM st WHERE st.fp = i.fp) AS is_dup
        FROM inc i LEFT JOIN hit h ON i.doc_id = h.doc_id
        ORDER BY i.doc_id"""
      }),

    // ── incremental dedup through the PERSISTED signature index: build
    //    the write-once (id, sig) minhash index for the existing 80%,
    //    round-trip it through parquet (the artifact a real ingest
    //    pipeline appends to), then detect incoming near-dups by probing
    //    the index — band keys sliced from STORED signatures, corpus text
    //    touched only for the candidate-bounded exact verify. Same
    //    no-miss band parameters ⇒ same oracle: the exact cross-side
    //    Jaccard. The result must be identical to dedup_incremental's,
    //    proving index-probe ≡ recompute (DedupSpec pins this too). ────
    QueryDef("dedup_signature_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val existing = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
        val idx = scratchDir("probe", dir) // shared scratch, see scratchRoot
        Dedup.minhashIndex(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(idx)
        Dedup.minhashPairsViaIndex(s.read.parquet(idx), existing, incoming,
            "doc_id", "text", threshold = 0.8)
          .orderBy("doc_a", "doc_b")
      },
      Some(sqlCrossSidePairs)),

    // ── index LIFECYCLE: probe-then-append rotation. Build the index for
    //    the existing 80%, rotate the incoming 20%'s signatures in via
    //    parquet append (O(batch) file-add, no index rewrite), then PROVE
    //    index@t+1 ≡ a from-scratch rebuild over all docs: full-outer
    //    join rotated vs rebuilt on id and null-safe-compare signatures.
    //    Every doc must appear with sig_equal=true — a dropped id, a
    //    duplicated id, or one differing signature slot breaks the
    //    row-count or value hash against the trivial oracle. This closes
    //    the ingest loop dedup_signature_index opens: batch t's
    //    signatures are in the index batch t+1 probes. ──────────────────
    QueryDef("dedup_index_rotate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val existing = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
        val idx = scratchDir("rotate", dir) // shared scratch, see scratchRoot
        Dedup.minhashIndex(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(idx)
        Dedup.rotateIndex(incoming, "doc_id", "text", idx)
        val rotated = s.read.parquet(idx)
        val rebuilt = Dedup.minhashIndex(docs, "doc_id", "text")
        rotated.alias("r").join(rebuilt.alias("b"),
            col("r.id") === col("b.id"), "full_outer")
          .select(coalesce(col("r.id"), col("b.id")).as("id"),
            (col("r.sig") <=> col("b.sig")).as("sig_equal"))
          .orderBy("id")
      },
      Some("SELECT doc_id AS id, true AS sig_equal FROM documents ORDER BY doc_id")),

    // ── index COMPACTION: after two rotation batches the index dir holds
    //    three file sets; compact rewrites it into id-range-clustered
    //    files (one index-sized sort-shuffle — the OPTIMIZE analog that
    //    restores per-file min/max pruning for probes). Proof obligation
    //    identical to rotate: compacted content ≡ from-scratch rebuild
    //    over the whole corpus, every doc sig_equal=true. File-count
    //    hygiene is pinned in DedupSpec (not SQL-expressible). ──────────
    QueryDef("dedup_index_compact",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val idx = scratchDir("compact", dir) // shared scratch, see scratchRoot
        Dedup.minhashIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 6),
            "doc_id", "text")
          .write.mode("overwrite").parquet(idx)
        Dedup.rotateIndex(docs.filter(pmod(col("doc_id"), lit(10)).between(6, 7)),
          "doc_id", "text", idx)
        Dedup.rotateIndex(docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          "doc_id", "text", idx)
        val compacted = idx + "_c"
        Dedup.compactIndex(s.read.parquet(idx), compacted)
        val rebuilt = Dedup.minhashIndex(docs, "doc_id", "text")
        s.read.parquet(compacted).alias("r").join(rebuilt.alias("b"),
            col("r.id") === col("b.id"), "full_outer")
          .select(coalesce(col("r.id"), col("b.id")).as("id"),
            (col("r.sig") <=> col("b.sig")).as("sig_equal"))
          .orderBy("id")
      },
      Some("SELECT doc_id AS id, true AS sig_equal FROM documents ORDER BY doc_id")),

    // ── the INGEST LOOP end-to-end: 3 sequential id-range batches, each
    //    running the full per-batch recipe (within-batch LSH dedup +
    //    index PROBE for batch-vs-corpus pairs + signature ROTATION so
    //    the next batch probes a complete index), starting from an EMPTY
    //    persisted index. The step outputs partition the corpus's pair
    //    set — a pair lands in exactly the step where its later doc
    //    arrives — so the 3-step union must equal the full-corpus exact
    //    pair relation: the same oracle as dedup_minhash_lsh. A probe
    //    that saw its own batch's just-rotated signatures would
    //    double-report within-batch pairs and fail the multiset compare,
    //    so this also pins the pre-rotation snapshot semantics.
    //    (max-id agg + 4 index writes execute at plan-build time —
    //    the documented eager-input pattern.) ──────────────────────────
    QueryDef("dedup_ingest_loop",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val idx = scratchDir("ingest", dir) + "/idx"
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
        val (b1, b2) = (maxId / 3, 2L * maxId / 3)
        val batches = Seq(
          docs.filter(col("doc_id") <= b1),
          docs.filter(col("doc_id") > b1 && col("doc_id") <= b2),
          docs.filter(col("doc_id") > b2))
        val earlier = Seq(
          docs.limit(0), batches(0), docs.filter(col("doc_id") <= b2))
        Dedup.minhashIndex(docs.limit(0), "doc_id", "text")
          .write.mode("overwrite").parquet(idx) // empty schema-only seed
        // r16 MEASURED AND LEFT ALONE (guide §2.6): checkpointing each
        // step's pair output (to shrink the 2,421-line union plan) was
        // tried and measured SLOWER (5.6 → 6.2 s isolated) — the lazy
        // 3-step union runs as one job whose independent step subtrees
        // overlap in the scheduler, and serializing them costs more than
        // the big plan does. The 128 scan nodes in the printed plan
        // dedupe at runtime via ReuseExchange.
        batches.zip(earlier)
          .map { case (b, ex) =>
            Dedup.ingestStep(idx, ex, b, "doc_id", "text", threshold = 0.8) }
          .reduce(_ unionByName _)
          .orderBy("doc_a", "doc_b")
      },
      Some(sqlExactJaccardPairs)),

    // ── near-dup clustering: connected components over the exact pair
    //    relation (min-label propagation); oracle = DuckDB recursive
    //    reachability over the same pairs ──────────────────────────────
    QueryDef("dedup_clusters",
      (s, dir) => Dedup.duplicateClusters(
          Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", threshold = 0.8))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
        t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a, s b
          WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
        reach AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id""")),

    // ── quality-aware canonical selection: per near-dup CLUSTER keep the
    //    doc with the highest Gopher pass count (ties → min id) — real
    //    curation keeps the best copy, not the first-crawled. The argmax
    //    is max(struct(quality, −id)) inside the same hash aggregate as
    //    the cluster rollup: partial-mergeable, no window, no extra
    //    shuffle beyond the cluster relation itself. ────────────────────
    QueryDef("dedup_canonical_quality",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val clusters = Dedup.duplicateClusters(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
        val quality = docs
          .select($"doc_id",
            graft.functions.TextHashFunctions.gopherStats($"text").as("g"))
          .select($"doc_id",
            (when($"g".getItem(0) >= 50L && $"g".getItem(0) <= 100000L, 1L).otherwise(0L) +
             when(lit(3L) * $"g".getItem(0) <= $"g".getItem(1) &&
               $"g".getItem(1) <= lit(10L) * $"g".getItem(0), 1L).otherwise(0L) +
             when(lit(10L) * ($"g".getItem(2) + $"g".getItem(3)) <= $"g".getItem(0), 1L)
               .otherwise(0L) +
             when(lit(5L) * $"g".getItem(4) >= lit(4L) * $"g".getItem(0), 1L).otherwise(0L) +
             when($"g".getItem(5) >= 2L, 1L).otherwise(0L)).as("q"))
        clusters.join(quality, "doc_id")
          .groupBy($"cluster_id")
          .agg(count(lit(1)).as("n_docs"),
            max(struct($"q", (-$"doc_id").as("negid"))).as("best"))
          .select($"cluster_id", $"n_docs",
            (-$"best.negid").as("canonical_id"),
            $"best.q".as("canonical_quality"))
          .orderBy($"cluster_id")
      },
      Some(s"""WITH RECURSIVE
        t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a, s b
          WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
        reach AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src),
        m AS (SELECT doc_id, len(toks) AS words,
            length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
            (length(text) - length(replace(text, '#', ''))) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM t),
        q AS (SELECT doc_id,
            (CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END +
             CASE WHEN 3 * words <= nonws AND nonws <= 10 * words THEN 1 ELSE 0 END +
             CASE WHEN 10 * (n_hash + n_ell) <= words THEN 1 ELSE 0 END +
             CASE WHEN 5 * alpha_words >= 4 * words THEN 1 ELSE 0 END +
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS q
          FROM m),
        j AS (SELECT cl.cluster_id, cl.doc_id, q.q FROM cl JOIN q USING (doc_id)),
        r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY q DESC, doc_id ASC) AS rn FROM j)
        SELECT g.cluster_id, g.n_docs, r.doc_id AS canonical_id,
          CAST(r.q AS BIGINT) AS canonical_quality
        FROM (SELECT cluster_id, count(*) AS n_docs FROM j GROUP BY 1) g
        JOIN r ON r.cluster_id = g.cluster_id AND r.rn = 1
        ORDER BY g.cluster_id""")),

    // ── the apply step: corpus minus exact duplicates (canonical kept).
    //    Input is the corpus unioned with a re-keyed copy of itself, so
    //    the dedup provably removes the planted copies. ─────────────────
    QueryDef("dedup_apply",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val doubled = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 100000L))
        Dedup.dropExactDuplicates(doubled, "doc_id", "text")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            max(col("doc_id")).as("max_id"))
      },
      Some("""SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        max(doc_id) AS max_id FROM documents""")),

    // ── the near-dup APPLY step: corpus minus near-duplicates (cluster
    //    the exact pair relation, keep each cluster's min-id canonical,
    //    unpaired docs pass through) — the step that actually shrinks a
    //    pretraining corpus. Oracle replays clustering via recursive
    //    reachability and drops the same non-canonical ids. ────────────
    QueryDef("dedup_apply_near",
      (s, dir) => Dedup.dropNearDuplicates(
          Tables.load(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("sum_chars")),
      Some(s"""WITH RECURSIVE
        t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a, s b
          WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
        reach AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src),
        dropped AS (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id)
        SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""")),

    // ── SimHash near-dup, EXACT-oracle form: the two-level 4×16-bit
    //    banding guarantees 100% recall at hamming ≤ 3 (pigeonhole), and
    //    the final bit_count filter removes every false positive — so the
    //    output IS the brute-force hamming-≤3 pair set. With md5-low-64
    //    token hashes (a cross-engine primitive, vs the default FNV-1a)
    //    the oracle rebuilds the identical simhashes in SQL and replays
    //    that brute force. ──────────────────────────────────────────────
    QueryDef("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxDistance = 3, md5TokenHash = true)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        hv AS (SELECT doc_id, ${OracleGen.md5Low64Expr("md5(tok)")} AS hv FROM t),
        votes AS (SELECT doc_id, b,
            sum(CASE WHEN (hv >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM hv CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
          GROUP BY doc_id, b),
        sh AS (SELECT doc_id,
            sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END)::UBIGINT AS h
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3
        ORDER BY doc_a, doc_b""")),

    // ── embedding-cosine near-dup: exact quadratic baseline. The
    //    registered query BOUNDS its input to the first 1000 ids so the
    //    O(n²) oracle anchor stays constant-cost as sf grows (a no-op at
    //    the 500-vector correctness sf); the LSH query below is the
    //    unbounded scale path. ──────────────────────────────────────────
    QueryDef("dedup_embedding_cosine",
      (s, dir) => Dedup.embeddingCosinePairs(
          Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        ORDER BY id_a, id_b""")),

    // ── embedding near-dup, scale path: LSH-bucketed candidates with
    //    hamming-1 probes, exact-cosine verified. The hyperplane matrix
    //    is a pure function of the seed, so the oracle restates it as
    //    literal ±1 chains and replays the full algorithm: auto-sized
    //    bucket width, signature, hamming-≤1 candidate rule (≡ the
    //    probe join), exact cosine ≥ t. ─────────────────────────────────
    QueryDef("dedup_embedding_lsh",
      (s, dir) => Dedup.embeddingNearDupPairsLsh(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4) // bits auto-sized to corpus
        .orderBy("id_a", "id_b"),
      Some(s"""WITH p AS (SELECT least(24, greatest(8, CAST(
            CASE WHEN ((count(*) + 3) // 4) <= 1 THEN 0
                 ELSE length(format('{:b}', ((count(*) + 3) // 4) - 1)) END
            AS INTEGER))) AS nbits
          FROM embeddings),
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        sig AS (SELECT vec_id, e,
            ${OracleGen.sigExprMasked(42L, 24, 64, "e", "nbits")} AS s
          FROM v CROSS JOIN p)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_cosine_similarity(a.e, b.e) AS cosine
        FROM sig a JOIN sig b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.s, b.s)) <= 1
          AND list_cosine_similarity(a.e, b.e) >= 0.4
        ORDER BY id_a, id_b""")),

    // ── SemDeDup (Abbas et al. 2023): cluster-then-dedup — the seeded
    //    IVF quantizer blocks the corpus into 64 cells, near-dup search
    //    runs only within cells (corpus² → Σ occ²), the kept
    //    representative per duplicate group is the minimum id. Output is
    //    the per-cell curation report. Cross-cell dups missed by design
    //    (the published method's approximation); same 0.4 threshold as
    //    the exact/LSH embedding dedups so the three paths are
    //    comparable on the fixture. ─────────────────────────────────────
    QueryDef("dedup_semdedup_cells",
      (s, dir) => Dedup.semDedupCells(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4) // cells auto-sized ~sqrt(n)
        .orderBy("cell"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id
          LIMIT (SELECT greatest(64,
                   CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                 FROM embeddings)),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        wc AS (SELECT a.vec_id, a.cell, v.e FROM assign a
          JOIN v ON v.vec_id = a.vec_id),
        pairs AS (SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b
          FROM wc x JOIN wc y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE list_cosine_similarity(x.e, y.e) >= 0.4),
        pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
            CAST(count(DISTINCT id_b) AS BIGINT) AS n_removed
          FROM pairs GROUP BY cell),
        mem AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
          FROM wc GROUP BY cell)
        SELECT mem.cell, mem.n_members,
          CAST(coalesce(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
          CAST(coalesce(pc.n_removed, 0) AS BIGINT) AS n_removed,
          CAST(mem.n_members - coalesce(pc.n_removed, 0) AS BIGINT) AS n_kept
        FROM mem LEFT JOIN pc ON mem.cell = pc.cell ORDER BY mem.cell""")),

    // ── Incremental SemDeDup: admit a batch against the frozen cell
    //    index over the stored corpus (stored = 3/4 of ids, batch =
    //    vec_id % 4 = 0 — a proportional split at every sf). Each batch
    //    vector is routed against the STORED quantizer and compared
    //    only to same-cell stored members + smaller-id same-cell
    //    batchmates — O(batch·occupancy), never a corpus re-assignment.
    //    The admit rule is semDedupCells' keep-minimum applied online. ──
    QueryDef("dedup_semdedup_probe",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Dedup.semDedupProbe(
          emb.filter(pmod(col("vec_id"), lit(4L)) =!= 0L)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          emb.filter(pmod(col("vec_id"), lit(4L)) === 0L)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          threshold = 0.4)
          .orderBy("vec_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        stored AS (SELECT * FROM v WHERE vec_id % 4 <> 0),
        batch AS (SELECT * FROM v WHERE vec_id % 4 = 0),
        cent AS (SELECT vec_id AS cell, e AS ce FROM stored ORDER BY vec_id
          LIMIT (SELECT greatest(64,
                   CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                 FROM stored)),
        sa AS (SELECT vec_id, cell FROM (
            SELECT s.vec_id, t.cell, row_number() OVER (PARTITION BY s.vec_id
              ORDER BY list_cosine_similarity(s.e, t.ce) DESC, t.cell) rn
            FROM stored s CROSS JOIN cent t) WHERE rn = 1),
        ba AS (SELECT vec_id, cell FROM (
            SELECT b.vec_id, t.cell, row_number() OVER (PARTITION BY b.vec_id
              ORDER BY list_cosine_similarity(b.e, t.ce) DESC, t.cell) rn
            FROM batch b CROSS JOIN cent t) WHERE rn = 1),
        cand AS (
          SELECT ba.cell, ba.vec_id AS cid, bb.e AS be, sa.vec_id AS sid,
            s.e AS se
          FROM ba JOIN batch bb ON bb.vec_id = ba.vec_id
          JOIN sa ON sa.cell = ba.cell
          JOIN stored s ON s.vec_id = sa.vec_id
          UNION ALL
          SELECT b1.cell, b1.vec_id, bb1.e, b2.vec_id, bb2.e
          FROM ba b1 JOIN batch bb1 ON bb1.vec_id = b1.vec_id
          JOIN ba b2 ON b2.cell = b1.cell AND b2.vec_id < b1.vec_id
          JOIN batch bb2 ON bb2.vec_id = b2.vec_id),
        sims AS (SELECT cell, cid, sid,
            list_cosine_similarity(be, se) AS cosine
          FROM cand WHERE list_cosine_similarity(be, se) >= 0.4),
        best AS (SELECT cid, sid AS best_match_id, n_matches FROM (
            SELECT cid, sid,
              row_number() OVER (PARTITION BY cid
                ORDER BY cosine DESC, sid) rn,
              CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_matches
            FROM sims) WHERE rn = 1)
        SELECT ba.vec_id, ba.cell,
          CAST(coalesce(best.n_matches, 0) AS BIGINT) AS n_matches,
          best.best_match_id,
          coalesce(best.n_matches, 0) = 0 AS admitted
        FROM ba LEFT JOIN best ON best.cid = ba.vec_id
        ORDER BY ba.vec_id""")),

    // ── SemDeDup, two-level quantizer FORCED at oracle scale: the shape
    //    the auto path takes past ~17 M vectors (coarse cells route by
    //    broadcast, each coarse cell re-split by its own lowest-id
    //    members via a keyed shuffle join — no frozen-cell-count
    //    quadratic, no corpus-scaled broadcast). BOTH tiers auto-size to
    //    ⌊√⌊√n⌋⌋ (4×4 at the 500-vector correctness fixture, 21×21 at
    //    sf10) so total cells track √n at every sf — a fixed tier pin
    //    would itself re-open the fixed-cell n² trap as sf grows. The
    //    oracle replays both tiers exactly (computed tier LIMIT, lowest-
    //    id seeds, cosine argmax, ties → lower cell at both levels). ────
    QueryDef("dedup_semdedup_twolevel",
      (s, dir) => Dedup.semDedupCellsTwoLevel(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4) // tiers auto-sized ~⁴√n
        .orderBy("cell"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        tiers AS (SELECT greatest(2, CAST(floor(sqrt(CAST(
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
            AS DOUBLE))) AS BIGINT)) AS t FROM embeddings),
        cc AS (SELECT vec_id AS ccell, e AS ce FROM v ORDER BY vec_id
          LIMIT (SELECT t FROM tiers)),
        ca AS (SELECT vec_id, ccell FROM (
            SELECT c.vec_id, t.ccell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.ccell) AS rn
            FROM v c CROSS JOIN cc t) WHERE rn = 1),
        sc AS (SELECT ccell, vec_id AS cell, e AS sce FROM (
            SELECT ca.ccell, ca.vec_id, v.e,
              row_number() OVER (PARTITION BY ca.ccell
                ORDER BY ca.vec_id) AS rn
            FROM ca JOIN v ON v.vec_id = ca.vec_id)
          WHERE rn <= (SELECT t FROM tiers)),
        sa AS (SELECT vec_id, cell FROM (
            SELECT ca.vec_id, sc.cell,
              row_number() OVER (PARTITION BY ca.vec_id
                ORDER BY list_cosine_similarity(v.e, sc.sce) DESC, sc.cell) AS rn
            FROM ca JOIN v ON v.vec_id = ca.vec_id
            JOIN sc ON sc.ccell = ca.ccell) WHERE rn = 1),
        wc AS (SELECT sa.vec_id, sa.cell, v.e FROM sa
          JOIN v ON v.vec_id = sa.vec_id),
        pairs AS (SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b
          FROM wc x JOIN wc y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE list_cosine_similarity(x.e, y.e) >= 0.4),
        pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
            CAST(count(DISTINCT id_b) AS BIGINT) AS n_removed
          FROM pairs GROUP BY cell),
        mem AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
          FROM wc GROUP BY cell)
        SELECT mem.cell, mem.n_members,
          CAST(coalesce(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
          CAST(coalesce(pc.n_removed, 0) AS BIGINT) AS n_removed,
          CAST(mem.n_members - coalesce(pc.n_removed, 0) AS BIGINT) AS n_kept
        FROM mem LEFT JOIN pc ON mem.cell = pc.cell ORDER BY mem.cell""")),

    // ── similarity search: exact top-k per query (bounded-heap agg) ─────
    QueryDef("sim_topk_brute",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.bruteForceTopK(queries, candidates, k = 5)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ── filtered similarity search: top-k under a metadata predicate
    //    (the vector-DB "pre-filter" pattern — the label filter prunes
    //    candidates BEFORE any scoring, visible as a pushed filter) ─────
    QueryDef("sim_topk_filtered",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = querySplit(emb)._1
        val candidates = emb.filter(col("label") === 1)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        Similarity.bruteForceTopK(queries, candidates, k = 5)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id AND c.label = 1) t
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ── MMR diversified rerank (Carbonell & Goldstein SIGIR'98): from
    //    each query's exact top-8 pool greedily pick 4 maximizing
    //    0.75·rel − 0.25·max-sim-to-selected (ties → lower id at every
    //    step). λ = 0.75 is chosen so BOTH coefficients are exact binary
    //    fractions — the Scala-side 1−λ fold and the SQL literals are
    //    the same doubles, so every mmr comparison is bit-identical.
    //    One lazy plan, no build-time job: the pool is collected per
    //    query and one greedy kernel per query picks the 4 (|Q|·poolK
    //    rows ≤ constant after the top-k heap). ────────────────────────
    QueryDef("sim_rerank_mmr",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.mmrRerank(queries, candidates,
          poolK = 8, selectK = 4, lambda = 0.75)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        pool AS (SELECT qid, cid, rel FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              list_cosine_similarity(q.e, c.e) AS rel,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id)
                AS rn
            FROM v q, v c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
          WHERE rn <= 8),
        pr AS (SELECT p1.qid, p1.cid AS c1, p2.cid AS c2,
            list_cosine_similarity(a.e, b.e) AS s12
          FROM pool p1 JOIN pool p2 ON p1.qid = p2.qid AND p1.cid <> p2.cid
          JOIN v a ON a.vec_id = p1.cid JOIN v b ON b.vec_id = p2.cid),
        s1 AS (SELECT qid, cid, rel FROM (SELECT qid, cid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) rn
          FROM pool) WHERE rn = 1),
        m2 AS (SELECT p.qid, p.cid, p.rel, max(pr.s12) AS ms
          FROM pool p JOIN pr ON pr.qid = p.qid AND pr.c1 = p.cid
          JOIN s1 ON s1.qid = pr.qid AND s1.cid = pr.c2
          WHERE NOT EXISTS (SELECT 1 FROM s1 x
            WHERE x.qid = p.qid AND x.cid = p.cid)
          GROUP BY p.qid, p.cid, p.rel),
        p2 AS (SELECT qid, cid, rel FROM (SELECT qid, cid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY
              CAST(0.75 AS DOUBLE) * rel - CAST(0.25 AS DOUBLE) * ms DESC,
              cid) rn FROM m2) WHERE rn = 1),
        sel2 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM p2),
        m3 AS (SELECT p.qid, p.cid, p.rel, max(pr.s12) AS ms
          FROM pool p JOIN pr ON pr.qid = p.qid AND pr.c1 = p.cid
          JOIN sel2 ON sel2.qid = pr.qid AND sel2.cid = pr.c2
          WHERE NOT EXISTS (SELECT 1 FROM sel2 x
            WHERE x.qid = p.qid AND x.cid = p.cid)
          GROUP BY p.qid, p.cid, p.rel),
        p3 AS (SELECT qid, cid, rel FROM (SELECT qid, cid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY
              CAST(0.75 AS DOUBLE) * rel - CAST(0.25 AS DOUBLE) * ms DESC,
              cid) rn FROM m3) WHERE rn = 1),
        sel3 AS (SELECT qid, cid FROM sel2 UNION ALL SELECT qid, cid FROM p3),
        m4 AS (SELECT p.qid, p.cid, p.rel, max(pr.s12) AS ms
          FROM pool p JOIN pr ON pr.qid = p.qid AND pr.c1 = p.cid
          JOIN sel3 ON sel3.qid = pr.qid AND sel3.cid = pr.c2
          WHERE NOT EXISTS (SELECT 1 FROM sel3 x
            WHERE x.qid = p.qid AND x.cid = p.cid)
          GROUP BY p.qid, p.cid, p.rel),
        p4 AS (SELECT qid, cid, rel FROM (SELECT qid, cid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY
              CAST(0.75 AS DOUBLE) * rel - CAST(0.25 AS DOUBLE) * ms DESC,
              cid) rn FROM m4) WHERE rn = 1)
        SELECT qid AS query_id, 1 AS rank, cid AS neighbor_id, rel FROM s1
        UNION ALL SELECT qid, 2, cid, rel FROM p2
        UNION ALL SELECT qid, 3, cid, rel FROM p3
        UNION ALL SELECT qid, 4, cid, rel FROM p4
        ORDER BY query_id, rank""")),

    // ── MIPS: exact top-k by INNER PRODUCT (recommender / learned-
    //    retrieval scoring — magnitude carries signal, FAISS
    //    METRIC_INNER_PRODUCT). Same broadcast-queries + codegen kernel +
    //    bounded-heap plan as sim_topk_brute; DuckDB's list_dot_product
    //    is the same sequential double fold as VectorKernels.dot, so
    //    scores are bit-identical (verified like the cosine identity). ──
    QueryDef("sim_topk_mips",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.mipsTopK(queries, candidates, k = 5)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ── MIPS at scale: norm-augmentation to angular LSH (Bachrach'14 /
    //    Shrivastava-Li ALSH) — candidates become [x, √(M²−|x|²)],
    //    queries [q, 0], and the existing hyperplane bucketing applies
    //    to the dim+1 vectors; exact inner product on the ORIGINAL
    //    vectors scores the survivors. Deterministic end to end (M is a
    //    max aggregate, the residual rounds to float32 once), so the
    //    oracle replays the identical algorithm: augmented signatures,
    //    multi-probe hamming ≤2 over 8 tables, dot-product ranking. ────
    QueryDef("sim_topk_mips_norm",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.mipsLshTopK(queries, candidates, k = 5,
            bits = 8, tables = 12, probeHamming = 2)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some {
        val csigs = (0 until 12).map(t =>
          s"${OracleGen.sigExpr(OracleGen.lshTableSeed(42L, t), 8, 65, "ec")} AS c$t")
          .mkString(",\n            ")
        val qsigs = (0 until 12).map(t =>
          s"${OracleGen.sigExpr(OracleGen.lshTableSeed(42L, t), 8, 65, "eq")} AS s$t")
          .mkString(",\n            ")
        val anyTable = (0 until 12)
          .map(t => s"bit_count(xor(q.s$t, c.c$t)) <= 2")
          .mkString(" OR\n            ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        m AS (SELECT max(list_dot_product(e, e)) AS m2 FROM v),
        a AS (SELECT vec_id, e,
            list_concat(e, [CAST(CAST(sqrt(greatest(m.m2 - list_dot_product(e, e), 0.0)) AS FLOAT) AS DOUBLE)]) AS ec,
            list_concat(e, [CAST(0.0 AS DOUBLE)]) AS eq
          FROM v CROSS JOIN m),
        sig AS (SELECT vec_id, e,
            $csigs,
            $qsigs
          FROM a),
        pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_dot_product(q.e, c.e) AS sim
          FROM sig q JOIN sig c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10 AND (
            $anyTable)),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM pairs)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""
      }),

    // ── int8 embedding quantization: per-vector max-abs scale, floor
    //    codes (floor, not round — identical across engines), the 4×
    //    storage cut applied before embeddings land in parquet ──────────
    QueryDef("embed_quantize_int8",
      (s, dir) => {
        val maxabs = array_max(transform(col("embedding"),
          v => abs(v.cast("double"))))
        val codes = transform(col("embedding"),
          v => when(maxabs === 0.0, 0)
            .otherwise(floor(v.cast("double") / maxabs * 127)).cast("int"))
        Tables.load(s, dir, "embeddings")
          .filter(col("vec_id") < 200)
          .select(col("vec_id"), codes.as("codes"))
          .select(col("vec_id"),
            aggregate(col("codes"), lit(0), (a, x) => a + x).as("code_sum"),
            array_min(col("codes")).as("code_min"),
            array_max(col("codes")).as("code_max"))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (SELECT vec_id,
          list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs,
          CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 200),
      c AS (SELECT vec_id,
          list_transform(e, v -> CAST(CASE WHEN maxabs = 0 THEN 0
            ELSE floor(v / maxabs * 127) END AS INTEGER)) AS codes
        FROM q)
      SELECT vec_id,
        CAST(coalesce(list_sum(codes), 0) AS INTEGER) AS code_sum,
        list_min(codes) AS code_min, list_max(codes) AS code_max
      FROM c ORDER BY vec_id""")),

    // ── SQ8 asymmetric search (FAISS ScalarQuantizer's search shape —
    //    the two-stage that makes embed_quantize_int8's 4× byte cut an
    //    ANN speedup, not just a storage one): stage 1 scans int8 CODES
    //    with the full-precision query — (scale/127)·⟨q, codes⟩ reads a
    //    quarter of the bytes of a float32 scan, and at 100 TB the
    //    brute stage is memory-bandwidth-bound so bytes ≈ time; stage 2
    //    re-ranks only the 50-per-query shortlist with exact cosine on
    //    full vectors. Zero codebook training (vs PQ), near-lossless
    //    recall. Every step is IEEE-replayable: scale/floor/dot/cosine
    //    run the same left-to-right double folds as the oracle's list
    //    kernels, ties break to the lower id in both engines. ───────────
    QueryDef("sim_topk_sq8",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.sq8TopKRerank(queries, candidates, k = 5, rerank = 50)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlSq8Topk)),

    // ── SQ8 serving shape: probe the PERSISTED codes index. The
    //    (cid, scale, codes) table — ~¼ the corpus bytes, built by one
    //    narrow map at ingest — round-trips through parquet (int8 codes
    //    stored as float are exactly representable, so the round-trip
    //    is bit-identical), and stage 1 scans ONLY the stored codes;
    //    full vectors are joined back for the exact re-rank of the
    //    50-per-query shortlist alone. Same oracle as sim_topk_sq8 ⇒
    //    the driver proves index-probe ≡ recompute every round (the
    //    SQ8 twin of sim_index_probe / dedup_signature_index). ──────────
    QueryDef("sim_index_sq8",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val root = scratchDir("sq8", dir)
        Similarity.sq8Index(candidates)
          .write.mode("overwrite").parquet(root + "/codes")
        Similarity.sq8TopKViaCodes(
            s.read.parquet(root + "/codes"), queries, candidates,
            k = 5, rerank = 50)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlSq8Topk)),

    // ── similarity search: multi-table LSH-bucketed ANN. Deterministic
    //    seed-derived hyperplanes → the oracle restates all 4 tables'
    //    plane matrices as literals; a pair is a candidate iff some
    //    table's signatures sit within hamming 1 (≡ the probe join);
    //    duplicate matches across tables collapse (heap ↔ one SQL row). ─
    QueryDef("sim_topk_lsh",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        // bits=10/L=8/hamming≤2: the ScalingSmokeSpec-validated operating
        // point — holds recall ≥0.9 at 10× corpus even when true top-k
        // are mid-similarity chance neighbors (see Similarity.lshTopK doc)
        Similarity.lshTopK(queries, candidates, k = 5, bits = 10,
            tables = 8, probeHamming = 2)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some {
        val sigs = (0 until 8).map(t =>
          s"${OracleGen.sigExpr(OracleGen.lshTableSeed(42L, t), 10, 64, "e")} AS s$t")
          .mkString(",\n            ")
        val anyTable = (0 until 8)
          .map(t => s"bit_count(xor(q.s$t, c.s$t)) <= 2")
          .mkString(" OR\n            ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        sig AS (SELECT vec_id, e,
            $sigs
          FROM v),
        pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM sig q JOIN sig c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10 AND (
            $anyTable)),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM pairs)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank"""
      }),

    // ── similarity search: IVF with a deterministic seeded coarse
    //    quantizer (centroids = lowest-id corpus vectors, one-pass argmax
    //    assignment) — every step is a pure function of the data, so the
    //    oracle replays the whole algorithm: centroid pick, cell
    //    assignment, nProbe probe choice, exact in-cell ranking. The
    //    KMeans-trained variant stays the library's tunable path
    //    (SimilaritySpec bounds its recall). ─────────────────────────────
    QueryDef("sim_topk_ivf",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        // nc=64/nProbe=24: ScalingSmokeSpec's sf1 sweep point — on an
        // unclustered corpus IVF recall tracks the scanned fraction
        // (nProbe/nc), and 24/64 holds ≥0.9 at 10×; fewer, coarser cells
        // (8/3) degraded to 0.72 as the corpus grew
        Similarity.ivfTopKSeeded(queries, candidates, k = 5, numCentroids = 64, nProbe = 24)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlIvfTopk)),

    // ── ANN serving shape: probe a PERSISTED IVF index. The (cell_id,
    //    centroid) + (cid, cell) tables round-trip through parquet — the
    //    artifact a vector-serving tier loads — and the query batch is
    //    routed against STORED centroids and scored only in probed
    //    cells via STORED assignments: per batch |Q|×|C| routing, never
    //    a corpus re-assignment. Same seeded quantizer and params as
    //    sim_topk_ivf ⇒ same oracle — proving index-probe ≡ recompute,
    //    the ANN twin of dedup_signature_index. ─────────────────────────
    QueryDef("sim_index_probe",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val root = scratchDir("ivf", dir)
        val (centroids, assignments) = Similarity.ivfIndex(candidates, numCentroids = 64)
        centroids.write.mode("overwrite").parquet(root + "/centroids")
        assignments.write.mode("overwrite").parquet(root + "/assignments")
        Similarity.ivfTopKViaIndex(
            s.read.parquet(root + "/centroids"),
            s.read.parquet(root + "/assignments"),
            queries, candidates, k = 5, nProbe = 24)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlIvfTopk)),

    // ── IVF index lifecycle close (the ANN twin of dedup_index_rotate):
    //    build the index for the first 80% of vectors (count() at build
    //    time — documented eager input, a number an ingest pipeline
    //    already tracks), persist, then ROTATE the remaining 20% in:
    //    route them against the STORED (frozen) centroids and append to
    //    the assignment parquet. Proof: rotated assignments ≡ a
    //    from-scratch rebuild over all vectors — valid here because
    //    incoming ids sit above the seed-id range so the frozen centroid
    //    set equals the union's seed pick (see ivfIndexRotate scaladoc);
    //    every vector must report cell_equal=true. ─────────────────────
    QueryDef("sim_index_rotate",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val all = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val nExist = (all.count() * 4L) / 5L
        val existing = all.filter(col("cid") < nExist)
        val incoming = all.filter(col("cid") >= nExist)
        val root = scratchDir("ivfrot", dir)
        val (centroids, assignments) = Similarity.ivfIndex(existing, numCentroids = 64)
        centroids.write.mode("overwrite").parquet(root + "/centroids")
        assignments.write.mode("overwrite").parquet(root + "/assignments")
        Similarity.ivfIndexRotate(
          s.read.parquet(root + "/centroids"), incoming, root + "/assignments")
        val rotated = s.read.parquet(root + "/assignments")
        val rebuilt = Similarity.ivfIndex(all, numCentroids = 64)._2
        rotated.alias("r").join(rebuilt.alias("b"),
            col("r.cid") === col("b.cid"), "full_outer")
          .select(coalesce(col("r.cid"), col("b.cid")).as("id"),
            (col("r.cell") <=> col("b.cell")).as("cell_equal"))
          .orderBy("id")
      },
      Some("SELECT vec_id AS id, true AS cell_equal FROM embeddings ORDER BY vec_id")),

    // ── quantizer drift audit + re-version decision (r13 verdict item
    //    3: every rotation proof above is valid only "while the frozen
    //    seed set equals the union's seed pick" — this operator is what
    //    a serving tier runs to DETECT when that stops holding): freeze
    //    the v1 quantizer on the vec_id % 5 ≠ 0 slice (persisted to
    //    parquet — incoming ids now interleave BELOW the seed range, so
    //    a fresh seed pick over the union genuinely differs), then audit
    //    every vector's cell under frozen-v1 vs fresh-pick quantizers.
    //    Output: per-vector (old_cell, new_cell, cell_changed) + the
    //    corpus drift share in basis points + the version-bump decision
    //    at the 1% threshold — all in-plan (the 1-row share aggregate
    //    recombines via broadcast). The rebuild execution itself +
    //    old-probe/new-probe comparability on the unchanged subset are
    //    pinned by SimilaritySpec's ivfReversionOnDrift tests. ──────────
    QueryDef("sim_index_reversion",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val all = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val existing = all.filter(pmod(col("cid"), lit(5L)) =!= 0L)
        val root = scratchDir("reversion", dir)
        Similarity.ivfIndex(existing, numCentroids = 64)._1
          .write.mode("overwrite").parquet(root + "/centroids_v1")
        val audit = Similarity.ivfDriftAudit(
          s.read.parquet(root + "/centroids_v1"), all, numCentroids = 64)
        val share = audit.agg(
          sum(when(col("cell_changed"), 1L).otherwise(0L)).as("n_changed"),
          count(lit(1)).as("n_total"))
        audit.crossJoin(broadcast(share))
          .select(col("cid").as("id"), col("old_cell"), col("new_cell"),
            col("cell_changed"),
            expr("n_changed * 10000 DIV n_total").as("drift_bp"),
            (expr("n_changed * 10000 DIV n_total") > 100L).as("rebuild"))
          .orderBy("id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        oldc AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e FROM v WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 64)),
        newc AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        oa AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN oldc t) WHERE rn = 1),
        na AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN newc t) WHERE rn = 1),
        j AS (SELECT o.vec_id, o.cell AS old_cell, n.cell AS new_cell,
            o.cell <> n.cell AS cell_changed
          FROM oa o JOIN na n ON o.vec_id = n.vec_id),
        m AS (SELECT CAST(sum(CASE WHEN cell_changed THEN 1 ELSE 0 END) AS BIGINT) AS nch,
            CAST(count(*) AS BIGINT) AS n FROM j)
        SELECT vec_id AS id, old_cell, new_cell, cell_changed,
          CAST(nch * 10000 // n AS BIGINT) AS drift_bp,
          nch * 10000 // n > 100 AS rebuild
        FROM j CROSS JOIN m ORDER BY id""")),

    // ── PQ-ADC ANN (recompute form): the MEMORY-BOUND index shape —
    //    vectors encode once into m=4 subspace codes (argmin-L2 against
    //    a seeded per-subspace codebook = slices of the 16 lowest-id
    //    vectors), and query scoring is m table lookups per candidate
    //    off a per-query distance table; candidate VECTORS are never
    //    read at query time. Fully deterministic (seeded codebook,
    //    ties → lower code / lower cid, ordered subspace sums), so the
    //    oracle replays codebook, encoding, distance tables, and
    //    ranking bit-for-bit. ──────────────────────────────────────────
    QueryDef("sim_topk_pq",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.pqTopKSeeded(queries, candidates, k = 5, m = 4, ksub = 16)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlPqTopk)),

    // ── PQ index round-trip: seeds (the stored quantizer model, ksub
    //    rows) + codes (m ints/vector — the ~m-bytes-per-vector index
    //    economics at ksub=256) persist to parquet and serve the probe
    //    with NO access to the original vectors. Same params and pure
    //    functions as sim_topk_pq ⇒ shares its oracle verbatim, so the
    //    driver proves probe-from-stored-index ≡ recompute every round
    //    (the PQ twin of sim_index_probe). ─────────────────────────────
    QueryDef("sim_index_pq",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val root = scratchDir("pq", dir)
        val (seeds, codes) = Similarity.pqIndex(candidates, m = 4, ksub = 16)
        seeds.write.mode("overwrite").parquet(root + "/seeds")
        codes.write.mode("overwrite").parquet(root + "/codes")
        Similarity.pqTopKViaCodes(
            s.read.parquet(root + "/seeds"),
            s.read.parquet(root + "/codes"),
            queries, k = 5, m = 4)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlPqTopk)),

    // ── range (radius) search — the other half of the ANN API surface
    //    (FAISS range_search): ALL neighbors with cosine ≥ 0.3 per
    //    query, no fixed k. Exact scan-shaped form: broadcast query set,
    //    codegen cosine kernel, scan-level filter — no aggregate, the
    //    result streams out of the map stage. rangeSearchLsh is the
    //    bucket-pruned scale path (recall pinned in SimilaritySpec). ───
    QueryDef("sim_range_search",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.rangeSearch(queries, candidates, threshold = 0.3)
          .orderBy("query_id", "neighbor_id")
      },
      Some("""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS sim
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
          AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) >= 0.3
        ORDER BY query_id, neighbor_id""")),

    // ── PQ shortlist + exact re-rank (the production two-stage): the
    //    codes-only ADC scan shortlists 50 candidates per query, exact
    //    L2 re-scores just those 50 — fixing ADC's near-tie resolution
    //    limit while the corpus still pays only the memory-bound codes
    //    scan. Shortlist cut and final cut both tie to lower cid; the
    //    oracle replays both stages. ───────────────────────────────────
    QueryDef("sim_topk_pq_rerank",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.pqTopKRerank(queries, candidates, k = 5, rerank = 50,
            m = 4, ksub = 16)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cb AS (SELECT code, ce FROM (
            SELECT row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
              e AS ce FROM v) WHERE code < 16),
        ms AS (SELECT unnest(range(4)) AS m),
        sub AS (SELECT x.vec_id, ms.m, cb.code,
            list_reduce(list_transform(range(1, 17), i ->
                (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])
                  * (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])),
              (acc, t) -> acc + t) AS d
          FROM v x CROSS JOIN cb CROSS JOIN ms),
        enc AS (SELECT vec_id AS cid, m, code FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        qdt AS (SELECT vec_id AS qid, m, code, d FROM sub WHERE vec_id < 10),
        adc AS (SELECT q.qid, c.cid, sum(q.d ORDER BY q.m) AS adc_dist
          FROM enc c JOIN qdt q ON c.m = q.m AND c.code = q.code
          WHERE q.qid <> c.cid
          GROUP BY q.qid, c.cid),
        short AS (SELECT qid, cid FROM (
            SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) AS rn
            FROM adc) WHERE rn <= 50),
        exact AS (SELECT s.qid, s.cid,
            list_reduce(list_transform(range(1, 65), i ->
                (q.e[i] - c.e[i]) * (q.e[i] - c.e[i])),
              (acc, t) -> acc + t) AS dist
          FROM short s
          JOIN v q ON q.vec_id = s.qid
          JOIN v c ON c.vec_id = s.cid),
        r AS (SELECT qid, cid, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
          FROM exact)
        SELECT qid AS query_id, cid AS neighbor_id, dist, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ── PQ index lifecycle close (the PQ twin of sim_index_rotate):
    //    index the first 80% of vectors, persist seeds+codes, then
    //    ROTATE the rest in — encode against the STORED (frozen)
    //    codebook, append to the codes parquet — and prove rotated
    //    codes ≡ a from-scratch rebuild over all vectors (valid while
    //    the frozen seed set equals the union's seed pick; every
    //    vector must report codes_equal=true). ─────────────────────────
    QueryDef("sim_index_pq_rotate",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val all = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val nExist = (all.count() * 4L) / 5L
        val existing = all.filter(col("cid") < nExist)
        val incoming = all.filter(col("cid") >= nExist)
        val root = scratchDir("pqrot", dir)
        // spread=false: the lowest-id seed pick is PREFIX-STABLE, which
        // is what makes the from-scratch-rebuild comparison valid (see
        // Similarity.pqSeedRows) — the md5-spread pick of the search
        // queries has no such stability.
        val (seeds, codes) = Similarity.pqIndex(existing, m = 4, ksub = 16,
          spread = false)
        seeds.write.mode("overwrite").parquet(root + "/seeds")
        codes.write.mode("overwrite").parquet(root + "/codes")
        Similarity.pqIndexRotate(
          s.read.parquet(root + "/seeds"), incoming, root + "/codes", m = 4)
        val rotated = s.read.parquet(root + "/codes")
        val rebuilt = Similarity.pqIndex(all, m = 4, ksub = 16,
          spread = false)._2
        rotated.alias("r").join(rebuilt.alias("b"),
            col("r.cid") === col("b.cid"), "full_outer")
          .select(coalesce(col("r.cid"), col("b.cid")).as("id"),
            (col("r.codes") <=> col("b.codes")).as("codes_equal"))
          .orderBy("id")
      },
      Some("SELECT vec_id AS id, true AS codes_equal FROM embeddings ORDER BY vec_id")),

    // ── PQ codebook drift audit + re-version decision (r14 verdict
    //    item 4 — closes the PQ half of the drift hole
    //    sim_index_reversion closed for IVF): freeze the v1 codebook on
    //    the vec_id % 5 ≠ 0 slice (prefix-stable lowest-id pick,
    //    persisted to parquet — incoming ids interleave BELOW the seed
    //    range, so the fresh pick over the union genuinely differs),
    //    then encode EVERY vector under frozen-v1 vs fresh codebooks
    //    and report per-vector subspace agreement + the corpus drift
    //    share in basis points + the version-bump decision at the 1%
    //    threshold. Shares sim_index_reversion's audit arithmetic
    //    (nch·10000 DIV n). The rebuild execution + no-drift identity
    //    are pinned by SimilaritySpec's pqReversionOnDrift tests. ───────
    QueryDef("sim_index_pq_reversion",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val all = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val existing = all.filter(pmod(col("cid"), lit(5L)) =!= 0L)
        val root = scratchDir("pqrev", dir)
        Similarity.pqIndex(existing, m = 4, ksub = 16, spread = false)._1
          .write.mode("overwrite").parquet(root + "/seeds_v1")
        val audit = Similarity.pqDriftAudit(
          s.read.parquet(root + "/seeds_v1"), all, m = 4)
        val share = audit.agg(
          sum(when(col("code_changed"), 1L).otherwise(0L)).as("n_changed"),
          count(lit(1)).as("n_total"))
        audit.crossJoin(broadcast(share))
          .select(col("cid").as("id"), col("n_sub_changed"),
            col("code_changed"),
            expr("n_changed * 10000 DIV n_total").as("drift_bp"),
            (expr("n_changed * 10000 DIV n_total") > 100L).as("rebuild"))
          .orderBy("id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cb0 AS (SELECT code, ce FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e AS ce
            FROM v WHERE vec_id % 5 <> 0) WHERE code < 16),
        cb1 AS (SELECT code, ce FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e AS ce
            FROM v) WHERE code < 16),
        ms AS (SELECT unnest(range(4)) AS m),
        sub0 AS (SELECT x.vec_id, ms.m, cb0.code,
            list_reduce(list_transform(range(1, 17), i ->
                (x.e[ms.m * 16 + i] - cb0.ce[ms.m * 16 + i])
                  * (x.e[ms.m * 16 + i] - cb0.ce[ms.m * 16 + i])),
              (acc, t) -> acc + t) AS d
          FROM v x CROSS JOIN cb0 CROSS JOIN ms),
        enc0 AS (SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM sub0) WHERE rn = 1),
        sub1 AS (SELECT x.vec_id, ms.m, cb1.code,
            list_reduce(list_transform(range(1, 17), i ->
                (x.e[ms.m * 16 + i] - cb1.ce[ms.m * 16 + i])
                  * (x.e[ms.m * 16 + i] - cb1.ce[ms.m * 16 + i])),
              (acc, t) -> acc + t) AS d
          FROM v x CROSS JOIN cb1 CROSS JOIN ms),
        enc1 AS (SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM sub1) WHERE rn = 1),
        mp AS (SELECT cb0.code AS oc, cb1.code AS nc
          FROM cb0 JOIN cb1 ON cb0.ce = cb1.ce),
        j AS (SELECT enc0.vec_id,
            CAST(sum(CASE WHEN mp.nc IS NULL OR mp.nc <> enc1.code
              THEN 1 ELSE 0 END) AS BIGINT) AS n_sub_changed
          FROM enc0 JOIN enc1
            ON enc0.vec_id = enc1.vec_id AND enc0.m = enc1.m
          LEFT JOIN mp ON mp.oc = enc0.code
          GROUP BY enc0.vec_id),
        st AS (SELECT
            CAST(sum(CASE WHEN n_sub_changed > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nch,
            CAST(count(*) AS BIGINT) AS n FROM j)
        SELECT vec_id AS id, n_sub_changed, n_sub_changed > 0 AS code_changed,
          CAST(nch * 10000 // n AS BIGINT) AS drift_bp,
          nch * 10000 // n > 100 AS rebuild
        FROM j CROSS JOIN st ORDER BY id""")),

    // ── IVF-PQ fused (the billion-vector serving standard): coarse
    //    quantizer prunes to 24 of 64 cells per query, PQ-ADC scores
    //    the probed cells' members from codes alone — unprobed cells
    //    and ALL original candidate vectors untouched at query time.
    //    Same seeded quantizers as sim_topk_ivf + sim_topk_pq; the
    //    oracle replays both and the fused scoring. ────────────────────
    QueryDef("sim_topk_ivfpq",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.ivfPqTopKSeeded(queries, candidates, k = 5,
            numCentroids = 64, nProbe = 24, m = 4, ksub = 16)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10) WHERE rn <= 24),
        cb AS (SELECT code, ce FROM (
            SELECT row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
              e AS ce FROM v) WHERE code < 16),
        ms AS (SELECT unnest(range(4)) AS m),
        sub AS (SELECT x.vec_id, ms.m, cb.code,
            list_reduce(list_transform(range(1, 17), i ->
                (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])
                  * (x.e[ms.m * 16 + i] - cb.ce[ms.m * 16 + i])),
              (acc, t) -> acc + t) AS d
          FROM v x CROSS JOIN cb CROSS JOIN ms),
        enc AS (SELECT vec_id AS cid, m, code FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        qdt AS (SELECT vec_id AS qid, m, code, d FROM sub WHERE vec_id < 10),
        scored AS (SELECT p.qid, a.vec_id AS cid, sum(q.d ORDER BY q.m) AS dist
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN enc c ON c.cid = a.vec_id
          JOIN qdt q ON q.qid = p.qid AND q.m = c.m AND q.code = c.code
          WHERE p.qid <> a.vec_id
          GROUP BY p.qid, a.vec_id),
        r AS (SELECT qid, cid, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
          FROM scored)
        SELECT qid AS query_id, cid AS neighbor_id, dist, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ── IVF-SQ8 fused (FAISS IVFx,SQ8 — r13 top task: sim_topk_sq8's
    //    stage 1 was the last registered serving form paying a full-
    //    corpus codes scan per query batch): the coarse quantizer prunes
    //    to 24 of 64 cells per query, the SQ8 approximate dot scans only
    //    probed cells' int8 codes (¼ the bytes of the float corpus ×
    //    nProbe/|C| of the rows), exact cosine re-ranks the 50-deep
    //    shortlist. Same seeded quantizer as sim_topk_ivf + the same
    //    code arithmetic as sim_topk_sq8; the oracle replays both and
    //    the fused two-stage. ───────────────────────────────────────────
    QueryDef("sim_topk_ivfsq8",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        Similarity.ivfSq8TopKSeeded(queries, candidates, k = 5,
            numCentroids = 64, nProbe = 24, rerank = 50)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlIvfSq8Topk)),

    // ── IVF-SQ8 serving shape: probe the PERSISTED artifacts — the
    //    (cell_id, centroid) quantizer plus the FUSED index, ONE table
    //    (cid, cell, scale, codes) written PARTITIONED BY cell (int8
    //    codes stored as float are exactly representable, so the
    //    parquet round-trip is bit-identical). The cell layout is the
    //    point: the probe's equi join on `cell` prunes the index SCAN
    //    to probed cells' files — nProbe/|C| of the index bytes per
    //    batch, never all of them (the r14 decades measured the
    //    unpartitioned two-table form no faster end-to-end than the
    //    brute codes scan, because the cid re-fuse join read every
    //    code row). Full vectors are joined back only for the
    //    50-per-query exact re-rank. Shares sim_topk_ivfsq8's oracle ⇒
    //    the driver proves index-probe ≡ recompute every round. ─────────
    QueryDef("sim_index_ivfsq8",
      (s, dir) => {
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val root = scratchDir("ivfsq8", dir)
        val (centroids, fused) = Similarity.ivfSq8Index(candidates, numCentroids = 64)
        centroids.write.mode("overwrite").parquet(root + "/centroids")
        fused.write.mode("overwrite").partitionBy("cell")
          .parquet(root + "/index")
        Similarity.ivfSq8ViaFusedIndex(
            s.read.parquet(root + "/centroids"),
            s.read.parquet(root + "/index")
              .select(col("cid"), col("cell").cast("long").as("cell"),
                col("scale"), col("codes")),
            queries, candidates, k = 5, nProbe = 24, rerank = 50)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some(sqlIvfSq8Topk)),

    // ── k-NN JOIN (corpus×corpus, every vector gets top-k neighbors):
    //    the search queries above broadcast a small query set; here both
    //    sides are the corpus, so probe and assignment meet in a SHUFFLE
    //    join on the IVF cell id — the plan a 100 TB all-pairs kNN needs.
    //    The cell count auto-sizes to nc = 2^((bitlen(8n-1)+1) div 2)
    //    ~ sqrt(8n) (integer bit-length, transcendental-free) so
    //    candidates stay O(n^1.5) instead of n^2/const — the measured
    //    sf10 OOM wall with a fixed nc=64.
    //    Deterministic seeded quantizer → the oracle replays the sizing,
    //    centroid pick, assignment, 8-probe choice, in-cell ranking. ────
    QueryDef("sim_knn_join",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("vid"), col("embedding").as("vec"))
        Similarity.ivfKnnJoinSeeded(emb, k = 3, nProbe = 8)
          .withColumn("rank", col("rank").cast(IntegerType))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        w AS (SELECT (1::BIGINT << ((length(format('{:b}', 8 * count(*) - 1)) + 1) // 2)) AS nc
          FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          CROSS JOIN w WHERE rn <= nc),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn <= 8),
        scored AS (SELECT p.qid, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM scored)
        SELECT qid AS query_id, cid AS neighbor_id, sim, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ── dominant principal direction by 3 power-method iterations in
    //    FIXED-POINT integer arithmetic — the PCA step embedding
    //    pipelines use for whitening / "all-but-the-top" common-direction
    //    removal. Everything after the one-time quantization
    //    q = floor(x·2^20) is BIGINT: per-iteration v ← X^T(Xv) as two
    //    integer matvec aggregates with power-of-two truncating rescales
    //    (s DIV 2^26, w DIV 2^26) to bound magnitudes, then an integer
    //    renormalize to ‖v‖≈2^20 via floor(sqrt(Σw²)) (exact — Σw² < 2^53
    //    so the double sqrt is correctly rounded on an exactly-
    //    representable input; DuckDB's `//` and Spark's DIV both
    //    truncate toward zero, verified). Order-independent sums ⇒
    //    partitioning-proof and engine-exact, where double-precision
    //    power iteration could never hash-match. Plan: one corpus
    //    explode reused per iteration, a broadcast 64-row v join + two
    //    shuffles per iteration; nothing corpus-sized on the driver.
    //    Overflow envelope holds to ~1e5 vectors at these scales
    //    (raise_error guard in-plan; larger corpora re-tier the rescales
    //    or block-aggregate — the algorithm shape is unchanged). ─────────
    QueryDef("embed_pca_power",
      (s, dir) => {
        import s.implicits._
        graft.operators.LinearAlgebra
          .pcaPowerDirection(Tables.load(s, dir, "embeddings"))
          .select($"d".cast("int").as("d"), $"v".cast("long").as("v"))
          .orderBy($"d")
      },
      Some(s"""$sqlPcaCtes
           |SELECT CAST(d AS INTEGER) AS d, CAST(v AS BIGINT) AS v FROM v3 ORDER BY d""".stripMargin)),

    // ── "all-but-the-top" residuals (Mu & Viswanath'18): project out the
    //    dominant direction and report per-label L1 residual mass — with
    //    ZERO division: scaled residual r_d = U2·q_d − s·u_d is pure
    //    BIGINT (u = v DIV 2^10, U2 = Σu², s = Σq·u), one truncating
    //    rescale at the end. The anisotropy diagnostic embedding
    //    pipelines run before/after common-direction removal; chains on
    //    the SAME integer pca direction as embed_pca_power (the oracle
    //    extends the identical CTE pyramid). ─────────────────────────────
    QueryDef("embed_abtt_residual",
      (s, dir) => graft.operators.LinearAlgebra
        .abttResidualStats(Tables.load(s, dir, "embeddings"))
        .orderBy("label"),
      Some(s"""$sqlPcaCtes,
           |u AS (SELECT d, v // 1024 AS u FROM v3),
           |u2 AS (SELECT CAST(sum(u * u) AS BIGINT) AS u2 FROM u),
           |sv AS (SELECT q.vec_id, CAST(sum(q.q * u.u) AS BIGINT) AS s
           |  FROM q JOIN u ON q.d = u.d GROUP BY q.vec_id),
           |pv AS (SELECT q.vec_id,
           |    CAST(sum(abs(u2.u2 * q.q - sv.s * u.u)) AS BIGINT) // 67108864 AS res_l1
           |  FROM q JOIN sv ON q.vec_id = sv.vec_id JOIN u ON q.d = u.d
           |  CROSS JOIN u2 GROUP BY q.vec_id)
           |SELECT emb.label, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(sum(pv.res_l1) AS BIGINT) AS sum_res,
           |  min(pv.res_l1) AS min_res, max(pv.res_l1) AS max_res
           |FROM embeddings emb JOIN pv ON emb.vec_id = pv.vec_id
           |GROUP BY emb.label ORDER BY emb.label""".stripMargin)),

    // ── one exact distributed Lloyd (k-means) iteration: assignment via
    //    the ivf_route kernel, update via the fixed-point add behind
    //    vec_fixedpoint_sum — per-component integer sums of floor(x·2^20),
    //    so the reduction is order-independent and bit-exact under any
    //    partitioning (doubles would drift by merge order), and only the
    //    32 cells' states reach the driver (one bounded fold, dim longs
    //    per cell, combined on the executors). The oracle replays assignment
    //    (list_cosine_similarity is bit-identical to the kernel) and the
    //    fixed-point sums: floor of the identical IEEE product, then
    //    integer aggregation — associative in both engines. ──────────────
    QueryDef("embed_kmeans_step",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("vid"), col("embedding").as("vec"))
        // rows come sorted by (cell, dim)
        Similarity.kmeansStepSeeded(emb, numCentroids = 32, scaleBits = 20)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        assign AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn = 1),
        comp AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS dim FROM v)
        SELECT a.cell, CAST(c.dim AS INTEGER) AS dim, count(*) AS n_members,
          CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS comp_sum,
          CAST(CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / CAST(count(*) * 1048576 AS DOUBLE) AS centroid_fp
        FROM comp c JOIN assign a ON c.vec_id = a.vec_id
        GROUP BY a.cell, c.dim
        ORDER BY a.cell, dim""")),

    // ── TWO exact Lloyd iterations — the training LOOP, still bit-exact:
    //    cosine is scale-invariant, so round-2 centroids are round-1's
    //    INTEGER component sums themselves (no division changes any
    //    assignment), cast long→float by both engines' identical IEEE
    //    rounding. Per iteration: one corpus scan + a |cells|-row
    //    shuffle; driver traffic is only the 32×64 sum matrix (the
    //    broadcast every distributed k-means round makes). ───────────────
    QueryDef("embed_kmeans_iter2",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("vid"), col("embedding").as("vec"))
        // rows come sorted by (cell, dim)
        Similarity.kmeansTwoStepSeeded(emb, numCentroids = 32, scaleBits = 20)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        assign AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn = 1),
        comp AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS dim FROM v),
        s1 AS (SELECT a.cell, c.dim,
            CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS cs
          FROM comp c JOIN assign a ON c.vec_id = a.vec_id GROUP BY a.cell, c.dim),
        c2 AS (SELECT cell, list(CAST(CAST(cs AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce
          FROM s1 GROUP BY cell),
        a2 AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN c2 t) WHERE rn = 1)
        SELECT a2.cell, CAST(c.dim AS INTEGER) AS dim, count(*) AS n_members,
          CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS comp_sum,
          CAST(CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / CAST(count(*) * 1048576 AS DOUBLE) AS centroid_fp
        FROM comp c JOIN a2 ON c.vec_id = a2.vec_id
        GROUP BY a2.cell, c.dim
        ORDER BY a2.cell, dim""")),

    // ── Lloyd to CONVERGENCE (bounded): up to 3 exact iterations with an
    //    integer-fixpoint stop — no epsilon, no drift: the per-cell state
    //    (count, fixed-point sums) is integers, so "unchanged" is exact
    //    equality, and a fixpoint makes every later iteration a no-op.
    //    That no-op property keeps a data-dependent iteration count
    //    oracle-checkable: DuckDB always runs all 3 iterations and must
    //    land on the identical final state; `converged` (did iterations
    //    2 and 1 agree?) is recomputed by the oracle as a set-equality
    //    check over the two integer states. ───────────────────────────────
    QueryDef("embed_kmeans_converged",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("vid"), col("embedding").as("vec"))
        // rows come sorted by (cell, dim)
        Similarity.kmeansConvergedSeeded(emb, numCentroids = 32,
          scaleBits = 20, maxIters = 3)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        comp AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS dim FROM v),
        a1 AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn = 1),
        s1 AS (SELECT a.cell, c.dim, count(*) AS n,
            CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS cs
          FROM comp c JOIN a1 a ON c.vec_id = a.vec_id GROUP BY a.cell, c.dim),
        c2 AS (SELECT cell, list(CAST(CAST(cs AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce
          FROM s1 GROUP BY cell),
        a2 AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN c2 t) WHERE rn = 1),
        s2 AS (SELECT a.cell, c.dim, count(*) AS n,
            CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS cs
          FROM comp c JOIN a2 a ON c.vec_id = a.vec_id GROUP BY a.cell, c.dim),
        conv AS (SELECT (SELECT count(*) FROM (
            (SELECT cell, dim, n, cs FROM s2 EXCEPT SELECT cell, dim, n, cs FROM s1)
            UNION ALL
            (SELECT cell, dim, n, cs FROM s1 EXCEPT SELECT cell, dim, n, cs FROM s2)) d) = 0
          AS converged),
        c3 AS (SELECT cell, list(CAST(CAST(cs AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce
          FROM s2 GROUP BY cell),
        a3 AS (SELECT vec_id, cell FROM (
            SELECT q.vec_id, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN c3 t) WHERE rn = 1)
        SELECT a3.cell, CAST(c.dim AS INTEGER) AS dim, count(*) AS n_members,
          CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS comp_sum,
          CAST(CAST(sum(CAST(floor(c.x * 1048576.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / CAST(count(*) * 1048576 AS DOUBLE) AS centroid_fp,
          (SELECT converged FROM conv) AS converged
        FROM comp c JOIN a3 ON c.vec_id = a3.vec_id
        GROUP BY a3.cell, c.dim
        ORDER BY a3.cell, dim""")),

    // ── text analysis: language-ID + quality score ──────────────────────
    QueryDef("text_lang_quality",
      (s, dir) => {
        // one-pass kernels (TextProfileKernels) — bit-identical to the
        // langId/qualityScore Column compositions (TextFunctionsSpec)
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"), col("lang"),
            graft.functions.TextHashFunctions.textLangId(col("text")).as("lang_pred"),
            graft.functions.TextHashFunctions.textQuality(col("text")).as("q"))
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L)).as("n_match_actual"),
            min(col("q")).as("min_quality"),
            max(col("q")).as("max_quality"))
          .orderBy("lang_pred")
      },
      Some(s"""WITH t AS (
          SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks, text FROM documents),
        m AS (SELECT lang, toks, text,
          len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','los','las','una','por','con'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','les','des','une','est','dans'))) AS fr
          FROM t),
        p AS (SELECT lang,
          CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
               WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
               WHEN en >= es AND en >= de AND en >= fr THEN 'en'
               WHEN es >= de AND es >= fr THEN 'es'
               WHEN de >= fr THEN 'de'
               ELSE 'fr' END AS lang_pred,
          0.4 * least(1.0, len(toks) / 50.0)
            + 0.3 * (en / greatest(len(toks), 1))
            + 0.3 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / greatest(length(text), 1)) AS q
          FROM m)
        SELECT lang_pred, count(*) AS n_docs,
          CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match_actual,
          min(q) AS min_quality, max(q) AS max_quality
        FROM p GROUP BY lang_pred ORDER BY lang_pred""")),

    // ── Gopher-style quality filter rules (Rae et al. 2021 §A1.1): the
    //    published pretraining heuristics as INTEGER comparisons (cross-
    //    multiplied ratios — 10·symbols ≤ words, 5·alpha ≥ 4·words — so
    //    Spark and DuckDB agree bitwise with zero float arithmetic).
    //    Word-count and mean-word-length bounds, symbol-to-word ratio
    //    (#/…), alphabetic-word fraction, stop-word presence; the
    //    line-based bullet/ellipsis rules are omitted — the synthetic
    //    docs are single-line, the rules would be vacuously true. ───────
    QueryDef("text_quality_gopher",
      (s, dir) => {
        import s.implicits._
        // one-pass native kernel (GopherKernel) — semantics identical to
        // the split/rlike/array_intersect composition it replaced
        // (measured 9.6× at 10× data from the six per-doc passes; the
        // kernel is one scan inside codegen)
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id",
            graft.functions.TextHashFunctions.gopherStats($"text").as("g"))
          .select($"doc_id",
            $"g".getItem(0).as("words"), $"g".getItem(1).as("nonws"),
            $"g".getItem(2).as("n_hash"), $"g".getItem(3).as("n_ell"),
            $"g".getItem(4).as("alpha_words"), $"g".getItem(5).as("n_stop"))
          .select($"doc_id",
            ($"words" >= 50L && $"words" <= 100000L).as("ok_wordcount"),
            (lit(3L) * $"words" <= $"nonws" && $"nonws" <= lit(10L) * $"words")
              .as("ok_meanlen"),
            (lit(10L) * ($"n_hash" + $"n_ell") <= $"words").as("ok_symbol"),
            (lit(5L) * $"alpha_words" >= lit(4L) * $"words").as("ok_alpha"),
            ($"n_stop" >= 2L).as("ok_stop"))
        d.agg(count(lit(1)).as("n_docs"),
          sum(when($"ok_wordcount" && $"ok_meanlen" && $"ok_symbol" &&
            $"ok_alpha" && $"ok_stop", 1L).otherwise(0L)).as("n_keep"),
          sum(when(!$"ok_wordcount", 1L).otherwise(0L)).as("f_wordcount"),
          sum(when(!$"ok_meanlen", 1L).otherwise(0L)).as("f_meanlen"),
          sum(when(!$"ok_symbol", 1L).otherwise(0L)).as("f_symbol"),
          sum(when(!$"ok_alpha", 1L).otherwise(0L)).as("f_alpha"),
          sum(when(!$"ok_stop", 1L).otherwise(0L)).as("f_stop"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        m AS (SELECT doc_id, len(toks) AS words,
            length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
            (length(text) - length(replace(text, '#', ''))) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM t),
        f AS (SELECT doc_id,
            (words >= 50 AND words <= 100000) AS ok_wordcount,
            (3 * words <= nonws AND nonws <= 10 * words) AS ok_meanlen,
            (10 * (n_hash + n_ell) <= words) AS ok_symbol,
            (5 * alpha_words >= 4 * words) AS ok_alpha,
            (n_stop >= 2) AS ok_stop
          FROM m)
        SELECT count(*) AS n_docs,
          CAST(sum(CASE WHEN ok_wordcount AND ok_meanlen AND ok_symbol
            AND ok_alpha AND ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          CAST(sum(CASE WHEN NOT ok_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
          CAST(sum(CASE WHEN NOT ok_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS f_meanlen,
          CAST(sum(CASE WHEN NOT ok_symbol THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
          CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
          CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stop
        FROM f""")),

    // ── sequence packing (concat-and-chunk): documents tokenize, concat
    //    in doc_id order, and chunk every B=512 tokens — the standard
    //    pretraining batch layout. Each doc's chunk span is pure integer
    //    prefix-sum arithmetic (exclusive-prefix DIV B .. (inclusive-1)
    //    DIV B), exactly replayable. The prefix sum is DISTRIBUTED as the
    //    classic two-pass scan: bucket docs into `shards` id-ordered shards
    //    (shard i holds strictly lower ids than shard i+1), sum tokens per
    //    shard, take an exclusive prefix over the tiny one-row-per-shard
    //    table, broadcast it back, and finish with a shard-local running
    //    sum — no task ever sorts or scans more than one shard, so the
    //    plan holds at 100 TB. The shard id is a PURE FUNCTION OF THE DATA
    //    (a monotonic width-bucket of doc_id rebased on the broadcast
    //    min/max — NOT spark_partition_id over a sampled range partition),
    //    so the two plan branches that reuse `toks` agree even if the
    //    optimizer re-plans them with different physical partitionings.
    //    Bucket arithmetic stays in Long: (doc_id − lo) × shards overflows
    //    only past ~2^53 ids at 1024 shards, far beyond any corpus; the
    //    range WIDTH (__hi − __lo + 1) can likewise overflow only for an
    //    id range spanning nearly the full Long domain, so the bounds row
    //    carries an in-plan guard (width must stay positive) that fails
    //    fast instead of dividing by a wrapped-negative denominator.
    //    Balance assumes roughly dense ids (true for ingest sequence
    //    numbers); skewed id spaces would want an explicit range index.
    QueryDef("pipeline_pack_chunks",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val shards = s.sessionState.conf.numShufflePartitions
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id",
            size(split(lower(trim($"text")), "\\s+")).cast("long").as("n_tok"))
        val bounds = docs.agg(min($"doc_id").cast("long").as("__lo"),
          max($"doc_id").cast("long").as("__hi"))
          // one-row guard: (hi - lo) and (hi - lo + 1) must not wrap — an
          // id range spanning ~the full Long domain would otherwise yield
          // a negative shard denominator and silently misroute every doc
          .select($"__lo", when($"__hi" - $"__lo" >= 0L && $"__hi" - $"__lo" + 1L > 0L, $"__hi")
            .otherwise(raise_error(concat(lit("pipeline_pack_chunks: doc_id range ["),
              $"__lo", lit(", "), $"__hi",
              lit("] wider than Long arithmetic allows")))).as("__hi"))
        val toks = docs.crossJoin(broadcast(bounds))
          .withColumn("__shard",
            expr(s"(CAST(doc_id AS BIGINT) - __lo) * ${shards}L DIV (__hi - __lo + 1)"))
          .drop("__lo", "__hi")
        // pass 1: per-shard totals → exclusive scan over ≤`shards` rows
        val offs = toks.groupBy($"__shard").agg(sum($"n_tok").as("__tot"))
          .withColumn("__off", coalesce(
            sum($"__tot").over(Window.orderBy("__shard")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"__shard".as("__shard_o"), $"__off")
        // pass 2: shard-local running sum, rebased by the broadcast offset
        val local = Window.partitionBy("__shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.join(broadcast(offs), $"__shard" === $"__shard_o")
          .withColumn("cum", sum($"n_tok").over(local) + $"__off")
          .select($"doc_id", $"n_tok",
            expr("(cum - n_tok) DIV 512").as("first_chunk"),
            expr("(cum - 1) DIV 512").as("last_chunk"))
          .withColumn("n_chunks", $"last_chunk" - $"first_chunk" + 1L)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, n_tok,
            sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
          CAST((cum - n_tok) // 512 AS BIGINT) AS first_chunk,
          CAST((cum - 1) // 512 AS BIGINT) AS last_chunk,
          CAST((cum - 1) // 512 - (cum - n_tok) // 512 + 1 AS BIGINT) AS n_chunks
        FROM c ORDER BY doc_id""")),

    // ── shard manifest: the write-path layout step. Shard assignment is
    //    the all-integer md5-bucket rule (partitioning-independent — a
    //    doc's shard never depends on where it was read), the manifest is
    //    ONE hash aggregate, and its row count equals the shard count, so
    //    at 100 TB the output is thousands of rows regardless of input
    //    size. Balance is a property of md5 uniformity; the manifest's
    //    min/max ids double as the per-shard pruning index. ──────────────
    QueryDef("pipeline_shard_manifest",
      (s, dir) => {
        import s.implicits._
        val bucket =
          conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10).cast("long")
        Tables.load(s, dir, "documents")
          .withColumn("shard", pmod(bucket, lit(50L)))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            sum(size(tokens($"text")).cast("long")).as("sum_toks"),
            min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
          .orderBy("shard")
      },
      Some("""WITH b AS (SELECT doc_id, n_chars,
            len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
            ((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[1]) - 1) * 4096
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[2]) - 1) * 256
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[3]) - 1) * 16
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[4]) - 1)) % 50 AS shard
          FROM documents)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(sum(n_tok) AS BIGINT) AS sum_toks,
          min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM b GROUP BY shard ORDER BY shard""")),

    // ── the WHOLE curation run in one registered query — span-dedup +
    //    boilerplate strip (fused: ONE span shuffle decides both rules)
    //    → Gopher quality gate (bin ≥ 3 of 5) → char-budget domain mix
    //    (md5-bucket rule against the smallest surviving source) → shard
    //    manifest. Proves the kernels COMPOSE: each stage consumes the
    //    previous stage's columns, the corpus is span-exploded exactly
    //    once, every later stage is per-row arithmetic or a tiny
    //    aggregate (|sources|, then |shards| rows) broadcast back.
    //    At 100 TB: one big shuffle (span fingerprints), one doc
    //    regroup, then nothing corpus-wide moves again — the mix join
    //    is broadcast, the manifest is 50 rows. The oracle replays all
    //    five stages in one CTE chain. ───────────────────────────────────
    QueryDef("pipeline_full_curation",
      (s, dir) => {
        import s.implicits._
        val cur = Dedup.curatedDocs(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", spanWords = 4, minDocs = 5)
        val g = graft.functions.TextHashFunctions.gopherStats($"rebuilt")
        val q = cur
          .select($"id".as("doc_id"), $"source",
            length($"rebuilt").cast("long").as("chars"), g.as("g"))
          .select($"doc_id", $"source", $"chars",
            $"g".getItem(0).as("words"), $"g".getItem(1).as("nonws"),
            $"g".getItem(2).as("n_hash"), $"g".getItem(3).as("n_ell"),
            $"g".getItem(4).as("alpha_words"), $"g".getItem(5).as("n_stop"))
          .select($"doc_id", $"source", $"chars", $"words",
            (when($"words" >= 50L && $"words" <= 100000L, 1L).otherwise(0L) +
             when(lit(3L) * $"words" <= $"nonws" && $"nonws" <= lit(10L) * $"words", 1L)
               .otherwise(0L) +
             when(lit(10L) * ($"n_hash" + $"n_ell") <= $"words", 1L).otherwise(0L) +
             when(lit(5L) * $"alpha_words" >= lit(4L) * $"words", 1L).otherwise(0L) +
             when($"n_stop" >= 2L, 1L).otherwise(0L)).as("qbin"))
          .filter($"qbin" >= 3L)
          .withColumn("bucket",
            conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10).cast("long"))
        // per-source totals AND the global min target in ONE branch: the
        // min rides a global window over the |sources|-row aggregate
        // (reduced input — PlanAuditSpec-allowlisted), so the corpus
        // subtree has exactly two consumers (q, tot) and AQE's stage
        // cache collapses the shared doc-regroup exchange at runtime
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
        val tot = q.groupBy($"source").agg(sum($"chars").as("total"))
          .withColumn("target", min($"total").over(wAll))
        q.join(broadcast(tot), "source")
          .filter($"bucket".cast("decimal(38,0)") * $"total" * lit(2L) <
            lit(65536L) * $"target".cast("decimal(38,0)"))
          .withColumn("shard", pmod($"bucket", lit(50L)))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"chars").as("sum_chars"),
            sum($"words").as("sum_toks"),
            min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
          .orderBy("shard")
      },
      Some("""WITH t AS (SELECT doc_id, source,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
            generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS ti
          FROM documents),
        sp AS (SELECT doc_id, source, (ti - 1) // 4 AS span_idx,
            string_agg(tok, ' ' ORDER BY ti) AS span
          FROM t GROUP BY doc_id, source, (ti - 1) // 4),
        r AS (SELECT doc_id, source, span_idx, span, md5(span) AS h,
            row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn,
            dense_rank() OVER (PARTITION BY md5(span) ORDER BY doc_id) AS dr
          FROM sp),
        r2 AS (SELECT doc_id, source, span_idx, span, rn,
            max(dr) OVER (PARTITION BY h) AS df FROM r),
        g AS (SELECT doc_id, source,
            CAST(sum(CASE WHEN rn = 1 AND df < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            coalesce(string_agg(CASE WHEN rn = 1 AND df < 5 THEN span END,
              ' ' ORDER BY span_idx), '') AS rebuilt
          FROM r2 GROUP BY doc_id, source),
        k AS (SELECT doc_id, source, rebuilt, length(rebuilt) AS chars,
            string_split_regex(rebuilt, '\s+') AS toks
          FROM g WHERE n_kept > 0),
        m AS (SELECT doc_id, source, chars, len(toks) AS words,
            length(regexp_replace(rebuilt, '\s', '', 'g')) AS nonws,
            (length(rebuilt) - length(replace(rebuilt, '#', ''))) AS n_hash,
            (length(rebuilt) - length(replace(rebuilt, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM k),
        q AS (SELECT doc_id, source, chars, words,
            (CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END +
             CASE WHEN 3 * words <= nonws AND nonws <= 10 * words THEN 1 ELSE 0 END +
             CASE WHEN 10 * (n_hash + n_ell) <= words THEN 1 ELSE 0 END +
             CASE WHEN 5 * alpha_words >= 4 * words THEN 1 ELSE 0 END +
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS qbin
          FROM m),
        f AS (SELECT doc_id, source, chars, words,
            ((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[1]) - 1) * 4096
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[2]) - 1) * 256
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[3]) - 1) * 16
           + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[4]) - 1)) AS bucket
          FROM q WHERE qbin >= 3),
        tot AS (SELECT source, CAST(sum(chars) AS BIGINT) AS total FROM f GROUP BY source),
        cap AS (SELECT min(total) AS target FROM tot),
        mix AS (SELECT f.doc_id, f.chars, f.words, f.bucket
          FROM f JOIN tot ON f.source = tot.source CROSS JOIN cap
          WHERE CAST(f.bucket AS HUGEINT) * tot.total * 2 < 65536 * CAST(cap.target AS HUGEINT))
        SELECT CAST(bucket % 50 AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(chars) AS BIGINT) AS sum_chars,
          CAST(sum(words) AS BIGINT) AS sum_toks,
          min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM mix GROUP BY 1 ORDER BY shard""")),

    // ── curriculum quality binning: documents bucketed by how many of
    //    the five Gopher criteria they pass (0–5, a pure-integer
    //    composite), with per-bin doc/token mass — the inputs a
    //    quality-mixed pretraining sampler draws from. One kernel scan +
    //    one hash aggregate; at 100 TB the bin histogram is 6 rows. ─────
    // ── curriculum schedule: the deterministic training ORDER a
    //    curriculum-learning run consumes — docs bucketed easy→hard by
    //    length (fixed thresholds at the corpus terciles; no global
    //    quantile pass), deterministically shuffled WITHIN each bucket
    //    (md5(doc_id) — partitioning-independent), and given a dense
    //    global position = (earlier buckets' row count) + position in
    //    bucket. The only windows are PARTITIONED by bucket; the bucket
    //    offsets come from a |bins|-row count aggregate broadcast back —
    //    nothing global touches corpus-sized data, so the same plan
    //    emits a 100 TB epoch order. ─────────────────────────────────────
    QueryDef("pipeline_curriculum_order",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", $"n_chars",
            when($"n_chars" < 220, 0).when($"n_chars" < 380, 1).otherwise(2)
              .as("bin"),
            md5($"doc_id".cast("string")).as("h"))
        val counts = d.groupBy($"bin").agg(count(lit(1)).as("n"))
        val offsets = counts.alias("a")
          .join(broadcast(counts.alias("b")), col("b.bin") < col("a.bin"), "left")
          .groupBy(col("a.bin").as("bin"))
          .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
        val pos = d.withColumn("pos",
          row_number().over(Window.partitionBy($"bin").orderBy($"h", $"doc_id")))
        pos.join(broadcast(offsets), "bin")
          .select($"doc_id", $"bin", ($"off" + $"pos").cast("long").as("train_pos"))
          .orderBy($"train_pos")
      },
      Some("""WITH d AS (SELECT doc_id,
            CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 380 THEN 1 ELSE 2 END AS bin,
            md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
        c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        o AS (SELECT a.bin, CAST(coalesce(sum(b.n), 0) AS BIGINT) AS off
          FROM c a LEFT JOIN c b ON b.bin < a.bin GROUP BY a.bin),
        p AS (SELECT doc_id, bin,
            row_number() OVER (PARTITION BY bin ORDER BY h, doc_id) AS pos
          FROM d)
        SELECT p.doc_id, p.bin, CAST(o.off + p.pos AS BIGINT) AS train_pos
        FROM p JOIN o ON p.bin = o.bin ORDER BY train_pos""")),

    // ── source-reputation scoring: per-source document counts, a
    //    "good doc" predicate (length + language), and the WILSON LOWER
    //    BOUND on the good-fraction — the statistically honest way to
    //    rank sources with very different volumes (a 3/3 source must
    //    not outrank a 9500/10000 one). One partial+final aggregate to
    //    |sources| rows; the Wilson formula runs on exact integer
    //    counts with IEEE-correctly-rounded ops only (+,·,/,sqrt), with
    //    ONE textual parenthesization shared by both engines, so the
    //    double result is bit-identical. The output feeds source
    //    allow/deny lists in the curation pipeline. ────────────────────
    QueryDef("pipeline_source_reputation",
      (s, dir) => {
        import s.implicits._
        val a = Tables.load(s, dir, "documents")
          .groupBy($"source").agg(
            count(lit(1)).as("n_docs"),
            sum(when($"n_chars" >= 200L && $"lang" === "en", 1L)
              .otherwise(0L)).as("n_good"))
        a.selectExpr("source", "n_docs", "n_good",
            ("(CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) " +
             "+ (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(2 AS DOUBLE) * CAST(n_docs AS DOUBLE)) " +
             "- CAST(1.96 AS DOUBLE) * sqrt(" +
             "(CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) / CAST(n_docs AS DOUBLE) " +
             "+ (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(4 AS DOUBLE) * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))) " +
             "/ (CAST(1 AS DOUBLE) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_docs AS DOUBLE)) AS wilson_lb"))
          .orderBy($"source")
      },
      Some("""WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN n_chars >= 200 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_good
          FROM documents GROUP BY 1)
        SELECT source, n_docs, n_good,
          (CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)
           + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(2 AS DOUBLE) * CAST(n_docs AS DOUBLE))
           - CAST(1.96 AS DOUBLE) * sqrt(
             (CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) / CAST(n_docs AS DOUBLE)
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(4 AS DOUBLE) * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))))
          / (CAST(1 AS DOUBLE) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_docs AS DOUBLE)) AS wilson_lb
        FROM a ORDER BY source""")),

    QueryDef("pipeline_quality_bins",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id",
            graft.functions.TextHashFunctions.gopherStats($"text").as("g"))
          .select($"doc_id",
            $"g".getItem(0).as("words"), $"g".getItem(1).as("nonws"),
            $"g".getItem(2).as("n_hash"), $"g".getItem(3).as("n_ell"),
            $"g".getItem(4).as("alpha_words"), $"g".getItem(5).as("n_stop"))
          .select($"doc_id", $"words",
            (when($"words" >= 50L && $"words" <= 100000L, 1L).otherwise(0L) +
             when(lit(3L) * $"words" <= $"nonws" && $"nonws" <= lit(10L) * $"words", 1L)
               .otherwise(0L) +
             when(lit(10L) * ($"n_hash" + $"n_ell") <= $"words", 1L).otherwise(0L) +
             when(lit(5L) * $"alpha_words" >= lit(4L) * $"words", 1L).otherwise(0L) +
             when($"n_stop" >= 2L, 1L).otherwise(0L)).as("quality_bin"))
        d.groupBy($"quality_bin")
          .agg(count(lit(1)).as("n_docs"), sum($"words").as("sum_tokens"),
            min($"words").as("min_tokens"), max($"words").as("max_tokens"))
          .orderBy("quality_bin")
      },
      Some(s"""WITH t AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        m AS (SELECT doc_id, len(toks) AS words,
            length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
            (length(text) - length(replace(text, '#', ''))) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM t),
        b AS (SELECT doc_id, words,
            (CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END +
             CASE WHEN 3 * words <= nonws AND nonws <= 10 * words THEN 1 ELSE 0 END +
             CASE WHEN 10 * (n_hash + n_ell) <= words THEN 1 ELSE 0 END +
             CASE WHEN 5 * alpha_words >= 4 * words THEN 1 ELSE 0 END +
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS quality_bin
          FROM m)
        SELECT CAST(quality_bin AS BIGINT) AS quality_bin, count(*) AS n_docs,
          CAST(sum(words) AS BIGINT) AS sum_tokens,
          CAST(min(words) AS BIGINT) AS min_tokens,
          CAST(max(words) AS BIGINT) AS max_tokens
        FROM b GROUP BY quality_bin ORDER BY quality_bin""")),

    // ── multimodal: JSON-typed column (events.props) ────────────────────
    QueryDef("multimodal_json_extract",
      (s, dir) => {
        import org.apache.spark.sql.types.{LongType, MapType, StringType}
        Tables.load(s, dir, "events")
          .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
          .withColumn("k", element_at(col("m"), "k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type,
          CASE WHEN props IS NOT NULL AND json_valid(props)
               THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        FROM events)
        SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
          CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        FROM t GROUP BY event_type ORDER BY event_type""")),

    // ── multimodal: opaque binary payloads round-trip through the fake
    //    codec (encode → binary column → mapPartitions decode → stats);
    //    the oracle recomputes the same stats from the source columns,
    //    proving decode ∘ encode = id through the whole Spark plan. ──────
    QueryDef("multimodal_decode_stats",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val records = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
          .as[(Long, Long, String)]
          .map { case (eid, uid, et) =>
            val width = (eid % 640 + 1).toInt
            val height = (uid % 480 + 1).toInt
            val payload = new Array[Byte]((eid % 32).toInt)
            Multimodal.MediaRecord(eid, et, Multimodal.FakeCodec.encode(width, height, payload))
          }
        Multimodal.metaStats(Multimodal.decodeMeta(records)).orderBy("media_type")
      },
      Some("""SELECT event_type AS media_type, count(*) AS n_media,
        CAST(sum(event_id % 640 + 1) AS BIGINT) AS sum_width,
        CAST(sum(user_id % 480 + 1) AS BIGINT) AS sum_height,
        CAST(sum(event_id % 32 + 8) AS BIGINT) AS sum_bytes
        FROM events GROUP BY event_type ORDER BY media_type""")),

    // Resize step of the multimodal pipeline: real w×h byte rasters,
    // nearest-neighbor downsample to max dim 8, then decode + stats —
    // the oracle recomputes the integer scale arithmetic in SQL.
    QueryDef("multimodal_resize_stats",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val records = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
          .as[(Long, Long, String)]
          .map { case (eid, uid, et) =>
            val w = (eid % 16 + 1).toInt
            val h = (uid % 16 + 1).toInt
            Multimodal.MediaRecord(eid, et,
              Multimodal.FakeCodec.encode(w, h, new Array[Byte](w * h)))
          }
        Multimodal.metaStats(
            Multimodal.decodeMeta(Multimodal.resize(records, maxDim = 8)))
          .orderBy("media_type")
      },
      Some("""WITH m AS (SELECT event_type,
            CAST(event_id % 16 + 1 AS INTEGER) AS w,
            CAST(user_id % 16 + 1 AS INTEGER) AS h
          FROM events),
        r AS (SELECT event_type,
            GREATEST(1, w // CAST(CEIL(GREATEST(w, h) / 8.0) AS INTEGER)) AS nw,
            GREATEST(1, h // CAST(CEIL(GREATEST(w, h) / 8.0) AS INTEGER)) AS nh
          FROM m)
        SELECT event_type AS media_type, count(*) AS n_media,
          CAST(sum(nw) AS BIGINT) AS sum_width,
          CAST(sum(nh) AS BIGINT) AS sum_height,
          CAST(sum(nw * nh + 8) AS BIGINT) AS sum_bytes
        FROM r GROUP BY event_type ORDER BY media_type""")),

    // Feature-extraction step of the multimodal pipeline: binary payload →
    // fixed-dim embedding (STUB encoder: FNV-1a/murmur-mix — swap for a
    // real vision/audio model; the Spark plumbing is the point). The
    // oracle is structural + replay: row-per-media, embedding exactly
    // `dim` wide with every component in [0,1], and — the property stage
    // RETRIES depend on at 100 TB — extracting twice from the same source
    // yields bitwise-identical vectors (two independent mapPartitions
    // pipelines joined on id). All booleans fold lazily in-plan.
    QueryDef("multimodal_feature_extract",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        def records = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"))
          .as[(Long, String)]
          .map { case (eid, et) =>
            Multimodal.MediaRecord(eid, et,
              Multimodal.FakeCodec.encode(16, 16, new Array[Byte]((eid % 257).toInt)))
          }
        val f1 = Multimodal.extractFeatures(records, dim = 32).toDF()
        val f2 = Multimodal.extractFeatures(records, dim = 32).toDF()
          .select(col("id").as("id2"), col("embedding").as("embedding2"))
        f1.join(f2, col("id") === col("id2"))
          .agg(count(lit(1)).as("n_media"),
            bool_and(size(col("embedding")) === 32).as("dim_ok"),
            bool_and(array_min(col("embedding")) >= 0f).as("lo_ok"),
            bool_and(array_max(col("embedding")) <= 1f).as("hi_ok"),
            bool_and(col("embedding") === col("embedding2")).as("replay_ok"))
      },
      Some("""SELECT count(*) AS n_media, TRUE AS dim_ok, TRUE AS lo_ok,
          TRUE AS hi_ok, TRUE AS replay_ok FROM events""")),

    // Frame-sampling step of the multimodal pipeline (video → every
    // stride-th fixed-size chunk, capped): explode shape, one binary row
    // in → ≤ maxFrames frame rows out. The oracle recomputes the chunk
    // arithmetic — frames per media = min(maxFrames, ⌈nChunks/stride⌉),
    // frame indices 0,2,… sum to cnt·(cnt−1), every frame is exactly
    // frameBytes long — proving the explode produced precisely the
    // sampled chunks and nothing else.
    QueryDef("multimodal_frame_sample",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val records = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"))
          .as[(Long, String)]
          .map { case (eid, et) =>
            Multimodal.MediaRecord(eid, et,
              Multimodal.FakeCodec.encode(16, 16, new Array[Byte]((eid % 257).toInt)))
          }
        Multimodal.sampleFrames(records, frameBytes = 16, stride = 2, maxFrames = 4)
          .toDF()
          .agg(count(lit(1)).as("n_frames"),
            countDistinct(col("id")).as("n_media_with_frames"),
            sum(col("frameIndex").cast("long")).as("sum_frame_index"),
            sum(length(col("frame")).cast("long")).as("sum_frame_bytes"))
      },
      Some("""WITH m AS (SELECT event_id, (event_id % 257) // 16 AS nchunks FROM events),
          c AS (SELECT event_id, LEAST(4, (nchunks + 1) // 2) AS cnt
                FROM m WHERE nchunks > 0)
        SELECT CAST(sum(cnt) AS BIGINT) AS n_frames,
          count(*) AS n_media_with_frames,
          CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS sum_frame_index,
          CAST(sum(cnt * 16) AS BIGINT) AS sum_frame_bytes
        FROM c""")),

    // ── text analysis: token statistics ─────────────────────────────────
    QueryDef("text_token_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(
            size(tokens(col("text"))).cast(LongType).as("n_ws"),
            size(bpeishTokens(col("text"))).cast(LongType).as("n_bpe"),
            punctCount(col("text")).cast(LongType).as("n_punct"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_ws")).as("sum_ws_tokens"),
            sum(col("n_bpe")).as("sum_bpeish_tokens"),
            sum(col("n_punct")).as("sum_punct_chars"),
            max(col("n_ws")).as("max_ws_tokens"),
            min(col("n_ws")).as("min_ws_tokens"))
      },
      Some(s"""WITH t AS (SELECT
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_ws,
          len(regexp_extract_all(lower(text), '${TextFunctionsSql.bpeish}')) AS n_bpe,
          length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
        FROM documents)
        SELECT count(*) AS n_docs,
          CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens,
          CAST(sum(n_bpe) AS BIGINT) AS sum_bpeish_tokens,
          CAST(sum(n_punct) AS BIGINT) AS sum_punct_chars,
          max(n_ws) AS max_ws_tokens, min(n_ws) AS min_ws_tokens
        FROM t""")),

    // ── BPE merge statistics: adjacent-symbol pair counts over the word-
    //    frequency table — the inner loop of tokenizer training (each BPE
    //    iteration merges the argmax pair; this query computes that
    //    argmax candidate table for the first iteration, top-20). The
    //    corpus collapses to DISTINCT word types first (the vocab-sized
    //    shuffle — at 100 TB the type table is millions of rows where the
    //    token stream is trillions), then pair generation is O(type
    //    length) per type weighted by its frequency, and the pair rollup
    //    shuffles only (pair, count). Restricted to ^[a-z]+$ types of
    //    length ≥ 2: pure-ASCII sidesteps any engine-level grapheme-vs-
    //    codepoint substring divergence, and ≥ 2 keeps Spark's
    //    `sequence(1, len-1)` ascending (sequence REVERSES when start >
    //    stop — an empty DuckDB series but a [1,0] Spark one). ──────────
    QueryDef("text_bpe_pair_counts",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val types = docs.select(explode(tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
        types
          .select(col("c_w"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => struct(col("w").substr(i, lit(1)).as("a"),
              col("w").substr(i + 1, lit(1)).as("b")))).as("p"))
          .select(col("c_w"), col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b")
          .agg(sum(col("c_w")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        types AS (SELECT w, count(*) AS c_w FROM toks
          WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2 GROUP BY w),
        pairs AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, c_w
          FROM (SELECT w, c_w, unnest(generate_series(1, length(w) - 1)) AS i
            FROM types))
        SELECT a, b, CAST(sum(c_w) AS BIGINT) AS pair_count
        FROM pairs GROUP BY a, b
        ORDER BY pair_count DESC, a, b LIMIT 20""")),

    // ── BPE TRAINING, 3 data-driven merge rounds (completes the
    //    tokenizer loop: `text_bpe_pair_counts` counts once and
    //    `text_bpe_apply` encodes with a GIVEN merge list — this learns
    //    the list, recounting between merges exactly like the reference
    //    algorithm): each round counts adjacent symbol pairs over the
    //    weighted word-type table, collects the argmax pair (ties to the
    //    lexicographically smallest — a total order), and greedily
    //    merges it left-to-right inside every word (the oracle's
    //    list_reduce fold; string state, no floats at all). Emits the
    //    learned merge per round plus the corpus token count after it —
    //    the compression trajectory. A round with no pair left ends the
    //    loop. 100 TB: the corpus collapses to the vocabulary in the
    //    FIRST aggregate, which is checkpointed once. Each round is one
    //    fold over that checkpoint (graft.Bounded): the `BpeKernel`
    //    splits each word type, applies the merges learned so far and
    //    adds its adjacent pairs weighted c_w into a pair → count table
    //    of at most (26 + merges)² entries, the only driver traffic. The
    //    fold also keeps the token total and what merging each pair
    //    saves, so the round knows the total after its own merge. Rounds
    //    2+ plan nothing and compile no class; the result is a local
    //    frame of the rounds.
    QueryDef("text_bpe_train3",
      (s, dir) => {
        import s.implicits._
        val types = Tables.load(s, dir, "documents")
          .select(explode(tokens($"text")).as("w"))
          .filter($"w".rlike("^[a-z]+$") && length($"w") >= 2)
          .groupBy($"w").agg(count(lit(1)).as("c_w"))
          .localCheckpoint()
        // (round, merge_a, merge_b, pair_count, tokens after the merge)
        val rounds = scala.collection.mutable.ArrayBuffer.empty[Row]
        var merges = Vector.empty[(UTF8String, UTF8String)]
        var done = false
        while (!done && rounds.size < 3) {
          val learned = merges
          // ^[a-z]+$ words: 26 letters plus one symbol per merge
          val symbols = 26L + learned.size
          val counted = Bounded.aggregate(types, symbols * symbols)(new BpeKernel.Counts)(
            (c, r) => c.add(r.getUTF8String(0), r.getLong(1), learned), _ merge _,
            _.pairs.size.toLong)
          counted.best match {
            case Some((a, b, n, tokensAfter)) =>
              rounds += Row(rounds.size + 1, a.toString, b.toString, n, tokensAfter)
              merges :+= (a -> b)
            case None => done = true
          }
        }
        Bounded.frame(s, rounds.toSeq,
          "round INT NOT NULL, merge_a STRING, merge_b STRING, pair_count BIGINT NOT NULL, " +
            "corpus_tokens_after BIGINT NOT NULL")
      },
      Some("""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        types AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM toks
          WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2 GROUP BY w),
        syms0 AS (SELECT c_w,
            list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
          FROM types),
        p1 AS (SELECT syms[i] AS a, syms[i + 1] AS b, c_w FROM (
            SELECT c_w, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM syms0 WHERE len(syms) >= 2)),
        g1 AS (SELECT a, b, CAST(sum(c_w) AS BIGINT) AS pair_count
          FROM p1 GROUP BY a, b),
        b1 AS (SELECT a, b, pair_count FROM g1
          ORDER BY pair_count DESC, a, b LIMIT 1),
        s1 AS (SELECT c_w, list_reduce(
            list_concat([[syms[1]]], list_transform(syms[2:], x -> [x])),
            (acc, xe) -> CASE WHEN acc[-1] = b1.a AND xe[1] = b1.b
              THEN list_concat(list_slice(acc, 1, len(acc) - 1), [b1.a || b1.b])
              ELSE list_concat(acc, [xe[1]]) END) AS syms
          FROM syms0 CROSS JOIN b1),
        a1 AS (SELECT CAST(sum(c_w * len(syms)) AS BIGINT)
            AS corpus_tokens_after FROM s1),
        p2 AS (SELECT syms[i] AS a, syms[i + 1] AS b, c_w FROM (
            SELECT c_w, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM s1 WHERE len(syms) >= 2)),
        g2 AS (SELECT a, b, CAST(sum(c_w) AS BIGINT) AS pair_count
          FROM p2 GROUP BY a, b),
        b2 AS (SELECT a, b, pair_count FROM g2
          ORDER BY pair_count DESC, a, b LIMIT 1),
        s2 AS (SELECT c_w, list_reduce(
            list_concat([[syms[1]]], list_transform(syms[2:], x -> [x])),
            (acc, xe) -> CASE WHEN acc[-1] = b2.a AND xe[1] = b2.b
              THEN list_concat(list_slice(acc, 1, len(acc) - 1), [b2.a || b2.b])
              ELSE list_concat(acc, [xe[1]]) END) AS syms
          FROM s1 CROSS JOIN b2),
        a2 AS (SELECT CAST(sum(c_w * len(syms)) AS BIGINT)
            AS corpus_tokens_after FROM s2),
        p3 AS (SELECT syms[i] AS a, syms[i + 1] AS b, c_w FROM (
            SELECT c_w, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM s2 WHERE len(syms) >= 2)),
        g3 AS (SELECT a, b, CAST(sum(c_w) AS BIGINT) AS pair_count
          FROM p3 GROUP BY a, b),
        b3 AS (SELECT a, b, pair_count FROM g3
          ORDER BY pair_count DESC, a, b LIMIT 1),
        s3 AS (SELECT c_w, list_reduce(
            list_concat([[syms[1]]], list_transform(syms[2:], x -> [x])),
            (acc, xe) -> CASE WHEN acc[-1] = b3.a AND xe[1] = b3.b
              THEN list_concat(list_slice(acc, 1, len(acc) - 1), [b3.a || b3.b])
              ELSE list_concat(acc, [xe[1]]) END) AS syms
          FROM s2 CROSS JOIN b3),
        a3 AS (SELECT CAST(sum(c_w * len(syms)) AS BIGINT)
            AS corpus_tokens_after FROM s3)
        SELECT 1 AS round, b1.a AS merge_a, b1.b AS merge_b, b1.pair_count,
          a1.corpus_tokens_after FROM b1 CROSS JOIN a1
        UNION ALL SELECT 2, b2.a, b2.b, b2.pair_count,
          a2.corpus_tokens_after FROM b2 CROSS JOIN a2
        UNION ALL SELECT 3, b3.a, b3.b, b3.pair_count,
          a3.corpus_tokens_after FROM b3 CROSS JOIN a3
        ORDER BY round""")),

    // ── sentence segmentation stats: split on terminal punctuation
    //    followed by whitespace ([.!?]+\s+ — the same simple-class regex
    //    semantics in Java and RE2), count only non-empty segments
    //    (engines differ on trailing-empty retention, so the filter is
    //    part of the contract), report per-doc sentence count / char
    //    extremes — the chunking pre-pass before sentence-level packing
    //    or per-sentence scoring. One scan, per-row array ops. ──────────
    QueryDef("text_sentence_stats",
      (s, dir) => {
        import s.implicits._
        val sentences = filter(split(trim($"text"), "[.!?]+\\s+"),
          x => length(x) > 0)
        Tables.load(s, dir, "documents")
          .filter($"doc_id" < 200)
          .select($"doc_id", sentences.as("sents"))
          .select($"doc_id", size($"sents").as("n_sentences"),
            array_max(transform($"sents", x => length(x))).as("max_sent_chars"),
            array_min(transform($"sents", x => length(x))).as("min_sent_chars"))
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id,
            list_filter(string_split_regex(trim(text), '[.!?]+\s+'),
              x -> length(x) > 0) AS sents
          FROM documents WHERE doc_id < 200)
        SELECT doc_id, CAST(len(sents) AS INTEGER) AS n_sentences,
          CAST(list_max(list_transform(sents, x -> length(x))) AS INTEGER) AS max_sent_chars,
          CAST(list_min(list_transform(sents, x -> length(x))) AS INTEGER) AS min_sent_chars
        FROM s ORDER BY doc_id""")),

    // ── BPE APPLY: encode the top word types with a 20-merge list — the
    //    tokenizer-serving inner step (the merges file is given; apply is
    //    the faithful part. The list here is the top-20 initial pair
    //    counts — real training recounts between merges; the apply
    //    semantics below are exactly what a merges file gets). Encoding:
    //    space-delimited symbols with a trailing sentinel space, each
    //    merge a literal replace of 'a b ' → 'ab ' — replace-all is
    //    left-to-right non-overlapping in BOTH engines, which IS the BPE
    //    greedy pass ('l l l l' → 'll ll'), and the delimiter makes
    //    merged symbols unmatchable by later single-char merges. No
    //    window anywhere: the merge list ranks inside a sorted-array
    //    slice over the ≤26² pair aggregate (1-row broadcast), words
    //    rank via TakeOrdered. Per-row work is 20 chained codegen'd
    //    string replaces — the plan a 100 TB encode pass wants. ─────────
    QueryDef("text_bpe_apply",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val types = docs.select(explode(tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
        val mrow = types
          .select(col("c_w"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => struct(col("w").substr(i, lit(1)).as("a"),
              col("w").substr(i + 1, lit(1)).as("b")))).as("p"))
          .select(col("c_w"), col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(sum(col("c_w")).as("pc"))
          .agg(slice(sort_array(collect_list(
            struct((-col("pc")).as("nc"), col("a"), col("b")))), 1, 20).as("ms"))
        val top = types.orderBy(col("c_w").desc, col("w")).limit(100)
        val enc0 = concat(regexp_replace(col("w"), "(.)", "$1 "), lit(""))
        val encoded = (1 to 20).foldLeft(enc0) { (acc, i) =>
          val m = element_at(col("ms"), i)
          val pat = coalesce(concat(m.getField("a"), lit(" "), m.getField("b"), lit(" ")),
            lit("\u0000"))
          val rep = coalesce(concat(m.getField("a"), m.getField("b"), lit(" ")), lit("\u0000"))
          call_function("replace", acc, pat, rep)
        }
        top.crossJoin(broadcast(mrow))
          .select(col("w"), col("c_w"), rtrim(encoded).as("encoded"))
          .withColumn("n_pieces", size(split(col("encoded"), " ")))
          .orderBy(col("w"))
      },
      Some {
        val steps = (1 to 20).map { i =>
          s"""e$i AS (SELECT w, c_w, replace(enc,
             |    (SELECT a || ' ' || b || ' ' FROM m WHERE r = $i),
             |    (SELECT a || b || ' ' FROM m WHERE r = $i)) AS enc FROM e${i - 1})"""
            .stripMargin
        }.mkString(",\n        ")
        s"""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
          FROM documents),
        types AS (SELECT w, count(*) AS c_w FROM toks
          WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2 GROUP BY w),
        pairs AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, c_w
          FROM (SELECT w, c_w, unnest(generate_series(1, length(w) - 1)) AS i
            FROM types)),
        pc AS (SELECT a, b, CAST(sum(c_w) AS BIGINT) AS pc FROM pairs GROUP BY a, b),
        m AS (SELECT a, b, row_number() OVER (ORDER BY pc DESC, a, b) AS r FROM pc),
        top AS (SELECT w, CAST(c_w AS BIGINT) AS c_w FROM types
          ORDER BY c_w DESC, w LIMIT 100),
        e0 AS (SELECT w, c_w, regexp_replace(w, '(.)', '\\1 ', 'g') AS enc FROM top),
        $steps
        SELECT w, c_w, rtrim(enc) AS encoded,
          CAST(len(string_split(rtrim(enc), ' ')) AS INTEGER) AS n_pieces
        FROM e20 ORDER BY w"""
      }),

    // ── deterministic sampling: membership is a pure function of the
    //    stable key (md5 nibble), so any engine / partitioning / rerun
    //    reproduces the same sample — proven by DuckDB recomputing it ──
    QueryDef("sample_hash_deterministic",
      (s, dir) => graft.operators.Sampling.hashSample(
          Tables.load(s, dir, "documents"), "doc_id", sixteenths = 4)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")),
      Some("""SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'""")),

    // Stratified rebalancing: downsample the dominant class, keep the
    // rest — per-stratum deterministic rates via the same md5 rule.
    QueryDef("sample_stratified",
      (s, dir) => graft.operators.Sampling.stratifiedHashSample(
          Tables.load(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 2, "es" -> 8, "de" -> 8, "fr" -> 8, "zh" -> 8))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
          CASE lang WHEN 'en' THEN '2' WHEN 'es' THEN '8' WHEN 'de' THEN '8'
            WHEN 'fr' THEN '8' WHEN 'zh' THEN '8' END
        GROUP BY lang ORDER BY lang""")),

    // ── exact-k-per-group deterministic sample: the k smallest-md5 rows
    //    of each language — a reproducible per-group reservoir pull
    //    (eval-set construction / per-source spot checks). Partitioned
    //    window — ranks locally per group after one hash shuffle. ───────
    QueryDef("sample_bottomk_group",
      (s, dir) => graft.operators.Sampling.bottomKPerGroup(
          Tables.load(s, dir, "documents"), "doc_id", "lang", k = 5)
        .select(col("lang"), col("doc_id"), col("rank"))
        .orderBy("lang", "rank"),
      Some("""SELECT lang, doc_id, CAST(rk AS INTEGER) AS rank FROM (
          SELECT lang, doc_id,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) t WHERE rk <= 5 ORDER BY lang, rank""")),

    // ── Balance-to-minority downsample (classifier-training prep: a
    //    lang-skewed corpus trains a majority-biased model, so cap every
    //    class at the MINORITY class's size): the target is data-derived
    //    — min per-lang count as a 1-row broadcast — and each class
    //    keeps its `target` smallest-md5 docs (deterministic,
    //    partitioning-independent). Per-class audit row: kept count
    //    (= target everywhere, the balance proof), bit_xor id checksum
    //    (names the exact kept SET, not just its size), char volume.
    //    Plan: one count aggregate + lang-partitioned rank window +
    //    scalar broadcast — no global sort. ─────────────────────────────
    QueryDef("sample_class_balance",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val target = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
          .agg(min($"n").as("target"))
        val ranked = docs.select($"lang", $"doc_id", $"n_chars")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"lang")
              .orderBy(md5($"doc_id".cast("string")), $"doc_id")))
        ranked.crossJoin(broadcast(target))
          .filter($"rk" <= $"target")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_kept"),
            expr("bit_xor(doc_id)").as("xor_ids"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"lang")
      },
      Some("""WITH t AS (SELECT min(n) AS target FROM (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang)),
        r AS (SELECT lang, doc_id, n_chars,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
          CAST(bit_xor(doc_id) AS BIGINT) AS xor_ids,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM r, t WHERE rk <= target
        GROUP BY lang ORDER BY lang""")),

    // ── Token-budget waterfilling across sources (the mixture
    //    allocator's hard-constraint sibling: given a token budget B =
    //    half the corpus, give every source a fair share CAPPED at its
    //    own size, redistributing what small sources can't absorb):
    //    sources sorted ascending by size, the largest j with
    //    P_j + (k−j)·n_j ≤ B caps exactly the first j, waterline
    //    L = ⌊(B−P_j)/(k−j)⌋, and the r = B−P_j−(k−j)·L leftover tokens
    //    go one each to the first r uncapped sources in sort order —
    //    Σ alloc = B EXACTLY, all integer. The windows ride the
    //    |sources|-row frame (O(sources) reduced input, the
    //    full_curation class); j*, P_j*, L recombine via 1-row
    //    broadcasts. ─────────────────────────────────────────────────────
    QueryDef("pipeline_token_budget",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val src = Tables.load(s, dir, "documents")
          .groupBy($"source").agg(sum($"n_chars").as("n_tok"))
        val tot = src.agg(count(lit(1)).as("k"), sum($"n_tok").as("total"))
          .select($"k", $"total", expr("total DIV 2").as("b"))
        val w = Window.orderBy($"n_tok", $"source")
        val ranked = src
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("p_i", sum($"n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(tot))
        val jstar = ranked
          .agg(coalesce(max(when(
              $"p_i" + ($"k" - $"i") * $"n_tok" <= $"b", $"i")), lit(0L))
            .as("j_star"))
        val pj = ranked.crossJoin(broadcast(jstar))
          .agg(max($"j_star").as("j_star"),
            coalesce(max(when($"i" === $"j_star", $"p_i")), lit(0L))
              .as("p_j"))
        val lvl = tot.crossJoin(broadcast(pj))
          .select($"j_star", $"p_j",
            expr("(b - p_j) DIV (k - j_star)").as("waterline"),
            expr("b - p_j - (k - j_star) * ((b - p_j) DIV (k - j_star))")
              .as("leftover"))
        ranked.crossJoin(broadcast(lvl))
          .select($"source", $"n_tok", $"i".as("sort_rank"), $"waterline",
            ($"i" <= $"j_star").cast("long").as("capped"),
            ($"i" > $"j_star" && $"i" - $"j_star" <= $"leftover")
              .cast("long").as("bonus"),
            when($"i" <= $"j_star", $"n_tok")
              .otherwise($"waterline" +
                ($"i" - $"j_star" <= $"leftover").cast("long"))
              .as("alloc"))
          .orderBy($"source")
      },
      Some("""WITH src AS (SELECT source, CAST(sum(n_chars) AS BIGINT)
            AS n_tok FROM documents GROUP BY source),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(n_tok) AS BIGINT) AS total,
            CAST(sum(n_tok) // 2 AS BIGINT) AS b FROM src),
        ranked AS (SELECT source, n_tok,
            CAST(row_number() OVER (ORDER BY n_tok, source) AS BIGINT) AS i,
            CAST(sum(n_tok) OVER (ORDER BY n_tok, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS p_i, k, total, b
          FROM src CROSS JOIN tot),
        js AS (SELECT coalesce(max(CASE
              WHEN p_i + (k - i) * n_tok <= b THEN i END),
            CAST(0 AS BIGINT)) AS j_star FROM ranked),
        pj AS (SELECT max(j_star) AS j_star,
            coalesce(max(CASE WHEN i = j_star THEN p_i END),
              CAST(0 AS BIGINT)) AS p_j
          FROM ranked CROSS JOIN js),
        lvl AS (SELECT j_star, p_j,
            CAST((b - p_j) // (k - j_star) AS BIGINT) AS waterline,
            CAST(b - p_j - (k - j_star) * ((b - p_j) // (k - j_star))
              AS BIGINT) AS leftover
          FROM tot CROSS JOIN pj)
        SELECT source, n_tok, i AS sort_rank, waterline,
          CAST(CASE WHEN i <= j_star THEN 1 ELSE 0 END AS BIGINT) AS capped,
          CAST(CASE WHEN i > j_star AND i - j_star <= leftover
            THEN 1 ELSE 0 END AS BIGINT) AS bonus,
          CAST(CASE WHEN i <= j_star THEN n_tok
            ELSE waterline + CASE WHEN i - j_star <= leftover
              THEN 1 ELSE 0 END END AS BIGINT) AS alloc
        FROM ranked CROSS JOIN lvl ORDER BY source""")),

    // ── Matryoshka truncation eval (can you serve 16 of 64 dims? —
    //    MRL-style embeddings promise graceful truncation, this MEASURES
    //    it on yours before you cut serving cost 4×): top-5 overlap per
    //    query between full-dimension cosine ranking and the ranking on
    //    the first-16-dim prefix. Two broadcast scoring passes over the
    //    same candidate scan, (qid)-partitioned rank windows, an equi
    //    join on (qid, cid) counts the agreement. ───────────────────────
    QueryDef("embed_matryoshka_eval",
      (s, dir) => {
        import graft.functions.VectorFunctions
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 32)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val cands = emb.select(col("vec_id").as("cid"),
          col("embedding").as("cvec"))
        val w = Window.partitionBy(col("qid"))
        def top5(simCol: org.apache.spark.sql.Column) =
          cands.crossJoin(broadcast(queries))
            .filter(col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), simCol.as("sim"))
            .withColumn("rn", row_number().over(
              w.orderBy(col("sim").desc, col("cid"))))
            .filter(col("rn") <= 5)
            .select(col("qid"), col("cid"))
        val full = top5(VectorFunctions.cosineSim(col("qvec"), col("cvec")))
        val trunc = top5(VectorFunctions.cosineSim(
          slice(col("qvec"), 1, 16), slice(col("cvec"), 1, 16)))
          .withColumnRenamed("qid", "tqid").withColumnRenamed("cid", "tcid")
        full.join(trunc,
            col("qid") === col("tqid") && col("cid") === col("tcid"))
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_overlap"))
          .select(col("qid"), col("n_overlap"),
            (col("n_overlap").cast("double") / lit(5.0d)).as("overlap_at_5"))
          .orderBy(col("qid"))
      },
      Some("""WITH f AS (SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                  CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id) t WHERE rn <= 5),
        tr AS (SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(
                  CAST(q.embedding[1:16] AS DOUBLE[]),
                  CAST(c.embedding[1:16] AS DOUBLE[])) DESC, c.vec_id) AS rn
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id) t WHERE rn <= 5)
        SELECT f.qid, CAST(count(*) AS BIGINT) AS n_overlap,
          CAST(count(*) AS DOUBLE) / 5.0 AS overlap_at_5
        FROM f JOIN tr ON f.qid = tr.qid AND f.cid = tr.cid
        GROUP BY f.qid ORDER BY f.qid""")),

    // ── Johnson–Lindenstrauss random-sign projection 64→16 with
    //    distortion audit (the cheap dimensionality cut when matryoshka
    //    prefixes aren't available — a ±1 sign matrix needs no training
    //    and preserves pairwise distances in expectation): signs come
    //    from md5(k:j) (deterministic, engine-portable), vectors
    //    quantize to floor(x·2^20) BIGINT first (the embed_norm_profile
    //    discipline) so projection sums and BOTH squared distances are
    //    exact integers; per consecutive pair the audit emits
    //    d²_proj/(16·d²_orig) ≈ 1 (E[yₖ²] = ‖x‖² for ±1 signs) as the
    //    one IEEE division. Plan: 1024-row broadcast sign matrix joined
    //    on dim, two hash aggregates, a shifted self-join on vec_id —
    //    fully distributed, nothing corpus-sized on the driver. ─────────
    QueryDef("embed_rp_project",
      (s, dir) => {
        import s.implicits._
        val q = Tables.load(s, dir, "embeddings")
          .filter($"vec_id" < 400)
          .select($"vec_id", posexplode($"embedding").as(Seq("j", "x")))
          .select($"vec_id", $"j".cast("long").as("j"),
            floor($"x".cast("double") * lit(1048576.0)).cast("long").as("q"))
        val signs = s.range(16).select($"id".as("k"),
            explode(sequence(lit(0L), lit(63L))).as("j"))
          .select($"k", $"j",
            when(substring(md5(concat($"k".cast("string"), lit(":"),
              $"j".cast("string"))), 1, 1) < "8", 1L).otherwise(-1L).as("sg"))
        val proj = q.join(broadcast(signs), "j")
          .groupBy($"vec_id", $"k")
          .agg(sum($"sg" * $"q").as("y"))
        val d2proj = proj.select($"vec_id".as("va"), $"k".as("ka"), $"y".as("ya"))
          .join(proj.select($"vec_id".as("vb"), $"k".as("kb"), $"y".as("yb")),
            $"vb" === $"va" + 1L && $"kb" === $"ka")
          .filter($"va" % 2 === 0)
          .groupBy($"va")
          .agg(sum(($"ya" - $"yb") * ($"ya" - $"yb")).as("d2_proj"))
        val d2orig = q.select($"vec_id".as("va"), $"j".as("ja"), $"q".as("qa"))
          .join(q.select($"vec_id".as("vb"), $"j".as("jb"), $"q".as("qb")),
            $"vb" === $"va" + 1L && $"jb" === $"ja")
          .filter($"va" % 2 === 0)
          .groupBy($"va")
          .agg(sum(($"qa" - $"qb") * ($"qa" - $"qb")).as("d2_orig"))
        d2orig.join(d2proj, "va")
          .select($"va".as("vec_a"), $"d2_orig", $"d2_proj",
            ($"d2_proj".cast("double") /
              (lit(16L) * $"d2_orig").cast("double")).as("distortion"))
          .orderBy($"vec_a")
      },
      Some("""WITH q AS (SELECT vec_id, j - 1 AS j,
            CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT)
              AS q
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
          WHERE vec_id < 400),
        signs AS (SELECT k.k, j.j,
            CASE WHEN substring(md5(CAST(k.k AS VARCHAR) || ':'
              || CAST(j.j AS VARCHAR)), 1, 1) < '8'
            THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sg
          FROM (SELECT unnest(generate_series(0, 15)) AS k) k,
            (SELECT unnest(generate_series(0, 63)) AS j) j),
        proj AS (SELECT vec_id, k, CAST(sum(sg * q) AS BIGINT) AS y
          FROM q JOIN signs USING (j) GROUP BY vec_id, k),
        dp AS (SELECT a.vec_id AS va,
            CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
          FROM proj a JOIN proj b
            ON b.vec_id = a.vec_id + 1 AND b.k = a.k
          WHERE a.vec_id % 2 = 0 GROUP BY a.vec_id),
        dq AS (SELECT a.vec_id AS va,
            CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2_orig
          FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
          WHERE a.vec_id % 2 = 0 GROUP BY a.vec_id)
        SELECT dq.va AS vec_a, dq.d2_orig, dp.d2_proj,
          CAST(dp.d2_proj AS DOUBLE) / CAST(16 * dq.d2_orig AS DOUBLE)
            AS distortion
        FROM dq JOIN dp ON dq.va = dp.va ORDER BY vec_a""")),

    // ── Hard-negative mining for contrastive training (the pair
    //    quality step after `sample_negative_candidates`' random draws:
    //    the most informative negative is the HIGHEST-similarity
    //    candidate that is NOT a near-duplicate): per query vector, the
    //    max-cosine candidate strictly below the 0.95 dup threshold —
    //    candidates at or above it are presumed duplicates/leaks and
    //    excluded, exactly the trap naive hard-negative mining falls
    //    into. Same broadcast-queries scoring pass as sim_topk_brute
    //    (|Q|=32 bounded), argmax as the partial-mergeable
    //    max(struct(sim, −cid)) — no window, one aggregate. ─────────────
    QueryDef("sample_hard_negatives",
      (s, dir) => {
        import graft.functions.VectorFunctions
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 32)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val cands = emb.select(col("vec_id").as("cid"),
          col("embedding").as("cvec"))
        cands.crossJoin(broadcast(queries))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("sim"))
          .filter(col("sim") < 0.95)
          .groupBy(col("qid"))
          .agg(max(struct(col("sim"), (-col("cid")).as("nc"))).as("m"))
          .select(col("qid").as("query_id"), (-col("m.nc")).as("neg_id"),
            col("m.sim").as("sim"))
          .orderBy(col("query_id"))
      },
      Some("""SELECT qid AS query_id, cid AS neg_id, sim FROM (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id
            AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) < 0.95) t
        WHERE rn = 1 ORDER BY query_id""")),

    // ── weighted priority sample (A-Res): priority u^(1/w) with u a
    //    DETERMINISTIC md5-derived uniform and w = n_chars, top-25 kept —
    //    the importance-weighted corpus pull (longer docs more likely),
    //    reproducible on any partitioning because u is a pure function of
    //    the key. Plan: narrow md5+pow projection fused into the scan +
    //    TakeOrdered(25) — nothing corpus-sized shuffles. Exactness: u is
    //    an exact 32-bit ratio both engines compute identically; pow may
    //    drift 1–2 ulp between libm and Java, but the 25-row selection
    //    compares priorities spaced ~1e-5 apart (corpus-random), so a
    //    1e-16 drift never reorders; the EMITTED value is floor(p·1e9)
    //    (the bm25 convention) and the output re-sorts on that integer +
    //    doc_id, so row order is drift-proof too. ───────────────────────
    QueryDef("sample_weighted_ares",
      (s, dir) => graft.operators.Sampling.weightedPrioritySample(
          Tables.load(s, dir, "documents"), "doc_id", "n_chars", k = 25)
        .select(col("doc_id"), col("n_chars"),
          floor(col("ares_priority") * lit(1.0e9)).as("priority_e9"))
        .orderBy(col("priority_e9").desc, col("doc_id")),
      Some(s"""WITH pri AS (SELECT doc_id, n_chars,
            pow((${OracleGen.md5PrefixExpr("md5(CAST(doc_id AS VARCHAR))", 8)}
                 + 0.5) / 4294967296.0,
              1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS p
          FROM documents),
        top AS (SELECT doc_id, n_chars, p FROM pri
          ORDER BY p DESC, doc_id LIMIT 25)
        SELECT doc_id, n_chars,
          CAST(floor(p * 1000000000.0) AS BIGINT) AS priority_e9
        FROM top ORDER BY priority_e9 DESC, doc_id""")),

    // ── T5-style span-corruption masking plan (the denoising-objective
    //    preprocessor): every token position draws a deterministic
    //    md5(doc:pos) start flag (first nibble < '3' ≈ 18.75%), each
    //    start masks a 3-token span, overlapping spans merge — all
    //    resolved with doc-partitioned windows (a 3-row rolling max for
    //    membership, a lag for span starts), so the mask is a pure
    //    function of (doc_id, position) and reproducible on any
    //    partitioning. Per doc: tokens, masked tokens, merged spans,
    //    mask rate (one IEEE division). 100 TB: one scan, windows
    //    shuffle on doc_id only. ────────────────────────────────────────
    QueryDef("pipeline_span_corruption",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id",
            posexplode(split(lower(trim($"text")), "\\s+")))
          .select($"doc_id", ($"pos" + 1).as("ti"))
          .withColumn("start_flag",
            when(substring(md5(concat($"doc_id".cast("string"), lit(":"),
              $"ti".cast("string"))), 1, 1) < "3", 1L).otherwise(0L))
        val w = Window.partitionBy($"doc_id").orderBy($"ti")
        toks
          .withColumn("masked",
            max($"start_flag").over(w.rowsBetween(-2, 0)))
          .withColumn("seg_start",
            when($"masked" === 1L &&
              coalesce(lag($"masked", 1).over(w), lit(0L)) === 0L, 1L)
              .otherwise(0L))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum($"masked").as("n_masked"),
            sum($"seg_start").as("n_spans"))
          .withColumn("mask_rate",
            $"n_masked".cast("double") / $"n_tokens".cast("double"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            generate_subscripts(
              string_split_regex(lower(trim(text)), '\s+'), 1) AS ti
          FROM documents),
        f AS (SELECT doc_id, ti,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':'
                || CAST(ti AS VARCHAR)), 1, 1) < '3'
              THEN 1 ELSE 0 END AS start_flag
          FROM t),
        m AS (SELECT doc_id, ti,
            max(start_flag) OVER (PARTITION BY doc_id ORDER BY ti
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS masked
          FROM f),
        sg AS (SELECT doc_id, masked,
            CASE WHEN masked = 1 AND coalesce(lag(masked, 1) OVER
                (PARTITION BY doc_id ORDER BY ti), 0) = 0
              THEN 1 ELSE 0 END AS seg_start
          FROM m)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(masked) AS BIGINT) AS n_masked,
          CAST(sum(seg_start) AS BIGINT) AS n_spans,
          CAST(sum(masked) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS mask_rate
        FROM sg GROUP BY doc_id ORDER BY doc_id""")),

    // ── Energy-based voice-activity detection over (stub-decoded) audio
    //    frames — the speech-segment extractor of an audio curation
    //    pipeline: 48 frames per clip carry a deterministic 16-bit
    //    md5 energy (the FakeCodec convention — swap for a real decoder
    //    and nothing downstream changes); active = energy > 40000,
    //    segments are islands of consecutive active frames (lag start
    //    flags + a running segment id), longest segment via the
    //    per-segment collapse. All integer; windows partition by clip.──
    QueryDef("multimodal_audio_vad",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val frames = Tables.load(s, dir, "events")
          .filter($"event_id" < 6000)
          .select(expr("event_id DIV 48").as("audio_id"),
            pmod($"event_id", lit(48L)).as("frame"),
            conv(substring(md5(concat(lit("vad:"),
              $"event_id".cast("string"))), 1, 4), 16, 10).cast("long")
              .as("energy"))
          .withColumn("active",
            when($"energy" > 40000L, 1L).otherwise(0L))
        val w = Window.partitionBy($"audio_id").orderBy($"frame")
        val seg = frames
          .withColumn("seg_start",
            when($"active" === 1L &&
              coalesce(lag($"active", 1).over(w), lit(0L)) === 0L, 1L)
              .otherwise(0L))
          .withColumn("seg_id",
            sum($"seg_start").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        val perSeg = seg.filter($"active" === 1L)
          .groupBy($"audio_id", $"seg_id")
          .agg(count(lit(1)).as("seg_len"))
          .groupBy($"audio_id")
          .agg(count(lit(1)).as("n_segments"),
            max($"seg_len").as("max_seg_len"))
        frames.groupBy($"audio_id")
          .agg(count(lit(1)).as("n_frames"), sum($"active").as("n_active"),
            sum($"energy").as("sum_energy"))
          .join(perSeg, Seq("audio_id"), "left")
          .select($"audio_id", $"n_frames", $"n_active", $"sum_energy",
            coalesce($"n_segments", lit(0L)).as("n_segments"),
            coalesce($"max_seg_len", lit(0L)).as("max_seg_len"))
          .orderBy($"audio_id")
      },
      Some(s"""WITH f AS (SELECT event_id // 48 AS audio_id,
            event_id % 48 AS frame,
            ${OracleGen.md5PrefixExpr("md5('vad:' || CAST(event_id AS VARCHAR))", 4)}
              AS energy
          FROM events WHERE event_id < 6000),
        a AS (SELECT audio_id, frame, energy,
            CASE WHEN energy > 40000 THEN 1 ELSE 0 END AS active
          FROM f),
        sg AS (SELECT audio_id, frame, active,
            CASE WHEN active = 1 AND coalesce(lag(active, 1) OVER
                (PARTITION BY audio_id ORDER BY frame), 0) = 0
              THEN 1 ELSE 0 END AS seg_start
          FROM a),
        sid AS (SELECT audio_id, frame, active,
            sum(seg_start) OVER (PARTITION BY audio_id ORDER BY frame
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
          FROM sg),
        ps AS (SELECT audio_id, seg_id, count(*) AS seg_len
          FROM sid WHERE active = 1 GROUP BY audio_id, seg_id),
        pa AS (SELECT audio_id, CAST(count(*) AS BIGINT) AS n_segments,
            CAST(max(seg_len) AS BIGINT) AS max_seg_len
          FROM ps GROUP BY audio_id),
        tot AS (SELECT audio_id, CAST(count(*) AS BIGINT) AS n_frames,
            CAST(sum(active) AS BIGINT) AS n_active,
            CAST(sum(energy) AS BIGINT) AS sum_energy
          FROM a GROUP BY audio_id)
        SELECT tot.audio_id, n_frames, n_active, sum_energy,
          coalesce(pa.n_segments, 0) AS n_segments,
          coalesce(pa.max_seg_len, 0) AS max_seg_len
        FROM tot LEFT JOIN pa ON tot.audio_id = pa.audio_id
        ORDER BY tot.audio_id""")),

    // ── Deterministic negative sampling (contrastive/recommender
    //    training pairs): for each order, 4 candidate part keys drawn by
    //    md5(orderkey:slot) over the part-key domain, validated against
    //    the part table (equi join) and purged of true positives (anti
    //    join on the order's own lineitems) — so a surviving row is a
    //    genuine (order, never-bought-part) negative, reproducible on
    //    any partitioning/cluster size because the draw is a pure
    //    function of the keys. The part-key domain (min, count) is a
    //    1-row broadcast recombine; candidates stay O(orders·k).
    //    Contiguity of the key domain is NOT assumed — the part join
    //    drops holes (documented semantic: up to k negatives/order). ────
    QueryDef("sample_negative_candidates",
      (s, dir) => {
        import s.implicits._
        val orders = Tables.load(s, dir, "orders").select($"o_orderkey")
        val dom = Tables.load(s, dir, "part")
          .agg(min($"p_partkey").as("min_pk"),
            count(lit(1)).as("n_parts"))
        val cand = orders
          .select($"o_orderkey", explode(sequence(lit(1), lit(4))).as("slot"))
          .crossJoin(broadcast(dom))
          .select($"o_orderkey", $"slot",
            ($"min_pk" + pmod(
              conv(substring(md5(concat($"o_orderkey".cast("string"),
                lit(":"), $"slot".cast("string"))), 1, 8), 16, 10)
                .cast("long"),
              $"n_parts")).as("cand_partkey"))
        val valid = cand.join(
          Tables.load(s, dir, "part").select($"p_partkey"),
          $"cand_partkey" === $"p_partkey").drop("p_partkey")
        val positives = Tables.load(s, dir, "lineitem")
          .select($"l_orderkey", $"l_partkey")
        valid.join(positives,
            $"o_orderkey" === $"l_orderkey" &&
              $"cand_partkey" === $"l_partkey", "left_anti")
          .orderBy($"o_orderkey", $"slot")
      },
      Some(s"""WITH dom AS (SELECT min(p_partkey) AS min_pk,
            CAST(count(*) AS BIGINT) AS n_parts FROM part),
        cand AS (SELECT o_orderkey, CAST(slot AS INTEGER) AS slot,
            min_pk + ${OracleGen.md5PrefixExpr(
              "md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(slot AS VARCHAR))", 8)}
              % n_parts AS cand_partkey
          FROM orders CROSS JOIN (SELECT unnest(range(1, 5)) AS slot) s
          CROSS JOIN dom),
        valid AS (SELECT c.* FROM cand c
          JOIN part p ON c.cand_partkey = p.p_partkey)
        SELECT v.o_orderkey, v.slot, v.cand_partkey FROM valid v
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = v.o_orderkey
            AND l.l_partkey = v.cand_partkey)
        ORDER BY v.o_orderkey, v.slot""")),

    // ── domain-mixture curation: cap every source at the smallest
    //    source's char budget (a uniform target mixture), applied with
    //    the deterministic md5-bucket rule so membership is a pure
    //    function of the doc id. Two-pass shape: tiny per-source totals
    //    aggregate (|sources| rows) broadcast back over the corpus —
    //    the keep test `bucket·total·2 < 2¹⁶·target` is all-integer, so
    //    both engines decide every row identically. The halved rate
    //    keeps every source strictly downsampled. The products are
    //    evaluated in Decimal(38,0) (DuckDB: HUGEINT) because
    //    bucket·total·2 exceeds Long once a source holds ~7·10¹³ chars —
    //    exactly the 100 TB regime; 128-bit integer math never wraps and
    //    both engines still decide bit-identically. ─────────────────────
    QueryDef("pipeline_domain_mix",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val tot = docs.groupBy($"source").agg(sum($"n_chars").as("total"))
        val cap = tot.agg(min($"total").as("target"))
        val bucket =
          conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10).cast("long")
        docs.withColumn("bucket", bucket)
          .join(broadcast(tot), "source")
          .crossJoin(broadcast(cap))
          .filter($"bucket".cast("decimal(38,0)") * $"total" * lit(2L) <
            lit(65536L) * $"target".cast("decimal(38,0)"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .orderBy("source")
      },
      Some("""WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total
          FROM documents GROUP BY source),
        cap AS (SELECT min(total) AS target FROM tot),
        b AS (SELECT doc_id, source, n_chars,
          ((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[1]) - 1) * 4096
         + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[2]) - 1) * 256
         + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[3]) - 1) * 16
         + (strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[4]) - 1)) AS bucket
          FROM documents)
        SELECT b.source, count(*) AS n_docs, CAST(sum(b.n_chars) AS BIGINT) AS sum_chars
        FROM b JOIN tot ON b.source = tot.source CROSS JOIN cap
        WHERE CAST(b.bucket AS HUGEINT) * tot.total * 2
            < 65536 * CAST(cap.target AS HUGEINT)
        GROUP BY b.source ORDER BY b.source""")),

    // ── KL divergence between the OBSERVED source distribution and its
    //    temperature-scaled TARGET (α = 0.5, the mixture the resampler
    //    aims at — quantifies in nats how far the raw corpus sits from
    //    the mix `pipeline_mixture_temperature` prescribes, in both
    //    directions since KL is asymmetric): p = n_s/N, q = √n_s/Z;
    //    Σ√n and both Σ term folds run in explicit source order (the
    //    sort_array+aggregate ≡ list(ORDER BY)+list_reduce parity
    //    pattern; ln/sqrt engine-parity). One |sources|-row aggregate,
    //    two 1-row recombines — counts only, corpus scanned once. ───────
    QueryDef("pipeline_mixture_kl",
      (s, dir) => {
        val bySrc = Tables.load(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val z = bySrc.agg(
          aggregate(
            sort_array(collect_list(struct(col("source"),
              sqrt(col("n_docs").cast("double")).as("w")))),
            lit(0.0d), (acc, x) => acc + x.getField("w")).as("z"),
          sum(col("n_docs")).as("n_total"),
          count(lit(1)).as("n_sources"))
        val p = col("n_docs").cast("double") / col("n_total").cast("double")
        val q = sqrt(col("n_docs").cast("double")) / col("z")
        val terms = bySrc.crossJoin(broadcast(z))
          .select(col("source"), col("n_sources"), col("n_total"),
            (p * log(p / q)).as("t_pq"), (q * log(q / p)).as("t_qp"))
        terms
          .agg(max(col("n_sources")).as("n_sources"),
            max(col("n_total")).as("n_total"),
            sort_array(collect_list(struct(col("source"), col("t_pq"),
              col("t_qp")))).as("ts"))
          .select(col("n_sources"), col("n_total"),
            aggregate(col("ts").getField("t_pq"), lit(0.0d),
              (a, x) => a + x).as("kl_pq"),
            aggregate(col("ts").getField("t_qp"), lit(0.0d),
              (a, x) => a + x).as("kl_qp"))
      },
      Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
        z AS (SELECT
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
              (a, b) -> a + b) AS z,
            CAST(sum(n_docs) AS BIGINT) AS n_total,
            CAST(count(*) AS BIGINT) AS n_sources FROM s),
        t AS (SELECT source, n_sources, n_total,
            (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
              * ln((CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
                / (sqrt(CAST(n_docs AS DOUBLE)) / z)) AS t_pq,
            (sqrt(CAST(n_docs AS DOUBLE)) / z)
              * ln((sqrt(CAST(n_docs AS DOUBLE)) / z)
                / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))) AS t_qp
          FROM s CROSS JOIN z)
        SELECT max(n_sources) AS n_sources, max(n_total) AS n_total,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(t_pq ORDER BY source)), (a, b) -> a + b) AS kl_pq,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(t_qp ORDER BY source)), (a, b) -> a + b) AS kl_qp
        FROM t""")),

    // ── temperature-scaled mixture weights (the mT5/XLM-R multinomial
    //    resampling rule, α = 0.5): p_s ∝ n_s^α flattens the source
    //    distribution — low-resource sources are upsampled relative to
    //    their share, dominant ones damped — and the per-source expected
    //    row count at a half-corpus budget falls out as p_s·N/2. α = 0.5
    //    makes every weight a sqrt: correctly-rounded in BOTH engines
    //    (unlike pow), so the only order-sensitive step is Σ√n_s, folded
    //    in explicit source order on both sides (the lm_score
    //    sort_array+aggregate ≡ list(... ORDER BY)+list_reduce pattern;
    //    0.0+x ≡ x exactly, so the differing init conventions agree).
    //    Plan: one |sources|-row aggregate + its 1-row fold, broadcast
    //    back — the corpus is scanned once, counts only. ────────────────
    QueryDef("pipeline_mixture_temperature",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val bySrc = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val z = bySrc.agg(
          aggregate(
            sort_array(collect_list(struct(col("source"),
              sqrt(col("n_docs").cast("double")).as("w")))),
            lit(0.0d), (acc, x) => acc + x.getField("w")).as("z"),
          sum(col("n_docs")).as("n_total"))
        val p = sqrt(col("n_docs").cast("double")) / col("z")
        bySrc.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), p.as("p_temp"),
            (p * (col("n_total").cast("double") / lit(2.0d))).as("expected_docs"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source, count(*) AS n_docs
          FROM documents GROUP BY source),
        z AS (SELECT
            list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source),
              (a, b) -> a + b) AS z,
            CAST(sum(n_docs) AS BIGINT) AS n_total FROM s)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
          sqrt(CAST(n_docs AS DOUBLE)) / z.z AS p_temp,
          (sqrt(CAST(n_docs AS DOUBLE)) / z.z)
            * (CAST(n_total AS DOUBLE) / 2.0) AS expected_docs
        FROM s CROSS JOIN z ORDER BY source""")),

    // ── train/test leakage check: near-duplicate pairs that CROSS the
    //    split are evaluation contamination (the test doc has a near-copy
    //    in train). Composes the two exact-oracle primitives: simhash
    //    near-dup pairs (banded, bucketed candidate generation — the
    //    scale path) joined to the deterministic md5 split assignment,
    //    rolled up per (split_a, split_b) combo. The cross-split rows are
    //    the leak report; same-split rows are the in-split dup baseline.
    //    At 100 TB this is two hash joins of the (small) pair set against
    //    the split map — no new shuffle over the corpus itself. ─────────
    QueryDef("pipeline_leakage_check",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
          maxDistance = 3, md5TokenHash = true)
        val split = graft.operators.Sampling
          .trainTestSplit(docs, "doc_id", testSixteenths = 2)
          .select(col("doc_id"), col("split"))
        pairs
          .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
          .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
          .groupBy($"split_a", $"split_b")
          .agg(count(lit(1)).as("n_pairs"), min($"hamming").as("min_hamming"),
            sum(when($"split_a" =!= $"split_b", 1L).otherwise(0L)).as("n_leaks"))
          .orderBy("split_a", "split_b")
      },
      Some(s"""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        hv AS (SELECT doc_id, ${OracleGen.md5Low64Expr("md5(tok)")} AS hv FROM t),
        votes AS (SELECT doc_id, b,
            sum(CASE WHEN (hv >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM hv CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
          GROUP BY doc_id, b),
        sh AS (SELECT doc_id,
            sum(CASE WHEN v > 0 THEN 1::HUGEINT << b ELSE 0::HUGEINT END)::UBIGINT AS h
          FROM votes GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.h, b.h)) <= 3),
        sp AS (SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
              THEN 'test' ELSE 'train' END AS split FROM documents)
        SELECT sa.split AS split_a, sb.split AS split_b,
          count(*) AS n_pairs, min(p.hamming) AS min_hamming,
          CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
        FROM pairs p
        JOIN sp sa ON sa.doc_id = p.doc_a
        JOIN sp sb ON sb.doc_id = p.doc_b
        GROUP BY sa.split, sb.split ORDER BY split_a, split_b""")),

    QueryDef("split_train_test",
      (s, dir) => graft.operators.Sampling.trainTestSplit(
          Tables.load(s, dir, "documents"), "doc_id", testSixteenths = 2)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
            THEN 'test' ELSE 'train' END AS split,
          count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY split""")),

    // ── distinctive terms per doc: tf / df ranking in pure integer
    //    arithmetic (no float idf → bit-exact across engines) ──────────
    QueryDef("text_top_terms",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        val terms = docs.select(col("doc_id"),
            explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        terms.join(dfreq, "term")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents WHERE doc_id < 200),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        ranked AS (SELECT t.doc_id, t.term, t.tf, d.df,
            row_number() OVER (PARTITION BY t.doc_id
              ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rnk
          FROM tf t JOIN dfreq d ON t.term = d.term)
        SELECT doc_id, rnk, term, tf, df FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk""")),

    // ── BM25 retrieval scoring against a literal query-term set (the
    //    decontamination / targeted-curation search shape): per-doc term
    //    frequencies and length come from ONE in-scan pass over the token
    //    array (size(filter(...)) per literal term — no explode, no
    //    per-token shuffle), corpus stats (N, Σdl, per-term df) are one
    //    broadcast 1-row aggregate, and the score is a closed-form
    //    projection + TakeOrdered(10) — two linear scans total, nothing
    //    corpus-sized shuffles, no window. Term contributions add in
    //    FIXED literal order (absent term ⇒ exactly +0.0) and every
    //    arithmetic step is parenthesized identically in the oracle.
    //    The lucene-style idf keeps its canonical ln((N−df+0.5)/
    //    (df+0.5)+1) — but DuckDB's ln is NOT correctly rounded
    //    (measured 1 ulp off Java's Math.log), so the emitted/ranked
    //    value is floor(score·1e9) AS BIGINT: both engines rank and
    //    output the same integer unless the 1–2 ulp ln drift crosses a
    //    1e-9 boundary (~1e-7 odds per value). k1=1.2, b=0.75. ──────────────────────────────────────
    QueryDef("text_bm25_search",
      (s, dir) => {
        val qterms = Seq("spark", "stream", "vector")
        val docs = Tables.load(s, dir, "documents")
        val perDoc = docs.select(col("doc_id") +: size(tokens(col("text"))).as("dl") +:
          qterms.map(t =>
            size(filter(tokens(col("text")), x => x === lit(t))).as(s"tf_$t")): _*)
        val stats = perDoc.agg(
          count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl") +:
            qterms.map(t =>
              sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t")): _*)
        val avgdl = col("sum_dl").cast("double") / col("n_docs")
        def w(t: String): org.apache.spark.sql.Column = {
          val tf = col(s"tf_$t"); val dfq = col(s"df_$t")
          val idf = log((col("n_docs") - dfq + lit(0.5)) / (dfq + lit(0.5)) + lit(1.0))
          val norm = lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
          idf * ((tf * lit(2.2)) / (tf + norm))
        }
        perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            qterms.map(t => (col(s"tf_$t") > 0).cast("int")).reduce(_ + _).as("n_terms"),
            floor(qterms.map(w).reduce(_ + _) * lit(1.0e9)).as("score_e9"))
          .filter(col("n_terms") > 0)
          .orderBy(col("score_e9").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH d AS (SELECT doc_id,
            len(string_split_regex(lower(trim(text)), '\s+')) AS dl,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'spark')) AS tf_spark,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'stream')) AS tf_stream,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'vector')) AS tf_vector
          FROM documents),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
            CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
            CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream,
            CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
          FROM d),
        sc AS (SELECT doc_id,
            CAST(tf_spark > 0 AS INTEGER) + CAST(tf_stream > 0 AS INTEGER)
              + CAST(tf_vector > 0 AS INTEGER) AS n_terms,
            (ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * ((tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
              + (ln((n_docs - df_stream + 0.5) / (df_stream + 0.5) + 1.0)
                * ((tf_stream * 2.2) / (tf_stream + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
              + (ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
                * ((tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
              AS score
          FROM d CROSS JOIN st)
        SELECT doc_id, n_terms,
          CAST(floor(score * 1000000000.0) AS BIGINT) AS score_e9
        FROM sc WHERE n_terms > 0
        ORDER BY score_e9 DESC, doc_id LIMIT 10""")),

    // ── hybrid retrieval: reciprocal-rank fusion (RRF, k=60) of the BM25
    //    lexical ranking and an embedding-cosine semantic ranking — the
    //    two-tower search shape every RAG / targeted-curation stack runs.
    //    Each leg is scale-clean on its own: the lexical leg is the bm25
    //    two-scan plan ranked by the bounded-heap TopKPairs aggregate
    //    (k-sized state per partition, |k| rows cross the wire — NO
    //    global window over the scored corpus), the semantic leg is
    //    bruteForceTopK against the broadcast probe vector (same bounded
    //    heap). Fusion then full-outer-joins two ≤50-row sets (broadcast)
    //    and scores 1/(60+r) per leg in FIXED order (text + vec; absent
    //    leg ⇒ exactly +0.0) — pure dyadic-rational-free but identical
    //    double arithmetic both engines, so rrf is bit-comparable. The
    //    integer bm25 rank order (score_e9 DESC, doc_id) is drift-proof
    //    by the floor(·1e9) argument at text_bm25_search; cosine ranks
    //    are exact by the list_cosine_similarity bit-identity. ──────────
    QueryDef("text_hybrid_retrieval",
      (s, dir) => {
        val qterms = Seq("spark", "stream", "vector")
        val docs = Tables.load(s, dir, "documents")
        val perDoc = docs.select(col("doc_id") +: size(tokens(col("text"))).as("dl") +:
          qterms.map(t =>
            size(filter(tokens(col("text")), x => x === lit(t))).as(s"tf_$t")): _*)
        val stats = perDoc.agg(
          count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl") +:
            qterms.map(t =>
              sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t")): _*)
        val avgdl = col("sum_dl").cast("double") / col("n_docs")
        def w(t: String): org.apache.spark.sql.Column = {
          val tf = col(s"tf_$t"); val dfq = col(s"df_$t")
          val idf = log((col("n_docs") - dfq + lit(0.5)) / (dfq + lit(0.5)) + lit(1.0))
          val norm = lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
          idf * ((tf * lit(2.2)) / (tf + norm))
        }
        val scored = perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            qterms.map(t => (col(s"tf_$t") > 0).cast("int")).reduce(_ + _).as("n_terms"),
            floor(qterms.map(w).reduce(_ + _) * lit(1.0e9)).as("score_e9"))
          .filter(col("n_terms") > 0)
        // lexical ranks: global top-50 via the bounded-heap aggregate —
        // score_e9 < 2^53 so the double cast is exact; higher-score-
        // wins/smaller-id-ties is exactly ORDER BY score_e9 DESC, doc_id
        val textRank = scored
          .select(lit(0L).as("qid"), struct(
            col("score_e9").cast("double").as("score"),
            col("doc_id").cast("long").as("id")).as("p"))
          .groupBy(col("qid"))
          .agg(graft.functions.TopKFunctions.topKPairs(col("p"), 50).as("top"))
          .select(posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("e.id").as("doc_id"),
            (col("pos") + 1).cast("int").as("text_rank"))
        // semantic ranks: cosine top-50 against the vec_id-0 probe
        // (bruteForceTopK excludes the probe itself, standard ANN)
        val emb = Tables.load(s, dir, "embeddings")
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val vecRank = Similarity.bruteForceTopK(probe,
            emb.select(col("vec_id").as("cid"), col("embedding").as("cvec")), k = 50)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("int").as("vec_rank"))
        textRank.join(vecRank, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("text_rank"), col("vec_rank"),
            (coalesce(lit(1.0d) / (lit(60.0d) + col("text_rank")), lit(0.0d)) +
              coalesce(lit(1.0d) / (lit(60.0d) + col("vec_rank")), lit(0.0d))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH d AS (SELECT doc_id,
            len(string_split_regex(lower(trim(text)), '\s+')) AS dl,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'spark')) AS tf_spark,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'stream')) AS tf_stream,
            len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'vector')) AS tf_vector
          FROM documents),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
            CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
            CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream,
            CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
          FROM d),
        sc AS (SELECT doc_id,
            CAST(tf_spark > 0 AS INTEGER) + CAST(tf_stream > 0 AS INTEGER)
              + CAST(tf_vector > 0 AS INTEGER) AS n_terms,
            CAST(floor((
              (ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * ((tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
              + (ln((n_docs - df_stream + 0.5) / (df_stream + 0.5) + 1.0)
                * ((tf_stream * 2.2) / (tf_stream + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
              + (ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
                * ((tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))
            ) * 1000000000.0) AS BIGINT) AS score_e9
          FROM d CROSS JOIN st),
        tr AS (SELECT doc_id, CAST(rn AS INTEGER) AS text_rank FROM (
            SELECT doc_id, row_number() OVER (ORDER BY score_e9 DESC, doc_id) AS rn
            FROM sc WHERE n_terms > 0) t WHERE rn <= 50),
        vr AS (SELECT doc_id, CAST(rn AS INTEGER) AS vec_rank FROM (
            SELECT c.vec_id AS doc_id, row_number() OVER (ORDER BY
                list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                  CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
            FROM embeddings c
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE c.vec_id <> 0) t WHERE rn <= 50)
        SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
          t.text_rank AS text_rank, v.vec_rank AS vec_rank,
          coalesce(1.0 / (60.0 + t.text_rank), 0.0)
            + coalesce(1.0 / (60.0 + v.vec_rank), 0.0) AS rrf
        FROM tr t FULL OUTER JOIN vr v ON t.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // ── bigram LM fluency scoring with stupid backoff (the CCNet-style
    //    perplexity-filter shape, transcendental-free): a reference LM
    //    (unigram + bigram counts, the two LM-training shuffles) trains
    //    on 3/4 of the corpus (doc_id % 4 ≠ 0 — scale-invariant split)
    //    and scores the held-out quarter: per bigram S(w2|w1) =
    //    c(w1w2)/c(w1) if the bigram was seen, else 0.4·(c(w2)/N); doc
    //    score = mean S. All arithmetic is ratios of exact integer
    //    counts — no ln — and the per-doc sum folds in POSITION order
    //    (sort_array(collect_list) + sequential aggregate ≡ DuckDB's
    //    list(sv ORDER BY pos) + list_reduce), so doubles match
    //    bitwise. Count tables join the held-out bigrams by key —
    //    hash-shuffle joins, vocabulary-sized sides, nothing
    //    corpus-quadratic. ─────────────────────────────────────────────
    QueryDef("text_lm_score",
      (s, dir) => lmHeldOutScores(s, dir).orderBy("doc_id"),
      Some(s"""$sqlLmScoreCtes
        |SELECT doc_id, n_bigrams, ssum / n_bigrams AS lm_score
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // ── CCNet perplexity buckets (Wenzek et al. 2020 — the head/middle/
    //    tail split the CCNet pipeline cuts every language's crawl into,
    //    keeping "head" as the cleanest training slice): held-out docs
    //    from the SAME reference bigram LM as `text_lm_score` are ranked
    //    by fluency and cut at the exact score TERCILES (percentile ≡
    //    quantile_cont — shared PERCENTILE_CONT interpolation, the
    //    proven engine-parity pair); bucket = head above the upper cut,
    //    tail below the lower. Per-bucket audit row: doc count, bigram
    //    volume, and the score range the cut produced. Plan shape: the
    //    LM scoring pipeline + one 1-row broadcast tercile recombine —
    //    a scalar join, never a global sort of the corpus. ──────────────
    QueryDef("pipeline_perplexity_buckets",
      (s, dir) => {
        val scored = lmHeldOutScores(s, dir)
        val cuts = scored.agg(
          expr("percentile(lm_score, array(1.0D/3.0D, 2.0D/3.0D))").as("c"))
          .select(col("c").getItem(0).as("c1"), col("c").getItem(1).as("c2"))
        scored.crossJoin(broadcast(cuts))
          .select(col("doc_id"), col("n_bigrams"),
            when(col("lm_score") >= col("c2"), "head")
              .when(col("lm_score") >= col("c1"), "middle")
              .otherwise("tail").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).as("sum_bigrams"))
          .orderBy("bucket")
      },
      Some(s"""$sqlLmScoreCtes,
        |sc2 AS (SELECT doc_id, n_bigrams, ssum / n_bigrams AS lm_score FROM agg),
        |cuts AS (SELECT quantile_cont(lm_score, 1.0/3.0) AS c1,
        |    quantile_cont(lm_score, 2.0/3.0) AS c2 FROM sc2)
        |SELECT CASE WHEN lm_score >= c2 THEN 'head'
        |    WHEN lm_score >= c1 THEN 'middle' ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
        |FROM sc2 CROSS JOIN cuts GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ── end-to-end corpus curation: quality filter → exact dedup
    //    (canonical kept) → deterministic train/test split — the whole
    //    north-star pipeline composed, one DuckDB twin replaying every
    //    stage (quality arithmetic, fingerprint dedup, md5 split) ───────
    QueryDef("pipeline_corpus_curation",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val quality = docs.filter(
          graft.functions.TextHashFunctions.textQuality(col("text")) >= 0.5)
        val deduped = Dedup.dropExactDuplicates(quality, "doc_id", "text")
        graft.operators.Sampling.trainTestSplit(deduped, "doc_id", testSixteenths = 2)
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("split")
      },
      Some("""WITH m AS (SELECT doc_id, n_chars, text,
            string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        q AS (SELECT doc_id, n_chars,
            0.4 * least(1.0, len(toks) / 50.0)
              + 0.3 * (len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that'))) / greatest(len(toks), 1))
              + 0.3 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) / greatest(length(text), 1)) AS q,
            md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM m),
        f AS (SELECT doc_id, n_chars, fp FROM q WHERE q >= 0.5),
        d AS (SELECT doc_id, n_chars FROM f
          WHERE doc_id IN (SELECT min(doc_id) FROM f GROUP BY fp)),
        sp AS (SELECT doc_id, n_chars,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
              THEN 'test' ELSE 'train' END AS split
          FROM d)
        SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM sp GROUP BY split ORDER BY split""")),

    // ── dataset card: the per-(source, lang) release report every corpus
    //    ships with — volume (docs/chars/tokens), Gopher-keep counts, and
    //    exact-dup counts — composed from the same one-pass kernels the
    //    standalone queries use (GopherKernel, fingerprint, tokenizer).
    //    One scan, one partial-mergeable aggregate; the dup count rides
    //    count(DISTINCT fp) inside the same group. All-integer outputs. ──
    QueryDef("pipeline_dataset_card",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val g = graft.functions.TextHashFunctions.gopherStats(col("text"))
        d.select(col("source"), col("lang"), col("n_chars"),
            size(tokens(col("text"))).cast(LongType).as("n_toks"),
            fingerprint(col("text")).as("fp"), g.as("g"))
          .select(col("source"), col("lang"), col("n_chars"), col("n_toks"),
            col("fp"),
            (col("g").getItem(0) >= 50L && col("g").getItem(0) <= 100000L &&
              lit(3L) * col("g").getItem(0) <= col("g").getItem(1) &&
              col("g").getItem(1) <= lit(10L) * col("g").getItem(0) &&
              lit(10L) * (col("g").getItem(2) + col("g").getItem(3)) <= col("g").getItem(0) &&
              lit(5L) * col("g").getItem(4) >= lit(4L) * col("g").getItem(0) &&
              col("g").getItem(5) >= 2L).as("keep"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("n_toks")).as("sum_ws_tokens"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep"),
            (count(lit(1)) - count_distinct(col("fp"))).as("n_exact_dups"))
          .orderBy("source", "lang")
      },
      Some("""WITH m AS (SELECT source, lang, n_chars, text,
            string_split_regex(lower(trim(text)), '\s+') AS toks,
            md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM documents),
        g AS (SELECT source, lang, n_chars, fp, len(toks) AS words,
            length(regexp_replace(text, '\s', '', 'g')) AS nonws,
            (length(text) - length(replace(text, '#', ''))) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM m)
        SELECT source, lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(sum(words) AS BIGINT) AS sum_ws_tokens,
          CAST(sum(CASE WHEN words >= 50 AND words <= 100000
              AND 3 * words <= nonws AND nonws <= 10 * words
              AND 10 * (n_hash + n_ell) <= words
              AND 5 * alpha_words >= 4 * words AND n_stop >= 2
            THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep,
          CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
        FROM g GROUP BY source, lang ORDER BY source, lang""")),

    // ── decontamination: flag TRAIN docs sharing any word-8-gram with
    //    the TEST set (the n-gram-overlap contamination check run before
    //    every pretraining job; long grams so only real text reuse — not
    //    shared vocabulary — fires). Plan shape at scale: one distinct
    //    on the (small) test shingle set, one semi-style join on shingle
    //    hash — no doc×doc product. Hash-isomorphic to the oracle's
    //    string shingles (same premise as dedup_ngram_jaccard). ─────────
    QueryDef("pipeline_decontaminate",
      (s, dir) => {
        val sh = graft.functions.TextHashFunctions.shingleHashes(col("text"), 8)
        val withSplit = graft.operators.Sampling.trainTestSplit(
          Tables.load(s, dir, "documents"), "doc_id", testSixteenths = 2)
        val testH = withSplit.filter(col("split") === "test")
          .select(explode(sh).as("h")).distinct()
        val trainDocs = withSplit.filter(col("split") === "train")
        val contaminated = trainDocs.select(col("doc_id"), explode(sh).as("h"))
          .join(testH, "h")
          .select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(1L))
        trainDocs.join(contaminated, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_train"),
            sum(coalesce(col("contaminated"), lit(0L))).as("n_contaminated"),
            sum(when(col("contaminated").isNull, col("n_chars"))).as("clean_chars"))
      },
      Some(s"""WITH d AS (SELECT doc_id, n_chars,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
              THEN 'test' ELSE 'train' END AS split,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        s AS (SELECT doc_id, n_chars, split,
            list_distinct([array_to_string(toks[i:i+7], ' ')
              FOR i IN generate_series(1, greatest(len(toks)-7, 1))]) AS sh
          FROM d),
        th AS (SELECT DISTINCT unnest(sh) AS h FROM s WHERE split = 'test'),
        c AS (SELECT DISTINCT doc_id FROM
            (SELECT doc_id, unnest(sh) AS h FROM s WHERE split = 'train') tr
          WHERE h IN (SELECT h FROM th))
        SELECT count(*) AS n_train,
          CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM c)) AS BIGINT) AS n_contaminated,
          CAST(sum(n_chars) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM c)) AS BIGINT) AS clean_chars
        FROM s WHERE split = 'train'""")),

    // ── vocabulary build: global token frequencies, top 100 by count —
    //    the tokenizer-training precursor. One partial+final aggregate
    //    over the exploded corpus, TakeOrderedAndProject tail. ──────────
    // ── RAG-style sliding-window chunker (64-token chunks, stride 48):
    //    every doc exploded into overlapping chunks with token counts
    //    and an md5 fingerprint of the rebuilt chunk text — the
    //    retrieval-index ingestion step. Per-doc work is linear in
    //    tokens×(64/48 overlap factor); the explode is the only row
    //    growth and chunks never cross docs, so the stage is
    //    embarrassingly parallel at any corpus size. Slice semantics
    //    (1-based, end-clipped) and join-with-space agree between
    //    engines ⇒ fingerprints hash-exact. ─────────────────────────────
    QueryDef("pipeline_chunk_overlap",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", tokens($"text").as("toks"))
          .select($"doc_id", $"toks", size($"toks").as("n"))
          .select($"doc_id", $"toks", $"n",
            explode(sequence(lit(0), greatest($"n" - 1, lit(0)), lit(48)))
              .as("start"))
          .select($"doc_id", ($"start" / 48).cast("long").as("chunk_idx"),
            least(lit(64), $"n" - $"start").cast("long").as("n_tokens"),
            md5(array_join(slice($"toks", $"start" + 1, lit(64)), " "))
              .as("chunk_fp"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        c AS (SELECT doc_id, toks, n,
            CAST(unnest(range(0, greatest(n, 1), 48)) AS BIGINT) AS start
          FROM n)
        SELECT doc_id, start // 48 AS chunk_idx,
          CAST(least(64, n - start) AS BIGINT) AS n_tokens,
          md5(array_to_string(list_slice(toks, start + 1, least(start + 64, n)), ' ')) AS chunk_fp
        FROM c ORDER BY doc_id, chunk_idx""")),

    // ── collocation mining by integer lift: token-pair document
    //    co-occurrence vs independence, lift_ppm = n_ab·N·10⁶ ÷
    //    (n_a·n_b) — the rational PMI surrogate (log PMI's libm ULPs
    //    aren't portable; the ranking is the same monotone order). The
    //    within-doc pair explosion is bounded by (tokens per doc)², and
    //    pair counts aggregate map-side; document frequencies join back
    //    on the token key. Top 50 by (lift, pair) — deterministic. ──────
    QueryDef("text_collocation_lift",
      (s, dir) => {
        import s.implicits._
        val td = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(tokens($"text")).as("tok"))
          .filter(length($"tok") >= 3).distinct()
        val nab = td.select($"doc_id", $"tok".as("tok_a"))
          .join(td.select($"doc_id", $"tok".as("tok_b")), Seq("doc_id"))
          .filter($"tok_a" < $"tok_b")
          .groupBy($"tok_a", $"tok_b")
          .agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 5)
        val dfreq = td.groupBy($"tok").agg(count(lit(1)).as("n_tok"))
        val n = Tables.load(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"))
        nab
          .join(dfreq.select($"tok".as("tok_a"), $"n_tok".as("n_a")), "tok_a")
          .join(dfreq.select($"tok".as("tok_b"), $"n_tok".as("n_b")), "tok_b")
          .crossJoin(broadcast(n))
          .selectExpr("tok_a", "tok_b", "n_ab",
            "n_ab * n_docs * 1000000 DIV (n_a * n_b) AS lift_ppm")
          .orderBy($"lift_ppm".desc, $"tok_a", $"tok_b")
          .limit(50)
      },
      Some("""WITH td AS (SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
          WHERE length(tok) >= 3),
        nab AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
            CAST(count(*) AS BIGINT) AS n_ab
          FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2 HAVING count(*) >= 5),
        f AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM td GROUP BY 1),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT nab.tok_a, nab.tok_b, nab.n_ab,
          (nab.n_ab * n.n_docs * 1000000) // (fa.n_tok * fb.n_tok) AS lift_ppm
        FROM nab JOIN f fa ON nab.tok_a = fa.tok
          JOIN f fb ON nab.tok_b = fb.tok CROSS JOIN n
        ORDER BY lift_ppm DESC, tok_a, tok_b LIMIT 50""")),

    // ── the hashing trick (feature hashing): per-user 8-bucket hashed
    //    count vector of event types — the fixed-width featurization
    //    that needs NO vocabulary pass, the classic trade for streaming /
    //    unbounded-cardinality categorical features. Bucket =
    //    md5-prefix(type) mod 8, the engine-portable hash (Spark `conv`
    //    ≡ the oracle's hex-digit chain); the pivot is conditional sums
    //    inside ONE partial+final hash aggregate per user — no pivot
    //    shuffle, no vocabulary table, all integer. ─────────────────────
    QueryDef("pipeline_feature_hash",
      (s, dir) => {
        import s.implicits._
        val b = conv(substring(md5($"event_type"), 1, 4), 16, 10)
          .cast("long") % 8
        val e = Tables.load(s, dir, "events")
          .select($"user_id", b.as("bucket"))
        val fs = (0 until 8).map(i =>
          sum(when($"bucket" === i.toLong, 1L).otherwise(0L)).as(s"f$i"))
        e.groupBy($"user_id")
          .agg(fs.head, fs.tail: _*)
          .orderBy($"user_id")
      },
      Some {
        val bucket = s"(${OracleGen.md5PrefixExpr("md5(event_type)", 4)}) % 8"
        val cols = (0 until 8).map(i =>
          s"CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS BIGINT) AS f$i")
          .mkString(",\n          ")
        s"""WITH e AS (SELECT user_id, $bucket AS b FROM events)
        SELECT user_id,
          $cols
        FROM e GROUP BY 1 ORDER BY user_id"""
      }),

    // ── PII risk scoreboard by source: deterministic synthetic PII
    //    injection on a doc-id schedule (every 7th doc an email, every
    //    11th a phone — the redact-pipeline test harness), then per
    //    SOURCE hit counts and the share of affected docs in integer
    //    ppm — the compliance dashboard that decides which sources need
    //    scrubbing before corpus admission. One regex scan +
    //    \|sources\|-row aggregate; all integer ⇒ hash-exact. ───────────
    QueryDef("pipeline_pii_risk_by_source",
      (s, dir) => {
        import s.implicits._
        val withPii = concat($"text",
          when(pmod($"doc_id", lit(7)) === 0,
            concat(lit(" contact user"), $"doc_id", lit("@example.com")))
            .otherwise(lit("")),
          when(pmod($"doc_id", lit(11)) === 0,
            concat(lit(" call 555-0"),
              lpad(pmod($"doc_id", lit(100)).cast("string"), 3, "0")))
            .otherwise(lit("")))
        val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val phoneRe = "[0-9]{3}-[0-9]{4}"
        Tables.load(s, dir, "documents")
          .select($"source", withPii.as("raw"))
          .select($"source",
            size(regexp_extract_all($"raw", lit(emailRe), lit(0))).cast("long")
              .as("ne"),
            size(regexp_extract_all($"raw", lit(phoneRe), lit(0))).cast("long")
              .as("np"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"ne").as("n_emails"),
            sum($"np").as("n_phones"),
            sum(when($"ne" + $"np" > 0, 1L).otherwise(0L)).as("n_affected"))
          .selectExpr("source", "n_docs", "n_emails", "n_phones", "n_affected",
            "n_affected * 1000000 DIV n_docs AS affected_ppm")
          .orderBy($"source")
      },
      Some("""WITH r AS (SELECT source,
            text
              || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
              || CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
                 ELSE '' END AS raw
          FROM documents),
        h AS (SELECT source,
            CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS ne,
            CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS np
          FROM r),
        g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(ne) AS BIGINT) AS n_emails,
            CAST(sum(np) AS BIGINT) AS n_phones,
            CAST(sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected
          FROM h GROUP BY 1)
        SELECT source, n_docs, n_emails, n_phones, n_affected,
          (n_affected * 1000000) // n_docs AS affected_ppm
        FROM g ORDER BY source""")),

    // ── classifier-calibration reliability bins: a deterministic
    //    document quality score (length saturating at 2000 chars, in
    //    integer permille) binned into deciles, each bin reporting its
    //    doc count, mean predicted score, and OBSERVED good rate (the
    //    length+language rule) in integer ppm — the reliability-diagram
    //    table behind "is the quality classifier calibrated", the gate
    //    on using model scores for corpus filtering. One partial+final
    //    aggregate to ≤ 10 rows; all integer ⇒ hash-exact. ──────────────
    QueryDef("pipeline_calibration_bins",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"n_chars",
            when($"n_chars" >= 200L && $"lang" === "en", 1L).otherwise(0L)
              .as("good"))
          .selectExpr("least(n_chars, 2000L) * 1000 DIV 2000 AS score_pm", "good")
          .selectExpr("least(score_pm DIV 100, 9) AS bin", "score_pm", "good")
          .groupBy($"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"score_pm").as("sum_pm"),
            sum($"good").as("n_good"))
          .selectExpr("bin", "n_docs",
            "sum_pm * 1000 DIV n_docs AS mean_score_ppm",
            "n_good * 1000000 DIV n_docs AS observed_good_ppm")
          .orderBy($"bin")
      },
      Some("""WITH d AS (SELECT
            CAST(least(n_chars, 2000) * 1000 // 2000 AS BIGINT) AS score_pm,
            CASE WHEN n_chars >= 200 AND lang = 'en' THEN 1 ELSE 0 END AS good
          FROM documents),
        b AS (SELECT least(score_pm // 100, 9) AS bin, score_pm, good FROM d),
        g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(score_pm) AS BIGINT) AS sum_pm,
            CAST(sum(good) AS BIGINT) AS n_good
          FROM b GROUP BY 1)
        SELECT bin, n_docs,
          (sum_pm * 1000) // n_docs AS mean_score_ppm,
          (n_good * 1000000) // n_docs AS observed_good_ppm
        FROM g ORDER BY bin""")),

    // ── per-document TF-IDF top terms (integer-surrogate idf): term
    //    frequency per (doc, token) × idf_x1000 = N·1000 ÷ df — the
    //    rational-arithmetic stand-in for log idf (log's libm ULPs
    //    aren't engine-portable; the RANKING it induces here is the
    //    same monotone-in-1/df order), keeping the top 3 terms per doc.
    //    The keyword-extraction staple. Scale: tf is one doc×token
    //    aggregate, df one \|vocab\|-row aggregate joined back on token
    //    (hash join on the token shuffle key; salt if a stopword-heavy
    //    corpus skews it), N a 1-row broadcast recombine; the per-doc
    //    argmax window runs on the tf relation, not the corpus text. ────
    QueryDef("text_tfidf_topk",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(tokens($"text")).as("tok"))
          .filter(length($"tok") >= 3)
        val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val n = Tables.load(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"tok".asc)
        tf.join(df, "tok").crossJoin(broadcast(n))
          .selectExpr("doc_id", "tok", "tf",
            "tf * (n_docs * 1000 DIV df) AS score")
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank".cast("int").as("rank"), $"tok",
            $"tf", $"score")
          .orderBy($"doc_id", $"rank")
      },
      Some("""WITH toks AS (SELECT doc_id, tok FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
          WHERE length(tok) >= 3),
        tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY 1, 2),
        df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        sc AS (SELECT tf.doc_id, tf.tok, tf.tf,
            tf.tf * ((n.n_docs * 1000) // df.df) AS score
          FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
        r AS (SELECT doc_id, tok, tf, score,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, tok ASC) AS rn
          FROM sc)
        SELECT doc_id, CAST(rn AS INTEGER) AS rank, tok, tf, score
        FROM r WHERE rn <= 3 ORDER BY doc_id, rank""")),

    // ── spell-correction candidates: every distinct corpus token
    //    checked against a small canonical dictionary by edit distance
    //    ≤ 2 (its own exact-match word excluded), keeping the best
    //    (min-distance, then lexicographic) suggestion per token — the
    //    vocabulary-normalization step of a curation pipeline. Scale
    //    posture: the dictionary is a constant broadcast side, so the
    //    non-equi distance join is a broadcast NLJ LINEAR in |vocab|
    //    (itself sub-linear in the corpus after distinct), never
    //    corpus×corpus; the per-token argmin is a window over the
    //    candidate set only. Integer distances ⇒ hash-exact
    //    (Spark and DuckDB share the classic Levenshtein). ──────────────
    QueryDef("text_spell_candidates",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.load(s, dir, "documents")
          .select(explode(tokens($"text")).as("tok"))
          .filter(length($"tok") >= 3).distinct()
        val dict = Seq("table", "query", "window", "stream", "batch",
          "filter", "column", "value", "customer", "vector", "merge",
          "group", "order", "spark", "scan", "sort", "hash", "join",
          "line", "part", "data", "small", "slow", "fast", "big", "row",
          "the", "key", "agg").toDF("word")
        val cand = toks
          .join(broadcast(dict),
            levenshtein($"tok", $"word") <= 2 && $"tok" =!= $"word")
          .select($"tok", $"word",
            levenshtein($"tok", $"word").as("dist"))
        val w = Window.partitionBy($"tok").orderBy($"dist", $"word")
        cand.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"tok", $"word".as("suggestion"), $"dist")
          .orderBy($"tok")
      },
      Some("""WITH toks AS (SELECT DISTINCT tok FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
          WHERE length(tok) >= 3),
        dict AS (SELECT * FROM (VALUES ('table'), ('query'), ('window'),
            ('stream'), ('batch'), ('filter'), ('column'), ('value'),
            ('customer'), ('vector'), ('merge'), ('group'), ('order'),
            ('spark'), ('scan'), ('sort'), ('hash'), ('join'), ('line'),
            ('part'), ('data'), ('small'), ('slow'), ('fast'), ('big'),
            ('row'), ('the'), ('key'), ('agg')) v(word)),
        cand AS (SELECT tok, word, CAST(levenshtein(tok, word) AS INTEGER) AS dist
          FROM toks CROSS JOIN dict
          WHERE levenshtein(tok, word) <= 2 AND tok <> word),
        r AS (SELECT tok, word, dist,
            row_number() OVER (PARTITION BY tok ORDER BY dist, word) AS rn
          FROM cand)
        SELECT tok, word AS suggestion, dist FROM r WHERE rn = 1
        ORDER BY tok""")),

    QueryDef("text_vocab_topk",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100),
      Some("""SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
              FROM documents) t
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""")),

    // ── Simpson lexical diversity per language (the collision-
    //    probability counterpart to Shannon entropy: D = Σn_t(n_t−1)/
    //    (N(N−1)) is the chance two random tokens coincide — spiked by
    //    templated/boilerplate text, and EXACT as a rational where
    //    entropy needs ln): one token aggregate per (lang, token), one
    //    |vocab|-row rollup; numerator and denominator ship as exact
    //    integers, 1−D is the lone IEEE division. ───────────────────────
    QueryDef("text_simpson_diversity",
      (s, dir) => {
        import s.implicits._
        val tok = Tables.load(s, dir, "documents")
          .select($"lang", explode(tokens($"text")).as("token"))
          .groupBy($"lang", $"token").agg(count(lit(1)).as("n_t"))
        tok.groupBy($"lang")
          .agg(sum($"n_t").as("n_tokens"),
            count(lit(1)).as("vocab"),
            sum($"n_t" * ($"n_t" - 1L)).as("d_num"))
          .select($"lang", $"n_tokens", $"vocab", $"d_num",
            (lit(1.0d) - $"d_num".cast("double") /
              ($"n_tokens".cast("decimal(38,0)") * ($"n_tokens" - 1L))
                .cast("decimal(38,0)").cast("double")).as("diversity"))
          .orderBy($"lang")
      },
      Some("""WITH tok AS (SELECT lang, token, CAST(count(*) AS BIGINT)
            AS n_t
          FROM (SELECT lang,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents) t
          GROUP BY lang, token)
        SELECT lang, CAST(sum(n_t) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS vocab,
          CAST(sum(n_t * (n_t - 1)) AS BIGINT) AS d_num,
          1.0 - CAST(sum(n_t * (n_t - 1)) AS DOUBLE)
            / CAST(CAST(CAST(sum(n_t) AS HUGEINT) * (sum(n_t) - 1)
              AS DECIMAL(38,0)) AS DOUBLE) AS diversity
        FROM tok GROUP BY lang ORDER BY lang""")),

    // ── Maximal-marginal-relevance rerank (the retrieval-time dedup:
    //    plain top-k returns near-copies of the best hit; MMR's greedy
    //    λ·rel − (1−λ)·max-sim-to-selected trades relevance against
    //    novelty): three unrolled greedy rounds at λ = 0.7 over the
    //    vec_id 1..200 candidates against query vec 0 — each round is a
    //    broadcast score pass + 1-row argmax recombine (smallest-cid
    //    tie-break), cosines via the engine-parity kernel. Scale: every
    //    pass is one scan of the candidate block; the selected set is
    //    O(k) broadcast. ─────────────────────────────────────────────────
    QueryDef("sim_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions
        val emb = Tables.load(s, dir, "embeddings")
        val qv = emb.filter($"vec_id" === 0L)
          .select($"embedding".as("qe"))
        val cand = emb.filter($"vec_id" >= 1L && $"vec_id" <= 200L)
          .crossJoin(broadcast(qv))
          .select($"vec_id".as("cid"), $"embedding".as("ce"),
            VectorFunctions.cosineSim($"embedding", $"qe").as("rel"))
        def argmax(df: org.apache.spark.sql.DataFrame, score: String)
            : org.apache.spark.sql.DataFrame = df
          .agg(max(struct(col(score), -$"cid", $"cid", $"ce", $"rel"))
            .as("t"))
          .select($"t".getField("cid").as("scid"),
            $"t".getField("ce").as("se"),
            $"t".getField("rel").as("srel"),
            $"t".getField(score).as("sscore"))
        val s1 = argmax(cand.withColumn("score", $"rel"), "score")
        val r2 = cand.crossJoin(broadcast(s1))
          .filter($"cid" =!= $"scid")
          .select($"cid", $"ce", $"rel", $"scid".as("c1"), $"se".as("e1"),
            (lit(0.7d) * $"rel" - lit(0.3d) *
              VectorFunctions.cosineSim($"ce", $"se")).as("score"))
        val s2 = argmax(r2.select($"cid", $"ce", $"rel", $"score"), "score")
        val r3 = cand.crossJoin(broadcast(s1.select($"scid".as("c1"),
            $"se".as("e1"))))
          .crossJoin(broadcast(s2.select($"scid".as("c2"), $"se".as("e2"))))
          .filter($"cid" =!= $"c1" && $"cid" =!= $"c2")
          .select($"cid", $"ce", $"rel",
            (lit(0.7d) * $"rel" - lit(0.3d) * greatest(
              VectorFunctions.cosineSim($"ce", $"e1"),
              VectorFunctions.cosineSim($"ce", $"e2"))).as("score"))
        val s3 = argmax(r3, "score")
        s1.select(lit(1L).as("rank"), $"scid".as("cid"),
            $"sscore".as("mmr_score"))
          .unionAll(s2.select(lit(2L).as("rank"), $"scid".as("cid"),
            $"sscore".as("mmr_score")))
          .unionAll(s3.select(lit(3L).as("rank"), $"scid".as("cid"),
            $"sscore".as("mmr_score")))
          .orderBy($"rank")
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings
          WHERE vec_id = 0),
        cand AS (SELECT vec_id AS cid, embedding AS ce,
            list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              CAST((SELECT qe FROM q) AS DOUBLE[])) AS rel
          FROM embeddings WHERE vec_id BETWEEN 1 AND 200),
        s1 AS (SELECT cid, ce, rel, rel AS score FROM cand
          ORDER BY rel DESC, cid LIMIT 1),
        r2 AS (SELECT c.cid, c.ce, c.rel,
            0.7 * c.rel - 0.3 * list_cosine_similarity(
              CAST(c.ce AS DOUBLE[]), CAST(s1.ce AS DOUBLE[])) AS score
          FROM cand c, s1 WHERE c.cid <> s1.cid),
        s2 AS (SELECT cid, ce, rel, score FROM r2
          ORDER BY score DESC, cid LIMIT 1),
        r3 AS (SELECT c.cid, c.rel,
            0.7 * c.rel - 0.3 * greatest(
              list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
                CAST(s1.ce AS DOUBLE[])),
              list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
                CAST(s2.ce AS DOUBLE[]))) AS score
          FROM cand c, s1, s2 WHERE c.cid <> s1.cid AND c.cid <> s2.cid),
        s3 AS (SELECT cid, score FROM r3 ORDER BY score DESC, cid LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS rank, s1.cid, s1.score AS mmr_score
          FROM s1
        UNION ALL SELECT CAST(2 AS BIGINT), s2.cid, s2.score FROM s2
        UNION ALL SELECT CAST(3 AS BIGINT), s3.cid, s3.score FROM s3
        ORDER BY rank""")),

    // ── Code-vs-prose detection per source (the corpus-routing screen a
    //    mixed crawl needs before tokenizer/mixture decisions — code
    //    wants different dedup, quality rules, and sampling temperature
    //    than prose): three structural densities per doc measured as
    //    pure LENGTH DIFFERENCES after character-class strips
    //    (regexp_replace with simple classes — identical semantics in
    //    Java and RE2 regex engines; no tokenization, no explode):
    //    code-symbol chars {}();=<>[], digits, sentence punctuation.
    //    A doc flags as code when symbols exceed 1% of its chars —
    //    decided by integer cross-multiply. Per-source rollup ships doc
    //    counts and exact ppm densities (integer DIV). One scan, one
    //    |sources|-row hash aggregate. ──────────────────────────────────
    QueryDef("text_code_detect",
      (s, dir) => {
        import s.implicits._
        def stripped(cls: String) =
          length($"text") - length(regexp_replace($"text", cls, ""))
        val d = Tables.load(s, dir, "documents")
          .select($"source", $"n_chars",
            stripped("[{}();=<>\\[\\]]").cast("long").as("n_sym"),
            stripped("[0-9]").cast("long").as("n_digit"),
            stripped("[.,!?]").cast("long").as("n_punct"))
        d.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"n_sym" * 100L > $"n_chars", 1L).otherwise(0L))
              .as("code_docs"),
            sum($"n_sym").as("sum_sym"),
            sum($"n_digit").as("sum_digit"),
            sum($"n_punct").as("sum_punct"),
            sum($"n_chars").as("sum_chars"))
          // ppm in DECIMAL(38,0) (HUGEINT twin): sum_sym·1e6 passes 2⁶³
          // once a source holds ~9·10¹² matched chars — the 100 TB case
          .selectExpr("source", "n_docs", "code_docs",
            "sum_sym", "sum_digit", "sum_punct",
            "CAST(sum_sym AS DECIMAL(38,0)) * 1000000 DIV sum_chars AS sym_ppm",
            "CAST(sum_digit AS DECIMAL(38,0)) * 1000000 DIV sum_chars AS digit_ppm",
            "CAST(sum_punct AS DECIMAL(38,0)) * 1000000 DIV sum_chars AS punct_ppm")
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT source, n_chars,
            CAST(length(text) - length(regexp_replace(text,
              '[{}();=<>\[\]]', '', 'g')) AS BIGINT) AS n_sym,
            CAST(length(text) - length(regexp_replace(text,
              '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
            CAST(length(text) - length(regexp_replace(text,
              '[.,!?]', '', 'g')) AS BIGINT) AS n_punct
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN n_sym * 100 > n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS code_docs,
          CAST(sum(n_sym) AS BIGINT) AS sum_sym,
          CAST(sum(n_digit) AS BIGINT) AS sum_digit,
          CAST(sum(n_punct) AS BIGINT) AS sum_punct,
          CAST(sum(n_sym) * 1000000 // sum(n_chars) AS BIGINT) AS sym_ppm,
          CAST(sum(n_digit) * 1000000 // sum(n_chars) AS BIGINT)
            AS digit_ppm,
          CAST(sum(n_punct) * 1000000 // sum(n_chars) AS BIGINT)
            AS punct_ppm
        FROM d GROUP BY source ORDER BY source""")),

    // ── Greedy k-center coreset selection (farthest-point traversal —
    //    the diverse-subset pick behind coreset curation and
    //    active-learning seed sets: each round adds the point FARTHEST
    //    from everything already chosen, the 2-approximation of the
    //    k-center objective): 4 unrolled rounds over the vec_id < 200
    //    candidate block, seeded at vec 0 (the MMR greedy shape). All
    //    distances are EXACT integer L2² on floor(x·2²⁰) quantized
    //    coordinates — (Δq)² ≤ 2⁴², ×64 dims < 2⁴⁹, pure BIGINT, no
    //    sqrt, no IEEE anywhere — so argmax ties (→ smallest id) and
    //    every reported radius² are engine-exact. The pair-distance
    //    relation is built ONCE ((200 choose 2) rows, localCheckpoint
    //    barrier) and each round is a broadcast-selected-set probe +
    //    1-row argmax recombine; at scale the candidate block is a
    //    deterministic stride sample and each round stays one linear
    //    scan of it. Row r's radius² is the k-center covering radius
    //    AFTER r−1 centers — the objective trajectory ships with the
    //    picks. ──────────────────────────────────────────────────────────
    QueryDef("sample_kcenter_greedy",
      (s, dir) => {
        import s.implicits._
        val q = Tables.load(s, dir, "embeddings")
          .filter($"vec_id" < 200L)
          .select($"vec_id", posexplode($"embedding").as(Seq("j", "x")))
          .select($"vec_id", $"j",
            floor($"x".cast("double") * lit(1048576.0)).cast("long").as("qv"))
        val d = q.select($"vec_id".as("va"), $"j".as("ja"), $"qv".as("qa"))
          .join(q.select($"vec_id".as("vb"), $"j".as("jb"), $"qv".as("qb")),
            $"jb" === $"ja" && $"va" < $"vb")
          .groupBy($"va", $"vb")
          .agg(sum(($"qa" - $"qb") * ($"qa" - $"qb")).as("d2"))
        // symmetric view, materialized once (every greedy round probes it)
        val ds = d.select($"va".as("x"), $"vb".as("y"), $"d2")
          .unionAll(d.select($"vb".as("x"), $"va".as("y"), $"d2"))
          .localCheckpoint()
        def argmaxMin(sel: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
          val selIds = sel.map(_.select($"cid")).reduce(_ unionAll _)
          ds.join(broadcast(selIds.withColumnRenamed("cid", "y")), "y")
            .groupBy($"x").agg(min($"d2").as("mind"))
            .join(broadcast(selIds.withColumnRenamed("cid", "x")), Seq("x"), "left_anti")
            .agg(max(struct($"mind", -$"x", $"x")).as("t"))
            .select($"t".getField("x").as("cid"), $"t".getField("mind").as("radius2"))
        }
        val s1 = Tables.load(s, dir, "embeddings").filter($"vec_id" === 0L)
          .select($"vec_id".as("cid"), lit(0L).as("radius2")).localCheckpoint()
        val s2 = argmaxMin(Seq(s1)).localCheckpoint()
        val s3 = argmaxMin(Seq(s1, s2)).localCheckpoint()
        val s4 = argmaxMin(Seq(s1, s2, s3)).localCheckpoint()
        s1.select(lit(1L).as("rank"), $"cid", $"radius2")
          .unionAll(s2.select(lit(2L).as("rank"), $"cid", $"radius2"))
          .unionAll(s3.select(lit(3L).as("rank"), $"cid", $"radius2"))
          .unionAll(s4.select(lit(4L).as("rank"), $"cid", $"radius2"))
          .orderBy($"rank")
      },
      Some("""WITH q AS (SELECT vec_id, j,
            CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT)
              AS qv
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
          WHERE vec_id < 200),
        d AS (SELECT a.vec_id AS va, b.vec_id AS vb,
            CAST(sum((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
          FROM q a JOIN q b ON b.j = a.j AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        ds AS (SELECT va AS x, vb AS y, d2 FROM d
          UNION ALL SELECT vb, va, d2 FROM d),
        s2 AS (SELECT x AS cid, d2 AS radius2 FROM ds WHERE y = 0
          ORDER BY d2 DESC, x LIMIT 1),
        r3 AS (SELECT ds.x, min(ds.d2) AS mind FROM ds
          WHERE ds.y = 0 OR ds.y = (SELECT cid FROM s2)
          GROUP BY ds.x),
        s3 AS (SELECT x AS cid, mind AS radius2 FROM r3
          WHERE x <> 0 AND x <> (SELECT cid FROM s2)
          ORDER BY mind DESC, x LIMIT 1),
        r4 AS (SELECT ds.x, min(ds.d2) AS mind FROM ds
          WHERE ds.y = 0 OR ds.y = (SELECT cid FROM s2)
            OR ds.y = (SELECT cid FROM s3)
          GROUP BY ds.x),
        s4 AS (SELECT x AS cid, mind AS radius2 FROM r4
          WHERE x <> 0 AND x <> (SELECT cid FROM s2)
            AND x <> (SELECT cid FROM s3)
          ORDER BY mind DESC, x LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS cid,
          CAST(0 AS BIGINT) AS radius2
        UNION ALL SELECT 2, cid, radius2 FROM s2
        UNION ALL SELECT 3, cid, radius2 FROM s3
        UNION ALL SELECT 4, cid, radius2 FROM s4
        ORDER BY rank""")),

    // ── Term burstiness (Church–Gale: content words CLUMP — a term
    //    whose occurrences concentrate in few docs is topical, one
    //    spread evenly is functional; the variance-to-mean ratio of
    //    per-doc tf separates them and flags boilerplate injection):
    //    for the top-20 corpus terms, VMR = (N·Σtf² − T²)/((N−1)·T)
    //    over ALL docs (zeros contribute nothing to Σtf² — no dense
    //    join needed) is an EXACT rational; numerator/denominator ship
    //    as DECIMAL/BIGINT beside the one IEEE division. ────────────────
    QueryDef("text_burstiness",
      (s, dir) => {
        import s.implicits._
        val dec = "decimal(38,0)"
        val docs = Tables.load(s, dir, "documents")
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tf = docs
          .select($"doc_id", explode(tokens($"text")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val perTerm = tf.groupBy($"term")
          .agg(count(lit(1)).as("df"), sum($"tf").as("total"),
            sum($"tf" * $"tf").as("ss_tf"))
        perTerm.crossJoin(broadcast(nDocs))
          .orderBy($"total".desc, $"term").limit(20)
          .select($"term", $"total", $"df",
            ($"n_docs".cast(dec) * $"ss_tf" - $"total".cast(dec) * $"total")
              .cast(dec).as("vmr_num"),
            (($"n_docs" - 1L).cast(dec) * $"total").cast(dec).as("vmr_den"))
          .withColumn("vmr",
            $"vmr_num".cast("double") / $"vmr_den".cast("double"))
          // exact DECIMAL internally, string emission (see
          // agg_autocorr_lag1 — driver hashes the parquet encoding)
          .select($"term", $"total", $"df",
            $"vmr_num".cast("string").as("vmr_num"),
            $"vmr_den".cast("string").as("vmr_den"), $"vmr")
          .orderBy($"total".desc, $"term")
      },
      Some("""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
          FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents) t
          GROUP BY doc_id, term),
        pt AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
            CAST(sum(tf) AS BIGINT) AS total,
            CAST(sum(tf * tf) AS BIGINT) AS ss_tf
          FROM tf GROUP BY term),
        top AS (SELECT * FROM pt CROSS JOIN nd
          ORDER BY total DESC, term LIMIT 20)
        SELECT term, total, df,
          CAST(CAST(CAST(n_docs AS HUGEINT) * ss_tf
            - CAST(total AS HUGEINT) * total AS DECIMAL(38,0)) AS VARCHAR)
            AS vmr_num,
          CAST(CAST(CAST(n_docs - 1 AS HUGEINT) * total AS DECIMAL(38,0))
            AS VARCHAR) AS vmr_den,
          CAST(CAST(CAST(n_docs AS HUGEINT) * ss_tf
              - CAST(total AS HUGEINT) * total AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST(CAST(n_docs - 1 AS HUGEINT) * total
              AS DECIMAL(38,0)) AS DOUBLE) AS vmr
        FROM top ORDER BY total DESC, term""")),

    // ── Hashed linear quality classifier (fastText-style inference —
    //    the model-based quality gate of a curation pipeline, e.g.
    //    CCNet/FineWeb's classifier stage): token → md5 hash → one of
    //    4096 weight buckets, doc score = Σ tf·w / n_tokens, label =
    //    sign. The WEIGHTS are a deterministic stand-in (a pure function
    //    of the bucket — the FakeCodec pattern: no trained artifact
    //    ships in this sandbox), while the inference plumbing is the
    //    real thing a trained model needs: tokenize → hash → bucket →
    //    weighted sum → threshold, one explode + two hash aggregates,
    //    map-side partial aggregation, no UDF. Swapping in trained
    //    weights = a broadcast join against a 4096-row weight table. ────
    QueryDef("text_hashed_classifier",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source", explode(tokens($"text")).as("tok"))
          .select($"doc_id", $"source",
            pmod(conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"),
              lit(4096L)).as("bucket"))
          .withColumn("w",
            pmod($"bucket" * lit(2654435761L), lit(2001L)) - lit(1000L))
        val perDoc = toks.groupBy($"doc_id", $"source")
          .agg(count(lit(1)).as("n_toks"), sum($"w").as("score_num"))
        perDoc.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"score_num" > 0L, 1L).otherwise(0L)).as("n_pos"),
            sum($"score_num").as("sum_num"),
            sum($"n_toks").as("sum_toks"))
          .withColumn("mean_score_ppm",
            floor($"sum_num".cast("double") / $"sum_toks".cast("double")
              * lit(1e6)).cast("long"))
          .orderBy($"source")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
            unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        b AS (SELECT doc_id, source,
            ${OracleGen.md5PrefixExpr("md5(tok)", 8)} % 4096 AS bucket
          FROM t),
        w AS (SELECT doc_id, source,
            (bucket * 2654435761) % 2001 - 1000 AS w FROM b),
        d AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_toks,
            CAST(sum(w) AS BIGINT) AS score_num
          FROM w GROUP BY doc_id, source)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN score_num > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pos,
          CAST(sum(score_num) AS BIGINT) AS sum_num,
          CAST(sum(n_toks) AS BIGINT) AS sum_toks,
          CAST(floor(CAST(sum(score_num) AS DOUBLE)
            / CAST(sum(n_toks) AS DOUBLE) * 1e6) AS BIGINT)
            AS mean_score_ppm
        FROM d GROUP BY source ORDER BY source""")),

    // ── TRAINED hashed quality classifier (r14 verdict item 3 — the
    //    stand-in weights above, made real): batch perceptron on the
    //    hashed bucket tf features, 8 full-batch fixed-point steps, all
    //    INTEGER arithmetic (the embed_kmeans_step discipline — no
    //    learning-rate floats, so the oracle replays the descent as a
    //    CTE chain). Labels are deterministic: the Gopher pass verdict
    //    (gopher_stats kernel) as the curation target — exactly the
    //    bootstrap a fastText-style quality gate trains from (label by
    //    a rule cascade, learn a model that generalizes it). A BIAS
    //    feature (bucket 4096, constant tf = 8 — outside the md5
    //    bucket range) gives the linear model the threshold the
    //    dominant words≥50 label rule needs; without it no weight
    //    vector separates "long enough" from "too short" and training
    //    plateaus below the coin flip (measured 0.43 at 3 unbiased
    //    steps vs 0.91 with bias at 8 — the sweep that chose C=8,
    //    T=8). Train on doc_id % 5 < 4, score the HELD-OUT fifth with
    //    the LEARNED weights, and report held-out accuracy next to the
    //    r13 stand-in's — the claim "training beat the stand-in" is in
    //    the output row (and spec-pinned strictly-greater). Perceptron
    //    unroll: w₁ = Σ y·x over all train docs (w₀ = 0 mispredicts
    //    everything), then 7 mispredicted-set updates. Scale shape:
    //    the per-doc (label, token buckets) table builds once, map-only
    //    and localCheckpointed; each step is one fold over it
    //    (graft.Bounded) that scores, finds the mispredicted docs and
    //    sums their update in one pass, into a state of the 4,097
    //    weights — O(features) per step, the weights stay on the
    //    driver, and the held-out fifth is scored in one more fold. ────
    QueryDef("text_classifier_train",
      (s, dir) => {
        import s.implicits._
        // per doc: its label and its tokens' hashed buckets, one entry per
        // token, so a bucket's multiplicity is its tf — built once, then
        // every round folds it
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text",
            graft.functions.TextHashFunctions.gopherStats($"text").as("g"))
          .select($"doc_id",
            when($"g".getItem(0) >= 50L && $"g".getItem(0) <= 100000L &&
              lit(3L) * $"g".getItem(0) <= $"g".getItem(1) &&
              $"g".getItem(1) <= lit(10L) * $"g".getItem(0) &&
              lit(10L) * ($"g".getItem(2) + $"g".getItem(3)) <= $"g".getItem(0) &&
              lit(5L) * $"g".getItem(4) >= lit(4L) * $"g".getItem(0) &&
              $"g".getItem(5) >= 2L, 1L).otherwise(-1L).as("y"),
            transform(tokens($"text"), t =>
              pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(4096L)))
              .as("buckets"))
          .localCheckpoint()
        val train = docs.filter(pmod($"doc_id", lit(5L)) < 4L)
        val heldout = docs.filter(pmod($"doc_id", lit(5L)) === 4L)
        // the weights: 4096 md5 buckets plus the bias (bucket 4096, x = 8)
        val nW = 4097
        def tokensOf(r: InternalRow): Iterator[Int] =
          if (r.isNullAt(2)) Iterator.empty
          else { val b = r.getArray(2); Iterator.range(0, b.numElements).map(b.getLong(_).toInt) }
        def score(r: InternalRow, w: Array[Long]): Long =
          tokensOf(r).foldLeft(Math.multiplyExact(8L, w(4096)))((sc, b) => Math.addExact(sc, w(b)))
        def plus(a: Array[Long], b: Array[Long]) =
          Array.tabulate(a.length)(i => Math.addExact(a(i), b(i)))
        // one perceptron step under w: each mispredicted train doc adds y·x
        // to the delta and 1 to its last slot, the mispredicted count
        def step(w: Array[Long]): Array[Long] =
          Bounded.aggregate(train, nW + 1L)(new Array[Long](nW + 1))((dw, r) => {
            val y = r.getLong(1)
            if (Math.multiplyExact(y, score(r, w)) <= 0L) {
              tokensOf(r).foreach(b => dw(b) = Math.addExact(dw(b), y))
              dw(4096) = Math.addExact(dw(4096), Math.multiplyExact(8L, y))
              dw(nW) += 1L
            }
            dw
          }, plus, _.length.toLong)
        // 8 steps from w₀ = 0, under which every train doc mispredicts, so
        // step 0's count is n_train; mis(t) is the count under w_t, and
        // plus(w, dw) keeps w's 4,097 slots
        val (w, mis) = (0 until 8).foldLeft((new Array[Long](nW), Vector.empty[Long])) {
          case ((w, mis), _) => val dw = step(w); (plus(w, dw), mis :+ dw(nW))
        }
        // held out: (docs, correct under w) and, for the r13 stand-in
        // weights on the md5 buckets alone, (docs with a token, correct)
        val held = Bounded.aggregate(heldout, 4L)(new Array[Long](4))((st, r) => {
          val y = r.getLong(1)
          def correct(sc: Long) = if ((sc > 0L) == (y == 1L)) 1L else 0L
          st(0) += 1L
          st(1) += correct(score(r, w))
          val bs = tokensOf(r).toSeq
          if (bs.nonEmpty) {
            st(2) += 1L
            st(3) += correct(bs.foldLeft(0L)((sc, b) => Math.addExact(sc,
              Math.floorMod(Math.multiplyExact(b.toLong, 2654435761L), 2001L) - 1000L)))
          }
          st
        }, plus, _.length.toLong)
        Graph.releaseCheckpoint(docs)
        def ppm(nc: Long, n: Long): java.lang.Long =
          if (n == 0L) null else Ansi.div(Math.multiplyExact(nc, 1000000L), n)
        val (accT, accS) = (ppm(held(1), held(0)), ppm(held(3), held(2)))
        val improved = if (accT == null || accS == null) null else accT.longValue > accS.longValue
        Bounded.frame(s, Seq(Row(mis(0), held(0), mis(1), mis(7), accT, accS, improved)),
          "n_train BIGINT NOT NULL, n_heldout BIGINT NOT NULL, n_mis1 BIGINT NOT NULL, " +
            "n_mis7 BIGINT NOT NULL, acc_trained_ppm BIGINT, acc_standin_ppm BIGINT, " +
            "improved BOOLEAN")
      },
      Some {
        // 7 unrolled update rounds (the sqlPcaCtes device): score under
        // w_t, collect mispredicted docs, per-bucket delta, w_{t+1}
        def round(t: Int): String =
          s"""s$t AS (SELECT tr.doc_id, tr.y, CAST(sum(tr.tf * w$t.w) AS BIGINT) AS sc
            FROM tr JOIN w$t USING (bucket) GROUP BY 1, 2),
          mis$t AS (SELECT doc_id FROM s$t WHERE y * sc <= 0),
          d$t AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS dw
            FROM tr JOIN mis$t USING (doc_id) GROUP BY bucket),
          w${t + 1} AS (SELECT w$t.bucket, w$t.w + coalesce(d$t.dw, 0) AS w
            FROM w$t LEFT JOIN d$t USING (bucket))"""
        s"""WITH t AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        gm AS (SELECT doc_id, toks, len(toks) AS words,
            length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
            (length(text) - length(replace(text, '#', ''))) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
            len(list_intersect(list_distinct(toks),
              ['the','a','and','of','to','in','is','that'])) AS n_stop
          FROM t),
        lab AS (SELECT doc_id,
            CASE WHEN words >= 50 AND words <= 100000
              AND 3 * words <= nonws AND nonws <= 10 * words
              AND 10 * (n_hash + n_ell) <= words
              AND 5 * alpha_words >= 4 * words
              AND n_stop >= 2 THEN 1 ELSE -1 END AS y
          FROM gm),
        tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tf AS (SELECT doc_id, bucket, tf FROM (
            SELECT tk.doc_id,
              ${OracleGen.md5PrefixExpr("md5(tok)", 8)} % 4096 AS bucket,
              CAST(count(*) AS BIGINT) AS tf
            FROM tk GROUP BY 1, 2
            UNION ALL
            SELECT doc_id, 4096 AS bucket, 8 AS tf FROM t)),
        tr AS (SELECT tf.doc_id, bucket, tf, y
          FROM tf JOIN lab USING (doc_id) WHERE tf.doc_id % 5 < 4),
        w1 AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
          FROM tr GROUP BY bucket),
        ${(1 to 7).map(round).mkString(",\n        ")},
        ho AS (SELECT tf.doc_id, bucket, tf, y
          FROM tf JOIN lab USING (doc_id) WHERE tf.doc_id % 5 = 4),
        sh AS (SELECT ho.doc_id, ho.y,
            CAST(sum(ho.tf * coalesce(w8.w, 0)) AS BIGINT) AS sc
          FROM ho LEFT JOIN w8 USING (bucket) GROUP BY 1, 2),
        ss AS (SELECT ho.doc_id, ho.y,
            CAST(sum(ho.tf * ((bucket * 2654435761) % 2001 - 1000)) AS BIGINT) AS sc
          FROM ho WHERE bucket < 4096 GROUP BY 1, 2),
        at AS (SELECT CAST(count(*) AS BIGINT) AS n_heldout,
            CAST(sum(CASE WHEN (sc > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc
          FROM sh),
        ast AS (SELECT CAST(sum(CASE WHEN (sc > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc
          FROM ss),
        nt AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train FROM tr),
        nm1 AS (SELECT CAST(count(*) AS BIGINT) AS n_mis1 FROM mis1),
        nm7 AS (SELECT CAST(count(*) AS BIGINT) AS n_mis7 FROM mis7)
        SELECT nt.n_train, at.n_heldout, nm1.n_mis1, nm7.n_mis7,
          at.nc * 1000000 // at.n_heldout AS acc_trained_ppm,
          ast.nc * 1000000 // at.n_heldout AS acc_standin_ppm,
          at.nc * 1000000 // at.n_heldout
            > ast.nc * 1000000 // at.n_heldout AS improved
        FROM nt, at, ast, nm1, nm7"""
      }),


    // ── Energy distance between two embedding populations (the
    //    distribution-level two-sample test for vector spaces — "did
    //    the label-0 and label-1 clusters drift apart?" where centroid
    //    tests only see the means): E = 2·E d(X,Y) − E d(X,X′) −
    //    E d(Y,Y′). Distances quantize as floor(√(Σ(q_a−q_b)²)·1e6)
    //    with q = floor(x·2^20) — the radicand is an exact integer, so
    //    the correctly-rounded sqrt is bit-identical in both engines
    //    and the three component sums are order-independent BIGINTs.
    //    One dimension-join builds ALL pairs of the capped block (va <
    //    vb), one aggregate splits them by pair type. ──────────────────
    QueryDef("embed_energy_distance",
      (s, dir) => {
        import s.implicits._
        val q = Tables.load(s, dir, "embeddings")
          .filter($"vec_id" < 300L && $"label".isin(0, 1))
          .select($"vec_id", $"label".cast("long").as("lb"),
            posexplode($"embedding").as(Seq("j", "x")))
          .select($"vec_id", $"lb", $"j",
            floor($"x".cast("double") * lit(1048576.0)).cast("long").as("q"))
        val pairs = q.select($"vec_id".as("va"), $"lb".as("la"),
            $"j".as("ja"), $"q".as("qa"))
          .join(q.select($"vec_id".as("vb"), $"lb".as("lbl"),
            $"j".as("jb"), $"q".as("qb")), $"jb" === $"ja" && $"va" < $"vb")
          .groupBy($"va", $"vb", $"la", $"lbl")
          .agg(sum(($"qa" - $"qb") * ($"qa" - $"qb")).as("d2"))
          .select($"la", $"lbl",
            floor(sqrt($"d2".cast("double")) * lit(1e6)).cast("long")
              .as("qd"))
        val nx = q.filter($"lb" === 0L).select($"vec_id").distinct()
          .agg(count(lit(1)).as("nx"))
        val ny = q.filter($"lb" === 1L).select($"vec_id").distinct()
          .agg(count(lit(1)).as("ny"))
        pairs
          .agg(sum(when($"la" === 0L && $"lbl" === 0L, $"qd")
              .otherwise(0L)).as("s_xx"),
            sum(when($"la" === 1L && $"lbl" === 1L, $"qd").otherwise(0L))
              .as("s_yy"),
            sum(when($"la" =!= $"lbl", $"qd").otherwise(0L)).as("s_xy"))
          .crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
          .select($"nx", $"ny", $"s_xx", $"s_yy", $"s_xy",
            (lit(2.0d) * $"s_xy".cast("double") /
              ($"nx" * $"ny").cast("double") -
              lit(2.0d) * $"s_xx".cast("double") /
                ($"nx" * ($"nx" - 1L)).cast("double") -
              lit(2.0d) * $"s_yy".cast("double") /
                ($"ny" * ($"ny" - 1L)).cast("double")).as("e_stat_q6"))
      },
      Some("""WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS lb,
            j - 1 AS j,
            CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT)
              AS q
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g
          WHERE vec_id < 300 AND label IN (0, 1)),
        pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
            a.lb AS la, b.lb AS lbl,
            CAST(floor(sqrt(CAST(sum((a.q - b.q) * (a.q - b.q)) AS DOUBLE))
              * 1e6) AS BIGINT) AS qd
          FROM q a JOIN q b ON b.j = a.j AND a.vec_id < b.vec_id
          GROUP BY 1, 2, 3, 4),
        nx AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS nx
          FROM q WHERE lb = 0),
        ny AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS ny
          FROM q WHERE lb = 1),
        sums AS (SELECT
            CAST(sum(CASE WHEN la = 0 AND lbl = 0 THEN qd ELSE 0 END)
              AS BIGINT) AS s_xx,
            CAST(sum(CASE WHEN la = 1 AND lbl = 1 THEN qd ELSE 0 END)
              AS BIGINT) AS s_yy,
            CAST(sum(CASE WHEN la <> lbl THEN qd ELSE 0 END) AS BIGINT)
              AS s_xy
          FROM pairs)
        SELECT nx, ny, s_xx, s_yy, s_xy,
          2.0 * CAST(s_xy AS DOUBLE) / CAST(nx * ny AS DOUBLE)
            - 2.0 * CAST(s_xx AS DOUBLE) / CAST(nx * (nx - 1) AS DOUBLE)
            - 2.0 * CAST(s_yy AS DOUBLE) / CAST(ny * (ny - 1) AS DOUBLE)
            AS e_stat_q6
        FROM sums CROSS JOIN nx CROSS JOIN ny""")),

    // ── Prefix-template clustering (machine-generated corpora repeat
    //    OPENINGS — "Welcome to…", SEO boilerplate, error-page shells;
    //    grouping by the first-8-token prefix hash surfaces template
    //    families the span-level dedup won't, because their bodies
    //    diverge): one token-slice projection per doc (no explode — the
    //    prefix is array_join(slice(tokens, 1, 8))), a hash aggregate
    //    per prefix, and the ≥2-doc clusters report size, doc span, and
    //    char volume, TakeOrdered(25). ──────────────────────────────────
    QueryDef("text_prefix_templates",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"n_chars",
            md5(array_join(slice(tokens($"text"), 1, 8), " "))
              .as("prefix_key"))
          .groupBy($"prefix_key")
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"),
            max($"doc_id").as("max_doc"), sum($"n_chars").as("sum_chars"))
          .filter($"n_docs" >= 2L)
          .orderBy($"n_docs".desc, $"prefix_key").limit(25)
      },
      Some("""WITH p AS (SELECT doc_id, n_chars,
            md5(array_to_string(list_slice(
              string_split_regex(lower(trim(text)), '\s+'), 1, 8), ' '))
              AS prefix_key
          FROM documents)
        SELECT prefix_key, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(min(doc_id) AS BIGINT) AS min_doc,
          CAST(max(doc_id) AS BIGINT) AS max_doc,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM p GROUP BY prefix_key HAVING count(*) >= 2
        ORDER BY n_docs DESC, prefix_key LIMIT 25""")),

    // ── Spherical concentration per label (directional statistics: the
    //    mean resultant length R̄ = ‖Σ x/‖x‖‖/n is 1 when a label's
    //    embeddings all point one way — representation collapse — and
    //    →0 when they scatter; the anisotropy check norm profiles
    //    can't see): unit vectors quantize as floor(x_j/‖x‖·1e6) —
    //    ‖x‖ is the correctly-rounded sqrt of an exact integer norm²,
    //    so every quantized coordinate is bit-identical across engines
    //    and the per-label coordinate sums are order-independent
    //    BIGINTs; R̄ = √(Σ_j S_j²)/(n·1e6) is the one IEEE tail. ────────
    QueryDef("embed_spherical_concentration",
      (s, dir) => {
        import s.implicits._
        val q = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label".cast("long").as("lb"),
            posexplode($"embedding").as(Seq("j", "x")))
          .select($"vec_id", $"lb", $"j",
            floor($"x".cast("double") * lit(1048576.0)).cast("long").as("qi"))
        val norms = q.groupBy($"vec_id")
          .agg(sum($"qi" * $"qi").as("norm2"))
          .select($"vec_id".as("vn"), sqrt($"norm2".cast("double"))
            .as("norm"))
        val unit = q.join(norms, $"vec_id" === $"vn")
          .select($"lb", $"j",
            floor($"qi".cast("double") / $"norm" * lit(1e6)).cast("long")
              .as("u"))
        unit.groupBy($"lb", $"j").agg(sum($"u").as("s_j"))
          .groupBy($"lb").agg(sum($"s_j" * $"s_j").as("r2"))
          .join(Tables.load(s, dir, "embeddings")
            .groupBy($"label".cast("long").as("lb2"))
            .agg(count(lit(1)).as("n_vecs")), $"lb" === $"lb2")
          .select($"lb".as("label"), $"n_vecs", $"r2",
            (sqrt($"r2".cast("double")) /
              ($"n_vecs".cast("double") * lit(1e6))).as("r_bar"))
          .orderBy($"label")
      },
      Some("""WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS lb,
            j - 1 AS j,
            CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT)
              AS qi
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) g),
        norms AS (SELECT vec_id, sqrt(CAST(sum(qi * qi) AS DOUBLE))
            AS norm FROM q GROUP BY vec_id),
        unit AS (SELECT q.lb, q.j,
            CAST(floor(CAST(q.qi AS DOUBLE) / n.norm * 1e6) AS BIGINT)
              AS u
          FROM q JOIN norms n ON q.vec_id = n.vec_id),
        sj AS (SELECT lb, j, CAST(sum(u) AS BIGINT) AS s_j
          FROM unit GROUP BY lb, j),
        r AS (SELECT lb, CAST(sum(s_j * s_j) AS BIGINT) AS r2
          FROM sj GROUP BY lb),
        nv AS (SELECT CAST(label AS BIGINT) AS lb,
            CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1)
        SELECT r.lb AS label, nv.n_vecs, r.r2,
          sqrt(CAST(r.r2 AS DOUBLE)) / (CAST(nv.n_vecs AS DOUBLE) * 1e6)
            AS r_bar
        FROM r JOIN nv ON r.lb = nv.lb ORDER BY label""")),

    // ── Zipf rank-frequency fit (natural corpora obey freq ∝ rank^s
    //    with s ≈ −1; a slope far off −1 flags synthetic, templated, or
    //    mis-tokenized text — a corpus-level quality gate): OLS of
    //    ln(freq) on ln(rank) over the top-100 vocabulary. The heavy
    //    part is text_vocab_topk's aggregate + TakeOrdered; ranks ride
    //    a 100-row global window (reduced input), the four moment sums
    //    fold in explicit rank order (the mixture_kl idiom), and the
    //    slope/intercept ship as floor(x·1e9) BIGINT — DuckDB's ln is
    //    1 ulp off Java's (the bm25 finding), raw doubles would
    //    hash-flicker. ──────────────────────────────────────────────────
    QueryDef("text_zipf_fit",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val top = Tables.load(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(100)
        val ranked = top.withColumn("rk", row_number().over(
            Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
          .select($"rk", log($"rk".cast("double")).as("x"),
            log($"n".cast("double")).as("y"), $"n")
        def fold(f: String) = aggregate(col("ts").getField(f), lit(0.0d),
          (a, x) => a + x)
        ranked
          .agg(count(lit(1)).as("k"), sum($"n").as("total_freq"),
            sort_array(collect_list(struct($"rk", $"x", $"y",
              ($"x" * $"y").as("xy"), ($"x" * $"x").as("xx")))).as("ts"))
          .select($"k", $"total_freq", fold("x").as("sx"), fold("y").as("sy"),
            fold("xy").as("sxy"), fold("xx").as("sxx"))
          .select($"k", $"total_freq",
            (($"k" * $"sxy" - $"sx" * $"sy") /
              ($"k" * $"sxx" - $"sx" * $"sx")).as("slope"))
          .select($"k", $"total_freq",
            floor($"slope" * lit(1e9)).cast("long").as("slope_e9"))
      },
      Some("""WITH top AS (SELECT token, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
            AS token FROM documents) t
          GROUP BY token ORDER BY n DESC, token ASC LIMIT 100),
        r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC)
              AS BIGINT) AS rk,
            ln(CAST(row_number() OVER (ORDER BY n DESC, token ASC)
              AS DOUBLE)) AS x,
            ln(CAST(n AS DOUBLE)) AS y, n
          FROM top),
        f AS (SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(n) AS BIGINT) AS total_freq,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(x ORDER BY rk)), (a, b) -> a + b) AS sx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(y ORDER BY rk)), (a, b) -> a + b) AS sy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(x * y ORDER BY rk)), (a, b) -> a + b) AS sxy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(x * x ORDER BY rk)), (a, b) -> a + b) AS sxx
          FROM r)
        SELECT k, total_freq,
          CAST(floor((k * sxy - sx * sy) / (k * sxx - sx * sx) * 1e9)
            AS BIGINT) AS slope_e9
        FROM f""")),

    // ── repetition quality signals (Gopher-family duplicate-fraction
    //    rules): distinct-token fraction, duplicate-bigram fraction,
    //    top-token dominance, mean word length — all integer ratios, so
    //    the DuckDB twin reproduces them bitwise ───────────────────────
    QueryDef("text_repetition_signals",
      (s, dir) => {
        import s.implicits._
        // one-pass native kernel (RepetitionKernel) — the HOF composition
        // it replaced paid O(tokens × distinct) boxed comparisons per doc
        // for the top-token count alone; counters are identical integers,
        // fractions the same double divisions, oracle unchanged
        Tables.load(s, dir, "documents")
          .filter($"doc_id" < 300)
          .select($"doc_id",
            graft.functions.TextHashFunctions.repetitionStats($"text").as("r"))
          .select($"doc_id",
            $"r".getItem(0).cast("int").as("n_tokens"),
            ($"r".getItem(1).cast("double") / $"r".getItem(0))
              .as("distinct_tok_frac"),
            (lit(1.0) - $"r".getItem(3).cast("double") / $"r".getItem(2))
              .as("dup_bigram_frac"),
            ($"r".getItem(4).cast("double") / $"r".getItem(0))
              .as("top_tok_frac"),
            ($"r".getItem(5).cast("double") / $"r".getItem(0))
              .as("mean_word_len"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE doc_id < 300),
        g AS (SELECT doc_id, toks,
            [array_to_string(toks[i:i+1], ' ')
              FOR i IN generate_series(1, len(toks) - 1)] AS grams
          FROM t)
        SELECT doc_id,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          len(list_distinct(toks)) / len(toks) AS distinct_tok_frac,
          1.0 - len(list_distinct(grams)) / len(grams) AS dup_bigram_frac,
          list_max(list_transform(list_distinct(toks),
            d -> len(list_filter(toks, x -> x = d)))) / len(toks) AS top_tok_frac,
          list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_word_len
        FROM g ORDER BY doc_id""")),

    // ── document fingerprinting, rolling-hash form: order-sensitive
    //    polynomial fold over token md5-low-64 values (incrementally
    //    computable over chunked docs — the 100 TB ingest property; see
    //    TextKernels.tokenRollingHash64). The oracle refolds the same
    //    hash in SQL (HUGEINT mod 2⁶⁴, then two's-complement to BIGINT)
    //    and recomputes the per-fingerprint duplicate counts. ───────────
    QueryDef("text_fingerprint_rolling",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextHashFunctions.tokenRollingHash64(tokens(col("text"))).as("fp"))
          .withColumn("n_same", count(lit(1)).over(Window.partitionBy("fp")))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        f AS (SELECT doc_id, list_reduce(
            list_prepend(0::HUGEINT, [${OracleGen.md5Low64Expr("md5(tok)")} FOR tok IN toks]),
            (acc, x) -> (acc * 1000003::HUGEINT + x) % 18446744073709551616::HUGEINT) AS fpu
          FROM t),
        g AS (SELECT doc_id, CAST(CASE WHEN fpu >= 9223372036854775808::HUGEINT
            THEN fpu - 18446744073709551616::HUGEINT ELSE fpu END AS BIGINT) AS fp
          FROM f)
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
        FROM g ORDER BY doc_id""")),

    // ── PII redaction: deterministic fake contact info appended, then
    //    email/phone patterns redacted; counts + redacted text length
    //    prove the patterns fire identically in both engines ───────────
    QueryDef("text_redact_pii",
      (s, dir) => {
        import s.implicits._
        val withPii = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-0"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 3, "0"))
        val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val phoneRe = "[0-9]{3}-[0-9]{4}"
        Tables.load(s, dir, "documents")
          .filter($"doc_id" < 300)
          .select($"doc_id", withPii.as("raw"))
          .select($"doc_id",
            size(regexp_extract_all($"raw", lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all($"raw", lit(phoneRe), lit(0))).as("n_phones"),
            length(regexp_replace(regexp_replace($"raw", emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_emails").as("total_emails"),
            sum($"n_phones").as("total_phones"),
            sum($"redacted_len").as("sum_redacted_len"))
      },
      Some("""WITH r AS (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-0'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') AS raw
          FROM documents WHERE doc_id < 300)
        SELECT count(*) AS n_docs,
          CAST(sum(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+'))) AS BIGINT) AS total_emails,
          CAST(sum(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS total_phones,
          CAST(sum(length(regexp_replace(regexp_replace(raw,
            '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
            '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))) AS BIGINT) AS sum_redacted_len
        FROM r""")),

    // ── Flesch-style readability scoring per document (curation-filter
    //    staple next to `text_quality_gopher`): words = \S+ runs,
    //    sentences = [.!?]+ runs with a nominal 12-words-per-sentence
    //    fallback (the synthetic corpus carries no terminal punctuation;
    //    real corpora use the punctuation count), syllables ≈
    //    vowel-group runs — three one-pass codegen'd regexp counts, no
    //    shuffle at all until the final sort. The score 206.835 −
    //    1.015·w/s − 84.6·syl/w is evaluated as ONE division of exact
    //    BIGINT cross-multiplied terms — num = 206835·w·s − 1015·w² −
    //    84600·syl·s over den = 1000·w·s — because a 3-term float
    //    expression would be engine-reassociation-sensitive; the
    //    difficulty band compares num against 70·den / 50·den in pure
    //    integers. ──────────────────────────────────────────────────────
    QueryDef("text_readability",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            greatest(regexp_count($"text", lit("\\S+")), lit(1))
              .cast("long").as("w"),
            regexp_count($"text", lit("[.!?]+")).cast("long").as("punct"),
            regexp_count($"text", lit("[aeiouyAEIOUY]+"))
              .cast("long").as("syl"))
          .withColumn("sen", expr("greatest(punct, 1L + (w - 1L) DIV 12L)"))
          .withColumn("num",
            lit(206835L) * $"w" * $"sen" - lit(1015L) * $"w" * $"w" -
              lit(84600L) * $"syl" * $"sen")
          .withColumn("den", lit(1000L) * $"w" * $"sen")
          .select($"doc_id", $"w".as("n_words"), $"sen".as("n_sentences"),
            $"syl".as("n_syllables"),
            ($"num".cast("double") / $"den".cast("double")).as("flesch"),
            when($"num" >= lit(70L) * $"den", "easy")
              .when($"num" >= lit(50L) * $"den", "standard")
              .otherwise("difficult").as("band"))
          .orderBy($"doc_id")
      },
      Some("""WITH c0 AS (SELECT doc_id,
            greatest(len(regexp_extract_all(text, '\S+')), 1)::BIGINT AS w,
            len(regexp_extract_all(text, '[.!?]+'))::BIGINT AS punct,
            len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT AS syl
          FROM documents),
        c AS (SELECT doc_id, w, syl,
            greatest(punct, 1 + (w - 1) // 12) AS sen
          FROM c0),
        n AS (SELECT doc_id, w, sen, syl,
            206835 * w * sen - 1015 * w * w - 84600 * syl * sen AS num,
            1000 * w * sen AS den
          FROM c)
        SELECT doc_id, w AS n_words, sen AS n_sentences, syl AS n_syllables,
          CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS flesch,
          CASE WHEN num >= 70 * den THEN 'easy'
            WHEN num >= 50 * den THEN 'standard'
            ELSE 'difficult' END AS band
        FROM n ORDER BY doc_id""")),

    // ── Poisson(1) bootstrap without data copies (the scale-correct way
    //    to put confidence intervals on pipeline metrics: resampling by
    //    per-row REPLICATE WEIGHTS, never materializing B resampled
    //    datasets): each (event, replicate) draws w ~ Poisson(1) by
    //    inverse-CDF on the md5(id:rep) uniform — the CDF thresholds are
    //    hard-coded 8-hex-char strings, so the draw is a pure STRING
    //    compare (fixed-width hex ≡ numeric order; no float, no engine
    //    RNG) and the whole thing is deterministic and partitioning-
    //    independent. 8 replicates explode map-side into one hash
    //    aggregate; per replicate: effective n and the BIGINT-cent
    //    revenue estimate. ─────────────────────────────────────────────
    QueryDef("sample_poisson_bootstrap",
      (s, dir) => {
        import s.implicits._
        // P(X<=k), X~Poisson(1), as floor(F·2^32) in hex: k = 0..4, cap 5
        val t = Seq("5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5")
        Tables.load(s, dir, "events")
          .select($"event_id",
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .select($"event_id", $"cents",
            explode(sequence(lit(0), lit(7))).as("rep"))
          .withColumn("u8",
            substring(md5(concat($"event_id", lit(":"), $"rep")), 1, 8))
          .withColumn("w",
            when($"u8" < t(0), 0L).when($"u8" < t(1), 1L)
              .when($"u8" < t(2), 2L).when($"u8" < t(3), 3L)
              .when($"u8" < t(4), 4L).otherwise(5L))
          .groupBy($"rep")
          .agg(sum($"w").as("n_eff"),
            sum($"w" * $"cents").as("rev_cents"))
          .orderBy($"rep")
      },
      Some("""WITH e AS (SELECT event_id,
            CAST(round(value * 100) AS BIGINT) AS cents,
            unnest(range(0, 8)) AS rep FROM events),
        d AS (SELECT rep,
            substr(md5(concat(CAST(event_id AS VARCHAR), ':',
              CAST(rep AS VARCHAR))), 1, 8) AS u8, cents
          FROM e)
        SELECT CAST(rep AS INTEGER) AS rep,
          CAST(sum(CASE WHEN u8 < '5e2d58d8' THEN 0 WHEN u8 < 'bc5ab1b1' THEN 1
            WHEN u8 < 'eb715e1d' THEN 2 WHEN u8 < 'fb239797' THEN 3
            WHEN u8 < 'ff1025f5' THEN 4 ELSE 5 END) AS BIGINT) AS n_eff,
          CAST(sum(CASE WHEN u8 < '5e2d58d8' THEN 0 WHEN u8 < 'bc5ab1b1' THEN 1
            WHEN u8 < 'eb715e1d' THEN 2 WHEN u8 < 'fb239797' THEN 3
            WHEN u8 < 'ff1025f5' THEN 4 ELSE 5 END * cents) AS BIGINT)
            AS rev_cents
        FROM d GROUP BY rep ORDER BY rep""")),

    // ── Perceptual-hash near-dup over binary media (the image-dedup
    //    shape: decode → 64-bit pHash → Hamming-banded candidate join →
    //    exact Hamming verify; the DECODE step is the stubbed fake codec
    //    per the multimodal contract — the hash here derives from the
    //    same id-determined payload the codec emits, md5-mixed so bits
    //    are uniform). The 64-bit hash lives as two 32-bit halves
    //    (portable bit ops, no signed-shift traps); near-dup ⇔ Hamming ≤
    //    3, found via 4×16-bit band buckets: 3 flipped bits can touch at
    //    most 3 bands, so one band always survives — lossless pigeonhole
    //    blocking, candidates ∝ per-bucket occupancy, never corpus². A
    //    planted structure (groups of 4 sharing a base hash, each member
    //    flipping ≤1 distinct bit) gives the detector real positives. ───
    QueryDef("multimodal_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val recs = Tables.load(s, dir, "events")
          .filter($"event_id" < 4000)
          .select($"event_id".as("media_id"),
            conv(substring(md5(concat(lit("ph:"), ($"event_id" / 4L)
              .cast("long"))), 1, 8), 16, 10).cast("long").as("hi0"),
            conv(substring(md5(concat(lit("ph:"), ($"event_id" / 4L)
              .cast("long"))), 9, 8), 16, 10).cast("long").as("lo0"),
            pmod($"event_id" * 7L, lit(64L)).as("flip"))
          .selectExpr("media_id",
            """CASE WHEN flip < 32 THEN hi0 ^ shiftleft(1L, CAST(flip AS INT))
               ELSE hi0 END AS hi""",
            """CASE WHEN flip >= 32
               THEN lo0 ^ shiftleft(1L, CAST(flip - 32 AS INT))
               ELSE lo0 END AS lo""")
        val bands = recs.select($"media_id", $"hi", $"lo",
            explode(array(
              struct(lit(0).as("b"), ($"hi" / 65536L).cast("long").as("k")),
              struct(lit(1).as("b"), pmod($"hi", lit(65536L)).as("k")),
              struct(lit(2).as("b"), ($"lo" / 65536L).cast("long").as("k")),
              struct(lit(3).as("b"), pmod($"lo", lit(65536L)).as("k"))))
              .as("band"))
          .select($"media_id", $"hi", $"lo",
            $"band.b".as("b"), $"band.k".as("k"))
        val a = bands.select($"b", $"k", $"media_id".as("id_a"),
          $"hi".as("hi_a"), $"lo".as("lo_a"))
        val bb = bands.select($"b", $"k", $"media_id".as("id_b"),
          $"hi".as("hi_b"), $"lo".as("lo_b"))
        a.join(bb, Seq("b", "k")).filter($"id_a" < $"id_b")
          .select($"id_a", $"id_b",
            (bit_count($"hi_a".bitwiseXOR($"hi_b")) +
              bit_count($"lo_a".bitwiseXOR($"lo_b"))).cast("long")
              .as("hamming"))
          .distinct()
          .filter($"hamming" <= 3)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH h AS (SELECT event_id AS media_id,
            ('0x' || substr(md5('ph:' || CAST(event_id // 4 AS VARCHAR)), 1, 8))::BIGINT AS hi0,
            ('0x' || substr(md5('ph:' || CAST(event_id // 4 AS VARCHAR)), 9, 8))::BIGINT AS lo0,
            (event_id * 7) % 64 AS flip
          FROM events WHERE event_id < 4000),
        p AS (SELECT media_id,
            CASE WHEN flip < 32 THEN xor(hi0, CAST(1 AS BIGINT) << CAST(flip AS INTEGER)) ELSE hi0 END AS hi,
            CASE WHEN flip >= 32 THEN xor(lo0, CAST(1 AS BIGINT) << CAST(flip - 32 AS INTEGER)) ELSE lo0 END AS lo
          FROM h),
        bands AS (
          SELECT media_id, hi, lo, 0 AS b, hi // 65536 AS k FROM p
          UNION ALL SELECT media_id, hi, lo, 1, hi % 65536 FROM p
          UNION ALL SELECT media_id, hi, lo, 2, lo // 65536 FROM p
          UNION ALL SELECT media_id, hi, lo, 3, lo % 65536 FROM p),
        pairs AS (SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
            CAST(bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo))
              AS BIGINT) AS hamming
          FROM bands a JOIN bands b2 ON a.b = b2.b AND a.k = b2.k
            AND a.media_id < b2.media_id)
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
        ORDER BY id_a, id_b""")),

    // ── N-gram novelty per document (the curriculum/dedup-adjacent
    //    "how much of this doc is new to the corpus" score): a shingle's
    //    first sighting is the min doc_id carrying it; a doc's novelty =
    //    fraction of its distinct 3-gram shingles it saw first. The
    //    inverted-index shape: shingle explode → (hash aggregate for
    //    first-seen) → co-partitioned join back on the shingle key —
    //    the same two shuffles at any scale. Spark folds shingles
    //    through the native shingle_hashes kernel (one pass, codegen);
    //    the oracle rebuilds string shingles — identical sets absent
    //    64-bit collisions (the dedup family's established equivalence).
    //    Ratio = single IEEE division of exact integers. ────────────────
    QueryDef("text_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        val e = Tables.load(s, dir, "documents")
          .select($"doc_id",
            graft.functions.TextHashFunctions
              .shingleHashes($"text", 3).as("sh"))
          .select($"doc_id", explode($"sh").as("h"))
        val first = e.groupBy($"h").agg(min($"doc_id").as("first_id"))
        e.join(first, "h")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"first_id" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            $"n_novel".cast("double") / $"n_shingles".cast("double"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        sh AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        e AS (SELECT doc_id, unnest(sh) AS h FROM sh),
        f AS (SELECT h, min(doc_id) AS first_id FROM e GROUP BY h)
        SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          CAST(sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END)
              AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS novelty
        FROM e JOIN f ON e.h = f.h
        GROUP BY e.doc_id ORDER BY e.doc_id""")),

    // ── kNN label confusion (embedding-quality eval without labels at
    //    training time): each vector's 1-NN under the SAME deterministic
    //    IVF engine as `sim_knn_join` (seeded quantizer, nProbe=8), then
    //    the label×label agreement matrix — high diagonal mass ⇔ the
    //    embedding clusters labels. Adds only a broadcast label join +
    //    one tiny aggregate on top of the audited kNN plan. ─────────────
    QueryDef("sim_knn_label_confusion",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val nn = graft.operators.Similarity.ivfKnnJoinSeeded(
          emb.select($"vec_id".as("vid"), $"embedding".as("vec")),
          k = 1, nProbe = 8)
        val labels = emb.select($"vec_id", $"label")
        nn.join(labels.select($"vec_id".as("query_id"),
            $"label".as("label_q")), "query_id")
          .join(labels.select($"vec_id".as("neighbor_id"),
            $"label".as("label_n")), "neighbor_id")
          .groupBy($"label_q", $"label_n")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"label_q", $"label_n")
      },
      Some("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
        w AS (SELECT (1::BIGINT << ((length(format('{:b}', 8 * count(*) - 1)) + 1) // 2)) AS nc
          FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          CROSS JOIN w WHERE rn <= nc),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn <= 8),
        scored AS (SELECT p.qid, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        r AS (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM scored)
        SELECT ql.label AS label_q, nl.label AS label_n,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM r JOIN v ql ON ql.vec_id = r.qid
          JOIN v nl ON nl.vec_id = r.cid
        WHERE r.rn = 1
        GROUP BY 1, 2 ORDER BY label_q, label_n""")),

    // ── Embedding centroid drift per label (the embedding-space data-
    //    drift monitor): split the corpus into two halves by vec_id
    //    parity, per-label fixed-point centroid sums (q = floor(x·2^20),
    //    BIGINT — order-independent), then the squared centroid distance
    //    in EXACT cross-multiplied integer form: Σ_d (s_a·n_b − s_b·n_a)²
    //    over den = (n_a·n_b)² — DECIMAL(38,0) holds the ~1e24 terms on
    //    the Spark side, HUGEINT on DuckDB's, both exact, NO float sum
    //    order anywhere. Plan: one posexplode, two hash aggregates on
    //    (label, dim) and (label), a |labels|-row join. ─────────────────
    QueryDef("embed_centroid_drift",
      (s, dir) => {
        import s.implicits._
        val e = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label", posexplode($"embedding"))
          .select($"label", pmod($"vec_id", lit(2L)).as("half"), $"pos",
            floor($"col".cast("double") * lit(1048576.0)).cast("long")
              .as("q"))
        val dims = e.groupBy($"label", $"pos")
          .agg(sum(when($"half" === 0, $"q").otherwise(0L)).as("s_a"),
            sum(when($"half" === 1, $"q").otherwise(0L)).as("s_b"))
        val counts = Tables.load(s, dir, "embeddings")
          .groupBy($"label")
          .agg(sum(when(pmod($"vec_id", lit(2L)) === 0, 1L).otherwise(0L))
            .as("n_a"),
            sum(when(pmod($"vec_id", lit(2L)) === 1, 1L).otherwise(0L))
              .as("n_b"))
        dims.join(counts, "label")
          .select($"label", $"n_a", $"n_b",
            (($"s_a".cast("decimal(38,0)") * $"n_b" -
              $"s_b".cast("decimal(38,0)") * $"n_a") *
              ($"s_a".cast("decimal(38,0)") * $"n_b" -
                $"s_b".cast("decimal(38,0)") * $"n_a")).as("term"))
          .groupBy($"label", $"n_a", $"n_b")
          // exact DECIMAL internally, string emission (see
          // agg_autocorr_lag1 — driver hashes the parquet encoding)
          .agg(sum($"term").cast("decimal(38,0)").cast("string")
            .as("drift_num"))
          .withColumn("drift_den",
            ($"n_a" * $"n_b") * ($"n_a" * $"n_b"))
          .orderBy($"label")
      },
      Some("""WITH e AS (SELECT vec_id, label, vec_id % 2 AS half,
            unnest(CAST(embedding AS DOUBLE[])) AS x,
            unnest(range(0, len(embedding))) AS pos
          FROM embeddings),
        q AS (SELECT label, half, pos,
            CAST(floor(x * 1048576.0) AS BIGINT) AS q FROM e),
        dims AS (SELECT label, pos,
            CAST(sum(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS s_a,
            CAST(sum(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS s_b
          FROM q GROUP BY 1, 2),
        counts AS (SELECT label,
            CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b
          FROM embeddings GROUP BY label)
        SELECT d.label, c.n_a, c.n_b,
          CAST(CAST(sum((CAST(d.s_a AS HUGEINT) * c.n_b - CAST(d.s_b AS HUGEINT) * c.n_a)
            * (CAST(d.s_a AS HUGEINT) * c.n_b - CAST(d.s_b AS HUGEINT) * c.n_a))
            AS DECIMAL(38,0)) AS VARCHAR) AS drift_num,
          (c.n_a * c.n_b) * (c.n_a * c.n_b) AS drift_den
        FROM dims d JOIN counts c ON d.label = c.label
        GROUP BY 1, 2, 3 ORDER BY d.label""")),

    // ── Epoch-aware deterministic shuffle + sharding (the training-data
    //    loader contract: every epoch is a DIFFERENT but REPRODUCIBLE
    //    permutation, sharded evenly across workers): order key =
    //    md5(epoch:doc_id), shard = first-hex-byte mod 4, position =
    //    row_number within (epoch, shard) — all engine-portable string/
    //    integer ops, no RNG. The emitted per-shard checksum
    //    Σ doc_id·position pins the exact permutation (any swap changes
    //    it), so the oracle proves epoch 0 ≠ epoch 1 ordering while row
    //    counts stay balanced. Scale: the sort is per-(epoch, shard)
    //    partition — the standard distributed shuffle-shard shape. ──────
    QueryDef("pipeline_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val keyed = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(sequence(lit(0), lit(1))).as("epoch"))
          .withColumn("okey",
            md5(concat($"epoch", lit(":"), $"doc_id")))
          .withColumn("shard",
            pmod(conv(substring($"okey", 1, 2), 16, 10).cast("long"), lit(4L)))
        val w = Window.partitionBy($"epoch", $"shard")
          .orderBy($"okey", $"doc_id")
        keyed
          .withColumn("pos", row_number().over(w).cast("long"))
          .groupBy($"epoch", $"shard")
          .agg(count(lit(1)).as("n_docs"),
            sum($"doc_id" * $"pos").as("perm_checksum"),
            min($"okey").as("first_key"))
          .orderBy($"epoch", $"shard")
      },
      Some("""WITH k AS (SELECT doc_id, unnest(range(0, 2)) AS epoch
            FROM documents),
        o AS (SELECT doc_id, epoch,
            md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
              AS okey
          FROM k),
        sh AS (SELECT doc_id, epoch, okey,
            ('0x' || substr(okey, 1, 2))::BIGINT % 4 AS shard FROM o),
        p AS (SELECT epoch, shard, doc_id, okey,
            CAST(row_number() OVER (PARTITION BY epoch, shard
              ORDER BY okey, doc_id) AS BIGINT) AS pos
          FROM sh)
        SELECT CAST(epoch AS INTEGER) AS epoch, shard,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(doc_id * pos) AS BIGINT) AS perm_checksum,
          min(okey) AS first_key
        FROM p GROUP BY 1, 2 ORDER BY epoch, shard""")),

    // ── Group-aware k-fold assignment (the eval-split rule
    //    `split_train_test`'s row hash can't give: all docs of one
    //    SOURCE land in one fold, so near-dup within-source leakage
    //    can't cross the train/eval boundary): fold = md5(source) % 5 —
    //    one map-side compute, one hash aggregate; the per-fold distinct-
    //    source counts summing to the corpus total IS the no-leakage
    //    proof (a source spanning folds would double-count). ────────────
    QueryDef("sample_group_kfold",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .withColumn("fold",
            pmod(conv(substring(md5($"source"), 1, 2), 16, 10).cast("long"),
              lit(5L)))
          .groupBy($"fold")
          .agg(count(lit(1)).as("n_docs"),
            expr("CAST(count(DISTINCT source) AS BIGINT)").as("n_sources"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"fold")
      },
      Some("""SELECT ('0x' || substr(md5(source), 1, 2))::BIGINT % 5 AS fold,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY fold""")),

    // ── RAKE keyphrase extraction (stopword-delimited candidate phrases
    //    scored by word degree/frequency — the classic unsupervised
    //    keyword miner): phrases split at {a, the} boundaries, word
    //    freq = corpus occurrences, word degree = Σ phrase length over
    //    phrases containing the word; phrase score = Σ_w deg(w)·10⁶ DIV
    //    freq(w) — the per-word integer division makes the score a
    //    BIGINT (classic RAKE's float rational sum would be summation-
    //    order-sensitive), top 20 by (score, phrase). Two inverted-index
    //    aggregates + a join-back: the same two-shuffle shape as tf-idf. ─
    QueryDef("text_keyphrase_rake",
      (s, dir) => {
        import s.implicits._
        val phrases = Tables.load(s, dir, "documents")
          .select(explode(filter(transform(
            split(regexp_replace(lower(trim($"text")),
              "\\b(a|the)\\b", "|"), "\\|"),
            p => trim(p)), p => p =!= "")).as("phrase"))
        val phraseWords = phrases
          .select($"phrase", explode(split($"phrase", "\\s+")).as("w"),
            size(split($"phrase", "\\s+")).cast("long").as("plen"))
        val wordStats = phraseWords.groupBy($"w")
          .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
        val distinctPh = phrases.groupBy($"phrase")
          .agg(count(lit(1)).as("n_occurrences"))
        distinctPh
          .select($"phrase", $"n_occurrences",
            explode(split($"phrase", "\\s+")).as("w"))
          .join(wordStats, "w")
          .groupBy($"phrase", $"n_occurrences")
          .agg(sum(expr("deg * 1000000 DIV freq")).as("score_x1e6"))
          .orderBy($"score_x1e6".desc, $"phrase")
          .limit(20)
      },
      Some("""WITH ph AS (SELECT unnest(list_filter(list_transform(
            string_split(regexp_replace(lower(trim(text)),
              '\b(a|the)\b', '|', 'g'), '|'), x -> trim(x)),
            x -> x <> '')) AS phrase
          FROM documents),
        pw AS (SELECT phrase, unnest(string_split_regex(phrase, '\s+')) AS w,
            CAST(len(string_split_regex(phrase, '\s+')) AS BIGINT) AS plen
          FROM ph),
        ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
            CAST(sum(plen) AS BIGINT) AS deg
          FROM pw GROUP BY w),
        dp AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
          FROM ph GROUP BY phrase),
        dw AS (SELECT dp.phrase, dp.n_occurrences,
            unnest(string_split_regex(dp.phrase, '\s+')) AS w
          FROM dp),
        sc AS (SELECT dw.phrase, dw.n_occurrences,
            CAST(sum(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_x1e6
          FROM dw JOIN ws ON dw.w = ws.w
          GROUP BY dw.phrase, dw.n_occurrences)
        SELECT phrase, n_occurrences, score_x1e6
        FROM sc ORDER BY score_x1e6 DESC, phrase LIMIT 20""")),

    // ── Inverse-frequency importance weights (loss reweighting for
    //    class-imbalanced corpora: each doc weighted so every language
    //    contributes equally in expectation): w = N·10⁶ DIV (k·n_lang)
    //    as BIGINT micro-weights — deterministic integer arithmetic, no
    //    float normalization drift. Per-language report proves the
    //    balance property: weighted mass per language is equal up to
    //    integer-division truncation (≤ k·n_lang micro-units). ──────────
    QueryDef("pipeline_importance_weights",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val perLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
        val tot = docs.agg(count(lit(1)).as("n_total"),
          expr("CAST(count(DISTINCT lang) AS BIGINT)").as("k"))
        perLang.crossJoin(broadcast(tot))
          .select($"lang", $"n_lang",
            expr("n_total * 1000000 DIV (k * n_lang)").as("w_x1e6"))
          .withColumn("lang_mass_x1e6", $"w_x1e6" * $"n_lang")
          .orderBy($"lang")
      },
      Some("""WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
            FROM documents GROUP BY lang),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
            CAST(count(DISTINCT lang) AS BIGINT) AS k FROM documents)
        SELECT lang, n_lang,
          CAST(n_total * 1000000 // (k * n_lang) AS BIGINT) AS w_x1e6,
          CAST(n_total * 1000000 // (k * n_lang) AS BIGINT) * n_lang
            AS lang_mass_x1e6
        FROM pl, t ORDER BY lang""")),

    // ── DSIR importance weights (Xie et al. 2023, "Data Selection via
    //    Importance Resampling" — the hashed-n-gram way to tilt a raw
    //    crawl toward a target domain WITHOUT training a model): both
    //    distributions are bag-of-hashed-bigram unigram models (B=1024
    //    md5 buckets, add-one smoothing), target = the corpus's English
    //    slice, raw = everything; a doc's weight is its features'
    //    summed log-likelihood ratio Σ ln(p_tgt(h)/p_raw(h)) — docs
    //    that "read like" the target score high and resampling by this
    //    weight is importance sampling of the target from the raw pool.
    //    Determinism: each per-feature term is quantized to micro-nats
    //    (floor·1e6, BIGINT) BEFORE the per-doc sum, so the reduction is
    //    order-free integer addition (ln/IEEE engine-parity is only
    //    needed per-term, the proven pattern). Scale shape: ONE corpus
    //    scan feeds a 1024-row feature aggregate; the per-doc pass joins
    //    features to the broadcast term table — map-side, no row-scaled
    //    recombine; the report slice (doc_id < 200) bounds the output.
    //    Registered with the md5 hash kernel (oracle-replayable); the
    //    production twin swaps in xxhash64 via Dsir.HashKernel.Xx64 —
    //    ~6× on the corpus-sized kernel, shape equivalence pinned by
    //    DsirSpec (see operators/Dsir.scala). ───────────────────────────
    QueryDef("pipeline_dsir_weights",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Dsir
        val docs = Tables.load(s, dir, "documents")
        val feats = Dsir.hashedBigramFeatures(docs)
        Dsir.docWeights(feats.filter($"doc_id" < 200), Dsir.llrTerms(feats))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
         |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |bg AS (SELECT doc_id, lang,
         |    unnest([array_to_string(toks[i:i+1], ' ')
         |      FOR i IN generate_series(1, greatest(len(toks)-1, 1))]) AS bg
         |  FROM t),
         |f AS (SELECT doc_id, lang, md5(bg) AS m FROM bg),
         |hh AS (SELECT doc_id, lang,
         |    (${OracleGen.md5PrefixExpr("m", 4)}) % 1024 AS h FROM f),
         |c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM hh GROUP BY h),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS nr,
         |    CAST(sum(n_tgt) AS BIGINT) AS nt FROM c),
         |terms AS (SELECT h,
         |    CAST(floor(ln(CAST((n_tgt + 1) * (nr + 1024) AS DOUBLE)
         |        / CAST((n_raw + 1) * (nt + 1024) AS DOUBLE)) * 1000000) AS BIGINT)
         |      AS tm
         |  FROM c CROSS JOIN tot)
         |SELECT hh.doc_id, hh.lang, CAST(count(*) AS BIGINT) AS n_features,
         |  CAST(sum(terms.tm) AS BIGINT) AS dsir_micro_nats
         |FROM hh JOIN terms USING (h) WHERE hh.doc_id < 200
         |GROUP BY hh.doc_id, hh.lang ORDER BY hh.doc_id""".stripMargin)),

    // ── DSIR importance RESAMPLING — the weights' whole purpose, closed
    //    end-to-end via the Gumbel-top-k identity (Vieira 2014): the k
    //    largest (score + Gumbel) keys ARE a without-replacement sample
    //    w.p. ∝ exp(score), so the exp() never has to be computed —
    //    priorities stay in log space, where ln-parity is the proven
    //    pair (the md5-uniform is A-Res's: u = (h₃₂+0.5)/2³², Gumbel =
    //    −ln(−ln u), a pure function of doc_id). Per-doc scores come
    //    from the SAME hashed-bigram model as `pipeline_dsir_weights`,
    //    over the FULL corpus this time; the 200-doc draw is a
    //    TakeOrdered (bounded top-k, no global sort), and the report —
    //    per-language counts of the sample vs the raw corpus, in basis
    //    points — shows exactly the tilt toward the English target DSIR
    //    exists to produce. Unlike the `_weights` report (whose second
    //    pass is a 200-doc slice), resampling scores the WHOLE corpus,
    //    so the hashed feature table is CHECKPOINTED once — both the
    //    count pass and the scoring pass read it instead of re-hashing
    //    every bigram (6.5 → ~4 s at sf0.1; at 100 TB the persisted
    //    (doc, h) table is ~3% of corpus bytes, exactly the artifact an
    //    ingest pipeline would keep beside the text). ───────────────────
    QueryDef("pipeline_dsir_resample",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Dsir
        val docs = Tables.load(s, dir, "documents")
        val feats = Dsir.hashedBigramFeatures(docs).localCheckpoint()
        val scored = Dsir.docWeights(feats, Dsir.llrTerms(feats))
          .select($"doc_id", $"lang",
            $"dsir_micro_nats")
        val sel = Dsir.gumbelResample(scored, 200)
        val rawLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_corpus"))
        val tot = docs.agg(count(lit(1)).as("n_total"))
        sel.groupBy($"lang").agg(count(lit(1)).as("n_sampled"))
          .join(rawLang, "lang")
          .crossJoin(broadcast(tot))
          .select($"lang", $"n_sampled", $"n_corpus",
            expr("n_sampled * 10000 DIV 200").as("sample_share_bp"),
            expr("n_corpus * 10000 DIV n_total").as("corpus_share_bp"))
          .orderBy($"lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
         |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |bg AS (SELECT doc_id, lang,
         |    unnest([array_to_string(toks[i:i+1], ' ')
         |      FOR i IN generate_series(1, greatest(len(toks)-1, 1))]) AS bg
         |  FROM t),
         |f AS (SELECT doc_id, lang, md5(bg) AS m FROM bg),
         |hh AS (SELECT doc_id, lang,
         |    (${OracleGen.md5PrefixExpr("m", 4)}) % 1024 AS h FROM f),
         |c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM hh GROUP BY h),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS nr,
         |    CAST(sum(n_tgt) AS BIGINT) AS nt FROM c),
         |terms AS (SELECT h,
         |    CAST(floor(ln(CAST((n_tgt + 1) * (nr + 1024) AS DOUBLE)
         |        / CAST((n_raw + 1) * (nt + 1024) AS DOUBLE)) * 1000000) AS BIGINT)
         |      AS tm
         |  FROM c CROSS JOIN tot),
         |sc AS (SELECT hh.doc_id, hh.lang,
         |    CAST(sum(terms.tm) AS BIGINT) AS dsir_micro
         |  FROM hh JOIN terms USING (h) GROUP BY hh.doc_id, hh.lang),
         |pr AS (SELECT doc_id, lang,
         |    CAST(dsir_micro AS DOUBLE) / 1000000
         |      - ln(-ln((${OracleGen.md5PrefixExpr("md5(CAST(doc_id AS VARCHAR))", 8)}
         |          + 0.5) / 4294967296.0)) AS priority
         |  FROM sc),
         |sel AS (SELECT doc_id, lang FROM (SELECT doc_id, lang,
         |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM pr)
         |  WHERE rn <= 200),
         |rl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_corpus
         |  FROM documents GROUP BY lang),
         |nt2 AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |sg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
         |  FROM sel GROUP BY lang)
         |SELECT sg.lang, sg.n_sampled, rl.n_corpus,
         |  CAST(sg.n_sampled * 10000 // 200 AS BIGINT) AS sample_share_bp,
         |  CAST(rl.n_corpus * 10000 // nt2.n_total AS BIGINT) AS corpus_share_bp
         |FROM sg JOIN rl ON sg.lang = rl.lang CROSS JOIN nt2
         |ORDER BY sg.lang""".stripMargin)),

    // ── Out-of-fold m-estimate target encoding (the leak-free way to
    //    turn a categorical into a numeric feature: each fold's rows are
    //    encoded from statistics that EXCLUDE the fold, so the feature
    //    never sees its own label): fold = ascii(md5 nibble) mod 5 — a
    //    pure function of the key, identical in any engine; enc(c,f) =
    //    (S_c − S_cf + m·prior_f) / (N_c − N_cf + m) with prior_f the
    //    out-of-fold GLOBAL mean and m=20. All inputs are exact BIGINT
    //    cent sums; the handful of IEEE ops per output cell run in the
    //    same literal order in both engines. Scale shape: one (cat,fold)
    //    hash aggregate (|cats|×5 cells), margins equi-joined back,
    //    1-row global broadcast — nothing row-scaled ever recombines. ──
    QueryDef("pipeline_target_encode_oof",
      (s, dir) => {
        import s.implicits._
        val t = Tables.load(s, dir, "orders")
          .select($"o_orderpriority".as("cat"),
            expr("CAST(ascii(substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) % 5 AS BIGINT)")
              .as("fold"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val cf = t.groupBy($"cat", $"fold")
          .agg(count(lit(1)).as("n_cf"), sum($"cents").as("s_cf"))
        val c = t.groupBy($"cat")
          .agg(count(lit(1)).as("n_c"), sum($"cents").as("s_c"))
        val f = t.groupBy($"fold")
          .agg(count(lit(1)).as("n_f"), sum($"cents").as("s_f"))
        val g = t.agg(count(lit(1)).as("n_tot"), sum($"cents").as("s_tot"))
        cf.join(c, Seq("cat")).join(f, Seq("fold"))
          .crossJoin(broadcast(g))
          .select($"cat", $"fold", $"n_cf".as("n_in"),
            ($"n_c" - $"n_cf").as("n_out"),
            when($"n_c" - $"n_cf" > 0,
              ($"s_c" - $"s_cf").cast("double")
                / ($"n_c" - $"n_cf").cast("double")).as("mean_out"),
            ((($"s_c" - $"s_cf").cast("double")
                + lit(20.0) * (($"s_tot" - $"s_f").cast("double")
                  / ($"n_tot" - $"n_f").cast("double")))
              / ($"n_c" - $"n_cf" + 20L).cast("double")).as("enc"))
          .orderBy($"cat", $"fold")
      },
      Some("""WITH t AS (SELECT o_orderpriority AS cat,
            CAST(ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) % 5 AS BIGINT) AS fold,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        cf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_cf,
            CAST(sum(cents) AS BIGINT) AS s_cf FROM t GROUP BY cat, fold),
        c AS (SELECT cat, CAST(count(*) AS BIGINT) AS n_c,
            CAST(sum(cents) AS BIGINT) AS s_c FROM t GROUP BY cat),
        f AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_f,
            CAST(sum(cents) AS BIGINT) AS s_f FROM t GROUP BY fold),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
            CAST(sum(cents) AS BIGINT) AS s_tot FROM t)
        SELECT cf.cat, cf.fold, cf.n_cf AS n_in, c.n_c - cf.n_cf AS n_out,
          CASE WHEN c.n_c - cf.n_cf > 0 THEN
            CAST(c.s_c - cf.s_cf AS DOUBLE) / CAST(c.n_c - cf.n_cf AS DOUBLE)
          END AS mean_out,
          (CAST(c.s_c - cf.s_cf AS DOUBLE)
              + 20.0 * (CAST(g.s_tot - f.s_f AS DOUBLE)
                / CAST(g.n_tot - f.n_f AS DOUBLE)))
            / CAST(c.n_c - cf.n_cf + 20 AS DOUBLE) AS enc
        FROM cf JOIN c USING (cat) JOIN f USING (fold) CROSS JOIN g
        ORDER BY cat, fold""")),

    // ── Per-group robust feature scaling (the winsorize + median/IQR
    //    normalization every numeric feature gets before training —
    //    immune to the outliers that wreck mean/stddev z-scores): per
    //    language, exact p05/p25/p50/p75/p95 of n_chars in ONE percentile
    //    aggregate (Spark `percentile` ≡ DuckDB `quantile_cont`, shared
    //    PERCENTILE_CONT interpolation — bit-identical doubles), clip to
    //    [p05, p95], robust z = (clip − median)/IQR, null when IQR = 0.
    //    Scale shape: one hash aggregate to |langs| rows broadcast back
    //    onto the scan — no window, no sort, no second pass over rows. ──
    QueryDef("pipeline_robust_scale",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
        val st = d.groupBy($"lang")
          .agg(expr("percentile(n_chars, array(0.05D, 0.25D, 0.5D, 0.75D, 0.95D))")
            .as("qs"))
          .select($"lang", $"qs"(0).as("p05"), $"qs"(1).as("p25"),
            $"qs"(2).as("p50"), $"qs"(3).as("p75"), $"qs"(4).as("p95"))
        d.join(broadcast(st), Seq("lang"))
          .select($"doc_id", $"lang", $"n_chars",
            least(greatest($"n_chars".cast("double"), $"p05"), $"p95")
              .as("clipped"),
            when($"p75" - $"p25" > 0,
              (least(greatest($"n_chars".cast("double"), $"p05"), $"p95")
                - $"p50") / ($"p75" - $"p25")).as("robust_z"))
          .orderBy($"doc_id")
      },
      Some("""WITH st AS (SELECT lang,
            quantile_cont(n_chars, [0.05, 0.25, 0.5, 0.75, 0.95]) AS qs
          FROM documents GROUP BY lang),
        q AS (SELECT lang, qs[1] AS p05, qs[2] AS p25, qs[3] AS p50,
            qs[4] AS p75, qs[5] AS p95 FROM st)
        SELECT d.doc_id, d.lang, d.n_chars,
          least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95) AS clipped,
          CASE WHEN q.p75 - q.p25 > 0 THEN
            (least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95) - q.p50)
              / (q.p75 - q.p25)
          END AS robust_z
        FROM documents d JOIN q USING (lang) ORDER BY d.doc_id""")),

    // ── LSH tuning eval: EMPIRICAL precision/recall of a banded-minhash
    //    candidate stage against exact-Jaccard ground truth on a bounded
    //    deterministic sample — the harness that answers "are my
    //    bands×rows right for this corpus" before a 100 TB run. Unlike
    //    the production minhash path (xxhash permutations, not SQL-
    //    replayable), this eval's 16 permutations are md5(i ++ shingle)
    //    mins — bit-identical in any engine, so the ORACLE replays the
    //    whole algorithm: candidates = pairs sharing any of 4 bands of
    //    4 concatenated mins; truth = exact Jaccard ≥ 0.8 (the
    //    ngramJaccardPairs machinery on the Spark side, brute SQL in
    //    DuckDB). Sample stride = max(1, n DIV 256) keeps the sample
    //    ≤ ~512 docs at ANY corpus size, so the quadratic truth stage is
    //    a bounded eval cost, never a scale wall (same posture as the
    //    capped dedup_embedding_cosine baseline). Metrics are integer
    //    counts + two IEEE divisions. ───────────────────────────────────
    QueryDef("dedup_lsh_eval",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val cnt = docs.agg(count(lit(1)).as("n_docs"))
        val sample = docs.crossJoin(broadcast(cnt))
          .filter(pmod($"doc_id", expr("greatest(1L, n_docs DIV 256)")) === 0)
          .select($"doc_id", $"text")
        val shs = sample.select($"doc_id",
          expr("""explode(transform(
              sequence(1, greatest(size(split(lower(trim(text)), '\\s+')) - 2, 1)),
              i -> array_join(slice(split(lower(trim(text)), '\\s+'), i, 3), ' ')))""")
            .as("sh0"))
        val minh = shs.groupBy($"doc_id")
          .agg(min(md5(concat(lit("1|"), $"sh0"))).as("m1"),
            (2 to 16).map(i =>
              min(md5(concat(lit(s"$i|"), $"sh0"))).as(s"m$i")): _*)
        val banded = minh.select($"doc_id", explode(array(
            (0 until 4).map(b => struct(lit(b).as("band"),
              concat((1 to 4).map(r => col(s"m${4 * b + r}")): _*).as("key"))): _*))
            .as("bk"))
          .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
        val cand = banded.as("a")
          .join(banded.as("b"), col("a.band") === col("b.band")
            && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val truth = Dedup.ngramJaccardPairs(sample, "doc_id", "text",
            threshold = 0.8)
          .select($"doc_a", $"doc_b")
        val tp = cand.join(truth, Seq("doc_a", "doc_b"))
        sample.agg(count(lit(1)).as("n_sample"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
          .select($"n_sample", $"n_truth", $"n_cand", $"n_tp",
            when($"n_cand" > 0,
              $"n_tp".cast("double") / $"n_cand".cast("double"))
              .as("precision"),
            when($"n_truth" > 0,
              $"n_tp".cast("double") / $"n_truth".cast("double"))
              .as("recall"))
      },
      Some("""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        smp AS (SELECT doc_id, text FROM documents, nd
          WHERE doc_id % greatest(1, n_docs // 256) = 0),
        t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS toks FROM smp),
        shs AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
            FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS sh0
          FROM t),
        mh AS (SELECT doc_id,
            min(md5('1|' || sh0)) AS m1, min(md5('2|' || sh0)) AS m2,
            min(md5('3|' || sh0)) AS m3, min(md5('4|' || sh0)) AS m4,
            min(md5('5|' || sh0)) AS m5, min(md5('6|' || sh0)) AS m6,
            min(md5('7|' || sh0)) AS m7, min(md5('8|' || sh0)) AS m8,
            min(md5('9|' || sh0)) AS m9, min(md5('10|' || sh0)) AS m10,
            min(md5('11|' || sh0)) AS m11, min(md5('12|' || sh0)) AS m12,
            min(md5('13|' || sh0)) AS m13, min(md5('14|' || sh0)) AS m14,
            min(md5('15|' || sh0)) AS m15, min(md5('16|' || sh0)) AS m16
          FROM shs GROUP BY doc_id),
        bk AS (SELECT doc_id, 0 AS band, m1 || m2 || m3 || m4 AS key FROM mh
          UNION ALL SELECT doc_id, 1, m5 || m6 || m7 || m8 FROM mh
          UNION ALL SELECT doc_id, 2, m9 || m10 || m11 || m12 FROM mh
          UNION ALL SELECT doc_id, 3, m13 || m14 || m15 || m16 FROM mh),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
            AND a.doc_id < b.doc_id),
        sset AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
            FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS sh
          FROM t),
        truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sset a, sset b WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.sh, b.sh))
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        tp AS (SELECT * FROM cand c WHERE EXISTS (SELECT 1 FROM truth t2
          WHERE t2.doc_a = c.doc_a AND t2.doc_b = c.doc_b))
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_sample,
          (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
          (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
          (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp,
          CASE WHEN (SELECT count(*) FROM cand) > 0 THEN
            CAST((SELECT count(*) FROM tp) AS DOUBLE)
              / CAST((SELECT count(*) FROM cand) AS DOUBLE) END AS precision,
          CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
            CAST((SELECT count(*) FROM tp) AS DOUBLE)
              / CAST((SELECT count(*) FROM truth) AS DOUBLE) END AS recall""")),

    // ── Simplified (centroid-based) silhouette per cluster — the
    //    clustering-quality eval that tells you whether the k-means
    //    cells embed_kmeans_* trains are actually separated: for each
    //    vector, a = cosine distance to its OWN (argmax) centroid, b =
    //    distance to the RUNNER-UP centroid — both read off one
    //    |corpus|×32 routing pass as the rn=1/rn=2 sims, the same
    //    broadcast-centroid scan every assignment already makes; s =
    //    (b−a)/max(a,b). Per-cluster MEAN without float-order drift:
    //    each s quantizes to ⌊s·10⁶⌋ BIGINT (per-row IEEE is bit-
    //    identical in both engines; integer sums are associative), so
    //    the aggregate is partitioning-proof — the collect_list-ordered
    //    fold a double mean would need is unnecessary. Seeded lowest-id
    //    centroids (the ivfIndex/kmeans quantizer convention) keep the
    //    whole algorithm a pure function of the data → full SQL replay. ─
    QueryDef("embed_silhouette",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val cent = v.orderBy($"vec_id").limit(32)
          .select($"vec_id".as("cell"), $"embedding".as("ce"))
        val w = Window.partitionBy($"vec_id")
          .orderBy($"sim".desc, $"cell")
        val sims = v.crossJoin(broadcast(cent))
          .select($"vec_id", $"cell",
            graft.functions.VectorFunctions
              .cosineSim($"embedding", $"ce").as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 2)
        val p = sims.groupBy($"vec_id")
          .agg(max(when($"rn" === 1, $"cell")).as("own_cell"),
            max(when($"rn" === 1, $"sim")).as("s1"),
            max(when($"rn" === 2, $"sim")).as("s2"))
        p.select($"own_cell".as("cell"),
            when(greatest(lit(1.0) - $"s1", lit(1.0) - $"s2") > 0,
              floor((((lit(1.0) - $"s2") - (lit(1.0) - $"s1"))
                / greatest(lit(1.0) - $"s1", lit(1.0) - $"s2"))
                * lit(1000000.0)).cast("long"))
              .otherwise(lit(0L)).as("q"))
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_members"),
            sum($"q").as("sum_s_x1e6"))
          .select($"cell", $"n_members", $"sum_s_x1e6",
            ($"sum_s_x1e6".cast("double") / $"n_members".cast("double"))
              .as("mean_s_x1e6"))
          .orderBy($"cell")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn
            FROM v) WHERE rn <= 32),
        sims AS (SELECT q.vec_id, t.cell,
            list_cosine_similarity(q.e, t.ce) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
          FROM v q CROSS JOIN cent t),
        p AS (SELECT vec_id,
            max(CASE WHEN rn = 1 THEN cell END) AS own_cell,
            max(CASE WHEN rn = 1 THEN sim END) AS s1,
            max(CASE WHEN rn = 2 THEN sim END) AS s2
          FROM sims WHERE rn <= 2 GROUP BY vec_id),
        sv AS (SELECT own_cell AS cell,
            CASE WHEN greatest(1.0 - s1, 1.0 - s2) > 0
              THEN CAST(floor((((1.0 - s2) - (1.0 - s1))
                / greatest(1.0 - s1, 1.0 - s2)) * 1000000.0) AS BIGINT)
              ELSE 0 END AS q
          FROM p)
        SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
          CAST(sum(q) AS BIGINT) AS sum_s_x1e6,
          CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS mean_s_x1e6
        FROM sv GROUP BY cell ORDER BY cell""")),

    // ── Embedding-space decontamination audit (the semantic sibling of
    //    the n-gram pipeline_decontaminate: held-out eval items whose
    //    near-vectors leaked into training): a deterministic stride
    //    sample of ≤ ~65 vectors stands in for the eval set (1-row
    //    count broadcast, the dedup_lsh_eval bound pattern); every
    //    train vector scores against the broadcast eval set — a
    //    |train|×|eval| map-side pass, nothing corpus-sized shuffles —
    //    and each EVAL item reports how many train vectors sit at
    //    cosine ≥ 0.9 plus the max sim observed (max over IEEE doubles,
    //    order-independent). At real scale the eval set is the small
    //    side by nature, so the broadcast shape is the production
    //    shape, not a test shortcut. ────────────────────────────────────
    QueryDef("pipeline_decontaminate_embed",
      (s, dir) => {
        import s.implicits._
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val cnt = v.agg(count(lit(1)).as("n_vecs"))
        val strided = v.crossJoin(broadcast(cnt))
          .withColumn("stride", expr("greatest(1L, n_vecs DIV 64)"))
        val eval0 = strided.filter(pmod($"vec_id", $"stride") === 0)
          .select($"vec_id".as("eval_id"), $"embedding".as("evec"))
        val train = strided.filter(pmod($"vec_id", $"stride") =!= 0)
          .select($"vec_id", $"embedding")
        train.crossJoin(broadcast(eval0))
          .select($"eval_id",
            graft.functions.VectorFunctions
              .cosineSim($"embedding", $"evec").as("sim"))
          .groupBy($"eval_id")
          .agg(count(lit(1)).as("n_train_scored"),
            sum(when($"sim" >= 0.9, 1L).otherwise(0L))
              .as("n_contaminated"),
            max($"sim").as("max_sim"))
          .orderBy($"eval_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v),
        ev AS (SELECT vec_id AS eval_id, e AS evec FROM v, nd
          WHERE vec_id % greatest(1, n_vecs // 64) = 0),
        tr AS (SELECT vec_id, e FROM v, nd
          WHERE vec_id % greatest(1, n_vecs // 64) <> 0),
        sc AS (SELECT ev.eval_id,
            list_cosine_similarity(tr.e, ev.evec) AS sim
          FROM tr CROSS JOIN ev)
        SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_scored,
          CAST(sum(CASE WHEN sim >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
          max(sim) AS max_sim
        FROM sc GROUP BY eval_id ORDER BY eval_id""")),

    // ── ColBERT-style MaxSim late-interaction retrieval: documents and
    //    the query are SETS of vectors (multi-vector representations —
    //    groups of 4 consecutive vec_ids here; group 0 is the query),
    //    score(q, d) = Σ_{qv∈q} max_{dv∈d} cos(qv, dv) — the late-
    //    interaction operator single-vector sim_topk_* cannot express.
    //    Shape: candidates stream once through the broadcast 4-row query
    //    set (the same |corpus|×|Q| pass as sim_topk_brute), the inner
    //    max folds order-INDEPENDENTLY in the (doc, qvec) hash
    //    aggregate, and only the Σ over ≤4 qvec maxima — a bounded
    //    per-doc list — runs as the position-ordered fold both engines
    //    replay identically (sort_array ≡ list ORDER BY). Top-10 by
    //    (score DESC, doc) through TakeOrdered. ─────────────────────────
    QueryDef("sim_maxsim_colbert",
      (s, dir) => {
        import s.implicits._
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding",
            expr("vec_id DIV 4").as("grp"),
            pmod($"vec_id", lit(4L)).as("slot"))
        val qv = v.filter($"grp" === 0)
          .select($"slot".as("q_slot"), $"embedding".as("qvec"))
        val inner = v.filter($"grp" > 0)
          .crossJoin(broadcast(qv))
          .groupBy($"grp".as("doc_group"), $"q_slot")
          .agg(expr("CAST(count(DISTINCT vec_id) AS BIGINT)").as("nd"),
            max(graft.functions.VectorFunctions
              .cosineSim($"embedding", $"qvec")).as("maxsim"))
        inner.groupBy($"doc_group")
          .agg(max($"nd").as("n_dvecs"),
            aggregate(
              sort_array(collect_list(struct($"q_slot", $"maxsim"))),
              lit(0.0), (acc, x) => acc + x.getField("maxsim")).as("score"))
          .orderBy($"score".desc, $"doc_group")
          .limit(10)
          .select($"doc_group", $"n_dvecs", $"score")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
            vec_id // 4 AS grp, vec_id % 4 AS slot FROM embeddings),
        qv AS (SELECT slot AS q_slot, e AS qe FROM v WHERE grp = 0),
        inner_max AS (SELECT d.grp AS doc_group, q.q_slot,
            CAST(count(DISTINCT d.vec_id) AS BIGINT) AS nd,
            max(list_cosine_similarity(d.e, q.qe)) AS maxsim
          FROM v d CROSS JOIN qv q WHERE d.grp > 0
          GROUP BY d.grp, q.q_slot),
        sc AS (SELECT doc_group, max(nd) AS n_dvecs,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(maxsim ORDER BY q_slot)), (a, b) -> a + b) AS score
          FROM inner_max GROUP BY doc_group)
        SELECT doc_group, n_dvecs, score FROM sc
        ORDER BY score DESC, doc_group LIMIT 10""")),

    // ── Lang-id confusion matrix with per-cell precision/recall shares
    //    (the classifier-eval twin of text_lang_quality, which only
    //    reports per-predicted rollups): full (actual, predicted) cell
    //    counts plus each cell's share of its actual-row and predicted-
    //    column margins — the standard confusion/recall/precision
    //    decomposition, margins equi-joined back (no 1-row broadcast
    //    needed). The predictor is the same stopword/CJK heuristic
    //    kernel, replayed verbatim by the oracle. Shape: one kernel
    //    scan → ≤|langs|² cell hash aggregate. ─────────────────────────
    QueryDef("text_langid_confusion",
      (s, dir) => {
        import s.implicits._
        val cells = Tables.load(s, dir, "documents")
          .select($"lang",
            graft.functions.TextHashFunctions.textLangId($"text")
              .as("lang_pred"))
          .groupBy($"lang", $"lang_pred")
          .agg(count(lit(1)).as("n"))
        val rowTot = cells.groupBy($"lang").agg(sum($"n").as("actual_total"))
        val colTot = cells.groupBy($"lang_pred")
          .agg(sum($"n").as("pred_total"))
        cells.join(rowTot, Seq("lang")).join(colTot, Seq("lang_pred"))
          .select($"lang", $"lang_pred", $"n",
            ($"n".cast("double") / $"actual_total".cast("double"))
              .as("recall_share"),
            ($"n".cast("double") / $"pred_total".cast("double"))
              .as("precision_share"))
          .orderBy($"lang", $"lang_pred")
      },
      Some(s"""WITH t AS (
          SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks, text FROM documents),
        m AS (SELECT lang, toks, text,
          len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','los','las','una','por','con'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','les','des','une','est','dans'))) AS fr
          FROM t),
        p AS (SELECT lang,
          CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
               WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
               WHEN en >= es AND en >= de AND en >= fr THEN 'en'
               WHEN es >= de AND es >= fr THEN 'es'
               WHEN de >= fr THEN 'de'
               ELSE 'fr' END AS lang_pred
          FROM m),
        cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY lang, lang_pred),
        rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS actual_total
          FROM cells GROUP BY lang),
        ct AS (SELECT lang_pred, CAST(sum(n) AS BIGINT) AS pred_total
          FROM cells GROUP BY lang_pred)
        SELECT cells.lang, cells.lang_pred, cells.n,
          CAST(cells.n AS DOUBLE) / CAST(rt.actual_total AS DOUBLE)
            AS recall_share,
          CAST(cells.n AS DOUBLE) / CAST(ct.pred_total AS DOUBLE)
            AS precision_share
        FROM cells JOIN rt USING (lang) JOIN ct USING (lang_pred)
        ORDER BY lang, lang_pred""")),

    // ── Triplet-margin audit over the labeled embedding space (the
    //    metric-learning eval: does same-class sit closer than
    //    next-class?): for each anchor in the ≤ ~65 stride sample, the
    //    POSITIVE is the next same-label vector by cyclic vec_id order
    //    and the NEGATIVE the next vector of class (label+1) mod 10 —
    //    both DETERMINISTIC picks computable as min-over-case aggregates
    //    after an EQUI join on the class (no similarity search inside
    //    the eval, so the audit measures the space, not the picker).
    //    margin = cos(a,p) − cos(a,n), two kernel sims + one IEEE
    //    subtract per anchor. Per-anchor rows, violation = margin < 0.1.
    //    Scale: anchors are broadcast-tiny; each equi-joins only its
    //    own/next class partition — linear in corpus. ──────────────────
    QueryDef("embed_triplet_margin",
      (s, dir) => {
        import s.implicits._
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label".cast("long").as("lab"), $"embedding")
        val cnt = v.agg(count(lit(1)).as("n_vecs"))
        val anchors = v.crossJoin(broadcast(cnt))
          .filter(pmod($"vec_id", expr("greatest(1L, n_vecs DIV 64)")) === 0)
          .select($"vec_id".as("a_id"), $"lab".as("a_lab"),
            $"embedding".as("a_vec"))
        def nextPick(labOfAnchor: org.apache.spark.sql.Column, tag: String) =
          broadcast(anchors.as("a")).join(v.as("c"),
              labOfAnchor === col("c.lab")
                && col("c.vec_id") =!= col("a.a_id"))
            .groupBy(col("a.a_id").as("a_id"))
            .agg(coalesce(min(when(col("c.vec_id") > col("a.a_id"),
                col("c.vec_id"))), min(col("c.vec_id"))).as(s"${tag}_id"))
        val pos = nextPick(col("a.a_lab"), "pos")
        val neg = nextPick(pmod(col("a.a_lab") + 1L, lit(10L)), "neg")
        anchors.join(pos, Seq("a_id")).join(neg, Seq("a_id"))
          .join(v.select($"vec_id".as("pos_id"), $"embedding".as("p_vec")),
            Seq("pos_id"))
          .join(v.select($"vec_id".as("neg_id"), $"embedding".as("n_vec")),
            Seq("neg_id"))
          .select($"a_id", $"a_lab", $"pos_id", $"neg_id",
            (graft.functions.VectorFunctions.cosineSim($"a_vec", $"p_vec")
              - graft.functions.VectorFunctions.cosineSim($"a_vec", $"n_vec"))
              .as("margin"))
          .withColumn("violation",
            when($"margin" < 0.1, 1L).otherwise(0L))
          .orderBy($"a_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS lab,
            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v),
        a AS (SELECT vec_id AS a_id, lab AS a_lab, e AS a_vec FROM v, nd
          WHERE vec_id % greatest(1, n_vecs // 64) = 0),
        pos AS (SELECT a.a_id,
            coalesce(min(CASE WHEN c.vec_id > a.a_id THEN c.vec_id END),
              min(c.vec_id)) AS pos_id
          FROM a JOIN v c ON a.a_lab = c.lab AND c.vec_id <> a.a_id
          GROUP BY a.a_id),
        neg AS (SELECT a.a_id,
            coalesce(min(CASE WHEN c.vec_id > a.a_id THEN c.vec_id END),
              min(c.vec_id)) AS neg_id
          FROM a JOIN v c ON (a.a_lab + 1) % 10 = c.lab
            AND c.vec_id <> a.a_id
          GROUP BY a.a_id),
        t AS (SELECT a.a_id, a.a_lab, pos.pos_id, neg.neg_id,
            list_cosine_similarity(a.a_vec, p.e)
              - list_cosine_similarity(a.a_vec, n.e) AS margin
          FROM a JOIN pos USING (a_id) JOIN neg USING (a_id)
            JOIN v p ON pos.pos_id = p.vec_id
            JOIN v n ON neg.neg_id = n.vec_id)
        SELECT a_id, a_lab, pos_id, neg_id, margin,
          CAST(CASE WHEN margin < 0.1 THEN 1 ELSE 0 END AS BIGINT)
            AS violation
        FROM t ORDER BY a_id""")),

    // ── Scene-cut detection over simulated video frame hashes (the
    //    shot-boundary pass every video-curation pipeline runs before
    //    frame dedup/sampling): reuses multimodal_phash_dedup's
    //    deterministic 128-bit perceptual-hash model — frames in the
    //    same 4-frame shot share an md5 base hash with one flipped bit
    //    (hamming ≈ 2 between neighbors), different shots draw
    //    independent md5s (hamming ≈ 64) — so a video of 16 frames has
    //    exactly 3 shot boundaries for the detector to find. Hamming =
    //    bit_count(hi⊕hi′) + bit_count(lo⊕lo′) over a lag window
    //    PARTITIONED by video (bounded 16-frame partitions); cut ⟺
    //    hamming > 16. Per video: frames, cuts, max/mean-quantized
    //    hamming — integer end to end. ──────────────────────────────────
    QueryDef("multimodal_scene_cuts",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val frames = Tables.load(s, dir, "events")
          .filter($"event_id" < 4000)
          .select($"event_id",
            expr("event_id DIV 16").as("video_id"),
            conv(substring(md5(concat(lit("ph:"), ($"event_id" / 4L)
              .cast("long"))), 1, 8), 16, 10).cast("long").as("hi0"),
            conv(substring(md5(concat(lit("ph:"), ($"event_id" / 4L)
              .cast("long"))), 9, 8), 16, 10).cast("long").as("lo0"),
            pmod($"event_id" * 7L, lit(64L)).as("flip"))
          .selectExpr("event_id", "video_id",
            """CASE WHEN flip < 32 THEN hi0 ^ shiftleft(1L, CAST(flip AS INT))
               ELSE hi0 END AS hi""",
            """CASE WHEN flip >= 32
               THEN lo0 ^ shiftleft(1L, CAST(flip - 32 AS INT))
               ELSE lo0 END AS lo""")
        val w = Window.partitionBy($"video_id").orderBy($"event_id")
        frames
          .withColumn("ph", lag($"hi", 1).over(w))
          .withColumn("pl", lag($"lo", 1).over(w))
          .withColumn("hamming", when($"ph".isNotNull,
            bit_count($"hi".bitwiseXOR($"ph")).cast("long")
              + bit_count($"lo".bitwiseXOR($"pl")).cast("long")))
          .groupBy($"video_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(when($"hamming" > 16, 1L).otherwise(0L)).as("n_cuts"),
            max($"hamming").as("max_hamming"),
            sum(coalesce($"hamming", lit(0L))).as("sum_hamming"))
          .orderBy($"video_id")
      },
      Some("""WITH f0 AS (SELECT event_id, event_id // 16 AS video_id,
            md5('ph:' || CAST(event_id // 4 AS VARCHAR)) AS h,
            (event_id * 7) % 64 AS flip
          FROM events WHERE event_id < 4000),
        f1 AS (SELECT event_id, video_id,
            (strpos('0123456789abcdef', h[1]) - 1) * 268435456
              + (strpos('0123456789abcdef', h[2]) - 1) * 16777216
              + (strpos('0123456789abcdef', h[3]) - 1) * 1048576
              + (strpos('0123456789abcdef', h[4]) - 1) * 65536
              + (strpos('0123456789abcdef', h[5]) - 1) * 4096
              + (strpos('0123456789abcdef', h[6]) - 1) * 256
              + (strpos('0123456789abcdef', h[7]) - 1) * 16
              + (strpos('0123456789abcdef', h[8]) - 1) AS hi0,
            (strpos('0123456789abcdef', h[9]) - 1) * 268435456
              + (strpos('0123456789abcdef', h[10]) - 1) * 16777216
              + (strpos('0123456789abcdef', h[11]) - 1) * 1048576
              + (strpos('0123456789abcdef', h[12]) - 1) * 65536
              + (strpos('0123456789abcdef', h[13]) - 1) * 4096
              + (strpos('0123456789abcdef', h[14]) - 1) * 256
              + (strpos('0123456789abcdef', h[15]) - 1) * 16
              + (strpos('0123456789abcdef', h[16]) - 1) AS lo0,
            flip FROM f0),
        f AS (SELECT event_id, video_id,
            CASE WHEN flip < 32 THEN xor(hi0, CAST(1 AS BIGINT) << CAST(flip AS INTEGER))
              ELSE hi0 END AS hi,
            CASE WHEN flip >= 32 THEN xor(lo0, CAST(1 AS BIGINT) << CAST(flip - 32 AS INTEGER))
              ELSE lo0 END AS lo
          FROM f1),
        l AS (SELECT video_id, hi, lo,
            lag(hi, 1) OVER (PARTITION BY video_id ORDER BY event_id) AS ph,
            lag(lo, 1) OVER (PARTITION BY video_id ORDER BY event_id) AS pl
          FROM f),
        hd AS (SELECT video_id,
            CASE WHEN ph IS NOT NULL THEN
              CAST(bit_count(xor(hi, ph)) AS BIGINT)
                + CAST(bit_count(xor(lo, pl)) AS BIGINT) END AS hamming
          FROM l)
        SELECT video_id, CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(CASE WHEN hamming > 16 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cuts,
          max(hamming) AS max_hamming,
          CAST(sum(coalesce(hamming, 0)) AS BIGINT) AS sum_hamming
        FROM hd GROUP BY video_id ORDER BY video_id""")),

    // ── Tokenizer fertility per language (tokens-per-word, the metric
    //    that decides whether a tokenizer punishes a language's
    //    training share — high fertility = more tokens per word = that
    //    corpus slice costs more context): whitespace words vs BPE-ish
    //    regex tokens from the existing one-pass kernels, aggregated per
    //    lang; fertility and tokens-per-char are IEEE divisions of
    //    exact BIGINT sums. One scan, one |langs|-row hash aggregate. ──
    QueryDef("text_fertility_by_lang",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"lang",
            size(tokens($"text")).cast(LongType).as("n_ws"),
            size(bpeishTokens($"text")).cast(LongType).as("n_bpe"),
            length($"text").cast(LongType).as("n_chars"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_ws").as("sum_words"),
            sum($"n_bpe").as("sum_tokens"), sum($"n_chars").as("sum_chars"))
          .select($"lang", $"n_docs", $"sum_words", $"sum_tokens",
            ($"sum_tokens".cast("double") / $"sum_words".cast("double"))
              .as("fertility"),
            ($"sum_tokens".cast("double") / $"sum_chars".cast("double"))
              .as("tokens_per_char"))
          .orderBy($"lang")
      },
      Some(s"""WITH t AS (SELECT lang,
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_ws,
          len(regexp_extract_all(lower(text), '${TextFunctionsSql.bpeish}')) AS n_bpe,
          length(text) AS n_chars
        FROM documents),
        g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_ws) AS BIGINT) AS sum_words,
            CAST(sum(n_bpe) AS BIGINT) AS sum_tokens,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM t GROUP BY lang)
        SELECT lang, n_docs, sum_words, sum_tokens,
          CAST(sum_tokens AS DOUBLE) / CAST(sum_words AS DOUBLE) AS fertility,
          CAST(sum_tokens AS DOUBLE) / CAST(sum_chars AS DOUBLE)
            AS tokens_per_char
        FROM g ORDER BY lang""")),

    // ── IVF probe-budget sweep: recall@10 vs nProbe ∈ {1, 4, 12, 24}
    //    against brute-force truth — the TUNING CURVE behind
    //    sim_topk_ivf's fixed 24/64 operating point (ScalingSmokeSpec
    //    pins one point at sf1; this registers the whole curve as a
    //    driver-checked result). ONE routing pass computes the 24-deep
    //    probe ranking; each budget re-ranks the SAME scored set
    //    (filter prank ≤ np + a (np, qid)-partitioned window), so the
    //    sweep costs one corpus scan + 4 bounded rankings, not 4
    //    routings. Recall denominators are fixed k·|Q| integers; the
    //    seeded quantizer keeps every step SQL-replayable. ─────────────
    QueryDef("sim_ivf_probe_sweep",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val (centroids, assign) = Similarity.ivfIndex(candidates, 64)
        val wProbe = Window.partitionBy($"qid")
          .orderBy($"psim".desc, $"cell_id")
        val probes = queries.crossJoin(broadcast(centroids))
          .select($"qid", $"qvec", $"cell_id",
            graft.functions.VectorFunctions.cosineSim($"qvec", $"centroid")
              .as("psim"))
          .withColumn("prank", row_number().over(wProbe))
          .filter($"prank" <= 24)
          .select($"qid", $"qvec", $"cell_id".as("cell"), $"prank")
        val scored = probes.join(assign, Seq("cell"))
          .join(candidates, Seq("cid"))
          .filter($"cid" =!= $"qid")
          .select($"qid", $"prank", $"cid",
            graft.functions.VectorFunctions.cosineSim($"qvec", $"cvec")
              .as("sim"))
        val budgets = Seq(1, 4, 12, 24).toDF("np")
        val wR = Window.partitionBy($"np", $"qid")
          .orderBy($"sim".desc, $"cid")
        val ivf10 = broadcast(budgets).join(scored, $"prank" <= $"np")
          .withColumn("rn", row_number().over(wR))
          .filter($"rn" <= 10)
          .select($"np", $"qid", $"cid")
        val wB = Window.partitionBy($"qid").orderBy($"bsim".desc, $"cid")
        val brute = queries.crossJoin(candidates)
          .filter($"cid" =!= $"qid")
          .select($"qid", $"cid",
            graft.functions.VectorFunctions.cosineSim($"qvec", $"cvec")
              .as("bsim"))
          .withColumn("rn", row_number().over(wB))
          .filter($"rn" <= 10)
          .select($"qid", $"cid")
        val hits = ivf10.join(brute, Seq("qid", "cid"))
          .groupBy($"np").agg(count(lit(1)).as("n_hits"))
        val qn = queries.agg(count(lit(1)).as("nq"))
        budgets.join(hits, Seq("np"), "left")
          .crossJoin(broadcast(qn))
          .select($"np".as("n_probe"), $"nq".as("n_queries"),
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            (coalesce($"n_hits", lit(0L)).cast("double")
              / ($"nq" * 10).cast("double")).as("recall_at_10"))
          .orderBy($"n_probe")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell, prank FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell)
                AS prank
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10)
          WHERE prank <= 24),
        scored AS (SELECT p.qid, p.prank, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        budgets AS (SELECT unnest([1, 4, 12, 24]) AS np),
        ranked AS (SELECT b.np, s.qid, s.cid,
            row_number() OVER (PARTITION BY b.np, s.qid
              ORDER BY s.sim DESC, s.cid) AS rn
          FROM budgets b JOIN scored s ON s.prank <= b.np),
        ivf10 AS (SELECT np, qid, cid FROM ranked WHERE rn <= 10),
        brute AS (SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id)
                AS rn
            FROM v q JOIN v c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 10) WHERE rn <= 10),
        hits AS (SELECT np, CAST(count(*) AS BIGINT) AS n_hits
          FROM ivf10 JOIN brute USING (qid, cid) GROUP BY np),
        qn AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM v
          WHERE vec_id < 10)
        SELECT b.np AS n_probe, qn.nq AS n_queries,
          coalesce(h.n_hits, 0) AS n_hits,
          CAST(coalesce(h.n_hits, 0) AS DOUBLE)
            / CAST(qn.nq * 10 AS DOUBLE) AS recall_at_10
        FROM budgets b LEFT JOIN hits h ON b.np = h.np CROSS JOIN qn
        ORDER BY n_probe""")),

    // ── NDCG@10 of retrieval against label relevance (the GRADED
    //    ranking metric the recall sweeps can't see: recall@k treats
    //    rank 1 and rank 10 alike, NDCG discounts by position — the
    //    standard IR eval for a retrieval stack): 8 probe vectors,
    //    brute-force cosine top-10 (the sim_topk_brute kernel), rel =
    //    label match. Every DCG term is floor(1e9/log2(rank+1))·rel —
    //    an INTEGER per position — so the sum is order-independent and
    //    immune to the 1-ulp libm drift that bars raw-double emission;
    //    ideal DCG replays the same integer terms over
    //    min(10, n_rel) positions via a sequence fold, and
    //    NDCG ships as an integral ppm DIV. n_rel comes from the
    //    |labels|-row count frame (self excluded). Scale: the probe
    //    side broadcasts; per-label counts are a dimension-sized
    //    aggregate; the top-10 join is |Q|·10 rows against it. ──────────
    QueryDef("sim_eval_ndcg",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val qlabels = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        val candidates = emb
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val top = Similarity.bruteForceTopK(queries, candidates, k = 10)
        val rel = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("nid"), col("label").as("clabel"))
          .join(broadcast(top), col("nid") === col("neighbor_id"))
          .join(broadcast(qlabels), col("query_id") === qlabels("qid"))
          .select(col("query_id"), col("rank"),
            when(col("clabel") === col("qlabel"), 1L).otherwise(0L).as("rel"))
        val dcg = rel.groupBy(col("query_id"))
          .agg(sum(floor(lit(1e9) / log2(col("rank") + 1)).cast("long") *
            col("rel")).as("dcg_e9"))
        val labCounts = emb.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
        val nrel = qlabels
          .join(broadcast(labCounts), qlabels("qlabel") === labCounts("label"))
          .select(col("qid"), (col("n_label") - 1L).as("n_rel"))
        dcg.join(broadcast(nrel), dcg("query_id") === nrel("qid"))
          .select(col("query_id"), col("n_rel"), col("dcg_e9"),
            when(col("n_rel") > 0L, expr(
              """aggregate(
                   transform(sequence(1, CAST(least(10, n_rel) AS INT)),
                     i -> CAST(floor(1e9 / log2(i + 1)) AS BIGINT)),
                   CAST(0 AS BIGINT), (a, x) -> a + x)"""))
              .otherwise(0L).as("idcg_e9"))
          .withColumn("ndcg_ppm",
            when(col("idcg_e9") > 0L,
              expr("(dcg_e9 * 1000000) DIV idcg_e9")))
          .orderBy(col("query_id"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid,
            CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
          FROM embeddings WHERE vec_id < 8),
        top AS (SELECT qid, cid, rn FROM (
            SELECT q.qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY list_cosine_similarity(q.qv,
                  CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
            FROM q, embeddings c WHERE q.qid <> c.vec_id)
          WHERE rn <= 10),
        rel AS (SELECT t.qid, t.rn,
            CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel
          FROM top t JOIN embeddings e ON t.cid = e.vec_id
          JOIN q ON t.qid = q.qid),
        dcg AS (SELECT qid,
            CAST(sum(CAST(floor(1e9 / log2(rn + 1)) AS BIGINT) * rel)
              AS BIGINT) AS dcg_e9
          FROM rel GROUP BY qid),
        lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
          FROM embeddings GROUP BY label),
        nr AS (SELECT q.qid, CAST(lc.n_label - 1 AS BIGINT) AS n_rel
          FROM q JOIN lc ON q.qlabel = lc.label),
        idcg AS (SELECT qid, n_rel,
            CASE WHEN n_rel > 0 THEN CAST(list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, least(10, n_rel) + 1),
                    i -> CAST(floor(1e9 / log2(i + 1)) AS BIGINT))),
                (a, b) -> a + b) AS BIGINT)
              ELSE 0 END AS idcg_e9
          FROM nr)
        SELECT d.qid AS query_id, i.n_rel, d.dcg_e9, i.idcg_e9,
          CASE WHEN i.idcg_e9 > 0
            THEN (d.dcg_e9 * 1000000) // i.idcg_e9 END AS ndcg_ppm
        FROM dcg d JOIN idcg i ON d.qid = i.qid ORDER BY d.qid""")),

    // ── isotonic recalibration of score bins (the PAV step that turns
    //    `pipeline_calibration_bins`-style reliability tables into a
    //    MONOTONE calibrated mapping — the standard classifier
    //    recalibration beside Platt scaling, here in the minimax
    //    closed form fit_k = max_{i≤k} min_{j≥k} mean(i..j), which
    //    equals pool-adjacent-violators without any sequential loop):
    //    docs bin by length band, label = "mentions 'spark' ≥ 2×" (the
    //    exact substring kernel), then every (i,j) interval's weighted
    //    mean is one exact-BIGINT ratio — the max-min runs over B=10
    //    bins, so intervals (55) and the k-join are constant-bounded
    //    broadcast frames; the ONLY corpus-sized step is the one
    //    binning scan. Identical BIGINT inputs ⇒ identical IEEE
    //    ratios ⇒ identical min/max in both engines. ────────────────────
    QueryDef("pipeline_isotonic_calibration",
      (s, dir) => {
        val bins = Tables.load(s, dir, "documents")
          .selectExpr("least(9, n_chars DIV 200) AS b",
            """CASE WHEN (length(lower(text))
                 - length(replace(lower(text), 'spark', ''))) DIV 5 >= 2
               THEN 1 ELSE 0 END AS y""")
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("s"))
        val iv = bins.select(col("b").as("i"))
          .crossJoin(broadcast(bins.select(col("b").as("j"))))
          .filter(col("i") <= col("j"))
        val means = iv
          .join(broadcast(bins), col("b") >= col("i") && col("b") <= col("j"))
          .groupBy(col("i"), col("j"))
          .agg((sum(col("s")).cast("double") / sum(col("n")).cast("double"))
            .as("mean_ij"))
        val fits = bins.select(col("b").as("k"))
          .join(broadcast(means), col("i") <= col("k") && col("j") >= col("k"))
          .groupBy(col("k"), col("i"))
          .agg(min(col("mean_ij")).as("minj"))
          .groupBy(col("k"))
          .agg(max(col("minj")).as("fit"))
        bins.join(broadcast(fits), bins("b") === fits("k"))
          .select(col("b"), col("n"),
            expr("(s * 1000000) DIV n").as("rate_ppm"),
            floor(col("fit") * lit(1e6)).cast("long").as("fit_ppm"))
          .orderBy(col("b"))
      },
      Some("""WITH bins AS (SELECT least(9, n_chars // 200) AS b,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN (length(lt) - length(replace(lt, 'spark', '')))
                // 5 >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS s
          FROM (SELECT n_chars, lower(text) AS lt FROM documents)
          GROUP BY 1),
        iv AS (SELECT a.b AS i, c.b AS j FROM bins a, bins c WHERE a.b <= c.b),
        means AS (SELECT iv.i, iv.j,
            CAST(sum(bins.s) AS DOUBLE) / CAST(sum(bins.n) AS DOUBLE)
              AS mean_ij
          FROM iv JOIN bins ON bins.b >= iv.i AND bins.b <= iv.j
          GROUP BY iv.i, iv.j),
        fits AS (SELECT k, max(minj) AS fit FROM (
            SELECT kb.b AS k, m.i, min(m.mean_ij) AS minj
            FROM bins kb JOIN means m ON m.i <= kb.b AND m.j >= kb.b
            GROUP BY kb.b, m.i)
          GROUP BY k)
        SELECT bins.b, bins.n, (bins.s * 1000000) // bins.n AS rate_ppm,
          CAST(floor(fits.fit * 1e6) AS BIGINT) AS fit_ppm
        FROM bins JOIN fits ON bins.b = fits.k ORDER BY bins.b""")),

    // ── character-entropy profile per source (the FineWeb/CCNet
    //    "gibberish gate": run-length blobs score near 0 nats, random
    //    noise near ln|alphabet|, prose sits in a stable band — a
    //    cheap pre-filter before any model-based quality score): the
    //    NEW one-pass codegen kernel `char_stats` (functions/
    //    TextExpressions.scala CharStatsKernel) computes the byte
    //    histogram + Shannon entropy folded in byte-value order, so
    //    the oracle replays the identical IEEE sum via
    //    `list(term ORDER BY ch)`; the counters are exact. Per-doc
    //    entropies stay UNFLOORED doubles and fold per source in
    //    doc_id order with a single floor(·1e9) at the end — one
    //    quantization per source row, not one per doc (the ln-ulp
    //    flakiness budget of the user_entropy finding). One map-only
    //    scan + one |sources|-row aggregate. ────────────────────────────
    QueryDef("text_char_entropy",
      (s, dir) => {
        import s.implicits._
        val perDoc = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source",
            graft.functions.TextHashFunctions.charStats($"text").as("cs"))
          .select($"doc_id", $"source",
            $"cs".getItem(0).as("h"),
            $"cs".getItem(1).cast("long").as("distinct_chars"),
            $"cs".getItem(2).cast("long").as("n_bytes"))
        perDoc.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"distinct_chars").as("sum_distinct"),
            sum($"n_bytes").as("sum_bytes"),
            sort_array(collect_list(struct($"doc_id", $"h"))).as("hs"))
          .select($"source", $"n_docs", $"sum_distinct", $"sum_bytes",
            floor(aggregate($"hs".getField("h"), lit(0.0d), (a, x) => a + x) /
              $"n_docs".cast("double") * lit(1e9)).cast("long")
              .as("mean_entropy_e9"))
          .orderBy($"source")
      },
      // KNOWN DIVERGENCE GUARD (r11 advice): the Spark kernel computes
      // UTF-8 BYTE entropy (CharStatsKernel folds the 256-bin byte
      // histogram) while this oracle splits by CHARACTER
      // (string_split) — they agree iff the fixture text is pure
      // ASCII. The documents fixture is ASCII by construction
      // (TESTDATA.md); if this query ever goes red after a fixture
      // change, check for non-ASCII text first — it's this known
      // byte-vs-char semantics gap, not an engine bug.
      Some("""WITH ch AS (SELECT doc_id, source,
            unnest(string_split(text, '')) AS c
          FROM documents),
        cc AS (SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS cnt
          FROM ch GROUP BY 1, 2, 3),
        docs AS (SELECT doc_id, source,
            CAST(sum(cnt) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS distinct_chars,
            list(cnt ORDER BY c) AS cl
          FROM cc GROUP BY doc_id, source),
        ent AS (SELECT doc_id, source, n, distinct_chars,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cl, x ->
                -(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))),
              (a, b) -> a + b) AS h
          FROM docs)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(distinct_chars) AS BIGINT) AS sum_distinct,
          CAST(sum(n) AS BIGINT) AS sum_bytes,
          CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(h ORDER BY doc_id)), (a, b) -> a + b)
            / CAST(count(*) AS DOUBLE) * 1e9) AS BIGINT) AS mean_entropy_e9
        FROM ent GROUP BY source ORDER BY source""")),

    // ── k-anonymity / l-diversity audit (the privacy gate a corpus
    //    must pass before release: any quasi-identifier combination
    //    matched by fewer than k records re-identifies its members,
    //    and a group whose sensitive attribute has < l distinct values
    //    leaks it even at size ≥ k): QI = (source, 100-char length
    //    band), sensitive = lang. One groupBy over the corpus builds
    //    the QI partition (exact count + exact count-distinct per
    //    cell), one |groups|-row rollup per source reports violation
    //    counts, records at risk (what suppression would cost), and
    //    the worst group sizes/diversities — all exact integers. ────────
    QueryDef("dq_k_anonymity",
      (s, dir) => {
        import s.implicits._
        val groups = Tables.load(s, dir, "documents")
          .select($"source", ($"n_chars" - pmod($"n_chars", lit(100L))).as("band"),
            $"lang")
          .groupBy($"source", $"band")
          .agg(count(lit(1)).as("n"), countDistinct($"lang").as("l"))
        groups.groupBy($"source")
          .agg(count(lit(1)).as("n_groups"),
            sum($"n").as("n_records"),
            sum(when($"n" < 5L, 1L).otherwise(0L)).as("k_violations"),
            sum(when($"n" < 5L, $"n").otherwise(0L)).as("records_at_risk"),
            min($"n").as("min_group_size"),
            min($"l").as("min_l_diversity"))
          .withColumn("suppression_ppm",
            expr("(records_at_risk * 1000000) DIV n_records"))
          .orderBy($"source")
      },
      Some("""WITH g AS (SELECT source, n_chars - n_chars % 100 AS band,
            CAST(count(*) AS BIGINT) AS n,
            CAST(count(DISTINCT lang) AS BIGINT) AS l
          FROM documents GROUP BY 1, 2)
        SELECT source, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(n) AS BIGINT) AS n_records,
          CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS k_violations,
          CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
            AS records_at_risk,
          CAST(min(n) AS BIGINT) AS min_group_size,
          CAST(min(l) AS BIGINT) AS min_l_diversity,
          (CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) * 1000000)
            // CAST(sum(n) AS BIGINT) AS suppression_ppm
        FROM g GROUP BY source ORDER BY source""")),

    // ── deterministic source interleaving (HF `interleave_datasets` /
    //    the T5 mixing recipe: emit examples so that at EVERY prefix of
    //    the stream each source's share tracks its √n temperature
    //    weight — a global hash shuffle gets the ratios right only in
    //    expectation, interleaving enforces them deterministically):
    //    each doc's stream position is rank-within-source / √n_source
    //    (per-source window + one broadcast count frame), the first
    //    4000 positions are a bounded TakeOrdered (never a global
    //    sort), and the output audits each source's share of the
    //    prefix against its weight. √n is one correctly-rounded IEEE
    //    op on an exact BIGINT, so positions and ties (broken by
    //    source, rank) agree across engines. ────────────────────────────
    QueryDef("pipeline_interleave_sources",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents").select($"source", $"doc_id")
        val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
        val taken = docs
          .withColumn("rn", row_number().over(
            Window.partitionBy($"source").orderBy($"doc_id")).cast("long"))
          .join(broadcast(counts), "source")
          .withColumn("pos", $"rn".cast("double") / sqrt($"n_s".cast("double")))
          .orderBy($"pos", $"source", $"rn")
          .limit(4000)
        taken.groupBy($"source")
          .agg(count(lit(1)).as("n_taken"), max($"rn").as("deepest_rank"))
          .join(broadcast(counts), "source")
          .select($"source", $"n_s", $"n_taken", $"deepest_rank",
            expr("(n_taken * 1000000) DIV 4000").as("share_ppm"))
          .orderBy($"source")
      },
      Some("""WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
          FROM documents GROUP BY source),
        ranked AS (SELECT d.source, d.doc_id,
            CAST(row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id)
              AS BIGINT) AS rn, c.n_s
          FROM documents d JOIN counts c ON d.source = c.source),
        taken AS (SELECT source, rn, n_s
          FROM ranked
          ORDER BY CAST(rn AS DOUBLE) / sqrt(CAST(n_s AS DOUBLE)), source, rn
          LIMIT 4000)
        SELECT source, max(n_s) AS n_s, CAST(count(*) AS BIGINT) AS n_taken,
          CAST(max(rn) AS BIGINT) AS deepest_rank,
          (CAST(count(*) AS BIGINT) * 1000000) // 4000 AS share_ppm
        FROM taken GROUP BY source ORDER BY source""")),

    // ── dedup threshold tuning curve (the decision table behind "what
    //    Jaccard cutoff do we ship": pairs and affected docs at each
    //    candidate threshold, from ONE exact AllPairs/PPJoin run at the
    //    loosest setting — the same sweep-don't-rerun shape as
    //    sim_ivf_probe_sweep): `ngramJaccardPairs` at t=0.5 generates
    //    the exact ≥0.5 pair set once (prefix filter stays lossless at
    //    any t, just with longer prefixes), then the 5-row threshold
    //    frame bands it; thresholds compare as t_e2/100.0 — identical
    //    doubles both engines, so banding is exact. Affected-doc counts
    //    are exact distinct over the exploded pair ends. ─────────────────
    QueryDef("dedup_threshold_sweep",
      (s, dir) => {
        import s.implicits._
        val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.5)
        val ts = Seq(50L, 60L, 70L, 80L, 90L).toDF("t_e2")
        val banded = pairs.crossJoin(broadcast(ts))
          .filter($"jaccard" >= $"t_e2".cast("double") / lit(100.0d))
        val perT = banded.groupBy($"t_e2").agg(count(lit(1)).as("n_pairs"))
        val docsT = banded
          .select($"t_e2", explode(array($"doc_a", $"doc_b")).as("d"))
          .groupBy($"t_e2").agg(countDistinct($"d").as("n_docs_in_pairs"))
        // anchor on the threshold frame so a pair-less threshold still
        // emits its zero row (the oracle's LEFT JOIN shape)
        ts.join(perT, Seq("t_e2"), "left").join(docsT, Seq("t_e2"), "left")
          .select($"t_e2", coalesce($"n_pairs", lit(0L)).as("n_pairs"),
            coalesce($"n_docs_in_pairs", lit(0L)).as("n_docs_in_pairs"))
          .orderBy($"t_e2")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.sh, b.sh))
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.sh, b.sh))
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
         |tt AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT) AS t_e2),
         |banded AS (SELECT p.doc_a, p.doc_b, tt.t_e2
         |  FROM pairs p JOIN tt ON p.jaccard >= CAST(tt.t_e2 AS DOUBLE) / 100.0),
         |np AS (SELECT t_e2, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM banded GROUP BY t_e2),
         |nd AS (SELECT t_e2, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_in_pairs
         |  FROM (SELECT t_e2, doc_a AS d FROM banded
         |        UNION ALL SELECT t_e2, doc_b FROM banded)
         |  GROUP BY t_e2)
         |SELECT tt.t_e2, coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(nd.n_docs_in_pairs, 0) AS n_docs_in_pairs
         |FROM tt LEFT JOIN np ON tt.t_e2 = np.t_e2
         |LEFT JOIN nd ON tt.t_e2 = nd.t_e2
         |ORDER BY tt.t_e2""".stripMargin)),

    // ── nearest-centroid (Rocchio) classifier eval (the zero-training
    //    baseline every embedding-quality report starts from — if label
    //    centroids can't separate the classes, no k-NN threshold will):
    //    per-label centroids as EXACT fixed-point integer component
    //    sums (the kmeans device — cosine is scale-invariant, so the
    //    un-normalized sum IS the centroid; long→float by both engines'
    //    identical IEEE rounding), every vector scores against the
    //    |labels|-row broadcast frame, argmax with label tiebreak, and
    //    the confusion matrix + per-class accuracy come off one
    //    aggregate. Scale: one posexplode scan for sums, one scan to
    //    classify; nothing corpus-sized leaves the executors. ────────────
    QueryDef("embed_nearest_centroid",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label".cast("long").as("label"), $"embedding")
        val comp = emb
          .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
          .groupBy($"label", $"dim")
          .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)"))
            .as("cs"))
        val cents = comp.groupBy($"label")
          .agg(transform(sort_array(collect_list(struct($"dim", $"cs"))),
            t => t.getField("cs").cast("float")).as("ce"))
          .select($"label".as("plabel"), $"ce")
        val assigned = emb.crossJoin(broadcast(cents))
          .select($"vec_id", $"label", $"plabel",
            graft.functions.VectorFunctions.cosineSim($"embedding", $"ce")
              .as("sim"))
          .groupBy($"vec_id", $"label")
          .agg(expr("max_by(plabel, struct(sim, -plabel))").as("pred"))
        val cm = assigned.groupBy($"label", $"pred")
          .agg(count(lit(1)).as("n"))
        val tot = assigned.groupBy($"label").agg(count(lit(1)).as("n_class"))
        cm.join(broadcast(tot), "label")
          .select($"label".as("true_label"), $"pred".as("pred_label"), $"n",
            expr("(n * 1000000) DIV n_class").as("share_ppm"))
          .orderBy($"true_label", $"pred_label")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
            CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        comp AS (SELECT label, unnest(e) AS x,
            generate_subscripts(e, 1) AS dim FROM v),
        sums AS (SELECT label, dim,
            CAST(sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS BIGINT) AS cs
          FROM comp GROUP BY label, dim),
        cents AS (SELECT label AS plabel,
            list(CAST(CAST(cs AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce
          FROM sums GROUP BY label),
        assigned AS (SELECT vec_id, label, plabel AS pred FROM (
            SELECT q.vec_id, q.label, c.plabel,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, c.ce) DESC, c.plabel)
                AS rn
            FROM v q CROSS JOIN cents c) WHERE rn = 1),
        cm AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n
          FROM assigned GROUP BY label, pred),
        tot AS (SELECT label, CAST(count(*) AS BIGINT) AS n_class
          FROM assigned GROUP BY label)
        SELECT cm.label AS true_label, cm.pred AS pred_label, cm.n,
          (cm.n * 1000000) // tot.n_class AS share_ppm
        FROM cm JOIN tot ON cm.label = tot.label
        ORDER BY true_label, pred_label""")),

    // ── multimodal quality gate (the LAION-style composite filter a
    //    text-image corpus passes before training: dimension floor,
    //    aspect-ratio cap, caption-length floor, caption-spam cap —
    //    each pair rejected WITH reasons, because curation debugging
    //    is "why did my corpus shrink 40%"): image side synthesizes
    //    through the REAL binary plumbing (FakeCodec encode → opaque
    //    binary column → mapPartitions decode, the multimodal_decode
    //    _stats path), caption side reuses the exact substring kernel;
    //    the gate joins them on id (equi) and one |sources|-row rollup
    //    reports per-rule rejection counts (non-exclusive) + accepted
    //    ppm. Oracle replays the header arithmetic from the source
    //    columns — decode∘encode = id is part of what the hash proves. ──
    QueryDef("multimodal_quality_gate",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Multimodal
        val docs = Tables.load(s, dir, "documents")
        val recs = docs.select($"doc_id", $"n_chars").as[(Long, Long)]
          .map { case (id, nc) =>
            Multimodal.MediaRecord(id, "image",
              Multimodal.FakeCodec.encode((id % 640 + 1).toInt,
                (nc % 480 + 1).toInt, new Array[Byte]((id % 64).toInt)))
          }
        val meta = Multimodal.decodeMeta(recs).toDF()
        val gated = meta.join(
            docs.select($"doc_id", $"source", $"n_chars",
              lower($"text").as("lt")), $"id" === $"doc_id")
          .select($"source",
            ($"width" >= 64 && $"height" >= 64).as("dim_ok"),
            (greatest($"width", $"height") <=
              lit(3) * least($"width", $"height")).as("aspect_ok"),
            ($"n_chars" >= 100L).as("caption_ok"),
            (expr("(length(lt) - length(replace(lt, 'spark', ''))) DIV 5")
              <= 5L).as("spam_ok"))
        gated.groupBy($"source")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(!$"dim_ok", 1L).otherwise(0L)).as("rej_dims"),
            sum(when(!$"aspect_ok", 1L).otherwise(0L)).as("rej_aspect"),
            sum(when(!$"caption_ok", 1L).otherwise(0L)).as("rej_caption"),
            sum(when(!$"spam_ok", 1L).otherwise(0L)).as("rej_spam"),
            sum(when($"dim_ok" && $"aspect_ok" && $"caption_ok" && $"spam_ok",
              1L).otherwise(0L)).as("accepted"))
          .withColumn("accept_ppm", expr("(accepted * 1000000) DIV n_pairs"))
          .orderBy($"source")
      },
      Some("""WITH m AS (SELECT source,
            CAST(doc_id % 640 + 1 AS BIGINT) AS w,
            CAST(n_chars % 480 + 1 AS BIGINT) AS h,
            n_chars, lower(text) AS lt
          FROM documents),
        g AS (SELECT source,
            (w >= 64 AND h >= 64) AS dim_ok,
            (greatest(w, h) <= 3 * least(w, h)) AS aspect_ok,
            (n_chars >= 100) AS caption_ok,
            ((length(lt) - length(replace(lt, 'spark', ''))) // 5 <= 5)
              AS spam_ok
          FROM m)
        SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN NOT dim_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS rej_dims,
          CAST(sum(CASE WHEN NOT aspect_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS rej_aspect,
          CAST(sum(CASE WHEN NOT caption_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS rej_caption,
          CAST(sum(CASE WHEN NOT spam_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS rej_spam,
          CAST(sum(CASE WHEN dim_ok AND aspect_ok AND caption_ok AND spam_ok
            THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
          (CAST(sum(CASE WHEN dim_ok AND aspect_ok AND caption_ok AND spam_ok
            THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
            // CAST(count(*) AS BIGINT) AS accept_ppm
        FROM g GROUP BY source ORDER BY source""")),

    // ── TwoNN intrinsic-dimension estimate (Facco et al. '17 — the
    //    "how many dimensions does this embedding space actually use"
    //    readout that decides matryoshka truncation depth and PQ
    //    subspace budgets): per probe the ratio μ = r₂/r₁ of its two
    //    nearest-neighbor distances, MLE d̂ = n/Σln μ. 256 broadcast
    //    probes score the corpus through the codegen L2 kernel into a
    //    k=2 bounded heap (the sim_topk_brute plan — no global sort,
    //    partial states are 2 pairs per probe); duplicate-point probes
    //    (r₁ = 0) are excluded exactly. ln μ folds in probe order, one
    //    floor per output cell. The oracle replays the component-wise
    //    squared-distance fold (the pq_rerank idiom — bit-identical to
    //    VectorKernels.l2Sq). ───────────────────────────────────────────
    QueryDef("embed_intrinsic_dim",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 256)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val scored = emb
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
          .join(broadcast(queries), col("qid") =!= col("cid"))
          .select(col("qid"),
            struct((-graft.functions.VectorFunctions
              .l2Sq(col("qvec"), col("cvec"))).as("score"),
              col("cid").cast("long").as("id")).as("p"))
        val top2 = scored.groupBy(col("qid"))
          .agg(graft.functions.TopKFunctions.topKPairs(col("p"), 2).as("top"))
          .select(col("qid"),
            (-element_at(col("top"), 1).getField("score")).as("r1sq"),
            (-element_at(col("top"), 2).getField("score")).as("r2sq"))
        val nq = top2.agg(count(lit(1)).as("n_probes"))
        top2.filter($"r1sq" > 0.0d)
          .select($"qid", (log($"r2sq" / $"r1sq") * lit(0.5d)).as("lnmu"))
          .agg(count(lit(1)).as("n_valid"),
            sort_array(collect_list(struct($"qid", $"lnmu"))).as("ts"))
          .crossJoin(broadcast(nq))
          .select($"n_probes", $"n_valid",
            floor(aggregate($"ts".getField("lnmu"), lit(0.0d),
              (a, x) => a + x) * lit(1e9)).cast("long").as("sum_lnmu_e9"),
            floor($"n_valid".cast("double") /
              aggregate($"ts".getField("lnmu"), lit(0.0d), (a, x) => a + x) *
              lit(1e6)).cast("long").as("intrinsic_dim_e6"))
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 256),
        d AS (SELECT q.qid, c.vec_id AS cid,
            list_reduce(list_transform(range(1, 65), i ->
                (q.qe[i] - c.e[i]) * (q.qe[i] - c.e[i])),
              (acc, t) -> acc + t) AS dist
          FROM q, v c WHERE q.qid <> c.vec_id),
        r AS (SELECT qid, dist,
            row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
          FROM d),
        t2 AS (SELECT qid,
            max(CASE WHEN rn = 1 THEN dist END) AS r1,
            max(CASE WHEN rn = 2 THEN dist END) AS r2
          FROM r WHERE rn <= 2 GROUP BY qid),
        mus AS (SELECT qid, ln(r2 / r1) * 0.5 AS lnmu FROM t2 WHERE r1 > 0),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM t2),
        f AS (SELECT CAST(count(*) AS BIGINT) AS n_valid,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(lnmu ORDER BY qid)), (a, b) -> a + b) AS slm
          FROM mus)
        SELECT np.n_probes, f.n_valid,
          CAST(floor(slm * 1e9) AS BIGINT) AS sum_lnmu_e9,
          CAST(floor(CAST(f.n_valid AS DOUBLE) / slm * 1e6) AS BIGINT)
            AS intrinsic_dim_e6
        FROM f CROSS JOIN np""")),

    // ── curation filter ablation (the table a corpus owner reads
    //    before shipping a filter stack: what does EACH filter alone
    //    cost, what does the whole stack cost — "my corpus shrank 40%"
    //    debugging, the FineWeb-style ablation): four standard gates —
    //    length floor, spam lexicon cap (exact substring kernel),
    //    language pin, exact-dup first-occurrence (md5 fingerprint
    //    window, the dedup_exact rule) — evaluated as FLAGS in one
    //    scan + one fingerprint window, then a single 1-row aggregate
    //    stacks into the 6-variant report (baseline, each-alone, full
    //    stack), doc counts + retained char mass. ───────────────────────
    QueryDef("pipeline_filter_ablation",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val flags = Tables.load(s, dir, "documents")
          .withColumn("lt", lower($"text"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(md5($"lt")).orderBy($"doc_id")))
          .select($"n_chars",
            ($"n_chars" >= 200L).as("len_ok"),
            (expr("(length(lt) - length(replace(lt, 'slow', ''))) DIV 4") +
              expr("(length(lt) - length(replace(lt, 'drop', ''))) DIV 4")
              < 3L).as("spam_ok"),
            ($"lang" === "en").as("lang_ok"),
            ($"rn" === 1).as("first_ok"))
        def m(cond: org.apache.spark.sql.Column, tag: String)
            : Seq[org.apache.spark.sql.Column] = Seq(
          sum(when(cond, 1L).otherwise(0L)).as("n_" + tag),
          sum(when(cond, $"n_chars").otherwise(0L)).as("c_" + tag))
        val cols = m(lit(true), "base") ++ m($"len_ok", "len") ++
          m($"spam_ok", "spam") ++ m($"lang_ok", "lang") ++
          m($"first_ok", "dedup") ++
          m($"len_ok" && $"spam_ok" && $"lang_ok" && $"first_ok", "all")
        val agg1 = flags.agg(cols.head, cols.tail: _*)
        agg1.selectExpr(
          """stack(6,
               'a_baseline', n_base, c_base,
               'b_len_only', n_len, c_len,
               'c_spam_only', n_spam, c_spam,
               'd_lang_only', n_lang, c_lang,
               'e_dedup_only', n_dedup, c_dedup,
               'f_full_stack', n_all, c_all)
             AS (variant, n_docs, chars_kept)""")
          .orderBy($"variant")
      },
      Some("""WITH f AS (SELECT n_chars,
            (n_chars >= 200) AS len_ok,
            ((length(lt) - length(replace(lt, 'slow', ''))) // 4
              + (length(lt) - length(replace(lt, 'drop', ''))) // 4 < 3)
              AS spam_ok,
            (lang = 'en') AS lang_ok,
            (row_number() OVER (PARTITION BY md5(lt) ORDER BY doc_id) = 1)
              AS first_ok
          FROM (SELECT doc_id, n_chars, lang, lower(text) AS lt
            FROM documents)),
        a AS (SELECT
            CAST(count(*) AS BIGINT) AS n_base,
            CAST(sum(n_chars) AS BIGINT) AS c_base,
            CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
            CAST(sum(CASE WHEN len_ok THEN n_chars ELSE 0 END) AS BIGINT)
              AS c_len,
            CAST(sum(CASE WHEN spam_ok THEN 1 ELSE 0 END) AS BIGINT)
              AS n_spam,
            CAST(sum(CASE WHEN spam_ok THEN n_chars ELSE 0 END) AS BIGINT)
              AS c_spam,
            CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT)
              AS n_lang,
            CAST(sum(CASE WHEN lang_ok THEN n_chars ELSE 0 END) AS BIGINT)
              AS c_lang,
            CAST(sum(CASE WHEN first_ok THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dedup,
            CAST(sum(CASE WHEN first_ok THEN n_chars ELSE 0 END) AS BIGINT)
              AS c_dedup,
            CAST(sum(CASE WHEN len_ok AND spam_ok AND lang_ok AND first_ok
              THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
            CAST(sum(CASE WHEN len_ok AND spam_ok AND lang_ok AND first_ok
              THEN n_chars ELSE 0 END) AS BIGINT) AS c_all
          FROM f)
        SELECT * FROM (
          SELECT 'a_baseline' AS variant, n_base AS n_docs,
            c_base AS chars_kept FROM a
          UNION ALL SELECT 'b_len_only', n_len, c_len FROM a
          UNION ALL SELECT 'c_spam_only', n_spam, c_spam FROM a
          UNION ALL SELECT 'd_lang_only', n_lang, c_lang FROM a
          UNION ALL SELECT 'e_dedup_only', n_dedup, c_dedup FROM a
          UNION ALL SELECT 'f_full_stack', n_all, c_all FROM a)
        ORDER BY variant""")),

    // ── soft deduplication weights (the DROP-free alternative the
    //    recent dedup literature favors: instead of deleting near-dups,
    //    DOWNWEIGHT each cluster member by 1/|cluster| so the cluster
    //    contributes one document's worth of gradient — repetition bias
    //    gone, rare-but-duplicated content kept): near-dup clusters
    //    from the exact AllPairs+union-find machinery, weight_ppm =
    //    10⁶ DIV k exact integers, per-source report of raw vs
    //    EFFECTIVE (weighted) doc and char mass. Singletons (no pair)
    //    keep weight 1 via the null-cluster coalesce. ────────────────────
    QueryDef("dedup_soft_weights",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val clusters = Dedup.duplicateClusters(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
        val sizes = clusters.groupBy($"cluster_id").agg(count(lit(1)).as("k"))
        val withK = docs.select($"doc_id", $"source", $"n_chars")
          .join(clusters, Seq("doc_id"), "left")
          .join(sizes, Seq("cluster_id"), "left")
          .select($"source", $"n_chars", coalesce($"k", lit(1L)).as("k"))
        withK.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"k" > 1L, 1L).otherwise(0L)).as("n_in_clusters"),
            sum(expr("1000000 DIV k")).as("sum_weight_ppm"),
            sum(expr("(n_chars * 1000000) DIV k")).as("effective_chars_x1e6"))
          .orderBy($"source")
      },
      Some(s"""WITH RECURSIVE
         |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a, s b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS k
         |  FROM cl GROUP BY cluster_id),
         |w AS (SELECT d.source, d.n_chars, coalesce(sz.k, 1) AS k
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |  LEFT JOIN sz ON cl.cluster_id = sz.cluster_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_clusters,
         |  CAST(sum(1000000 // k) AS BIGINT) AS sum_weight_ppm,
         |  CAST(sum((n_chars * 1000000) // k) AS BIGINT)
         |    AS effective_chars_x1e6
         |FROM w GROUP BY source ORDER BY source""".stripMargin)),

    // ── Theil index decomposition (the inequality measure that — unlike
    //    Gini — splits EXACTLY into within-group + between-group parts:
    //    "is char mass concentrated inside sources or across them?"):
    //    per-source T_g = (Σx·ln x)/X_g − ln μ_g with the Σx·ln x fold
    //    in doc_id order (exact integer x, one ln per doc), between
    //    term = (X_g/X)·ln(μ_g/μ) against the 1-row global broadcast.
    //    Emitted per source so Σ shares·T_g + Σ between = total Theil
    //    by construction. One scan + |sources|-row frames. ────────────────
    QueryDef("agg_theil_decomposition",
      (s, dir) => {
        import s.implicits._
        val per = Tables.load(s, dir, "documents")
          .filter($"n_chars" > 0L)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_g"), sum($"n_chars").as("x_g"),
            sort_array(collect_list(struct($"doc_id",
              ($"n_chars".cast("double") *
                log($"n_chars".cast("double"))).as("xlx")))).as("ts"))
          .select($"source", $"n_g", $"x_g",
            aggregate($"ts".getField("xlx"), lit(0.0d), (a, v) => a + v)
              .as("sxlx"))
        val tot = per.agg(sum($"n_g").as("n"), sum($"x_g").as("x"))
        per.crossJoin(broadcast(tot))
          .select($"source", $"n_g", $"x_g",
            floor(($"sxlx" / $"x_g".cast("double") -
              log($"x_g".cast("double") / $"n_g".cast("double"))) * lit(1e9))
              .cast("long").as("theil_within_e9"),
            floor(($"x_g".cast("double") / $"x".cast("double")) *
              log(($"x_g".cast("double") / $"n_g".cast("double")) /
                ($"x".cast("double") / $"n".cast("double"))) * lit(1e9))
              .cast("long").as("between_term_e9"))
          .orderBy($"source")
      },
      Some("""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g,
            CAST(sum(n_chars) AS BIGINT) AS x_g,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(CAST(n_chars AS DOUBLE) * ln(CAST(n_chars AS DOUBLE))
                ORDER BY doc_id)), (a, b) -> a + b) AS sxlx
          FROM documents WHERE n_chars > 0 GROUP BY source),
        tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
            CAST(sum(x_g) AS BIGINT) AS x FROM per)
        SELECT source, n_g, x_g,
          CAST(floor((sxlx / CAST(x_g AS DOUBLE)
            - ln(CAST(x_g AS DOUBLE) / CAST(n_g AS DOUBLE))) * 1e9)
            AS BIGINT) AS theil_within_e9,
          CAST(floor((CAST(x_g AS DOUBLE) / CAST(x AS DOUBLE))
            * ln((CAST(x_g AS DOUBLE) / CAST(n_g AS DOUBLE))
              / (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT)
            AS between_term_e9
        FROM per CROSS JOIN tot ORDER BY source""")),

    // ── stylometry matrix (the authorship/contamination triage view:
    //    function-word frequency profiles are the classic style
    //    fingerprint — two "different" sources with near-1 cosine are
    //    one upstream crawler in disguise): 8 function-word TOKEN
    //    counts per source via the exact length-difference kernel on a
    //    space-DOUBLED text (' a a ' would otherwise hide its second
    //    token from non-overlapping replace — doubling gives every
    //    token its own delimiters), then pairwise cosine over the
    //    |sources|² broadcast self-join as one fixed 8-term literal
    //    IEEE chain off exact BIGINT counts. ─────────────────────────────
    QueryDef("text_stylometry_matrix",
      (s, dir) => {
        import s.implicits._
        val words = Seq("the", "a", "value", "table", "fast", "slow",
          "query", "data")
        def cnt(i: Int): org.apache.spark.sql.Column = {
          val w = words(i)
          expr(s"(length(t2) - length(replace(t2, ' $w ', ''))) DIV ${w.length + 2}")
            .cast("long")
        }
        val per = Tables.load(s, dir, "documents")
          .withColumn("t2",
            concat(lit(" "), regexp_replace(lower($"text"), " ", "  "), lit(" ")))
          .select($"source" +: words.indices.map(i => cnt(i).as(s"c$i")): _*)
          .groupBy($"source")
          .agg(sum($"c0").as("c0"), sum($"c1").as("c1"), sum($"c2").as("c2"),
            sum($"c3").as("c3"), sum($"c4").as("c4"), sum($"c5").as("c5"),
            sum($"c6").as("c6"), sum($"c7").as("c7"))
        val a = per.select($"source".as("s_a") +:
          words.indices.map(i => col(s"c$i").as(s"a$i")): _*)
        val b = per.select($"source".as("s_b") +:
          words.indices.map(i => col(s"c$i").as(s"b$i")): _*)
        val dot = words.indices.map(i =>
          col(s"a$i").cast("double") * col(s"b$i").cast("double"))
          .reduce(_ + _)
        val na = words.indices.map(i =>
          col(s"a$i").cast("double") * col(s"a$i").cast("double"))
          .reduce(_ + _)
        val nb = words.indices.map(i =>
          col(s"b$i").cast("double") * col(s"b$i").cast("double"))
          .reduce(_ + _)
        a.join(broadcast(b), $"s_a" < $"s_b")
          .select($"s_a", $"s_b",
            floor(dot / (sqrt(na) * sqrt(nb)) * lit(1e9)).cast("long")
              .as("style_cos_e9"))
          .orderBy($"s_a", $"s_b")
      },
      Some("""WITH d AS (SELECT source,
            ' ' || replace(lower(text), ' ', '  ') || ' ' AS t2
          FROM documents),
        per AS (SELECT source,
            CAST(sum((length(t2) - length(replace(t2, ' the ', ''))) // 5) AS BIGINT) AS c0,
            CAST(sum((length(t2) - length(replace(t2, ' a ', ''))) // 3) AS BIGINT) AS c1,
            CAST(sum((length(t2) - length(replace(t2, ' value ', ''))) // 7) AS BIGINT) AS c2,
            CAST(sum((length(t2) - length(replace(t2, ' table ', ''))) // 7) AS BIGINT) AS c3,
            CAST(sum((length(t2) - length(replace(t2, ' fast ', ''))) // 6) AS BIGINT) AS c4,
            CAST(sum((length(t2) - length(replace(t2, ' slow ', ''))) // 6) AS BIGINT) AS c5,
            CAST(sum((length(t2) - length(replace(t2, ' query ', ''))) // 7) AS BIGINT) AS c6,
            CAST(sum((length(t2) - length(replace(t2, ' data ', ''))) // 6) AS BIGINT) AS c7
          FROM d GROUP BY source)
        SELECT a.source AS s_a, b.source AS s_b,
          CAST(floor(
            (CAST(a.c0 AS DOUBLE) * CAST(b.c0 AS DOUBLE)
              + CAST(a.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE)
              + CAST(a.c2 AS DOUBLE) * CAST(b.c2 AS DOUBLE)
              + CAST(a.c3 AS DOUBLE) * CAST(b.c3 AS DOUBLE)
              + CAST(a.c4 AS DOUBLE) * CAST(b.c4 AS DOUBLE)
              + CAST(a.c5 AS DOUBLE) * CAST(b.c5 AS DOUBLE)
              + CAST(a.c6 AS DOUBLE) * CAST(b.c6 AS DOUBLE)
              + CAST(a.c7 AS DOUBLE) * CAST(b.c7 AS DOUBLE))
            / (sqrt(CAST(a.c0 AS DOUBLE) * CAST(a.c0 AS DOUBLE)
                + CAST(a.c1 AS DOUBLE) * CAST(a.c1 AS DOUBLE)
                + CAST(a.c2 AS DOUBLE) * CAST(a.c2 AS DOUBLE)
                + CAST(a.c3 AS DOUBLE) * CAST(a.c3 AS DOUBLE)
                + CAST(a.c4 AS DOUBLE) * CAST(a.c4 AS DOUBLE)
                + CAST(a.c5 AS DOUBLE) * CAST(a.c5 AS DOUBLE)
                + CAST(a.c6 AS DOUBLE) * CAST(a.c6 AS DOUBLE)
                + CAST(a.c7 AS DOUBLE) * CAST(a.c7 AS DOUBLE))
              * sqrt(CAST(b.c0 AS DOUBLE) * CAST(b.c0 AS DOUBLE)
                + CAST(b.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE)
                + CAST(b.c2 AS DOUBLE) * CAST(b.c2 AS DOUBLE)
                + CAST(b.c3 AS DOUBLE) * CAST(b.c3 AS DOUBLE)
                + CAST(b.c4 AS DOUBLE) * CAST(b.c4 AS DOUBLE)
                + CAST(b.c5 AS DOUBLE) * CAST(b.c5 AS DOUBLE)
                + CAST(b.c6 AS DOUBLE) * CAST(b.c6 AS DOUBLE)
                + CAST(b.c7 AS DOUBLE) * CAST(b.c7 AS DOUBLE)))
            * 1e9) AS BIGINT) AS style_cos_e9
        FROM per a JOIN per b ON a.source < b.source
        ORDER BY s_a, s_b""")),

    // ── Active-learning margin sampling (uncertainty batch pick —
    //    Lewis & Gale'94 uncertainty sampling over the library's seeded
    //    32-cell routing model): route every vector against the seeded
    //    centroids (the embed_silhouette pass) and keep the 32 vectors
    //    whose top-2 cell similarities sit CLOSEST — the minimum-margin
    //    batch a label-acquisition loop sends for annotation next.
    //    Margins compare as floor(sim·10⁶) integers (the silhouette
    //    quantization: per-row IEEE bit-identical, integer diff after),
    //    ties to the smaller vec_id — the pick is engine-exact. Shape:
    //    one |corpus|×32 broadcast routing pass + TakeOrdered(32);
    //    nothing corpus-wide shuffles, no global window — at 100 TB it
    //    rides the same audited plan as the silhouette/kmeans family. ───
    QueryDef("sample_uncertainty_margin",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
        val cent = v.orderBy($"vec_id").limit(32)
          .select($"vec_id".as("cell"), $"embedding".as("ce"))
        val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cell")
        val sims = v.crossJoin(broadcast(cent))
          .select($"vec_id", $"cell",
            graft.functions.VectorFunctions.cosineSim($"embedding", $"ce").as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 2)
        sims.groupBy($"vec_id")
          .agg(max(when($"rn" === 1, $"cell")).as("cell_1"),
            max(when($"rn" === 2, $"cell")).as("cell_2"),
            max(when($"rn" === 1,
              floor($"sim" * lit(1000000.0)).cast("long"))).as("s1_x1e6"),
            max(when($"rn" === 2,
              floor($"sim" * lit(1000000.0)).cast("long"))).as("s2_x1e6"))
          .select($"vec_id", $"cell_1", $"cell_2",
            ($"s1_x1e6" - $"s2_x1e6").as("margin_x1e6"))
          .orderBy($"margin_x1e6", $"vec_id").limit(32)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        sims AS (SELECT q.vec_id, t.cell,
            list_cosine_similarity(q.e, t.ce) AS sim,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
          FROM v q CROSS JOIN cent t),
        p AS (SELECT vec_id,
            max(CASE WHEN rn = 1 THEN cell END) AS cell_1,
            max(CASE WHEN rn = 2 THEN cell END) AS cell_2,
            max(CASE WHEN rn = 1
              THEN CAST(floor(sim * 1000000.0) AS BIGINT) END) AS s1_x1e6,
            max(CASE WHEN rn = 2
              THEN CAST(floor(sim * 1000000.0) AS BIGINT) END) AS s2_x1e6
          FROM sims WHERE rn <= 2 GROUP BY vec_id)
        SELECT vec_id, cell_1, cell_2,
          CAST(s1_x1e6 - s2_x1e6 AS BIGINT) AS margin_x1e6
        FROM p ORDER BY margin_x1e6, vec_id LIMIT 32""")),

    // ── Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    //    neural scaling laws": in the abundant-data regime, KEEP the
    //    HARD examples — the ones far from their cluster prototype —
    //    and prune the easy redundant core). Cells come from the seeded
    //    32-centroid assignment; hardness is the distance to the cell's
    //    own MEAN, made exact by cross-multiplication: with q=floor(x·2²⁰)
    //    coordinates and per-cell integer sums S over n members,
    //    n²·‖x−μ‖² = Σ_d (n·q_d − S_d)² — BIGINT terms (n·q < 2³⁸),
    //    squared into DECIMAL(38,0) (< 2⁸³·64 ≈ 3·10²⁶ — the burstiness
    //    envelope), so the within-cell hardness ranking has no IEEE
    //    anywhere. For keep-fractions 50/70/90% the row AT the cut rank
    //    ships (cell, n_kept, threshold d2): the prune manifest a 100 TB
    //    curation run materializes per cell. Shape: one routing pass,
    //    one (cell,dim) hash aggregate broadcast back, one within-cell
    //    rank (32 cells; at petabyte scale the rank-select swaps to the
    //    agg_median_distributed two-pass histogram device). ─────────────
    QueryDef("embed_prune_prototypes",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
        val cent = v.orderBy($"vec_id").limit(32)
          .select($"vec_id".as("cell"), $"embedding".as("ce"))
        val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cell")
        val assign = v.crossJoin(broadcast(cent))
          .select($"vec_id", $"cell",
            graft.functions.VectorFunctions.cosineSim($"embedding", $"ce").as("sim"))
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"vec_id", $"cell")
        val comp = v.select($"vec_id", posexplode($"embedding").as(Seq("j", "x")))
          .select($"vec_id", $"j",
            floor($"x".cast("double") * lit(1048576.0)).cast("long").as("qv"))
          .join(assign, "vec_id")
        val sums = comp.groupBy($"cell", $"j")
          .agg(count(lit(1)).as("n_members"), sum($"qv").as("sv"))
        val dist = comp.join(sums, Seq("cell", "j"))
          .withColumn("t", ($"n_members" * $"qv" - $"sv").cast("decimal(19,0)"))
          .groupBy($"vec_id", $"cell")
          .agg(max($"n_members").as("n_members"), sum($"t" * $"t").as("d2"))
        val wr = Window.partitionBy($"cell").orderBy($"d2".desc, $"vec_id")
        val rnk = dist.withColumn("hard_rank", row_number().over(wr))
        val fracs = Seq(50L, 70L, 90L).toDF("frac_pct")
        rnk.crossJoin(broadcast(fracs))
          .filter($"hard_rank" ===
            greatest(lit(1L), expr("(n_members * frac_pct) DIV 100")))
          .select($"cell", $"frac_pct", $"n_members",
            greatest(lit(1L), expr("(n_members * frac_pct) DIV 100")).as("n_kept"),
            $"d2".cast("string").as("cut_d2"))
          .orderBy($"cell", $"frac_pct")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        comp AS (SELECT vec_id, j,
            CAST(floor(e[j] * 1048576.0) AS BIGINT) AS qv
          FROM v, (SELECT unnest(generate_series(1, 64)) AS j) g),
        ac AS (SELECT c.vec_id, c.j, c.qv, a.cell
          FROM comp c JOIN assign a ON a.vec_id = c.vec_id),
        sums AS (SELECT cell, j, CAST(count(*) AS BIGINT) AS n_members,
            CAST(sum(qv) AS BIGINT) AS sv
          FROM ac GROUP BY cell, j),
        dist AS (SELECT ac.vec_id, ac.cell,
            max(s.n_members) AS n_members,
            CAST(sum(CAST(s.n_members * ac.qv - s.sv AS HUGEINT)
              * (s.n_members * ac.qv - s.sv)) AS DECIMAL(38,0)) AS d2
          FROM ac JOIN sums s ON s.cell = ac.cell AND s.j = ac.j
          GROUP BY ac.vec_id, ac.cell),
        rnk AS (SELECT *, row_number() OVER (PARTITION BY cell
            ORDER BY d2 DESC, vec_id) AS hard_rank FROM dist),
        f AS (SELECT CAST(unnest([50, 70, 90]) AS BIGINT) AS frac_pct)
        SELECT cell, frac_pct, n_members,
          CAST(greatest(1, (n_members * frac_pct) // 100) AS BIGINT) AS n_kept,
          CAST(d2 AS VARCHAR) AS cut_d2
        FROM rnk CROSS JOIN f
        WHERE hard_rank = greatest(1, (n_members * frac_pct) // 100)
        ORDER BY cell, frac_pct""")),

    // ── Exact KNN-Shapley data valuation (Jia et al. 2019, VLDB: for a
    //    K-NN utility the Shapley value of every training point has a
    //    closed recursion over the distance ranks — the one data-
    //    valuation method that is exact at corpus scale instead of
    //    Monte-Carlo). Eval set = the deterministic ≤17-vector stride
    //    sample (the decontaminate_embed device); train = the rest. Per
    //    eval item, train points rank by EXACT integer L2² on
    //    floor(x·2²⁰) coordinates (the kcenter device — no IEEE in the
    //    ranking), then the rank-K=5 recursion runs fully quantized:
    //    contribution at rank i is Δind·((10⁹·min(K,i)) DIV (K·i)) and
    //    the reverse-rank cumulative sum telescopes it — every s-value
    //    is a BIGINT nano-unit, order-free, engine-exact (quantization
    //    error ≤ n·10⁻⁹ per eval item, irrelevant to a valuation
    //    RANKING). Output: top-40 and bottom-40 training points by
    //    summed value. Shape: one broadcast |train|×|eval| scan + per-
    //    eval rank windows (17 partitions); the inherent exact-Shapley
    //    cost is the per-eval sort — at 100 TB the documented route is
    //    rank truncation (tail terms < K/R), same plan shape. ───────────
    QueryDef("embed_knn_shapley",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label",
            transform($"embedding",
              x => floor(x.cast("double") * lit(1048576.0)).cast("long")).as("qe"))
        val cnt = v.agg(count(lit(1)).as("n_vecs"))
        val strided = v.crossJoin(broadcast(cnt))
          .withColumn("stride", expr("greatest(1L, n_vecs DIV 16)"))
        val testSet = strided.filter(pmod($"vec_id", $"stride") === 0)
          .select($"vec_id".as("eval_id"), $"label".as("eval_label"), $"qe".as("ee"))
        val train = strided.filter(pmod($"vec_id", $"stride") =!= 0)
          .select($"vec_id", $"label", $"qe")
        val pairs = train.crossJoin(broadcast(testSet))
          .select($"eval_id", $"vec_id", $"label",
            when($"label" === $"eval_label", 1L).otherwise(0L).as("ind"),
            aggregate(zip_with($"qe", $"ee", (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("d2"))
        val wAsc = Window.partitionBy($"eval_id").orderBy($"d2", $"vec_id")
        val wAll = Window.partitionBy($"eval_id")
        val ranked = pairs
          .withColumn("rn", row_number().over(wAsc))
          .withColumn("n_train", count(lit(1)).over(wAll))
          .withColumn("ind_next", lead($"ind", 1).over(wAsc))
        val contrib = ranked.withColumn("c",
          when($"rn" === $"n_train", $"ind" * expr("1000000000L DIV n_train"))
            .otherwise(($"ind" - $"ind_next") *
              expr("(1000000000L * least(5L, rn)) DIV (5L * rn)")))
        val wCum = Window.partitionBy($"eval_id").orderBy($"rn".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val shap = contrib.withColumn("s_nano", sum($"c").over(wCum))
          .groupBy($"vec_id", $"label")
          .agg(count(lit(1)).as("n_eval"), sum($"s_nano").as("shap_sum_nano"))
          .localCheckpoint()
        val top = shap.orderBy($"shap_sum_nano".desc, $"vec_id").limit(40)
          .withColumn("side", lit("top"))
        val bottom = shap.orderBy($"shap_sum_nano".asc, $"vec_id").limit(40)
          .withColumn("side", lit("bottom"))
        top.unionAll(bottom).orderBy($"side", $"vec_id")
      },
      Some("""WITH raw AS (SELECT vec_id, label,
            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM raw),
        q AS (SELECT vec_id, label, j,
            CAST(floor(e[j] * 1048576.0) AS BIGINT) AS qv
          FROM raw, (SELECT unnest(generate_series(1, 64)) AS j) g),
        ev AS (SELECT vec_id AS eval_id, label AS eval_label, j, qv
          FROM q, nd WHERE vec_id % greatest(1, n_vecs // 16) = 0),
        tr AS (SELECT vec_id, label, j, qv
          FROM q, nd WHERE vec_id % greatest(1, n_vecs // 16) <> 0),
        pairs AS (SELECT e.eval_id, t.vec_id, max(t.label) AS label,
            max(CASE WHEN t.label = e.eval_label THEN 1 ELSE 0 END) AS ind,
            CAST(sum((t.qv - e.qv) * (t.qv - e.qv)) AS BIGINT) AS d2
          FROM tr t JOIN ev e ON e.j = t.j
          GROUP BY e.eval_id, t.vec_id),
        ranked AS (SELECT *,
            row_number() OVER (PARTITION BY eval_id ORDER BY d2, vec_id) AS rn,
            count(*) OVER (PARTITION BY eval_id) AS n_train,
            lead(ind, 1) OVER (PARTITION BY eval_id ORDER BY d2, vec_id)
              AS ind_next
          FROM pairs),
        contrib AS (SELECT *,
            CASE WHEN rn = n_train THEN ind * (1000000000 // n_train)
              ELSE (ind - ind_next)
                * ((1000000000 * least(5, rn)) // (5 * rn)) END AS c
          FROM ranked),
        shap AS (SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_eval,
            CAST(sum(s_nano) AS BIGINT) AS shap_sum_nano FROM (
            SELECT vec_id, label, eval_id,
              sum(c) OVER (PARTITION BY eval_id ORDER BY rn DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_nano
            FROM contrib) t GROUP BY vec_id, label),
        top AS (SELECT vec_id, label, n_eval, shap_sum_nano, 'top' AS side
          FROM shap ORDER BY shap_sum_nano DESC, vec_id LIMIT 40),
        bottom AS (SELECT vec_id, label, n_eval, shap_sum_nano,
            'bottom' AS side
          FROM shap ORDER BY shap_sum_nano ASC, vec_id LIMIT 40)
        SELECT * FROM top UNION ALL SELECT * FROM bottom
        ORDER BY side, vec_id""")),

    // ── ANN index recall gate (the eval every vector-serving deploy
    //    runs before flipping traffic: recall@k of the cheap probe path
    //    against the exact ranking, on a fixed query sample): the
    //    seeded-IVF probe at a DELIBERATELY thin nProbe=8/64 (the
    //    operating point under test) versus bruteForceTopK ground truth
    //    at k=5, per-query hits and integer recall‰. Both legs are the
    //    library's own audited operators and the oracle replays both —
    //    so the measured recall itself (not just the plumbing) is
    //    engine-exact. Shape: the probe leg reads only probed cells,
    //    the truth leg is one broadcast-query corpus scan into the
    //    bounded heap; the |Q|-row join that scores them is noise. ──────
    QueryDef("sim_recall_eval",
      (s, dir) => {
        import s.implicits._
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val ivf = Similarity.ivfTopKSeeded(queries, candidates, k = 5,
            numCentroids = 64, nProbe = 8)
          .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
        val brute = Similarity.bruteForceTopK(queries, candidates, k = 5)
          .select($"query_id", $"neighbor_id")
        brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .groupBy($"query_id")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce($"hit", lit(0L))).as("n_hits"))
          .select($"query_id", $"n_true", $"n_hits",
            expr("n_hits * 1000L DIV n_true").as("recall_permille"))
          .orderBy($"query_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10) WHERE rn <= 8),
        scored AS (SELECT p.qid, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM scored) t WHERE rn <= 5),
        brute AS (SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rn
            FROM v q JOIN v c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 10) t WHERE rn <= 5)
        SELECT b.qid AS query_id, CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hits,
          CAST((sum(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // count(*) AS BIGINT) AS recall_permille
        FROM brute b LEFT JOIN ivf i ON i.qid = b.qid AND i.cid = b.cid
        GROUP BY b.qid ORDER BY query_id""")),

    // ── Randomized response (Warner'65 — the local-DP telemetry
    //    mechanism: each event reports its sensitive bit truthfully
    //    with p=3/4, flipped with 1/4, so no single report reveals the
    //    truth while the aggregate debiases exactly): the coin is the
    //    deterministic md5(event_id) draw (the library's seeded-noise
    //    device — reproducible on any partitioning, replayable by the
    //    oracle), the sensitive bit is "was this a purchase", grouped
    //    monthly. The unbiased estimator (c − n·q)/(p−q) at p=3/4 is
    //    the exact integer (4c − n)/2 — shipped as est_x2 BIGINT with
    //    the true count and |error| beside it, so the privacy/utility
    //    trade is itself the tested output. Shape: one scan, one hash
    //    aggregate; nothing joins, nothing windows. ─────────────────────
    QueryDef("dq_randomized_response",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
        val coin = pmod(conv(substring(md5($"event_id".cast("string")), 1, 8),
          16, 10).cast("long"), lit(4L))
        val b = when($"event_type" === "purchase", 1L).otherwise(0L)
        ev.select(date_trunc("day", $"ts").cast("date").as("day"),
            b.as("b"), coin.as("coin"))
          .withColumn("r", when($"coin" < 3, $"b").otherwise(lit(1L) - $"b"))
          .groupBy($"day")
          .agg(count(lit(1)).as("n_events"),
            sum($"r").as("noisy_cnt"),
            sum($"b").as("true_cnt"))
          .select($"day", $"n_events", $"noisy_cnt",
            (lit(4L) * $"noisy_cnt" - $"n_events").as("est_x2"),
            $"true_cnt",
            abs(lit(4L) * $"noisy_cnt" - $"n_events"
              - lit(2L) * $"true_cnt").as("abs_err_x2"))
          .orderBy($"day")
      },
      Some(s"""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
            ${OracleGen.md5PrefixExpr("md5(CAST(event_id AS VARCHAR))", 8)}
              % 4 AS coin
          FROM events),
        r AS (SELECT day, b,
            CASE WHEN coin < 3 THEN b ELSE 1 - b END AS r FROM e)
        SELECT day, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(r) AS BIGINT) AS noisy_cnt,
          CAST(4 * sum(r) - count(*) AS BIGINT) AS est_x2,
          CAST(sum(b) AS BIGINT) AS true_cnt,
          CAST(abs(4 * sum(r) - count(*) - 2 * sum(b)) AS BIGINT)
            AS abs_err_x2
        FROM r GROUP BY day ORDER BY day""")),

    // ── External clustering quality: ADJUSTED RAND INDEX of the seeded
    //    32-cell k-means assignment against the ground-truth labels —
    //    the eval that tells whether the quantizer's cells mean anything
    //    (silhouette is internal geometry; ARI is agreement with truth).
    //    All pair-counting is EXACT integer: C(x,2) = x(x−1) DIV 2 per
    //    contingency cell / row / column margin (each ≤ C(n,2) ≈ 2·10¹²,
    //    BIGINT), and the permutation-model correction clears the /2s by
    //    scaling both sides: num = 2·C(n,2)·Σij − 2·ΣA·ΣB,
    //    den = C(n,2)·(ΣA+ΣB) − 2·ΣA·ΣB — products ≈ 10²⁵ ride
    //    DECIMAL(38,0) (the burstiness envelope), shipped as canonical
    //    strings beside one IEEE division. Shape: one routing pass, one
    //    ≤32·|labels| contingency hash aggregate, 1-row recombines. ──────
    QueryDef("embed_cluster_ari",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label", $"embedding")
        val cent = v.orderBy($"vec_id").limit(32)
          .select($"vec_id".as("cell"), $"embedding".as("ce"))
        val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cell")
        val assign = v.crossJoin(broadcast(cent))
          .select($"vec_id", $"label", $"cell",
            graft.functions.VectorFunctions.cosineSim($"embedding", $"ce").as("sim"))
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"vec_id", $"label", $"cell")
        // c·(c−1) is always even: the shift IS the /2, and stays BIGINT
        // (a double-division detour loses exactness past 2^53 pairs)
        def comb2(c: org.apache.spark.sql.Column) =
          shiftright(c * (c - lit(1L)), 1)
        val cont = assign.groupBy($"cell", $"label").agg(count(lit(1)).as("nij"))
          .localCheckpoint()
        val sij = cont.agg(sum(comb2($"nij")).as("sum_comb_cont"),
          sum($"nij").as("n"),
          countDistinct($"cell").as("n_cells"),
          countDistinct($"label").as("n_labels"))
        val sa = cont.groupBy($"cell").agg(sum($"nij").as("ai"))
          .agg(sum(comb2($"ai")).as("sum_comb_cells"))
        val sb = cont.groupBy($"label").agg(sum($"nij").as("bj"))
          .agg(sum(comb2($"bj")).as("sum_comb_labels"))
        val dec = "decimal(19,0)"
        sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
          .withColumn("cn2", comb2($"n").cast(dec))
          .withColumn("num",
            (lit(2L).cast(dec) * $"cn2" * $"sum_comb_cont".cast(dec)
              - lit(2L).cast(dec) * $"sum_comb_cells".cast(dec)
                * $"sum_comb_labels".cast(dec)).cast("decimal(38,0)"))
          .withColumn("den",
            ($"cn2" * ($"sum_comb_cells" + $"sum_comb_labels").cast(dec)
              - lit(2L).cast(dec) * $"sum_comb_cells".cast(dec)
                * $"sum_comb_labels".cast(dec)).cast("decimal(38,0)"))
          .select($"n", $"n_cells", $"n_labels",
            $"sum_comb_cont", $"sum_comb_cells", $"sum_comb_labels",
            $"num".cast("string").as("ari_num"),
            $"den".cast("string").as("ari_den"),
            ($"num".cast("double") / $"den".cast("double")).as("ari"))
      },
      Some("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          WHERE rn <= 32),
        assign AS (SELECT vec_id, label, cell FROM (
            SELECT c.vec_id, c.label, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        cont AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS nij
          FROM assign GROUP BY cell, label),
        sij AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sum_comb_cont,
            CAST(sum(nij) AS BIGINT) AS n,
            CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
            CAST(count(DISTINCT label) AS BIGINT) AS n_labels
          FROM cont),
        sa AS (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS sum_comb_cells
          FROM (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY cell)),
        sb AS (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS sum_comb_labels
          FROM (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY label)),
        x AS (SELECT *, CAST(n * (n - 1) // 2 AS HUGEINT) AS cn2
          FROM sij CROSS JOIN sa CROSS JOIN sb)
        SELECT n, n_cells, n_labels,
          sum_comb_cont, sum_comb_cells, sum_comb_labels,
          CAST(CAST(2::HUGEINT * cn2 * sum_comb_cont
            - 2::HUGEINT * sum_comb_cells * sum_comb_labels
            AS DECIMAL(38,0)) AS VARCHAR) AS ari_num,
          CAST(CAST(cn2 * (sum_comb_cells + sum_comb_labels)
            - 2::HUGEINT * sum_comb_cells * sum_comb_labels
            AS DECIMAL(38,0)) AS VARCHAR) AS ari_den,
          CAST(CAST(2::HUGEINT * cn2 * sum_comb_cont
              - 2::HUGEINT * sum_comb_cells * sum_comb_labels
              AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST(cn2 * (sum_comb_cells + sum_comb_labels)
              - 2::HUGEINT * sum_comb_cells * sum_comb_labels
              AS DECIMAL(38,0)) AS DOUBLE) AS ari
        FROM x""")),

    // ── Vocabulary coverage planning (Good–Turing + Chao1 — "how much
    //    unseen vocabulary is left", the corpus-sizing question a
    //    tokenizer/pretraining plan starts from): per language, token
    //    count N, type count V, hapax n₁ and dis-legomena n₂ off one
    //    (lang, token) hash aggregate; Good–Turing unseen-mass
    //    P(next token is new) ≈ n₁/N in integer ppm, and the
    //    bias-corrected Chao1 richness V + n₁(n₁−1)/(2(n₂+1)) as an
    //    EXACT rational (num/den BIGINTs — defined even at n₂=0)
    //    beside one IEEE division. Two hash aggregates, no joins, no
    //    windows — the 100 TB plan is the same two map-side-combinable
    //    aggregates. ─────────────────────────────────────────────────────
    QueryDef("text_vocab_coverage",
      (s, dir) => {
        import s.implicits._
        val tf = Tables.load(s, dir, "documents")
          .select($"lang", explode(tokens($"text")).as("tok"))
          .groupBy($"lang", $"tok").agg(count(lit(1)).as("tf"))
        tf.groupBy($"lang")
          .agg(sum($"tf").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when($"tf" === 1L, 1L).otherwise(0L)).as("n_hapax"),
            sum(when($"tf" === 2L, 1L).otherwise(0L)).as("n_dis"))
          .select($"lang", $"n_tokens", $"n_types", $"n_hapax", $"n_dis",
            expr("n_hapax * 1000000L DIV n_tokens").as("gt_unseen_ppm"),
            ($"n_types" * lit(2L) * ($"n_dis" + lit(1L))
              + $"n_hapax" * ($"n_hapax" - lit(1L))).as("chao1_num"),
            (lit(2L) * ($"n_dis" + lit(1L))).as("chao1_den"))
          .withColumn("chao1",
            $"chao1_num".cast("double") / $"chao1_den".cast("double"))
          .orderBy($"lang")
      },
      Some("""WITH t AS (SELECT lang,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tf AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS tf
          FROM t GROUP BY lang, tok),
        g AS (SELECT lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
            CAST(sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
          FROM tf GROUP BY lang)
        SELECT lang, n_tokens, n_types, n_hapax, n_dis,
          CAST(n_hapax * 1000000 // n_tokens AS BIGINT) AS gt_unseen_ppm,
          CAST(n_types * 2 * (n_dis + 1) + n_hapax * (n_hapax - 1) AS BIGINT)
            AS chao1_num,
          CAST(2 * (n_dis + 1) AS BIGINT) AS chao1_den,
          CAST(n_types * 2 * (n_dis + 1) + n_hapax * (n_hapax - 1) AS DOUBLE)
            / CAST(2 * (n_dis + 1) AS DOUBLE) AS chao1
        FROM g ORDER BY lang""")),

    // ── IVF index balance audit (the index-health gate beside
    //    sim_recall_eval: recall says "does it find things", balance
    //    says "will the hot cell be a tail-latency wall"): cell sizes
    //    off the persisted-shape assignment table, imbalance factor
    //    λ = C·Σn_c²/n² (=1 uniform, →C one hot cell) as an EXACT
    //    integer rational (Σn_c² ≤ n² ≈ 4·10¹², ×C=64 still BIGINT)
    //    beside one IEEE division, plus the min/max/used-cell extremes.
    //    One routing pass + one |cells|-row aggregate. ───────────────────
    QueryDef("sim_index_ivf_balance",
      (s, dir) => {
        import s.implicits._
        val candidates = Tables.load(s, dir, "embeddings")
          .select($"vec_id".as("cid"), $"embedding".as("cvec"))
        val cells = Similarity.ivfIndex(candidates, numCentroids = 64)._2
          .groupBy($"cell").agg(count(lit(1)).as("cnt"))
        cells.agg(sum($"cnt").as("n_vectors"),
            count(lit(1)).as("n_cells_used"),
            max($"cnt").as("max_cell"),
            min($"cnt").as("min_cell"),
            sum($"cnt" * $"cnt").as("sum_sq"))
          .select($"n_vectors", $"n_cells_used", $"max_cell", $"min_cell",
            (lit(64L) * $"sum_sq").as("imbalance_num"),
            ($"n_vectors" * $"n_vectors").as("imbalance_den"),
            ((lit(64L) * $"sum_sq").cast("double")
              / ($"n_vectors" * $"n_vectors").cast("double")).as("imbalance"))
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt
          FROM assign GROUP BY cell)
        SELECT CAST(sum(cnt) AS BIGINT) AS n_vectors,
          CAST(count(*) AS BIGINT) AS n_cells_used,
          max(cnt) AS max_cell, min(cnt) AS min_cell,
          CAST(64 * sum(cnt * cnt) AS BIGINT) AS imbalance_num,
          CAST(sum(cnt) * sum(cnt) AS BIGINT) AS imbalance_den,
          CAST(64 * sum(cnt * cnt) AS DOUBLE)
            / CAST(sum(cnt) * sum(cnt) AS DOUBLE) AS imbalance
        FROM cells""")),

    // ── Onion (doc-level) dedup share (Pomikálek 2011 — the corpus
    //    hygiene rule between full-doc hashing and substring surgery:
    //    DROP a document when most of its content already appeared in
    //    EARLIER documents, keep it untouched otherwise): every
    //    overlapping 8-token window off the same O(n) kernel scan as
    //    dedup_substring_exact, but the rule is per-DOC — a window is
    //    stale iff its corpus-wide FIRST document is an earlier doc
    //    (within-doc repeats don't count against their own doc; the
    //    substring form handles those), drop when stale windows exceed
    //    half. Per-source scoreboard ships doc/drop counts and window
    //    mass. Shape: kernel scan → (h → min doc) hash aggregate →
    //    co-keyed join-back → two hash aggregates; nothing windows. ──────
    QueryDef("dedup_onion_share",
      (s, dir) => Dedup.onionDocShare(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", windowTokens = 8, dropPermille = 500)
        .orderBy("source"),
      Some {
        val foldExpr =
          s"""list_reduce(list_prepend(0::HUGEINT,
            [${OracleGen.md5Low64Expr("md5(tok)")} FOR tok IN toks[i:i+7]]),
            (acc, x) -> (acc * 1000003::HUGEINT + x)
              % 18446744073709551616::HUGEINT)"""
        s"""WITH t AS (SELECT doc_id, source,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        w0 AS (SELECT doc_id, toks,
            unnest(generate_series(1, len(toks) - 7)) AS i FROM t),
        wh AS (SELECT doc_id, $foldExpr AS h FROM w0),
        fst AS (SELECT h, min(doc_id) AS first_id FROM wh GROUP BY h),
        d AS (SELECT wh.doc_id, CAST(count(*) AS BIGINT) AS n_w,
            CAST(sum(CASE WHEN f.first_id < wh.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_stale
          FROM wh JOIN fst f ON wh.h = f.h GROUP BY wh.doc_id),
        a AS (SELECT t.source, coalesce(d.n_w, 0) AS n_w,
            coalesce(d.n_stale, 0) AS n_stale,
            CASE WHEN coalesce(d.n_stale, 0) * 1000
              > coalesce(d.n_w, 0) * 500 THEN 1 ELSE 0 END AS dropped
          FROM t LEFT JOIN d ON t.doc_id = d.doc_id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(dropped) AS BIGINT) AS n_dropped,
          CAST(sum(dropped) * 1000000 // count(*) AS BIGINT) AS dropped_ppm,
          CAST(sum(n_w) AS BIGINT) AS total_windows,
          CAST(sum(n_stale) AS BIGINT) AS stale_windows
        FROM a GROUP BY source ORDER BY source"""
      }),

    // ── Shadow A/B of two index configs (the serving experiment run
    //    BEFORE flipping an ANN tier's probe budget: route the same
    //    query batch through config A (nProbe=8) and config B
    //    (nProbe=24) and score how much the RANKINGS move): per query,
    //    top-5 overlap plus truncated RANK-BIASED OVERLAP at p=1/2
    //    (Webber et al. 2010 — depth-discounted agreement, the standard
    //    search-AB ranking-similarity metric). RBO@5 with p=1/2 is an
    //    EXACT integer rational: Σ_d o_d/(d·2^d) over common
    //    denominator 1920 gives per-depth weights (960,240,80,30,12) —
    //    BIGINT counting, one IEEE division for display. Shape: two
    //    probe passes over the SAME seeded index + a ≤|Q|·k join;
    //    nothing new shuffles. ─────────────────────────────────────────
    QueryDef("sim_index_shadow_ab",
      (s, dir) => {
        import s.implicits._
        val (queries, candidates) = querySplit(Tables.load(s, dir, "embeddings"))
        val a = Similarity.ivfTopKSeeded(queries, candidates, k = 5,
            numCentroids = 64, nProbe = 8)
          .select($"query_id", $"neighbor_id", $"rank".as("ra"))
        val b = Similarity.ivfTopKSeeded(queries, candidates, k = 5,
            numCentroids = 64, nProbe = 24)
          .select($"query_id", $"neighbor_id", $"rank".as("rb"))
        val weights = Seq((1, 960L), (2, 240L), (3, 80L), (4, 30L), (5, 12L))
        val aggs = weights.map { case (d, w) =>
          sum(when($"ra" <= d && $"rb" <= d, lit(w)).otherwise(0L)).as(s"w$d")
        } :+ count(lit(1)).as("overlap_at5")
        val od = a.join(b, Seq("query_id", "neighbor_id"))
          .groupBy($"query_id")
          .agg(aggs.head, aggs.tail: _*)
        a.select($"query_id").distinct()
          .join(od, Seq("query_id"), "left")
          .select($"query_id",
            coalesce($"overlap_at5", lit(0L)).as("overlap_at5"),
            (coalesce($"w1", lit(0L)) + coalesce($"w2", lit(0L))
              + coalesce($"w3", lit(0L)) + coalesce($"w4", lit(0L))
              + coalesce($"w5", lit(0L))).as("rbo_num"),
            lit(1920L).as("rbo_den"))
          .withColumn("rbo", $"rbo_num".cast("double") / lit(1920.0d))
          .orderBy($"query_id")
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 64),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        pr AS (SELECT qid, cell, rn FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t WHERE q.vec_id < 10) WHERE rn <= 24),
        sc AS (SELECT p.qid, p.rn AS prn, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM pr p JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        ra AS (SELECT qid, cid, rn AS ra FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM sc WHERE prn <= 8) t WHERE rn <= 5),
        rb AS (SELECT qid, cid, rn AS rb FROM (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM sc) t WHERE rn <= 5),
        od AS (SELECT ra.qid,
            CAST(count(*) AS BIGINT) AS overlap_at5,
            CAST(sum(CASE WHEN ra <= 1 AND rb <= 1 THEN 960 ELSE 0 END)
              + sum(CASE WHEN ra <= 2 AND rb <= 2 THEN 240 ELSE 0 END)
              + sum(CASE WHEN ra <= 3 AND rb <= 3 THEN 80 ELSE 0 END)
              + sum(CASE WHEN ra <= 4 AND rb <= 4 THEN 30 ELSE 0 END)
              + sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 12 ELSE 0 END)
              AS BIGINT) AS rbo_num
          FROM ra JOIN rb ON ra.qid = rb.qid AND ra.cid = rb.cid
          GROUP BY ra.qid),
        ql AS (SELECT DISTINCT vec_id AS query_id FROM v WHERE vec_id < 10)
        SELECT q.query_id,
          coalesce(od.overlap_at5, 0) AS overlap_at5,
          coalesce(od.rbo_num, 0) AS rbo_num,
          CAST(1920 AS BIGINT) AS rbo_den,
          CAST(coalesce(od.rbo_num, 0) AS DOUBLE) / 1920.0 AS rbo
        FROM ql q LEFT JOIN od ON od.qid = q.query_id
        ORDER BY q.query_id""")),

    // ── Language-ID confusion matrix (the eval FOR the library's own
    //    langid heuristic, against the corpus's ground-truth lang
    //    column — text_lang_quality groups by prediction only; this is
    //    the full confusion relation a model card reports): per
    //    (true, predicted) cell count, row/column margins via windows
    //    over the ≤|langs|² REDUCED cell table only, per-cell share of
    //    its true-language row in integer ppm, diagonal flag. One
    //    kernel scan + one hash aggregate. ────────────────────────────────
    QueryDef("text_langid_eval",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cells = Tables.load(s, dir, "documents")
          .select($"lang", graft.functions.TextHashFunctions
            .textLangId($"text").as("lang_pred"))
          .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
        cells
          .withColumn("n_true", sum($"n").over(Window.partitionBy($"lang")))
          .withColumn("n_pred", sum($"n").over(Window.partitionBy($"lang_pred")))
          .select($"lang", $"lang_pred", $"n", $"n_true", $"n_pred",
            expr("n * 1000000L DIV n_true").as("row_share_ppm"),
            when($"lang" === $"lang_pred", 1L).otherwise(0L).as("correct"))
          .orderBy($"lang", $"lang_pred")
      },
      Some("""WITH t AS (
          SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS toks, text
          FROM documents),
        m AS (SELECT lang, toks, text,
          len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that'))) AS en,
          len(list_filter(toks, x -> x IN ('el','la','los','las','una','por','con'))) AS es,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
          len(list_filter(toks, x -> x IN ('le','les','des','une','est','dans'))) AS fr
          FROM t),
        p AS (SELECT lang,
          CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
               WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
               WHEN en >= es AND en >= de AND en >= fr THEN 'en'
               WHEN es >= de AND es >= fr THEN 'es'
               WHEN de >= fr THEN 'de'
               ELSE 'fr' END AS lang_pred
          FROM m),
        cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY lang, lang_pred),
        w AS (SELECT *,
            CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
            CAST(sum(n) OVER (PARTITION BY lang_pred) AS BIGINT) AS n_pred
          FROM cells)
        SELECT lang, lang_pred, n, n_true, n_pred,
          CAST(n * 1000000 // n_true AS BIGINT) AS row_share_ppm,
          CAST(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS BIGINT) AS correct
        FROM w ORDER BY lang, lang_pred""")),

    // ── Local Outlier Factor (Breunig et al. 2000 — the density-ratio
    //    anomaly score for embedding spaces: a point is anomalous when
    //    its local density is low RELATIVE to its neighbors', which
    //    catches outliers global distance thresholds miss): built
    //    entirely on the audited sub-quadratic IVF kNN JOIN
    //    (sim_knn_join's plan — the production neighbor graph, a pure
    //    function of the data, so the whole chain replays). Distances
    //    quantize once to floor((1−sim)·10⁹) BIGINT, making k-distance,
    //    reach-distance and the Σreach sums EXACT integers; the only
    //    IEEE is the final lrd-ratio fold, taken in neighbor-rank order
    //    (sort_array ≡ list ORDER BY) from those integers. Zero-sum
    //    degenerates (a point whose 5 neighbors are all identical to
    //    it) ship lof=−1 rather than dividing by zero. Top-20 by score.
    //    Shape: one kNN join + three keyed hash joins on its ≤5n-row
    //    output + TakeOrdered — nothing new is corpus-quadratic. ─────────
    QueryDef("embed_lof_outliers",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.load(s, dir, "embeddings")
          .select($"vec_id".as("vid"), $"embedding".as("vec"))
        val knn = Similarity.ivfKnnJoinSeeded(emb, k = 5, nProbe = 8)
          .select($"query_id".as("qid"), $"neighbor_id".as("cid"),
            $"rank".as("rn"),
            floor((lit(1.0d) - $"sim") * lit(1000000000.0d)).cast("long")
              .as("dq"))
          .localCheckpoint()
        val kd = knn.groupBy($"qid").agg(max($"dq").as("kdist"))
        val re = knn
          .join(kd.withColumnRenamed("qid", "cid"), "cid")
          .select($"qid", greatest($"dq", $"kdist").as("reach"))
        val sTab = re.groupBy($"qid")
          .agg(sum($"reach").as("s_sum"), count(lit(1)).as("deg"))
          .localCheckpoint()
        val terms = knn
          .join(sTab.select($"qid".as("cid"), $"s_sum".as("s_o"),
            $"deg".as("deg_o")), "cid")
          .select($"qid", $"rn",
            when($"s_o" > 0L, $"deg_o".cast("double") / $"s_o".cast("double"))
              .otherwise(lit(0.0d)).as("term"))
        val folded = terms.groupBy($"qid")
          .agg(sort_array(collect_list(struct($"rn", $"term"))).as("ts"))
          .select($"qid",
            aggregate($"ts".getField("term"), lit(0.0d), (a, x) => a + x)
              .as("ratio_sum"))
        sTab.join(folded, "qid")
          .select($"qid".as("vec_id"), $"deg", $"s_sum",
            when($"s_sum" > 0L,
              floor($"s_sum".cast("double") * $"ratio_sum"
                / ($"deg" * $"deg").cast("double") * lit(1000000.0d))
                .cast("long"))
              .otherwise(lit(-1L)).as("lof_e6"))
          .orderBy($"lof_e6".desc, $"vec_id").limit(20)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        w AS (SELECT (1::BIGINT << ((length(format('{:b}', 8 * count(*) - 1)) + 1) // 2)) AS nc
          FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM
          (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
          CROSS JOIN w WHERE rn <= nc),
        assign AS (SELECT vec_id, cell FROM (
            SELECT c.vec_id, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell) AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        probes AS (SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, t.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, t.ce) DESC, t.cell) AS rn
            FROM v q CROSS JOIN cent t) WHERE rn <= 8),
        scored AS (SELECT p.qid, a.vec_id AS cid,
            list_cosine_similarity(q.e, c.e) AS sim
          FROM probes p
          JOIN assign a ON a.cell = p.cell
          JOIN v q ON q.vec_id = p.qid
          JOIN v c ON c.vec_id = a.vec_id
          WHERE p.qid <> a.vec_id),
        r AS (SELECT qid, cid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM scored),
        n5 AS (SELECT qid, cid, rn,
            CAST(floor((1.0 - sim) * 1000000000.0) AS BIGINT) AS dq
          FROM r WHERE rn <= 5),
        kd AS (SELECT qid AS cid, max(dq) AS kdist FROM n5 GROUP BY qid),
        re AS (SELECT a.qid, greatest(a.dq, k.kdist) AS reach
          FROM n5 a JOIN kd k USING (cid)),
        s AS (SELECT qid, CAST(sum(reach) AS BIGINT) AS s_sum,
            CAST(count(*) AS BIGINT) AS deg
          FROM re GROUP BY qid),
        tm AS (SELECT a.qid, a.rn,
            CASE WHEN so.s_sum > 0
              THEN CAST(so.deg AS DOUBLE) / CAST(so.s_sum AS DOUBLE)
              ELSE 0.0 END AS term
          FROM n5 a JOIN s so ON so.qid = a.cid),
        fo AS (SELECT qid, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(term ORDER BY rn)), (p, q) -> p + q) AS ratio_sum
          FROM tm GROUP BY qid)
        SELECT s.qid AS vec_id, s.deg, s.s_sum,
          CASE WHEN s.s_sum > 0 THEN
            CAST(floor(CAST(s.s_sum AS DOUBLE) * fo.ratio_sum
              / CAST(s.deg * s.deg AS DOUBLE) * 1000000.0) AS BIGINT)
          ELSE -1 END AS lof_e6
        FROM s JOIN fo USING (qid)
        ORDER BY lof_e6 DESC, vec_id LIMIT 20""")),

    // ── PPS systematic sampling (probability-proportional-to-size with
    //    the midpoint systematic start — Madow's method, the weighted
    //    design beside `sample_neyman_allocation`'s stratified one):
    //    per source, 10 picks land at char-mass positions
    //    start + i·stride (stride = T DIV 10, start = stride DIV 2 —
    //    fully deterministic, no seed), and a doc is drawn once per
    //    pick inside its cumulative interval, so long docs can carry
    //    multiplicity — exactly PPS-with-replacement. The pick-count
    //    arithmetic is pure nonnegative integer division (the
    //    count-below function c(x) = ((x−start−1) DIV stride)+1 capped
    //    at 10, hits = c(cum)−c(prev)); inclusion expectation ships in
    //    ppm. Per-source prefix sums ride source-partitioned windows
    //    (the audit-clean shape; at 100 TB the standard two-pass
    //    partition-offset prefix device replaces them, same algebra). ────
    QueryDef("sample_pps_systematic",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars")
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        val cum = d.withColumn("cum", sum($"n_chars").over(w))
          .withColumn("prev", $"cum" - $"n_chars")
        val tot = d.groupBy($"source")
          .agg(sum($"n_chars").as("t"))
        cum.join(tot, "source")
          .withColumn("stride", expr("greatest(1L, t DIV 10)"))
          .withColumn("start", expr("stride DIV 2"))
          .withColumn("c_hi", expr(
            "least(CASE WHEN cum <= start THEN 0L ELSE (cum - start - 1) DIV stride + 1L END, 10L)"))
          .withColumn("c_lo", expr(
            "least(CASE WHEN prev <= start THEN 0L ELSE (prev - start - 1) DIV stride + 1L END, 10L)"))
          .withColumn("hits", $"c_hi" - $"c_lo")
          .filter($"hits" > 0L)
          .select($"source", $"doc_id", $"n_chars", $"hits",
            expr("least(1000000L, n_chars * 10L * 1000000L DIV t)")
              .as("incl_ppm"))
          .orderBy($"source", $"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        c AS (SELECT *,
            CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM d),
        tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t
          FROM d GROUP BY source),
        j AS (SELECT c.source, c.doc_id, c.n_chars,
            c.cum, c.cum - c.n_chars AS prev,
            greatest(1, tot.t // 10) AS stride, tot.t AS t
          FROM c JOIN tot ON tot.source = c.source),
        h AS (SELECT *, stride // 2 AS strt,
            least(CASE WHEN cum <= stride // 2 THEN 0
              ELSE (cum - stride // 2 - 1) // stride + 1 END, 10) AS c_hi,
            least(CASE WHEN prev <= stride // 2 THEN 0
              ELSE (prev - stride // 2 - 1) // stride + 1 END, 10) AS c_lo
          FROM j)
        SELECT source, doc_id, n_chars,
          CAST(c_hi - c_lo AS BIGINT) AS hits,
          CAST(least(1000000, n_chars * 10 * 1000000 // t) AS BIGINT)
            AS incl_ppm
        FROM h WHERE c_hi - c_lo > 0
        ORDER BY source, doc_id""")),

    // ── TRUNCATED KNN-Shapley — the 100 TB form embed_knn_shapley's
    //    scaladoc routes to, implemented: only each eval item's top-R
    //    (R=128) nearest training points enter the recursion, and they
    //    arrive through the bounded-heap TopKPairs aggregate (k-sized
    //    state per partition, |R| rows per eval cross the wire) instead
    //    of a per-eval global sort — the fat |train|-row rank windows
    //    disappear from the plan; the recursion windows run over
    //    |eval|·R rows only. Scores use the exact negated integer-L2²
    //    (< 2⁴⁸, exactly representable in the heap's double; ties to the
    //    smaller id ≡ ORDER BY d2, vec_id). The estimator runs the
    //    IDENTICAL quantized recursion with the horizon R in place of
    //    n — each ignored tail term is bounded by K/i < K/R, and
    //    unranked points (never in any top-R) simply carry no value,
    //    which is the estimator's semantics, not an approximation of
    //    this query. Agreement with the exact form is spec-pinned at
    //    sf0.001 where truncation actually bites (R=128 < n=183). ────────
    QueryDef("embed_knn_shapley_trunc",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label",
            transform($"embedding",
              x => floor(x.cast("double") * lit(1048576.0)).cast("long")).as("qe"))
        val cnt = v.agg(count(lit(1)).as("n_vecs"))
        val strided = v.crossJoin(broadcast(cnt))
          .withColumn("stride", expr("greatest(1L, n_vecs DIV 16)"))
        val testSet = strided.filter(pmod($"vec_id", $"stride") === 0)
          .select($"vec_id".as("eval_id"), $"label".as("eval_label"),
            $"qe".as("ee"))
        val train = strided.filter(pmod($"vec_id", $"stride") =!= 0)
          .select($"vec_id", $"label", $"qe")
        val labels = train.select($"vec_id".as("id"), $"label")
        val pairs = train.crossJoin(broadcast(testSet))
          .select($"eval_id",
            struct(
              (aggregate(zip_with($"qe", $"ee", (a, b) => (a - b) * (a - b)),
                lit(0L), (acc, x) => acc + x) * lit(-1L)).cast("double")
                .as("score"),
              $"vec_id".as("id")).as("p"))
        val ranked = pairs.groupBy($"eval_id")
          .agg(graft.functions.TopKFunctions.topKPairs($"p", 128).as("top"))
          .select($"eval_id", posexplode($"top").as(Seq("pos", "e")))
          .select($"eval_id", ($"pos" + 1).cast("long").as("rn"),
            $"e.id".as("id"))
          .join(labels, "id")
          .join(broadcast(testSet.select($"eval_id", $"eval_label")), "eval_id")
          .select($"eval_id", $"id", $"label", $"rn",
            when($"label" === $"eval_label", 1L).otherwise(0L).as("ind"))
        val wAsc = Window.partitionBy($"eval_id").orderBy($"rn")
        val wAll = Window.partitionBy($"eval_id")
        val contrib = ranked
          .withColumn("r_eff", count(lit(1)).over(wAll))
          .withColumn("ind_next", lead($"ind", 1).over(wAsc))
          .withColumn("c",
            when($"rn" === $"r_eff", $"ind" * expr("1000000000L DIV r_eff"))
              .otherwise(($"ind" - $"ind_next") *
                expr("(1000000000L * least(5L, rn)) DIV (5L * rn)")))
        val wCum = Window.partitionBy($"eval_id").orderBy($"rn".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val shap = contrib.withColumn("s_nano", sum($"c").over(wCum))
          .groupBy($"id", $"label")
          .agg(count(lit(1)).as("n_eval"), sum($"s_nano").as("shap_sum_nano"))
          .localCheckpoint()
        val top = shap.orderBy($"shap_sum_nano".desc, $"id").limit(40)
          .withColumn("side", lit("top"))
        val bottom = shap.orderBy($"shap_sum_nano".asc, $"id").limit(40)
          .withColumn("side", lit("bottom"))
        top.unionAll(bottom)
          .select($"id".as("vec_id"), $"label", $"n_eval", $"shap_sum_nano",
            $"side")
          .orderBy($"side", $"vec_id")
      },
      Some("""WITH raw AS (SELECT vec_id, label,
            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM raw),
        q AS (SELECT vec_id, label, j,
            CAST(floor(e[j] * 1048576.0) AS BIGINT) AS qv
          FROM raw, (SELECT unnest(generate_series(1, 64)) AS j) g),
        ev AS (SELECT vec_id AS eval_id, label AS eval_label, j, qv
          FROM q, nd WHERE vec_id % greatest(1, n_vecs // 16) = 0),
        tr AS (SELECT vec_id, label, j, qv
          FROM q, nd WHERE vec_id % greatest(1, n_vecs // 16) <> 0),
        pairs AS (SELECT e.eval_id, t.vec_id, max(t.label) AS label,
            max(CASE WHEN t.label = e.eval_label THEN 1 ELSE 0 END) AS ind,
            CAST(sum((t.qv - e.qv) * (t.qv - e.qv)) AS BIGINT) AS d2
          FROM tr t JOIN ev e ON e.j = t.j
          GROUP BY e.eval_id, t.vec_id),
        topr AS (SELECT * FROM (SELECT *,
            row_number() OVER (PARTITION BY eval_id ORDER BY d2, vec_id) AS rn
          FROM pairs) t WHERE rn <= 128),
        ranked AS (SELECT *,
            count(*) OVER (PARTITION BY eval_id) AS r_eff,
            lead(ind, 1) OVER (PARTITION BY eval_id ORDER BY rn) AS ind_next
          FROM topr),
        contrib AS (SELECT *,
            CASE WHEN rn = r_eff THEN ind * (1000000000 // r_eff)
              ELSE (ind - ind_next)
                * ((1000000000 * least(5, rn)) // (5 * rn)) END AS c
          FROM ranked),
        shap AS (SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_eval,
            CAST(sum(s_nano) AS BIGINT) AS shap_sum_nano FROM (
            SELECT vec_id, label, eval_id,
              sum(c) OVER (PARTITION BY eval_id ORDER BY rn DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_nano
            FROM contrib) t GROUP BY vec_id, label),
        top AS (SELECT vec_id, label, n_eval, shap_sum_nano, 'top' AS side
          FROM shap ORDER BY shap_sum_nano DESC, vec_id LIMIT 40),
        bottom AS (SELECT vec_id, label, n_eval, shap_sum_nano,
            'bottom' AS side
          FROM shap ORDER BY shap_sum_nano ASC, vec_id LIMIT 40)
        SELECT * FROM top UNION ALL SELECT * FROM bottom
        ORDER BY side, vec_id""")),

    // ── t-closeness audit (Li et al. 2007 — the privacy gate BEYOND
    //    dq_k_anonymity's k/l: a QI group can be large (k-safe) and
    //    l-diverse yet still leak if its sensitive-attribute
    //    DISTRIBUTION differs sharply from the corpus-wide one; t-close
    //    means every group's distance to the global distribution stays
    //    under t): QI = (source, 100-char band), sensitive = lang,
    //    distance = total variation (the categorical EMD). Exactness:
    //    TV is computed in cross-multiplied integers —
    //    Σ|c_gl·N − c_l·n_g| over a group×lang frame, decimal(38)
    //    products so 100 TB counts can't overflow, then ONE integral
    //    division to ppm (Spark `div` ≡ DuckDB `//` on nonnegatives).
    //    Scale: one corpus aggregate builds the (group, lang) cells;
    //    the |groups|×|langs| recombine joins a broadcast |langs| dim —
    //    no corpus-sized shuffle beyond the first groupBy. ────────────
    QueryDef("dq_t_closeness",
      (s, dir) => {
        import s.implicits._
        val g = Tables.load(s, dir, "documents")
          .select($"source",
            ($"n_chars" - pmod($"n_chars", lit(100L))).as("band"), $"lang")
          .groupBy($"source", $"band", $"lang").agg(count(lit(1)).as("c"))
        val gn = g.groupBy($"source", $"band").agg(sum($"c").as("n_g"))
        val l = g.groupBy($"lang").agg(sum($"c").as("c_l"))
        val t = g.agg(sum($"c").as("n"))
        val gl = gn.crossJoin(broadcast(l))
          .join(g, Seq("source", "band", "lang"), "left")
          .na.fill(0L, Seq("c"))
        val tv = gl.crossJoin(broadcast(t))
          .groupBy($"source", $"band")
          .agg(max($"n_g").as("n_g"), max($"n").as("n"),
            sum(abs($"c".cast("decimal(38,0)") * $"n"
              - $"c_l".cast("decimal(38,0)") * $"n_g")).as("s"))
        val tc = tv.select($"source", $"band", $"n_g",
          expr("CAST((s * 1000000) div (2 * CAST(n_g AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("tc_ppm"))
        tc.groupBy($"source")
          .agg(count(lit(1)).as("n_groups"),
            max($"tc_ppm").as("max_tc_ppm"),
            sum(when($"tc_ppm" > 250000L, 1L).otherwise(0L))
              .as("n_violations"),
            sum(when($"tc_ppm" > 250000L, $"n_g").otherwise(0L))
              .as("records_at_risk"),
            pmod(max($"tc_ppm" * 100000L + $"band"), lit(100000L))
              .as("worst_band"))
          .orderBy($"source")
      },
      Some("""WITH g AS (SELECT source, n_chars - n_chars % 100 AS band,
            lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2, 3),
        gn AS (SELECT source, band, CAST(sum(c) AS BIGINT) AS n_g
          FROM g GROUP BY 1, 2),
        l AS (SELECT lang, CAST(sum(c) AS BIGINT) AS c_l FROM g GROUP BY 1),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
        gl AS (SELECT gn.source, gn.band, gn.n_g, l.lang, l.c_l,
            coalesce(g.c, 0) AS c_gl
          FROM gn CROSS JOIN l LEFT JOIN g
            ON g.source = gn.source AND g.band = gn.band AND g.lang = l.lang),
        tv AS (SELECT gl.source, gl.band, max(gl.n_g) AS n_g,
            sum(abs(CAST(c_gl AS HUGEINT) * t.n
              - CAST(c_l AS HUGEINT) * gl.n_g)) AS s
          FROM gl, t GROUP BY 1, 2),
        tc AS (SELECT tv.source, tv.band, tv.n_g,
            CAST(s * 1000000 // (2 * CAST(n_g AS HUGEINT) * t.n) AS BIGINT)
              AS tc_ppm
          FROM tv, t)
        SELECT source, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(max(tc_ppm) AS BIGINT) AS max_tc_ppm,
          CAST(sum(CASE WHEN tc_ppm > 250000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violations,
          CAST(sum(CASE WHEN tc_ppm > 250000 THEN n_g ELSE 0 END) AS BIGINT)
            AS records_at_risk,
          CAST(max(tc_ppm * 100000 + band) % 100000 AS BIGINT) AS worst_band
        FROM tc GROUP BY source ORDER BY source""")),

    // ── MMD two-sample drift test on embeddings (Gretton et al. 2012 —
    //    the kernel two-sample statistic beside embed_energy_distance;
    //    the POLYNOMIAL kernel k(x,y) = (c + ⟨x,y⟩)² keeps every kernel
    //    value an exact integer, where the classic RBF's exp() would pin
    //    the whole statistic to libm): sides = label<5 vs label≥5,
    //    deterministic stride sample ≤ ~256/side at ANY corpus size
    //    (the dedup_lsh_eval bounding device, so the quadratic pair
    //    stage is a bounded eval cost, never a scale wall), coordinates
    //    quantized to floor(e·2¹⁰) so |⟨x,y⟩| < 2²⁶ = c and each kernel
    //    term ≤ 2⁵⁴ is long-exact; sums in decimal(38,0); biased
    //    MMD² = Sxx/nx² + Syy/ny² − 2Sxy/(nx·ny) emitted as ONE exact
    //    integral division over the common denominator (≥ 0 for a PD
    //    kernel — safe for trunc-vs-floor divide parity). ─────────────
    QueryDef("embed_mmd_drift",
      (s, dir) => {
        import s.implicits._
        val raw = Tables.load(s, dir, "embeddings")
          .select($"vec_id",
            when($"label" < 5L, "a").otherwise("b").as("side"), $"embedding")
        val nc = raw.groupBy($"side").agg(count(lit(1)).as("n_side"))
        val samp = raw.join(broadcast(nc), "side")
          .filter(pmod($"vec_id", expr("greatest(1L, n_side DIV 128)")) === 0L)
          .select($"vec_id", $"side",
            transform($"embedding",
              x => floor(x.cast("double") * lit(1024.0)).cast("long")).as("q"))
          .localCheckpoint()
        val ns = samp.agg(
          sum(when($"side" === "a", 1L).otherwise(0L)).as("nx"),
          sum(when($"side" === "b", 1L).otherwise(0L)).as("ny"))
        val b = samp.select($"side".as("sb"), $"q".as("qb"))
        val kcol = (lit(67108864L)
          + aggregate(zip_with($"q", $"qb", (x, y) => x * y),
            lit(0L), (acc, v) => acc + v)).as("kc")
        val dots = samp.crossJoin(broadcast(b))
          .select($"side", $"sb", kcol)
        val ker = dots.agg(
          sum(when($"side" === "a" && $"sb" === "a",
            ($"kc" * $"kc").cast("decimal(38,0)"))).as("sxx"),
          sum(when($"side" === "b" && $"sb" === "b",
            ($"kc" * $"kc").cast("decimal(38,0)"))).as("syy"),
          sum(when($"side" === "a" && $"sb" === "b",
            ($"kc" * $"kc").cast("decimal(38,0)"))).as("sxy"))
        ker.crossJoin(broadcast(ns))
          .select($"nx", $"ny",
            expr("CAST(sxx div (CAST(nx AS DECIMAL(38,0)) * nx) AS BIGINT)")
              .as("mean_kxx"),
            expr("CAST(syy div (CAST(ny AS DECIMAL(38,0)) * ny) AS BIGINT)")
              .as("mean_kyy"),
            expr("CAST(sxy div (CAST(nx AS DECIMAL(38,0)) * ny) AS BIGINT)")
              .as("mean_kxy"),
            expr("""CAST((sxx * ny * ny + syy * nx * nx - 2 * sxy * nx * ny)
                div (CAST(nx AS DECIMAL(38,0)) * nx * ny * ny) AS BIGINT)""")
              .as("mmd_q"))
      },
      Some("""WITH raw AS (SELECT vec_id,
            CASE WHEN label < 5 THEN 'a' ELSE 'b' END AS side,
            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        nc AS (SELECT side, CAST(count(*) AS BIGINT) AS n_side
          FROM raw GROUP BY 1),
        samp AS (SELECT r.vec_id, r.side, r.e
          FROM raw r JOIN nc ON nc.side = r.side
          WHERE r.vec_id % greatest(1, nc.n_side // 128) = 0),
        ns AS (SELECT
            CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
              AS nx,
            CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
              AS ny
          FROM samp),
        q AS (SELECT vec_id, side, j,
            CAST(floor(e[j] * 1024.0) AS BIGINT) AS qv
          FROM samp, (SELECT unnest(generate_series(1, 64)) AS j) g),
        dots AS (SELECT a.side AS sa, b.side AS sb, a.vec_id AS ia,
            b.vec_id AS ib, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
          FROM q a JOIN q b ON a.j = b.j
          GROUP BY 1, 2, 3, 4),
        ker AS (SELECT
            sum(CASE WHEN sa = 'a' AND sb = 'a'
              THEN (CAST(67108864 AS HUGEINT) + dot) * (67108864 + dot) END)
              AS sxx,
            sum(CASE WHEN sa = 'b' AND sb = 'b'
              THEN (CAST(67108864 AS HUGEINT) + dot) * (67108864 + dot) END)
              AS syy,
            sum(CASE WHEN sa = 'a' AND sb = 'b'
              THEN (CAST(67108864 AS HUGEINT) + dot) * (67108864 + dot) END)
              AS sxy
          FROM dots)
        SELECT ns.nx, ns.ny,
          CAST(sxx // (CAST(ns.nx AS HUGEINT) * ns.nx) AS BIGINT)
            AS mean_kxx,
          CAST(syy // (CAST(ns.ny AS HUGEINT) * ns.ny) AS BIGINT)
            AS mean_kyy,
          CAST(sxy // (CAST(ns.nx AS HUGEINT) * ns.ny) AS BIGINT)
            AS mean_kxy,
          CAST((sxx * ns.ny * ns.ny + syy * ns.nx * ns.nx
              - 2 * sxy * ns.nx * ns.ny)
            // (CAST(ns.nx AS HUGEINT) * ns.nx * ns.ny * ns.ny) AS BIGINT)
            AS mmd_q
        FROM ker, ns""")),

    // ── PQ dimension-permutation planning (the free OPQ baseline —
    //    Ge et al. 2013 note a variance-BALANCED dimension allocation
    //    recovers much of the rotation's gain at zero matrix cost; the
    //    natural contiguous split concentrates high-variance dims in a
    //    few subspaces and starves their codebooks): per-dim variance
    //    as the exact integer numerator n·Σq²−(Σq)² over floor(e·2²⁰)
    //    coords (decimal sums), dims ranked by variance and dealt
    //    round-robin into the 8 subspaces; report = per-subspace
    //    variance share (ppm) natural vs permuted + the max·K/total
    //    imbalance factor of each scheme + the improvement bit. Scale:
    //    ONE corpus scan feeds a 64-row per-dim aggregate; everything
    //    after is ≤64-row arithmetic — the planning pass a PQ (re)train
    //    would run first at any corpus size. ──────────────────────────
    QueryDef("sim_index_pq_permute",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val q = Tables.load(s, dir, "embeddings")
          .select(posexplode(transform($"embedding",
            x => floor(x.cast("double") * lit(1048576.0)).cast("long")))
            .as(Seq("j0", "qv")))
          .select(($"j0" + 1).cast("long").as("j"), $"qv")
        val vn = q.groupBy($"j")
          .agg(count(lit(1)).as("n"),
            sum($"qv".cast("decimal(38,0)")).as("s"),
            sum(($"qv" * $"qv").cast("decimal(38,0)")).as("ss"))
          .select($"j", ($"n" * $"ss" - $"s" * $"s").as("varnum"))
        val assigned = vn
          .withColumn("r", row_number().over(
            Window.orderBy($"varnum".desc, $"j")).cast("long"))
          .select($"j", $"varnum", expr("(j - 1) DIV 8").as("sub_nat"),
            pmod($"r" - 1L, lit(8L)).as("sub_perm"))
        val tot = vn.agg(sum($"varnum").as("t"))
        val natm = assigned.groupBy($"sub_nat".as("sub"))
          .agg(sum($"varnum").as("m_nat"))
        val perm = assigned.groupBy($"sub_perm".as("sub"))
          .agg(sum($"varnum").as("m_perm"))
        val imbn = natm.agg(max($"m_nat").as("mx_nat"))
        val imbp = perm.agg(max($"m_perm").as("mx_perm"))
        natm.join(perm, "sub")
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(imbn))
          .crossJoin(broadcast(imbp))
          .select($"sub",
            expr("CAST((m_nat * 1000000) div t AS BIGINT)")
              .as("nat_share_ppm"),
            expr("CAST((m_perm * 1000000) div t AS BIGINT)")
              .as("perm_share_ppm"),
            expr("CAST((mx_nat * 8 * 1000000) div t AS BIGINT)")
              .as("imb_nat_ppm"),
            expr("CAST((mx_perm * 8 * 1000000) div t AS BIGINT)")
              .as("imb_perm_ppm"),
            expr("""(mx_perm * 8 * 1000000) div t
                <= (mx_nat * 8 * 1000000) div t""").as("balanced"))
          .orderBy($"sub")
      },
      Some("""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings),
  q AS (SELECT vec_id, j, CAST(floor(e[j] * 1048576.0) AS BIGINT) AS qv
    FROM raw, (SELECT unnest(generate_series(1, 64)) AS j) g),
  dv AS (SELECT j, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(qv) AS HUGEINT) AS s, CAST(sum(qv * qv) AS HUGEINT) AS ss
    FROM q GROUP BY j),
  vn AS (SELECT j, n * ss - s * s AS varnum FROM dv),
  ranked AS (SELECT j, varnum,
      row_number() OVER (ORDER BY varnum DESC, j) AS r FROM vn),
  assigned AS (SELECT j, varnum, (j - 1) // 8 AS sub_nat,
      (r - 1) % 8 AS sub_perm FROM ranked),
  tot AS (SELECT sum(varnum) AS t FROM vn),
  natm AS (SELECT sub_nat AS sub, sum(varnum) AS m FROM assigned GROUP BY 1),
  perm AS (SELECT sub_perm AS sub, sum(varnum) AS m FROM assigned GROUP BY 1),
  imbn AS (SELECT CAST(max(m) AS HUGEINT) AS mx FROM natm),
  imbp AS (SELECT CAST(max(m) AS HUGEINT) AS mx FROM perm)
  SELECT CAST(natm.sub AS BIGINT) AS sub,
    CAST(natm.m * 1000000 // tot.t AS BIGINT) AS nat_share_ppm,
    CAST(perm.m * 1000000 // tot.t AS BIGINT) AS perm_share_ppm,
    CAST(imbn.mx * 8 * 1000000 // tot.t AS BIGINT) AS imb_nat_ppm,
    CAST(imbp.mx * 8 * 1000000 // tot.t AS BIGINT) AS imb_perm_ppm,
    imbp.mx * 8 * 1000000 // tot.t <= imbn.mx * 8 * 1000000 // tot.t
      AS balanced
  FROM natm JOIN perm USING (sub), tot, imbn, imbp
  ORDER BY sub""")),

    // ── DoReMi-style domain-mixture update (Xie et al. 2023 "DoReMi":
    //    reweight pretraining domains by EXCESS quality/loss via
    //    multiplicative weights — the online counterpart of the static
    //    √n temperature mix in pipeline_domain_mix): reward = each
    //    source's Gopher pass-rate excess over the corpus rate (the
    //    library's own quality gate as the reward signal), one
    //    Hedge/EG step w′ ∝ w·(1 + η·r) with η=2 in integer ppm —
    //    clamped at 0, renormalized by ONE integral division — applied
    //    to the char-mass baseline mix. Every column is an exact
    //    integer; the update is replayable by construction. Scale: one
    //    kernel scan (GopherKernel) to a |sources|-row aggregate, then
    //    1-row total recombines. ─────────────────────────────────────
    QueryDef("pipeline_doremi_update",
      (s, dir) => {
        import s.implicits._
        val f = Tables.load(s, dir, "documents")
          .select($"source", $"n_chars",
            graft.functions.TextHashFunctions.gopherStats($"text").as("g"))
          .select($"source", $"n_chars",
            when(($"g".getItem(0) >= 50L && $"g".getItem(0) <= 100000L)
              && (lit(3L) * $"g".getItem(0) <= $"g".getItem(1)
                && $"g".getItem(1) <= lit(10L) * $"g".getItem(0))
              && (lit(10L) * ($"g".getItem(2) + $"g".getItem(3))
                <= $"g".getItem(0))
              && (lit(5L) * $"g".getItem(4) >= lit(4L) * $"g".getItem(0))
              && ($"g".getItem(5) >= 2L), 1L).otherwise(0L).as("keep"))
        val perS = f.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_s"),
            sum($"keep").as("pass_s"))
        val tot = perS.agg(sum($"n_docs").as("n_total"),
          sum($"chars_s").as("chars_total"), sum($"pass_s").as("pass_total"))
        val upd = perS.crossJoin(broadcast(tot))
          .select($"source", $"n_docs",
            expr("pass_s * 1000000 DIV n_docs").as("pass_ppm"),
            expr("""pass_s * 1000000 DIV n_docs
              - pass_total * 1000000 DIV n_total""").as("excess_ppm"),
            expr("chars_s * 1000000 DIV chars_total").as("w0_ppm"))
          .withColumn("u",
            expr("greatest(0L, w0_ppm * (1000000 + 2 * excess_ppm))"))
        val un = upd.agg(sum($"u".cast("decimal(38,0)")).as("u_total"))
        upd.crossJoin(broadcast(un))
          .select($"source", $"n_docs", $"pass_ppm", $"excess_ppm",
            $"w0_ppm",
            expr("CAST((CAST(u AS DECIMAL(38,0)) * 1000000) div u_total AS BIGINT)")
              .as("w1_ppm"),
            ($"u" > $"w0_ppm" * lit(1000000L)).as("upweighted"))
          .orderBy($"source")
      },
      Some("""WITH t AS (SELECT doc_id, source, n_chars, text,
      string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
  m AS (SELECT doc_id, source, n_chars, len(toks) AS words,
      length(regexp_replace(text, '\s', '', 'g')) AS nonws,
      (length(text) - length(replace(text, '#', ''))) AS n_hash,
      (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
      len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
      len(list_intersect(list_distinct(toks),
        ['the','a','and','of','to','in','is','that'])) AS n_stop
    FROM t),
  f AS (SELECT source, n_chars,
      CASE WHEN (words >= 50 AND words <= 100000)
        AND (3 * words <= nonws AND nonws <= 10 * words)
        AND (10 * (n_hash + n_ell) <= words)
        AND (5 * alpha_words >= 4 * words)
        AND (n_stop >= 2) THEN 1 ELSE 0 END AS keep
    FROM m),
  per_s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS chars_s,
      CAST(sum(keep) AS BIGINT) AS pass_s
    FROM f GROUP BY source),
  tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      CAST(sum(chars_s) AS BIGINT) AS chars_total,
      CAST(sum(pass_s) AS BIGINT) AS pass_total FROM per_s),
  scored AS (SELECT p.source, p.n_docs,
      p.pass_s * 1000000 // p.n_docs AS pass_ppm,
      p.pass_s * 1000000 // p.n_docs
        - tot.pass_total * 1000000 // tot.n_total AS excess_ppm,
      p.chars_s * 1000000 // tot.chars_total AS w0_ppm
    FROM per_s p, tot),
  upd AS (SELECT *,
      greatest(0, w0_ppm * (1000000 + 2 * excess_ppm)) AS u
    FROM scored),
  un AS (SELECT CAST(sum(u) AS HUGEINT) AS u_total FROM upd)
  SELECT u.source, u.n_docs, CAST(u.pass_ppm AS BIGINT) AS pass_ppm,
    CAST(u.excess_ppm AS BIGINT) AS excess_ppm,
    CAST(u.w0_ppm AS BIGINT) AS w0_ppm,
    CAST(CAST(u.u AS HUGEINT) * 1000000 // un.u_total AS BIGINT) AS w1_ppm,
    u.u > u.w0_ppm * 1000000 AS upweighted
  FROM upd u, un ORDER BY u.source""")),

    // ── IVF hot-cell rebalance (the REPAIR step sim_index_ivf_balance's
    //    audit calls for: a hot cell is a tail-latency wall, and the
    //    standard fix — FAISS's split of oversized inverted lists —
    //    halves it with a cheap hyperplane rather than re-training the
    //    whole quantizer): route to the 8 seeded centroids (the
    //    silhouette assignment shape), take the TWO largest cells,
    //    split each by the seed-7 random-hyperplane sign (rh_signature,
    //    the LSH kernel — its ±1 dot chain is oracle-replayable), and
    //    report the global imbalance factor C·max/n before (C=8) vs
    //    after (C=10) the split. All counts exact; one routing scan +
    //    ≤10-row arithmetic. ─────────────────────────────────────────
    QueryDef("sim_ivf_cell_rebalance",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val v = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val cent = v.filter($"vec_id" < 8)
          .select($"vec_id".as("cell"), $"embedding".as("ce"))
        val assign = v.crossJoin(broadcast(cent))
          .select($"vec_id", $"embedding", $"cell",
            graft.functions.VectorFunctions.cosineSim($"embedding", $"ce").as("sim"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cell")))
          .filter($"rn" === 1)
          .select($"vec_id", $"embedding", $"cell")
          .localCheckpoint()
        val sizes = assign.groupBy($"cell").agg(count(lit(1)).as("sz"))
        val hot = sizes.orderBy($"sz".desc, $"cell").limit(2)
        val subs = assign.join(broadcast(hot.select($"cell")), "cell")
          .select($"cell",
            graft.functions.SketchFunctions.rhSignature($"embedding", 1, 7L).cast("long")
              .as("sub"))
          .groupBy($"cell")
          .agg(sum(when($"sub" === 0L, 1L).otherwise(0L)).as("n_sub0"),
            sum(when($"sub" === 1L, 1L).otherwise(0L)).as("n_sub1"))
        val n = assign.agg(count(lit(1)).as("n_vecs"))
        val imbBefore = sizes.agg(max($"sz").as("mx"))
        val coldMax = sizes.join(broadcast(hot.select($"cell")), Seq("cell"),
          "left_anti").agg(coalesce(max($"sz"), lit(0L)).as("mx_cold"))
        val subMax = subs.agg(max(greatest($"n_sub0", $"n_sub1")).as("mx_sub"))
        hot.join(subs, "cell")
          .crossJoin(broadcast(n))
          .crossJoin(broadcast(imbBefore))
          .crossJoin(broadcast(coldMax))
          .crossJoin(broadcast(subMax))
          .select($"cell", $"sz".as("size_before"), $"n_sub0", $"n_sub1",
            expr("8 * mx * 1000000 DIV n_vecs").as("imb_before_ppm"),
            expr("10 * greatest(mx_cold, mx_sub) * 1000000 DIV n_vecs")
              .as("imb_after_ppm"),
            expr("""10 * greatest(mx_cold, mx_sub) <= 8 * mx""")
              .as("improved"))
          .orderBy($"cell")
      },
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cell, e AS ce FROM v
          WHERE vec_id < 8),
        assign AS (SELECT vec_id, e, cell FROM (
            SELECT c.vec_id, c.e, t.cell,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, t.ce) DESC, t.cell)
                AS rn
            FROM v c CROSS JOIN cent t) WHERE rn = 1),
        sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS sz
          FROM assign GROUP BY cell),
        hot AS (SELECT cell, sz FROM sizes ORDER BY sz DESC, cell LIMIT 2),
        subs AS (SELECT a.cell,
            CAST(sum(CASE WHEN ${OracleGen.sigExpr(7L, 1, 64, "a.e")} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_sub0,
            CAST(sum(CASE WHEN ${OracleGen.sigExpr(7L, 1, 64, "a.e")} = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_sub1
          FROM assign a JOIN hot ON a.cell = hot.cell GROUP BY a.cell),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM assign),
        ib AS (SELECT CAST(max(sz) AS BIGINT) AS mx FROM sizes),
        cm AS (SELECT CAST(coalesce(max(sz), 0) AS BIGINT) AS mx_cold
          FROM sizes WHERE cell NOT IN (SELECT cell FROM hot)),
        sm AS (SELECT CAST(max(greatest(n_sub0, n_sub1)) AS BIGINT) AS mx_sub
          FROM subs)
        SELECT h.cell, h.sz AS size_before, s.n_sub0, s.n_sub1,
          8 * ib.mx * 1000000 // nv.n_vecs AS imb_before_ppm,
          10 * greatest(cm.mx_cold, sm.mx_sub) * 1000000 // nv.n_vecs
            AS imb_after_ppm,
          10 * greatest(cm.mx_cold, sm.mx_sub) <= 8 * ib.mx AS improved
        FROM hot h JOIN subs s ON h.cell = s.cell, nv, ib, cm, sm
        ORDER BY h.cell""")),

    // ── Kneser–Ney bigram LM scoring (Kneser & Ney 1995 — the standard
    //    LM smoothing; `text_lm_score`'s stupid backoff is the cheap
    //    web-scale fallback, KN is what a real perplexity filter ships):
    //    absolute discount d=3/4 kept EXACT as quarters (4c−3 integer
    //    numerators), continuation probability from the type counts
    //    N1+(·w2)/T with add-quarter smoothing (4·N1b+1)/(4T+1), the
    //    interpolated P = (max(4c−3,0) + 3·N1f·p_cont)/(4c1) evaluated
    //    in ONE fixed IEEE op order mirrored in the oracle; each term
    //    quantized to micro-nats BEFORE the per-doc sum (the DSIR
    //    ln-parity pattern → order-free integer addition). Same split
    //    and join shapes as text_lm_score: vocabulary-sized count
    //    tables, hash joins, nothing corpus-quadratic. ────────────────
    QueryDef("text_lm_kneser_ney",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id", tokens($"text").as("toks"))
        val train = docs.filter($"doc_id" % 4 =!= 0)
        val held = docs.filter($"doc_id" % 4 === 0)
        def bigrams(df: org.apache.spark.sql.DataFrame) = df
          .filter(size($"toks") >= 2)
          .select($"doc_id", explode(transform(
            sequence(lit(1), size($"toks") - 1),
            i => struct(i.as("pos"),
              element_at($"toks", i).as("w1"),
              element_at($"toks", i + 1).as("w2")))).as("b"))
          .select($"doc_id", $"b.pos".as("pos"),
            $"b.w1".as("w1"), $"b.w2".as("w2"))
        val bc = bigrams(train).groupBy($"w1", $"w2")
          .agg(count(lit(1)).as("c_bg"))
        val c1 = bc.groupBy($"w1")
          .agg(sum($"c_bg").as("c1"), count(lit(1)).as("n1f"))
        val n1b = bc.groupBy($"w2").agg(count(lit(1)).as("n1b"))
        val tb = bc.agg(count(lit(1)).as("t"))
        val sval = bigrams(held)
          .join(bc, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .join(n1b, Seq("w2"), "left")
          .crossJoin(broadcast(tb))
          .select($"doc_id",
            when($"c_bg".isNull, 1L).otherwise(0L).as("unseen_pair"),
            floor(lit(1000000) * log(
              when($"c1".isNotNull,
                (expr("CAST(greatest(4 * coalesce(c_bg, 0L) - 3, 0L) AS DOUBLE)")
                  + lit(3.0) * $"n1f"
                    * (expr("CAST(4 * coalesce(n1b, 0L) + 1 AS DOUBLE)")
                      / (lit(4L) * $"t" + lit(1L))))
                  / (lit(4.0) * $"c1"))
                .otherwise(expr("CAST(4 * coalesce(n1b, 0L) + 1 AS DOUBLE)")
                  / (lit(4L) * $"t" + lit(1L)))))
              .cast("long").as("term_unat"))
        sval.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum($"unseen_pair").as("n_unseen_pairs"),
            sum($"term_unat").as("kn_sum_unat"))
          .withColumn("kn_mean_unat",
            expr("kn_sum_unat DIV n_bigrams"))
          .orderBy($"doc_id")
      },
      Some("""WITH tt AS (SELECT doc_id,
      string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
  tr AS (SELECT * FROM tt WHERE doc_id % 4 <> 0),
  hd AS (SELECT * FROM tt WHERE doc_id % 4 = 0 AND len(toks) >= 2),
  trb AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM (
      SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM tr WHERE len(toks) >= 2)),
  bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
    FROM trb GROUP BY w1, w2),
  c1 AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c1,
      CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY w1),
  n1b AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bc GROUP BY w2),
  tb AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc),
  hb AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i + 1] AS w2 FROM (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM hd)),
  sval AS (SELECT h.doc_id,
      CASE WHEN b.c_bg IS NULL THEN 1 ELSE 0 END AS unseen_pair,
      CAST(floor(1000000 * ln(
        CASE WHEN c1.c1 IS NOT NULL THEN
          (CAST(greatest(4 * coalesce(b.c_bg, 0) - 3, 0) AS DOUBLE)
            + 3.0 * c1.n1f
              * (CAST(4 * coalesce(n1b.n1b, 0) + 1 AS DOUBLE)
                / (4 * tb.t + 1)))
          / (4.0 * c1.c1)
        ELSE CAST(4 * coalesce(n1b.n1b, 0) + 1 AS DOUBLE) / (4 * tb.t + 1)
        END)) AS BIGINT) AS term_unat
    FROM hb h
    LEFT JOIN bc b ON h.w1 = b.w1 AND h.w2 = b.w2
    LEFT JOIN c1 ON h.w1 = c1.w1
    LEFT JOIN n1b ON h.w2 = n1b.w2
    CROSS JOIN tb)
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    CAST(sum(unseen_pair) AS BIGINT) AS n_unseen_pairs,
    CAST(sum(term_unat) AS BIGINT) AS kn_sum_unat,
    CAST(sum(term_unat) // count(*) AS BIGINT) AS kn_mean_unat
  FROM sval GROUP BY doc_id ORDER BY doc_id"""))
  )
}

/** SQL-side constants kept next to their Spark twins. */
object TextFunctionsSql {
  /** [[graft.functions.TextFunctions.BpeishPattern]] with regex escapes
    * preserved for SQL string context.
    */
  val bpeish: String = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
}
