package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication operators for LLM training-data pipelines (north-star):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale posture: every variant is shuffle-bounded — exact dedup is one
  * hash aggregate on a fingerprint; MinHash/SimHash generate candidates
  * by *banding* (equality join on band keys — no O(n²) pair scan),
  * n-gram Jaccard by lossless prefix filtering, and only verified
  * candidates pay the exact-similarity cost. Text is reduced to sorted
  * distinct shingle-hash arrays by the one-pass
  * [[graft.functions.ShingleHashes]] kernel — set math downstream
  * (Jaccard, MinHash slots, prefix keys) runs on primitive longs.
  */
object Dedup {

  /** (id, sorted distinct shingle-hash array) for a corpus — the shared
    * front end of every text near-dup operator here.
    */
  private def shingleHashed(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    docs.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))
  }

  /** Exact dedup on normalized-text fingerprint: one hash aggregate.
    * Returns (fingerprint, n_copies, canonical_id) per duplicate group.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** The apply step: corpus minus exact duplicates, keeping the
    * minimum-id (canonical) doc of each fingerprint group — a
    * deterministic `dropDuplicates`. One aggregate + one semi join.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = exactGroups(docs, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    docs.join(canon, Seq(idCol), "left_semi")
  }

  /** Span-level exact dedup statistics (the line/paragraph-dedup step of
    * RefinedWeb-style curation, expressed on fixed `spanWords`-token
    * windows since the corpus carries no line structure): tokenize, chunk
    * into non-overlapping spans, fingerprint each span, and keep only the
    * corpus-wide FIRST occurrence of every fingerprint — first = smallest
    * (doc id, span index), so the winner is reproducible under any
    * partitioning. Returns per-doc (id, n_spans, n_kept, n_dropped) for
    * docs that lost at least one span — the boilerplate-removal report.
    *
    * Scale shape: spans explode to ~tokens/spanWords rows, the
    * first-occurrence rule is a window PARTITIONED BY span fingerprint
    * (shuffle on the hash — no global order), and the report re-groups by
    * doc id. Two shuffles total, both on high-cardinality keys.
    */
  def spanDedupStats(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h")).orderBy(col("id"), col("span_idx"))
    spanFingerprints(docs, idCol, textCol, spanWords)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("n_dropped") > 0)
  }

  /** The APPLY step of span-level dedup: rebuild every document from
    * only its KEPT spans, under the same corpus-wide first-occurrence
    * rule as [[spanDedupStats]] (first = smallest (doc id, span index),
    * reproducible under any partitioning). Returns ALL docs as
    * (id, n_spans, n_kept, dedup_chars, dedup_fp) — the rebuilt text is
    * length-and-fingerprint summarized so the report stays narrow; a
    * production writer would emit the rebuilt string itself (it is in
    * hand as `rebuilt`).
    *
    * Scale shape: one kernel scan (span_texts), one window shuffle
    * partitioned by span fingerprint (high-cardinality key, no global
    * order), one re-group by doc. The rebuild sorts only each doc's own
    * kept spans — bounded by document length, not corpus size.
    */
  def applySpanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 4): DataFrame = {
    require(spanWords >= 1, "spanWords >= 1")
    import org.apache.spark.sql.expressions.Window
    val sp = docs.select(col(idCol).as("id"),
        posexplode(graft.functions.TextHashFunctions.spanTexts(col(textCol), spanWords))
          .as(Seq("span_idx", "span")))
      .withColumn("h", md5(col("span")))
    val w = Window.partitionBy(col("h")).orderBy(col("id"), col("span_idx"))
    sp.withColumn("rn", row_number().over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("span_idx"), col("span"))))),
          x => x.getField("span")), " ").as("rebuilt"))
      .select(col("id"), col("n_spans"), col("n_kept"),
        length(col("rebuilt")).cast("long").as("dedup_chars"),
        md5(col("rebuilt")).as("dedup_fp"))
  }

  /** EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the production dedup of the
    * big LM corpora, approximated on k-token granularity): every
    * OVERLAPPING k-token window is rolling-hash fingerprinted
    * ([[graft.functions.WindowHashKernel]] — O(n) per doc, one codegen
    * scan), the corpus-wide FIRST occurrence of each fingerprint wins
    * (first = smallest (doc id, window start) — reproducible under any
    * partitioning; later occurrences, INCLUDING within-doc repeats, are
    * duplicate substrings), and a token is removed iff ANY duplicate
    * window covers it — the per-doc overlap merge, computed as a
    * trailing rolling max over the duplicate-start flags (a token at
    * position t is covered iff a duplicate window starts in
    * [t−k+1, t] — the `pipeline_span_corruption` device). Returns ALL
    * docs as (id, n_tokens, n_dup_windows, n_removed, dedup_chars,
    * dedup_fp) with the rebuilt text length-and-md5 summarized, like
    * [[applySpanDedup]].
    *
    * Scale shape: one kernel scan emits the window hashes (n−k+1 rows
    * per doc), the first-occurrence rule is ONE window shuffle
    * partitioned by the hash (high-cardinality key, no global order —
    * the inherent corpus-sized exchange of corpus-wide dedup), and the
    * duplicate STARTS (only the dup share of the corpus) re-group per
    * doc into a sorted start array that joins back to the token rows on
    * doc id — token rows shuffle ONCE (by id), the coverage test is a
    * per-token probe of the doc's own sorted start list, and the
    * rolling-max merge + rebuild re-use that same id partitioning (one
    * sort, no further exchange). Unlike fixed-span dedup
    * ([[spanDedupStats]]) this catches duplicated passages at ANY
    * alignment, at the cost of k× window rows in the fingerprint
    * exchange.
    */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 2, "windowTokens >= 2")
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val wh = d.select(col("id"),
      posexplode(graft.functions.TextHashFunctions
        .tokenWindowHash64(col("text"), windowTokens)).as(Seq("pos", "h")))
    val wFirst = Window.partitionBy(col("h")).orderBy(col("id"), col("pos"))
    // duplicate window starts, re-grouped to one sorted array per doc
    // (bounded by the doc's own window count)
    val dupStarts = wh
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("ms"))
    val tokRows = d.select(col("id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    tokRows
      .join(dupStarts, Seq("id"), "left")
      .withColumn("sf",
        when(col("ms").isNotNull && array_contains(col("ms"), col("pos")), 1L)
          .otherwise(0L))
      .withColumn("removed",
        max(col("sf")).over(wDoc.rowsBetween(-(windowTokens - 1), 0)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("sf")).as("n_dup_windows"),
        sum(col("removed")).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("removed") === 0L,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("rebuilt"))
      .select(col("id"), col("n_tokens"), col("n_dup_windows"),
        col("n_removed"),
        length(col("rebuilt")).cast("long").as("dedup_chars"),
        md5(col("rebuilt")).as("dedup_fp"))
  }

  /** Onion (doc-level) dedup scoreboard (Pomikálek 2011, "Removing
    * boilerplate and duplicate content from web corpora": the duplicate
    * rule between full-doc exact hashing — too strict — and
    * [[exactSubstringDedup]] — which rewrites text): a document is
    * DROPPED when more than `dropPermille`/1000 of its overlapping
    * `windowTokens`-token windows already occurred in an EARLIER
    * document (corpus order = ascending id); otherwise it ships
    * untouched. A window is stale iff its corpus-wide FIRST document
    * is an earlier doc — within-doc repeats never count against their
    * own doc (the substring form owns that case). Documents with fewer
    * than `windowTokens` tokens have no windows and are always kept.
    *
    * Shape: one O(tokens) `token_window_hash64` kernel scan (shared
    * with [[exactSubstringDedup]]), a (h → min id) map-side-combinable
    * hash aggregate, a co-keyed equi join back, two bounded
    * aggregates — nothing windows, nothing broadcasts corpus-sized
    * state; at 100 TB the (h → min id) table IS the substring-dedup
    * index already costed in SCALING.md.
    */
  def onionDocShare(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, windowTokens: Int = 8,
      dropPermille: Int = 500): DataFrame = {
    require(windowTokens >= 2, "windowTokens >= 2")
    require(dropPermille >= 0 && dropPermille <= 1000,
      "dropPermille in [0, 1000]")
    val d = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      col(textCol).as("text"))
    val wh = d.select(col("id"),
      explode(graft.functions.TextHashFunctions
        .tokenWindowHash64(col("text"), windowTokens)).as("h"))
    val first = wh.groupBy(col("h")).agg(min(col("id")).as("first_id"))
    val perDoc = wh.join(first, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_w"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("n_stale"))
    d.select(col("id"), col("source"))
      .join(perDoc, Seq("id"), "left")
      .select(col("source"),
        coalesce(col("n_w"), lit(0L)).as("n_w"),
        coalesce(col("n_stale"), lit(0L)).as("n_stale"))
      .withColumn("dropped",
        when(col("n_stale") * lit(1000L) >
          col("n_w") * lit(dropPermille.toLong), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).as("n_dropped"),
        sum(col("n_w")).as("total_windows"),
        sum(col("n_stale")).as("stale_windows"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        expr("n_dropped * 1000000L DIV n_docs").as("dropped_ppm"),
        col("total_windows"), col("stale_windows"))
  }

  /** (id, span_idx, h): non-overlapping `spanWords`-token windows of the
    * lower-cased text, md5-fingerprinted — the shared front end of
    * [[spanDedupStats]] and [[boilerplateSpanStats]]. The whole
    * tokenize→chunk→join→md5 chain runs in the one-pass codegen'd
    * `span_md5s` kernel (graft.functions.SpanKernel): the equivalent
    * sequence→transform→slice→array_join→md5 higher-order composition
    * is all boxed lambdas and per-span array copies, and measured ~5×
    * slower on the same scan.
    */
  private def spanFingerprints(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, "spanWords >= 1")
    docs.select(col(idCol).as("id"),
      posexplode(graft.functions.TextHashFunctions.spanMd5s(col(textCol), spanWords))
        .as(Seq("span_idx", "h")))
  }

  /** Corpus-frequency boilerplate detection (the CCNet-style complement
    * of [[spanDedupStats]]): a span is boilerplate when it occurs in at
    * least `minDocs` DISTINCT documents — headers, footers, navigation
    * chrome — and, unlike first-occurrence span dedup, is flagged in
    * EVERY document including the first. The threshold is an absolute
    * document count (as in CCNet's shard-duplication rule), not a corpus
    * fraction: boilerplate is defined by repetition, and a phrase
    * repeated across 5 documents does not stop being boilerplate because
    * the corpus grew.
    *
    * Scale shape: ONE scan, genuinely. The exploded spans shuffle ONCE
    * on `h` (an explicit repartition — the (h, id) aggregate then runs
    * as a single per-partition hash aggregate, since partitioning by a
    * key subset already co-locates every (h, id) group), the document
    * frequency is a window over that same partitioning (no second
    * exchange, input already reduced to distinct (h, id) pairs), and the
    * per-doc report re-groups by id. Deriving df from a second aggregate
    * branch instead is a trap: the two branches canonicalize differently
    * enough that neither static planning nor AQE's stage cache reuses
    * the exchange, and the corpus-wide md5 explode runs twice (measured
    * 2.4 s → this shape halves it; pinned by PlanAuditSpec's single-scan
    * runtime assertion).
    *
    * Returns per-doc (id, n_spans, n_boiler) for docs containing at
    * least one boilerplate span.
    */
  def boilerplateSpanStats(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 3, minDocs: Int = 5): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2")
    import org.apache.spark.sql.expressions.Window
    val pairs = spanFingerprints(docs, idCol, textCol, spanWords)
      .repartition(col("h"))
      .groupBy(col("h"), col("id"))
      .agg(count(lit(1)).as("cnt"))
    // distinct (h, id) pairs ⇒ count over the h-partition = document freq
    pairs.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("df") >= minDocs, col("cnt")).otherwise(0L)).as("n_boiler"))
      .filter(col("n_boiler") > 0)
  }

  /** The fused curation front end: span-level first-occurrence dedup AND
    * corpus-frequency boilerplate strip in ONE span shuffle. A span
    * occurrence survives iff it is the corpus-wide FIRST occurrence of
    * its fingerprint ([[spanDedupStats]]'s rule) and the fingerprint
    * appears in fewer than `minDocs` distinct documents
    * ([[boilerplateSpanStats]]'s rule — boilerplate is stripped from
    * every doc including the first). Both rules are decided over the
    * same fingerprint partitioning: `rn` = row_number over
    * (h, order id, span_idx); `df` = max over h of dense_rank over
    * (h, order id) — the distinct-doc count without a second aggregate
    * branch (a second branch would re-explode the corpus; the window
    * reuses the one exchange).
    *
    * Returns every doc that kept at least one span as
    * (id, source, n_spans, n_kept, rebuilt) — the rebuilt text is the
    * kept spans in original order, the input to downstream quality /
    * mix / layout stages. Scale shape: one kernel scan (span_texts),
    * one shuffle on the span fingerprint (high-cardinality, no global
    * order), one re-group by doc; the rebuild sorts only each doc's own
    * kept spans. `source` rides the exploded rows (a short dictionary
    * string) so the regroup needs no join back to the corpus.
    */
  def curatedDocs(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, spanWords: Int = 4, minDocs: Int = 5): DataFrame = {
    require(spanWords >= 1, "spanWords >= 1")
    require(minDocs >= 2, "minDocs >= 2")
    import org.apache.spark.sql.expressions.Window
    val sp = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
        posexplode(graft.functions.TextHashFunctions.spanTexts(col(textCol), spanWords))
          .as(Seq("span_idx", "span")))
      .withColumn("h", md5(col("span")))
    val wOrd = Window.partitionBy(col("h")).orderBy(col("id"), col("span_idx"))
    val wDoc = Window.partitionBy(col("h")).orderBy(col("id"))
    val wAll = Window.partitionBy(col("h"))
    val kept = col("rn") === 1 && col("df") < minDocs
    sp.withColumn("rn", row_number().over(wOrd))
      .withColumn("dr", dense_rank().over(wDoc))
      .withColumn("df", max(col("dr")).over(wAll))
      .groupBy(col("id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(kept,
            struct(col("span_idx"), col("span"))))),
          x => x.getField("span")), " ").as("rebuilt"))
      .filter(col("n_kept") > 0)
  }

  /** Duplicate clusters from a near-dup pair relation (doc_a, doc_b):
    * connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Each round halves chain-shaped components' height, so
    * convergence is O(log² n) rounds vs O(diameter) for plain min-label
    * propagation — a 1M-node chain finishes in ~20 rounds instead of 1M.
    * Each round is two join+aggregate shuffles over the (shrinking) edge
    * set; the loop is driver-coordinated but all data stays distributed.
    * Returns (doc_id, cluster_id = min doc id of the component) for every
    * doc appearing in `pairs`.
    *
    * Throws `IllegalStateException` if the fixed point is not reached in
    * `maxIterations` rounds (would mean wrong labels; at the default 20
    * star rounds that needs a graph far beyond 2^20 nodes) — non-converged
    * output is never returned silently.
    */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 20,
      localFinishEdges: Long = 10000000L): DataFrame = {
    // materialize the pair relation once BEFORE deriving nodes/edges —
    // `pairs` is usually an expensive lazy plan (candidate join + verify),
    // and multiple references to it would compute it multiple times
    val p = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    val nodes = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
    // canonical edge orientation: high id → low id
    var edges = p.select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    // Hybrid finish (the shape GraphX/GraphFrames CC uses): star rounds
    // contract the edge set distributively; once it fits one partition,
    // a single-task union-find replaces the remaining O(log n) rounds —
    // each of which costs ~5 driver-coordinated jobs regardless of size.
    // At 100 TB the loop below runs until the contraction crosses the
    // threshold; at test SFs the pair relation is already below it and
    // clustering is one shuffle-free pass. Longs only (every caller's id
    // type); other key types take the pure star loop.
    val isLongKeyed = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    var converged = false
    var i = 0
    var prevSig = (-1L, 0L)
    var edgeCount = if (isLongKeyed) edges.count() else Long.MaxValue
    while (!converged && i < maxIterations && edgeCount > localFinishEdges) {
      // large-star: every neighbor LARGER than the center u links to the
      // min of u's closed neighborhood — flattens tall trees
      val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("mn"))
      val large = und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("mn").as("dst"))
      // small-star: edges now all point high→low, so each center's whole
      // closed neighborhood links to its minimum — merges shallow stars
      val mins2 = large.groupBy("src").agg(min(col("dst")).as("mn"))
      val next = large.join(mins2, "src")
        .select(col("dst").as("src"), col("mn").as("dst"))
        .union(mins2.select(col("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true) // truncate iterative lineage before reuse
      // fixed point = edge set unchanged; (count, hash-xor) signature
      // piggybacks on the checkpoint's materialized frame as ONE action
      // (xor: order-independent over the distinct set, cannot overflow)
      val sigRow = next.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      converged = sig == prevSig
      prevSig = sig
      edgeCount = sig._1
      edges = next
      i += 1
    }
    val starEdges =
      if (isLongKeyed && !converged && edgeCount <= localFinishEdges) {
        // local finish: one shuffle-free union-find pass over the (small,
        // possibly pre-contracted) edge set; min-rooted unions make every
        // root the component minimum, matching the star loop's labels
        val sess = edges.sparkSession
        import sess.implicits._
        edges.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)]
          .coalesce(1)
          .mapPartitions { it =>
            // primitive open-addressing parent map (~16 B/entry vs ~80 B
            // boxed java.util.HashMap): at the 10M-edge design point this
            // task holds ≤ ~0.5 GB of long arrays instead of multi-GB of
            // boxed nodes + a materialized Vector of the output
            val parent = new LongLongMap(1 << 20)
            // absent key ⇒ self-parent, so roots are never stored; find
            // walks+compresses values only (entries never move)
            def find(x: Long): Long = {
              var r = x
              var p = parent.getOrDefault(r, r)
              while (p != r) { r = p; p = parent.getOrDefault(r, r) }
              var c = x
              while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
              r
            }
            it.foreach { case (a, b) =>
              val ra = find(a); val rb = find(b)
              if (ra != rb) {
                if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
              }
            }
            // every stored key was attached below some smaller root, so
            // (k, find(k)) is exactly the non-self-labeled node set; emit
            // lazily — no driver/task-side materialization of the output
            parent.keysIterator.map(k => (k, find(k)))
          }
          .toDF("src", "dst")
          .filter(col("src") =!= col("dst"))
      } else {
        if (!converged) throw new IllegalStateException(
          s"duplicateClusters did not converge in $maxIterations rounds; " +
            "raise maxIterations — returning partial labels would be wrong")
        edges
      }
    // at the fixed point edges are disjoint stars rooted at each
    // component's min id; roots and isolated nodes label themselves
    nodes.join(starEdges.select(col("src").as("id"), col("dst").as("cid")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cid"), col("id")).as("cluster_id"))
  }

  /** The near-dup apply step: corpus minus near-duplicates — cluster the
    * exact n-gram-Jaccard pair relation, keep each cluster's canonical
    * (min-id) doc, pass unpaired docs through. One anti join against the
    * (small) non-canonical id set.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val clusters = duplicateClusters(
      ngramJaccardPairs(docs, idCol, textCol, threshold))
    val nonCanonical = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(nonCanonical, Seq(idCol), "left_anti")
  }

  // ── MinHash + LSH ─────────────────────────────────────────────────────
  /** MinHash signature over a *pre-hashed* shingle array (`baseHashCol` =
    * one xxhash64 long per shingle) via the native
    * [[graft.functions.MinHashSignature]] kernel — one while-loop per row
    * instead of numHashes boxed higher-order-function passes.
    */
  def minhashSignature(baseHashCol: Column, numHashes: Int): Column =
    graft.functions.SketchFunctions.minhash64(baseHashCol, numHashes)

  /** LSH band keys from a minhash signature: one (band, bkey) row per
    * band, bkey = hash of the band's `rowsPerBand` consecutive signature
    * slots. The SINGLE definition shared by the pair builders and the
    * persisted-index probe — an index written by [[minhashIndex]] and a
    * fresh in-memory signature must band identically or index lookups
    * silently miss.
    */
  private def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    posexplode(transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** Candidate pairs whose banded minhash signatures collide, verified
    * with exact shingle-set Jaccard >= `threshold`.
    *
    * Parameters (bands b, rows r) are chosen so that at `threshold` the
    * detection probability 1-(1-t^r)^b is ~1: default r=4, b=16 gives
    * P(miss at j=0.88) ≈ 4e-7 and candidate FP rate (0.07^4)·16 ≈ 4e-4.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val shingled = shingleHashed(docs, idCol, textCol, shingleSize)
    val withSig = shingled
      .withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
    // band key = hash of r consecutive signature slots. Only (id, band key)
    // enters the join — the shuffle payload is O(bands × ids), not
    // O(bands × corpus shingle bytes); shingles re-attach after the
    // candidate set is deduplicated to one row per pair.
    val banded = withSig.select(col("id"),
        bandKeys(col("sig"), bands, rowsPerBand).as(Seq("band", "bkey")))
    val l = banded.alias("l")
    val r = banded.alias("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    attachShingles(candidates, shingled)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** b-bit MinHash LSH (Li & König, WWW'10): identical pipeline to
    * [[minhashLshPairs]], but each signature slot is truncated to its
    * low `bits` bits BEFORE banding — the signature a 100 TB index
    * actually persists shrinks from 64×8 B to 64×`bits`/8 B (8-16×
    * at realistic sizing), which is the difference between an index
    * that fits executor memory and one that doesn't.
    *
    * Correctness is unchanged: truncation is a pure function of the
    * slot, so two docs whose full slots collide still collide after
    * masking — the banded detector's no-miss guarantee at the
    * threshold is PRESERVED, and the extra false-positive candidates
    * truncation admits (two different slots agreeing on their low b
    * bits, ≈ 2^-b·r per band) are removed by the same exact-Jaccard
    * verify. The output is therefore the identical exact pair relation,
    * pinned by sharing [[minhashLshPairs]]'s oracle.
    *
    * `bits = 0` (the default, and the registered query's path)
    * auto-sizes b so the truncated PER-BAND key space stays ≥ 4·n —
    * smallest b with 2^(r·b) ≥ 4n, by integer bit-length (never
    * Math.log, same last-ulp argument as the embedding-LSH sizer).
    * A FIXED b is the classic fixed-key-space trap this module
    * documents twice already (simhash sub-banding, embedding bucket
    * bits): expected spurious band collisions are n²·bands/2^(r·b),
    * so frozen b ⇒ candidates ∝ n² — measured 16.9× at the sf1→sf10
    * decade with b=4 before the sizer landed (SCALING.md). Auto-b
    * bounds them at bands·n/4 ∝ n while keeping the ≥ 4× storage cut
    * (b grows only logarithmically: 50 k docs → b=5, 17 M → b=7,
    * 1 B → b=8).
    *
    * NOT side-effect-free at build time on the auto path: `bits = 0`
    * with `numDocs = None` runs one `docs.count()` Spark job at
    * DataFrame-CONSTRUCTION time (r13 advisory — every other builder in
    * this module is job-free until the returned plan executes). The
    * corpus size is a number a real ingest pipeline already tracks, so
    * callers that have it pass `numDocs = Some(n)` and the construction
    * is job-free; same contract as [[graft.operators.Similarity.ivfKnnJoinSeeded]]'s
    * `numCentroids`.
    */
  def minhashLshPairsBbit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      bits: Int = 0,
      numDocs: Option[Long] = None): DataFrame = {
    require(bits >= 0 && bits <= 63, s"b-bit minhash bits in [0, 63], got $bits")
    val b =
      if (bits > 0) bits
      else {
        val n = numDocs.getOrElse(docs.count())
        // smallest k with 2^k >= 4n, then b = ceil(k / r), floor 4
        val m = math.max(1L, 4L * n)
        val k = 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
        math.min(16, math.max(4, (k + rowsPerBand - 1) / rowsPerBand))
      }
    val mask = (1L << b) - 1
    val shingled = shingleHashed(docs, idCol, textCol, shingleSize)
    val withSig = shingled
      .withColumn("sig",
        transform(minhashSignature(col("sh"), bands * rowsPerBand),
          v => v.bitwiseAND(lit(mask))))
    val banded = withSig.select(col("id"),
      bandKeys(col("sig"), bands, rowsPerBand).as(Seq("band", "bkey")))
    val l = banded.alias("l")
    val r = banded.alias("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    attachShingles(candidates, shingled)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental (asymmetric) near-dup detection: which INCOMING docs
    * near-duplicate a doc already in the EXISTING corpus — the streaming
    * ingest shape. At 100 TB the existing side's banded signatures are a
    * precomputed index written once at ingest; only the (small) incoming
    * shard is shingled, signed, and joined per batch — nothing corpus-wide
    * recomputes. Here both sides derive from their inputs; the plan is the
    * same band-key equi join as [[minhashLshPairs]] with the existing side
    * as the probe index. Ids SHOULD be disjoint across sides (they label
    * the two corpora); as a guard, self-pairs (`doc_a = doc_b`) are
    * filtered so an id accidentally present on both sides can never
    * report itself as its own near-duplicate. Distinct overlapping ids
    * are the caller's contract to avoid — the output labels columns by
    * SIDE, so a shared id space would make (doc_existing, doc_incoming)
    * ambiguous.
    *
    * Returns (doc_existing, doc_incoming, jaccard ≥ threshold).
    */
  def minhashLshPairsAgainst(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    def banded(docs: DataFrame): (DataFrame, DataFrame) = {
      val shingled = shingleHashed(docs, idCol, textCol, shingleSize)
      val withSig = shingled
        .withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
      (shingled, withSig.select(col("id"),
        bandKeys(col("sig"), bands, rowsPerBand).as(Seq("band", "bkey"))))
    }
    val (shE, bandE) = banded(existing)
    val (shI, bandI) = banded(incoming)
    val candidates = bandE.alias("l").join(bandI.alias("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")) // self-pair guard (see scaladoc)
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .join(shE.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shI.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ── Persisted-bloom ingest PRE-FILTER (r13 verdict item 5): the
  //    standard 100 TB trick of skipping already-seen docs before ANY
  //    shingle/signature work. A bloom over the stored corpus's exact
  //    fingerprints is probed by each incoming batch; bloom NEGATIVES
  //    are definite (no false negatives by construction), so a miss
  //    proves the doc is new and the whole exact-dedup path can skip
  //    it — only the ~FPR share of genuinely-new docs plus the true
  //    dups pay the fingerprint join. EXACTNESS of the end-to-end dedup
  //    is preserved because the filter only ever skips work, never
  //    skips a dup. ────────────────────────────────────────────────────

  /** Corpus-proportional filter sizing: the smallest power of two ≥
    * 16·nStored bits. A FIXED m is this module's documented
    * fixed-key-space trap (fill ratio → 1 as n grows and every probe
    * false-positives, silently degrading the prefilter to a no-op that
    * still pays its own cost); at m = 16n with k = 3 hashes the fill
    * stays ≤ 1−e^(−3/16) ≈ 0.17 and FPR ≈ 0.5% at ANY corpus size.
    * Power-of-two via integer bit-length — transcendental-free, so the
    * oracle replays the sizing exactly (the sim_knn_join device).
    */
  def bloomSize(nStored: Long): Long = {
    val target = math.max(1L, 16L * nStored)
    1L << (64 - java.lang.Long.numberOfLeadingZeros(target - 1L))
  }

  /** k derived md5 bit positions for one fingerprint (the
    * dq_bloom_fpr_eval device: position j = md5("j:" ‖ fp) % m —
    * engine-replayable, uniform). Positions come from a 15-nibble
    * (60-bit) md5 prefix, NOT the 8-nibble (32-bit) one the fixed-m
    * dq harness uses: [[bloomSize]] grows m past 2³² once nStored
    * exceeds ~2²⁸ docs, and a 32-bit position source would make the
    * pmod a no-op there — the filter's effective key space silently
    * saturating at 2³² bits is exactly the fixed-key-space trap the
    * corpus-proportional sizing exists to avoid (r14 advisory). 60
    * bits covers m = 16n up to n ≈ 7·10¹⁶ docs; the require makes any
    * excursion past that fail loudly instead of silently aliasing.
    */
  private def bloomPositions(fp: Column, m: Long, hashes: Int): Column = {
    require(m <= (1L << 60),
      s"bloom size $m exceeds the 60-bit position space; corpus too large")
    array((1 to hashes).map(j =>
      pmod(conv(substring(md5(concat(lit(s"$j:"), fp)), 1, 15), 16, 10)
        .cast("long"), lit(m))): _*)
  }

  /** The persisted filter artifact: the DISTINCT set bit positions over
    * the stored fingerprints — ≤ min(m, k·n) single-long rows, written
    * once at ingest and appended as batches commit (set-bit union is
    * append + distinct). Stored as a position TABLE rather than a
    * packed bitmap so probing stays a relational equi join; at 100 TB
    * the table is bucketed by `pos` at write time so per-batch probes
    * shuffle only the k·|batch| probe rows, never the filter.
    */
  def bloomBits(
      storedFps: DataFrame, // (fp)
      m: Long,
      hashes: Int = 3): DataFrame =
    storedFps
      .select(explode(bloomPositions(col("fp"), m, hashes)).as("pos"))
      .distinct()

  /** Probe an incoming batch against the stored filter: returns
    * (id, fp, bloom_hit). `bloom_hit = false` is DEFINITE — the doc's
    * fingerprint is not in the stored corpus and every downstream
    * exact-dedup join can skip it; hits (true dups + ~FPR false
    * positives) proceed to the exact fingerprint check. Cost per batch:
    * the fingerprint kernel over the batch + a k·|batch|-row equi join
    * against the filter — O(batch), nothing corpus-sized recomputes
    * (duplicate positions within a probe count per-row, so the
    * all-present test stays a plain count — the dq_bloom_fpr_eval
    * argument).
    */
  def bloomPrefilter(
      bits: DataFrame, // (pos) from bloomBits, possibly parquet-read
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      m: Long,
      hashes: Int = 3): DataFrame = {
    val inc = incoming.select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("fp"))
    val hits = inc
      .select(col("id"), explode(bloomPositions(col("fp"), m, hashes)).as("pos"))
      .join(bits, Seq("pos"))
      .groupBy(col("id")).agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === hashes.toLong)
      .select(col("id"), lit(true).as("bloom_hit"))
    inc.join(hits, Seq("id"), "left")
      .select(col("id"), col("fp"),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"))
  }

  /** Write-once MinHash signature INDEX over a corpus: one (id, sig)
    * row per doc, sig = the `numHashes`-slot minhash signature. This is
    * the artifact [[minhashLshPairsAgainst]]'s scaladoc promises for
    * production ingest: built ONCE per doc at ingest time (one scan,
    * no shuffle — the signature is a per-row kernel), appended to a
    * parquet index, and probed per batch by [[minhashPairsViaIndex]]
    * without ever re-reading or re-shingling corpus text. At 100 TB the
    * index is ~0.05% of corpus bytes (64 longs per doc), so the per-batch
    * working set drops from corpus-sized to index-sized.
    *
    * `numHashes` must equal the probe's bands × rowsPerBand (default
    * 16 × 4 = 64) — the index pins the LSH geometry at write time.
    */
  def minhashIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64): DataFrame = {
    shingleHashed(docs, idCol, textCol, shingleSize)
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
  }

  /** Index ROTATION: append the incoming batch's signatures (same
    * [[minhashIndex]] kernel, same geometry) to the persisted parquet
    * index at `path` — the step a real ingest loop runs after probing,
    * so the batch is part of the corpus the NEXT batch dedups against.
    * Parquet append is a pure file-add (no read-modify-write of existing
    * index files), so rotation cost is O(batch), never O(index). After
    * rotation, index@t+1 must be row-identical to a from-scratch
    * [[minhashIndex]] rebuild over existing ∪ incoming — the
    * `dedup_index_rotate` oracle row and DedupSpec pin exactly that.
    */
  def rotateIndex(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64): Unit = {
    // Geometry precheck BEFORE appending: a mismatched append would
    // succeed and leave a mixed-geometry index on disk — every later
    // probe of ANY batch then fails via the in-plan guard, and recovery
    // is a full rebuild. Failing the O(batch) rotation here keeps the
    // O(corpus) artifact clean. One row-limit job against the stored
    // index (empty seed indexes skip the check).
    val spark = incoming.sparkSession
    val stored = spark.read.parquet(path)
      .select(size(col("sig")).as("n")).limit(1).collect()
    require(stored.isEmpty || stored(0).getInt(0) == numHashes,
      s"rotateIndex: index at $path stores ${stored(0).getInt(0)}-hash " +
        s"signatures, batch would append $numHashes — match the stored " +
        "geometry or rebuild the index")
    minhashIndex(incoming, idCol, textCol, shingleSize, numHashes)
      .write.mode("append").parquet(path)
  }

  /** One step of the INGEST LOOP: everything a pipeline runs when batch
    * t arrives. The batch's text is shingled and signed exactly ONCE —
    * by the ROTATION, which appends the signatures to the index first;
    * both pair detections then run off STORED signatures: batch-vs-
    * corpus probes the pre-rotation index snapshot against the batch's
    * just-stored band keys, and batch-vs-batch is a band self-join of
    * those same stored keys. Exact-Jaccard verify re-shingles only
    * candidate-named docs on either side, so per batch the text-side
    * cost is one signing pass + O(candidates), never O(corpus) and
    * never a second full-batch pass. Over a whole sequential run the
    * step outputs PARTITION the corpus's pair set: a pair lands in
    * exactly one step (both docs same batch → that step's within-pairs;
    * else → the later doc's cross-pairs), which is what lets
    * `dedup_ingest_loop` oracle-check a 3-batch replay against the
    * full-corpus exact pair relation.
    *
    * Snapshot discipline: the pre-rotation index DataFrame lists its
    * files BEFORE the append (Spark's file index lists eagerly at
    * read time), so the cross probe never sees the batch's own
    * signatures; the post-rotation read lists fresh and the batch's
    * stored rows are recovered by an id semi join (the disjoint-id
    * contract of [[minhashPairsViaIndex]] applies).
    */
  def ingestStep(
      indexPath: String,
      existing: DataFrame, // all docs of earlier batches (verify-side text)
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val preIndex = snapshotParquet(spark, indexPath) // pre-rotation snapshot
    rotateIndex(batch, idCol, textCol, indexPath, shingleSize, bands * rowsPerBand)
    val batchSig = snapshotParquet(spark, indexPath) // post-rotation listing
      .join(batch.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val bandB = guardedBandKeys(batchSig, bands, rowsPerBand)
    val cross = verifiedPairsFromBands(
      guardedBandKeys(preIndex, bands, rowsPerBand), bandB,
      existing, batch, idCol, textCol, threshold, shingleSize, selfJoin = false)
    val within = verifiedPairsFromBands(
      bandB, bandB, batch, batch, idCol, textCol, threshold, shingleSize,
      selfJoin = true)
    cross.unionByName(within)
  }

  /** Index COMPACTION — the OPTIMIZE step of the ingest loop. Each
    * [[rotateIndex]] call appends one file set, so after K batches the
    * index directory holds O(K) files: every probe then pays K footer
    * opens, and rows for nearby ids are scattered across all of them.
    * Compaction rewrites the index into `numFiles` id-RANGE-clustered
    * files (repartitionByRange: one sort-shuffle of (id, sig) rows —
    * index-sized, never corpus-sized), restoring per-file min/max id
    * statistics so id-bounded probes prune files, and amortizing to
    * O(1) of index scans per compaction cycle. Content is untouched:
    * `dedup_index_compact` proves the compacted index row-identical to
    * a from-scratch rebuild, and DedupSpec pins the file-count drop.
    */
  def compactIndex(
      index: DataFrame,
      dest: String,
      numFiles: Int = 8): Unit =
    index.repartitionByRange(numFiles, col("id"))
      .write.mode("overwrite").parquet(dest)

  /** Incremental near-dup detection against a PERSISTED signature index
    * (see [[minhashIndex]]) — the true production form of
    * [[minhashLshPairsAgainst]], which recomputes the existing side's
    * signatures from text on every call. Here the existing side
    * contributes only stored (id, sig) rows: band keys are sliced from
    * the stored signature by the same [[bandKeys]] definition the
    * builders use, the incoming batch is shingled and signed fresh, and
    * candidates come from the band-key equi join. The exact-Jaccard
    * verify step then re-shingles ONLY existing docs named in the
    * candidate set (a left-semi-reduced scan of `existing`) — per batch
    * the text-side work is O(incoming + candidates), never O(corpus).
    *
    * Output and miss/false-positive characteristics are IDENTICAL to
    * [[minhashLshPairsAgainst]] (same signatures, same band keys, same
    * exact verify): returns (doc_a = existing id, doc_b = incoming id,
    * jaccard ≥ threshold). Same disjoint-id contract and self-pair guard.
    */
  def minhashPairsViaIndex(
      index: DataFrame, // (id, sig) from minhashIndex
      existing: DataFrame, // corpus rows, read only for candidate verify
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val bandI = shingleHashed(incoming, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
      .select(col("id"), bandKeys(col("sig"), bands, rowsPerBand).as(Seq("band", "bkey")))
    verifiedPairsFromBands(
      guardedBandKeys(index, bands, rowsPerBand), bandI,
      existing, incoming, idCol, textCol, threshold, shingleSize,
      selfJoin = false)
  }

  /** Snapshot read of a parquet directory pinned to its EXPLICIT file
    * list. `spark.read.parquet(dir)` freezes the listing per DataFrame,
    * but two such scans of the same dir at different snapshots
    * CANONICALIZE equal (HadoopFsRelation compares the root path, not
    * the files), so inside one query plan Spark's exchange reuse can
    * substitute one snapshot's scan for the other — a sequential ingest
    * loop unioned into a single plan then probes the wrong index epoch
    * (observed: batch 2's cross probe served batch 1's pre-rotation
    * listing, silently losing pairs). Reading by explicit file paths
    * makes each snapshot's rootPaths distinct, so only genuinely
    * identical snapshots ever reuse. Local-FS listing is fine for the
    * scratch indexes these queries build; at scale the same role is
    * played by a manifest/table-format snapshot id.
    */
  private def snapshotParquet(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    if (files.isEmpty) spark.read.parquet(dir) // schema-only seed dir
    else spark.read.parquet(files: _*)
  }

  /** Band keys sliced from STORED signatures, with the geometry guard:
    * the index pinned its LSH geometry at write time (numHashes = bands
    * × rowsPerBand). A mismatched probe would slice short/empty band
    * keys from the stored signature and SILENTLY miss pairs — so a
    * wrong-length stored sig fails the job in-plan instead (same
    * raise_error pattern as the Profiler domain guard).
    */
  private def guardedBandKeys(index: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val expectedLen = bands * rowsPerBand
    val guardedSig = when(size(col("sig")) === expectedLen, col("sig"))
      .otherwise(raise_error(concat(
        lit(s"minhash index geometry mismatch: probe expects $expectedLen hashes " +
          s"($bands bands x $rowsPerBand rows), stored signature has "),
        size(col("sig")).cast("string"))))
    index.select(col("id"),
      bandKeys(guardedSig, bands, rowsPerBand).as(Seq("band", "bkey")))
  }

  /** Band-key candidate join + candidate-bounded exact verify, shared by
    * every stored-signature probe shape (index probe, ingest-step cross
    * AND within pairs). `selfJoin = true` orders the pair (doc_a < doc_b,
    * the one-sided self-join convention); `false` keeps the
    * side-labeled (existing, incoming) orientation with the self-pair
    * guard. Verify is candidate-bounded on BOTH sides: only docs named
    * in the candidate set are re-shingled — O(candidates) text work,
    * never O(side).
    *
    * NOTE: `candidates` feeds the two semi-join reductions and the final
    * pair joins, so the band-key equi join evaluates three times per
    * run. Deliberate: band keys are deterministic (every evaluation sees
    * the identical set), the band join is the CHEAP stage (index-sized
    * equi join, no text), and caching it would pin candidate partitions
    * in executor storage for the life of the query — at 100 TB the
    * re-evaluation is cheaper than the cache residency it would
    * displace.
    */
  /** Band-key candidate generation + exact-Jaccard verify shared by the
    * self-join, cross-corpus, and persisted-index probes.
    *
    * The `candidates` subtree feeds THREE consumers (each side's
    * left-semi shingle reduction and the final pair join), so in the
    * unoptimized plan the band equi join is written 3×. This is
    * deliberate (r10 advisory, "accept and document" option): band keys
    * are deterministic, the repeated subtrees canonicalize EQUAL, so
    * Spark's ReuseExchange/AQE stage reuse shares the shuffle exchanges
    * at runtime rather than recomputing them; a persist() here would
    * trade that for cache-manager lifecycle inside a pure plan builder
    * (and an unpersist obligation no caller can meet), and an eager
    * localCheckpoint would violate the plan-construction-runs-no-jobs
    * audit.
    */
  private def verifiedPairsFromBands(
      bandA: DataFrame, // (id, band, bkey)
      bandB: DataFrame,
      docsA: DataFrame,
      docsB: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int,
      selfJoin: Boolean): DataFrame = {
    val candidates = bandA.alias("l").join(bandB.alias("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .filter(if (selfJoin) col("doc_a") < col("doc_b")
              else col("doc_a") =!= col("doc_b")) // self-pair guard
      .dropDuplicates("doc_a", "doc_b")
    def candShingles(docs: DataFrame, side: String): DataFrame =
      shingleHashed(
        docs.join(candidates.select(col(side).as(idCol)).distinct(),
          Seq(idCol), "left_semi"),
        idCol, textCol, shingleSize)
    candidates
      .join(candShingles(docsA, "doc_a")
        .select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(candShingles(docsB, "doc_b")
        .select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Re-attach each side's shingle set to an id-pair relation and compute
    * exact Jaccard — two equi joins shuffled by id, paid once per
    * *surviving* candidate pair.
    */
  private def attachShingles(pairs: DataFrame, shingled: DataFrame): DataFrame =
    pairs
      .join(shingled.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingled.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))

  /** Exact Jaccard over ANY two arrays — the generic public entry point:
    * hash-set intersection/union via Spark's builtins, so unsorted or
    * duplicate-element inputs (and any element type) get set semantics.
    * Hot paths inside this module use [[sortedJaccard]] instead, whose
    * sorted-distinct input contract buys an allocation-free merge walk.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b)).cast("double")

  /** Exact Jaccard over two SORTED distinct-element long arrays (every
    * shingle set in this module — `shingle_hashes` emits sorted
    * distinct). |A∪B| = |A|+|B|−|A∩B|, and the intersection count is
    * one allocation-free sorted-merge walk (`sorted_intersect_count`)
    * instead of array_intersect's boxed hash set PLUS array_union's
    * materialized union — the verify step runs once per surviving
    * candidate pair, which at corpus scale is the dedup verify's whole
    * cost. Both divisions are exact-integer-operand IEEE divides, so
    * the value is bit-identical to [[jaccard]] on sorted-distinct input
    * and to the DuckDB oracles'
    * len(list_intersect)/len(list_distinct(list_concat)). INPUT
    * CONTRACT: sorted, distinct, non-null elements — unsorted or
    * duplicate elements silently undercount (the merge-walk contract),
    * and the kernel type-checks only array<bigint> with
    * containsNull=false; callers with arbitrary arrays use [[jaccard]].
    */
  def sortedJaccard(a: Column, b: Column): Column = {
    val c = graft.functions.SketchFunctions.sortedIntersectCount(a, b)
    c / (size(a) + size(b) - c)
  }

  // ── n-gram Jaccard with prefix filtering (AllPairs/PPJoin family) ────
  /** All pairs with shingle-Jaccard >= `threshold`, exactly — without a
    * cross join. Candidate generation uses *prefix filtering*: order each
    * doc's shingle hashes by a global total order and emit only the first
    * ⌊(1−t)·|sh|⌋+1 as join keys. If j(A,B) ≥ t then
    * |A∩B| ≥ t·max(|A|,|B|), and two sets with that much overlap must
    * share an element inside those prefixes (Bayardo et al., "Scaling Up
    * All Pairs Similarity Search", WWW'07) — so the equi join on prefix
    * keys is lossless, and it prunes homogeneous corpora that size-based
    * blocking cannot (size blocking degenerates to ~all-pairs when every
    * doc is similar in length). The total order is ascending *document
    * frequency* (Bayardo §3.1's canonical order, rarest first): prefixes
    * then hold the corpus's rare shingles, which (a) collide far less
    * (measured 2× fewer candidates on testdata than hash order), and
    * (b) never concentrate a hot join key — a hash-ordered prefix puts
    * stop-word shingles in millions of prefixes at corpus scale, and
    * that one key's candidate block is quadratic. Exact Jaccard verifies
    * each candidate, so the output is exact.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3): DataFrame = {
    val shingled = shingleHashed(docs, idCol, textCol, shingleSize)
    // prefix length ⌊(1−t)·|sh|⌋+1 == |sh|−⌈t·|sh|⌉+1 (the AllPairs
    // bound); the 1e-9 guards the float product dipping just below an
    // exact integer, which would shrink the prefix and lose pairs.
    val sized = shingled
      .withColumn("sz", size(col("sh")))
      .withColumn("plen",
        (floor(size(col("sh")).cast(DoubleType) * lit(1.0 - threshold) + lit(1e-9)) + 1)
          .cast("int"))
    val exploded = sized.select(col("id"), col("sz"), col("plen"),
      explode(col("sh")).as("h"))
    // document frequency of every shingle: one aggregate over the
    // exploded corpus; the rank window re-shuffles by doc id — both are
    // plain bounded shuffles, no row blow-up beyond the shingle count
    val freq = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("h").asc)
    val expanded = exploded.join(freq, "h")
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= col("plen"))
      .select(col("id"), col("sz"), col("rnk"), col("h").as("pkey"))
    val l = expanded.alias("l"); val r = expanded.alias("r")
    // length filter (AllPairs): j ≥ t forces t·|A| ≤ |B| ≤ |A|/t — prunes
    // size-incompatible collisions before the pair-dedup shuffle.
    // positional filter (PPJoin, Xiao et al. WWW'08): a token shared at
    // (1-based) positions (i, j) of the df-ordered arrays bounds the
    // overlap by 1 + min(|A|−i, |B|−j) — for the pair's FIRST shared
    // token (always inside both prefixes, in the join output) every
    // common token sits at positions ≥ (i, j), so the bound is valid
    // there and maximal; j ≥ t needs overlap ≥ t/(1+t)·(|A|+|B|), so
    // occurrences whose bound falls short are dropped before the
    // pair-dedup shuffle and the exact-verify joins. Lossless: a true
    // pair always survives via its first-shared-token occurrence
    // (asserted against brute force in DedupSpec).
    val candidates = l.join(r,
        col("l.pkey") === col("r.pkey") && col("l.id") < col("r.id") &&
          col("l.sz") * lit(threshold) <= col("r.sz") &&
          col("r.sz") * lit(threshold) <= col("l.sz") &&
          (lit(1) + least(col("l.sz") - col("l.rnk"), col("r.sz") - col("r.rnk"))) >=
            (col("l.sz") + col("r.sz")) * lit(threshold / (1.0 + threshold)) - lit(1e-9))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    attachShingles(candidates, shingled)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Directed CONTAINMENT pairs: (a, b) with
    * c(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ `threshold` — the asymmetric
    * near-superset detector (Broder'97's containment, the quote /
    * extended-rewrite / doc-embedded-in-crawl case that symmetric
    * Jaccard structurally misses: a short doc fully quoted inside a long
    * one has Jaccard ≈ |a|/|b| but containment 1.0).
    *
    * Candidate generation is the A-side prefix filter: if c(a→b) ≥ t the
    * overlap is ≥ ⌈t·|a|⌉, so a shares at least one of its first
    * ⌊(1−t)·|a|⌋+1 shingles (ascending document frequency — Bayardo's
    * canonical order, rare-first, no hot prefix keys) with b; b is
    * indexed in FULL (asymmetry: nothing bounds where in b the shared
    * shingles sit, so the containing side gets the inverted index, the
    * contained side only its prefix). Join is prefix(a) ⋈ all(b) — the
    * candidate volume is prefix-sized × df, not |a|×|b|. The one-sided
    * length filter |sh(b)| ≥ t·|sh(a)| prunes size-impossible pairs
    * (containment has no upper size bound, unlike Jaccard's two-sided
    * band). Exact set intersection verifies every candidate — output is
    * exact, asserted against brute force in DedupSpec.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3): DataFrame = {
    val shingled = shingleHashed(docs, idCol, textCol, shingleSize)
    val sized = shingled
      .withColumn("sz", size(col("sh")))
      .withColumn("plen",
        (floor(size(col("sh")).cast(DoubleType) * lit(1.0 - threshold) + lit(1e-9)) + 1)
          .cast("int"))
    val exploded = sized.select(col("id"), col("sz"), col("plen"),
      explode(col("sh")).as("h"))
    val freq = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("h").asc)
    val prefixes = exploded.join(freq, "h")
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= col("plen"))
      .select(col("id"), col("sz"), col("h").as("pkey"))
    val full = exploded.select(col("id").as("bid"), col("sz").as("bsz"),
      col("h").as("pkey"))
    val candidates = prefixes.join(full,
        prefixes("pkey") === full("pkey") && col("id") =!= col("bid") &&
          col("bsz").cast(DoubleType) >= col("sz") * lit(threshold) - lit(1e-9))
      .select(col("id").as("doc_a"), col("bid").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .join(shingled.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingled.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment",
        // sorted-merge count (see jaccard above) — sh arrays are sorted
        graft.functions.SketchFunctions
          .sortedIntersectCount(col("sh_a"), col("sh_b")) / size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  // ── SimHash ───────────────────────────────────────────────────────────
  /** Near-dup pairs by SimHash hamming distance <= maxDistance.
    *
    * Candidates come from TWO-LEVEL band collisions: 4 primary 16-bit
    * bands, and for each primary band the REMAINING 48 bits split into 4
    * sub-bands of 12. Double pigeonhole keeps the recall guarantee: ≤ 3
    * errors over 4 primary bands leave one band intact, and the ≤ 3
    * errors then fall on that band's 4 sub-bands, leaving one sub-band
    * intact — so every pair within distance 3 shares a full
    * (band, sub-band) key. The effective join key is 28 bits instead of
    * 16: a FIXED 65536-bucket space saturates as the corpus grows (bucket
    * occupancy ∝ n ⇒ candidates ∝ n², measured 30× cost at 10× docs);
    * the 2²⁸ key space pushes that wall out 4096× for 16× more exploded
    * rows — linear cost to kill a quadratic one.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      md5TokenHash: Boolean = false): DataFrame = {
    require(maxDistance <= 3, "the 4-band scheme only guarantees recall for distance <= 3")
    // md5TokenHash swaps the FNV-1a token hash for md5-low-64: slower,
    // but recomputable by any ANSI engine — with the pigeonhole recall
    // guarantee this makes the whole operator exactly oracle-checkable
    val hashFn: Column => Column =
      if (md5TokenHash) graft.functions.TextHashFunctions.simhash64Md5
      else graft.functions.TextHashFunctions.simhash64
    val withHash = docs.select(col(idCol).as("id"),
      hashFn(tokens(col(textCol))).as("h"))
    // key layout per (band b, sub s): [16-bit band b | 12-bit sub-band s
    // of the other 48 bits | b | s] packed into one long
    val keys = for (b <- 0 until 4; s <- 0 until 4) yield {
      val bandBits = shiftrightunsigned(col("h"), b * 16).bitwiseAND(lit(0xFFFFL))
      // remaining 48 bits = hash with band b's 16 bits dropped (band 3
      // has no high part — and >>> 64 would wrap to >>> 0)
      val loMask = (1L << (b * 16)) - 1L
      val rest =
        if (b == 3) col("h").bitwiseAND(lit(loMask))
        else shiftrightunsigned(col("h"), (b + 1) * 16)
          .multiply(lit(1L << (b * 16)))
          .bitwiseOR(col("h").bitwiseAND(lit(loMask)))
      val subBits = shiftrightunsigned(rest, s * 12).bitwiseAND(lit(0xFFFL))
      bandBits.multiply(lit(1L << 16))
        .bitwiseOR(subBits.multiply(lit(16L)))
        .bitwiseOR(lit((b * 4 + s).toLong))
    }
    val banded = withHash.select(col("id"), col("h"),
      explode(array(keys: _*)).as("bkey"))
    val l = banded.alias("l"); val r = banded.alias("r")
    l.join(r, col("l.bkey") === col("r.bkey") && col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"),
        bit_count(col("l.h").bitwiseXOR(col("r.h"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxDistance)
  }

  // ── embedding cosine near-dup ─────────────────────────────────────────
  /** Pairs with cosine >= threshold. Brute-force baseline: an equi-less
    * self join restricted by id ordering — quadratic, correct, the
    * reference point for the LSH path in [[Similarity]].
    */
  def embeddingCosinePairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val l = embeddings.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.VectorFunctions.cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup (Abbas et al., 2023 — semantic dedup for LLM pretraining
    * corpora): cluster the embedding space, then search for near-dups
    * ONLY within each cluster and keep one representative per duplicate
    * group. The published method's scale argument is exactly this
    * blocking step: corpus² pair candidates collapse to Σ_cell occ², and
    * growing the cell count with the corpus keeps occupancy — so cost
    * per vector — constant. Cross-cell near-dups are missed by design
    * (the method's documented approximation).
    *
    * Determinism for the oracle: clustering is the same seeded quantizer
    * as `sim_topk_ivf` (lowest-id centroids, cosine argmax, ties → lower
    * cell), and the kept representative per duplicate pair is the lower
    * id — a vector is REMOVED iff some smaller same-cell id is ≥
    * `threshold` similar, so each similarity group keeps exactly its
    * minimum. Returns the per-cell curation report (members, duplicate
    * pairs, removed, kept), O(cells) rows.
    *
    * `numCells = 0` (the default) sizes the cell count to ⌊√n⌋ (floor 64,
    * NO upper clamp) — the BALANCED point between the two quadratic
    * traps: a FIXED cell count makes occupancy ∝ n so in-cell pairs grow
    * n² (the r3 LSH wall — exactly the wall the r12-era [64, 4096] clamp
    * silently re-opened past n ≈ 4096² ≈ 17 M vectors), while cells ∝ n
    * makes the ROUTING pass (every vector × every centroid) grow n².
    * At √n the in-cell pair work grows n·occ = n·√n, and the quantizer
    * shape keeps the routing side in check past the flat-broadcast
    * budget: [[Similarity.buildCellIndex]] switches to a TWO-LEVEL
    * quantizer above [[Similarity.maxFlatCells]] cells (~n^(1/4) coarse
    * cells broadcast, per-coarse-cell sub-split via a keyed shuffle
    * join), so routing is ~2·n^(5/4) cosines and nothing corpus-scaled
    * is ever broadcast. One sizing count, the embeddingNearDupPairsLsh
    * precedent; the oracle mirrors the flat construction as a computed
    * LIMIT (valid at every oracle scale — the two-level switch sits at
    * 17 M vectors; ScalingSmokeSpec pins sub-quadratic candidate growth
    * across that boundary).
    */
  def semDedupCells(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 0): DataFrame = {
    val cand = embeddings.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val cells =
      if (numCells > 0) numCells
      else math.max(64L, math.sqrt(embeddings.count().toDouble).toLong).toInt
    semDedupReport(cand, Similarity.buildCellIndex(cand, cells), threshold)
  }

  /** [[semDedupCells]] with a FORCED two-level quantizer — the shape the
    * auto path takes past ~17 M vectors, pinned at oracle-checkable
    * corpus sizes. Same report, same keep-minimum rule; only the cell
    * construction differs (see [[Similarity.buildCellIndexTwoLevel]]).
    * Tier sizes ≤ 0 auto-size to ⌊√⌊√n⌋⌋ (floor 2) — BOTH tiers grow
    * with the corpus, so total cells track √n and neither the fixed-cell
    * (n² pairs) nor the fixed-occupancy (n² routing) trap re-opens; the
    * nested integer sqrt is exactly replayable in SQL (sqrt of an
    * integer-valued double is correctly rounded in both engines, the
    * semDedupCells LIMIT precedent).
    */
  def semDedupCellsTwoLevel(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      coarseCells: Int = 0,
      subCells: Int = 0): DataFrame = {
    val cand = embeddings.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val (c1, c2) =
      if (coarseCells > 0 && subCells > 0) (coarseCells, subCells)
      else {
        val t = math.max(2L, math.sqrt(
          math.sqrt(embeddings.count().toDouble).toLong.toDouble).toLong).toInt
        (t, t)
      }
    semDedupReport(cand,
      Similarity.buildCellIndexTwoLevel(cand, c1, c2), threshold)
  }

  /** Per-cell curation report over a routed corpus: within-cell cosine
    * pairs ≥ threshold, removed = distinct higher-id pair members (each
    * duplicate group keeps its minimum id), O(cells) output rows.
    */
  private def semDedupReport(cand: DataFrame, index: Similarity.CellIndex,
      threshold: Double): DataFrame = {
    val withCell = cand.join(index.route(cand), "cid")
    val pairs = withCell
      .select(col("cell"), col("cid").as("id_a"), col("cvec").as("va"))
      .join(withCell.select(col("cell").as("cell2"), col("cid").as("id_b"),
        col("cvec").as("vb")),
        col("cell") === col("cell2") && col("id_a") < col("id_b"))
      .filter(graft.functions.VectorFunctions
        .cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"))
    val perCellPairs = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("id_b")).as("n_removed"))
    withCell.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(perCellPairs, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_members") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
  }

  /** Incremental SemDeDup, CONVENIENCE form: builds the cell index over
    * `stored` on every call — one corpus-sized routing pass plus a
    * count() for the auto-sizing — then delegates to the index overload.
    * Right for one-shot admission checks; a serving tier admitting many
    * batches builds the index once ([[Similarity.buildCellIndex]] +
    * `index.route(stored)`, both persistable DataFrames) and calls the
    * overload below per batch, which is O(batch·occupancy), never
    * O(corpus). (r12 advisory: the per-call rebuild is a property of
    * THIS overload, not of the algorithm.)
    */
  def semDedupProbe(
      stored: DataFrame, // (cid, cvec) — the indexed corpus
      batch: DataFrame, // (cid, cvec) — incoming
      threshold: Double,
      numCells: Int = 0): DataFrame = {
    val cells =
      if (numCells > 0) numCells
      else math.max(64L, math.sqrt(stored.count().toDouble).toLong).toInt
    val index = Similarity.buildCellIndex(
      stored.select(col("cid"), col("cvec")), cells)
    semDedupProbe(index, index.route(stored), stored, batch, threshold)
  }

  /** Incremental SemDeDup against a PREBUILT frozen index: admit an
    * incoming batch using the stored corpus's quantizer and assignment
    * tables — the per-batch serving shape of [[semDedupCells]],
    * completing the index-lifecycle story the MinHash
    * (`dedup_signature_index`) and IVF (`sim_index_probe`) families
    * already have. Per batch: route |batch| vectors against the FROZEN
    * quantizer (|batch|·|coarse| broadcast cosines, plus the keyed
    * sub-tier join when two-level — never a corpus re-assignment),
    * compare each only against SAME-CELL stored members plus SMALLER-ID
    * same-cell batchmates (so a batch of mutual dups admits exactly its
    * minimum — the semDedupCells keep rule applied online). Emits one
    * row per batch vector: cell, match count, best (highest-cosine,
    * ties → lower id) match, and the admit decision.
    * O(batch · occupancy) — never O(corpus).
    */
  def semDedupProbe(
      index: Similarity.CellIndex, // frozen quantizer over `stored`
      storedAssign: DataFrame, // (cid, cell) — stored routing, persistable
      stored: DataFrame, // (cid, cvec) — vectors for the verify cosines
      batch: DataFrame, // (cid, cvec) — incoming
      threshold: Double): DataFrame = {
    val storedCells = stored.join(storedAssign, "cid")
      .select(col("cell"), col("cid").as("sid"), col("cvec").as("sv"))
    val batchCells = batch
      .join(index.route(batch), "cid")
      .select(col("cell"), col("cid"), col("cvec"))
    val candidates = batchCells
      .join(storedCells, Seq("cell"))
      .unionByName(batchCells.join(
        batchCells.select(col("cell"), col("cid").as("sid"),
          col("cvec").as("sv")), Seq("cell"))
        .filter(col("sid") < col("cid")))
    val matches = candidates
      .select(col("cell"), col("cid"), col("sid"),
        graft.functions.VectorFunctions.cosineSim(col("cvec"), col("sv"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("cell"), col("cid"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("cosine"), (-col("sid")).as("nsid"))).as("best"))
      .select(col("cell"), col("cid"), col("n_matches"),
        (-col("best.nsid")).as("best_match_id"))
    batchCells.select(col("cell"), col("cid"))
      .join(matches, Seq("cell", "cid"), "left")
      .select(col("cid").as("vec_id"), col("cell"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match_id"),
        (coalesce(col("n_matches"), lit(0L)) === 0L).as("admitted"))
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH buckets
    * generate candidates (equi join, no cross product); the left side is
    * multi-probed to hamming distance 1, so any pair whose signatures
    * differ in ≤ 1 bit is considered; exact cosine verifies. Recall vs
    * [[embeddingCosinePairs]] is measured in DedupSpec.
    *
    * `bits = 0` (the default) sizes the bucket space to the corpus:
    * ~log₂(n/4), clamped to [8, 24]. A FIXED bucket count is a scale
    * trap — occupancy grows ∝ n, so within-bucket candidates grow ∝ n²
    * (measured 17× cost at 10× vectors with bits=8). Growing the space
    * with n keeps occupancy, and so cost per vector, roughly constant;
    * the hamming-1 multi-probe keeps adjacent buckets reachable so
    * recall degrades gently, not cliff-like, as bits rise. The sizing
    * count() is one metadata-fast action.
    *
    * Occupancy target 4 (not 32 — the r11 scale guard caught the
    * higher target costing 16.6× at 10× data): candidate volume per
    * bucket is occupancy², so pushing occupancy to ~4 trades three
    * extra signature bits (cheap: the codegen'd kernel is ∝ bits·dim
    * per row) for an ~8× cut in within-bucket pair work — measured
    * 3.6 s → 0.7 s on 100 k vectors. The recall cost of the wider
    * space: a true pair at angle θ flips each signature bit with
    * probability θ/π, so P(hamming ≤ 1) falls as bits grow — for the
    * near-identical pairs this operator targets (cosine ≥ 0.9, flip
    * prob ≤ 0.1) the 12→15-bit step at the 100 k decade keeps
    * P(hamming ≤ 1) ≈ 0.55, and ScalingSmokeSpec pins measured recall
    * at sf1 against the exact pair set.
    */
  def embeddingNearDupPairsLsh(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 0,
      seed: Long = 42L): DataFrame = {
    val nBits =
      if (bits > 0) bits
      else {
        val n = embeddings.count()
        // ceil(log2(n/4)) by integer bit-length, NOT Math.log: ln is not
        // correctly rounded, so at near-power-of-two corpora a last-ulp
        // disagreement with the oracle's ln() would flip the ceil and
        // change nbits. smallest k with 4·2^k ≥ n == bitLength(⌈n/4⌉-1).
        val m = (n + 3L) / 4L
        val k = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
        math.min(24, math.max(8, k))
      }
    val sig = Similarity.signature(col("v"), nBits, seed)
    val base = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", sig)
    // One side expands into hamming-1 probes, the other keeps its single
    // bucket: a pair matches iff hamming ≤ 1, and at most once (probe
    // values are distinct) — no pair-dedup shuffle needed.
    val l = base.select(col("id").as("id_a"), col("v").as("v_a"),
      explode(Similarity.probes(col("bucket"), nBits)).as("probe"))
    val r = base.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    l.join(r, col("probe") === col("bucket") && col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.VectorFunctions.cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
