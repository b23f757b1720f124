package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits over the registered queries (SURVEY.md §4): the
  * scale properties the engine relies on must be visible in `explain` —
  * filter pushdown into the parquet scan, column pruning, broadcast
  * joins for dimensions, partial+final aggregation, whole-stage codegen.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  // r16 (VERDICT item 2, suite runtime): build each registered query
  // ONCE per suite run and share the Dataset across every audit. The
  // four 506-query audits below each rebuilt all queries (re-running the
  // eager-input jobs — checkpoints, index writes — some builders
  // legitimately execute), ~75 s apiece; tests in a ScalaTest suite run
  // sequentially, so a plain HashMap is safe.
  private val built =
    scala.collection.mutable.HashMap.empty[String, org.apache.spark.sql.DataFrame]
  private def builtQuery(name: String): org.apache.spark.sql.DataFrame =
    built.getOrElseUpdate(name, { auditing = name; SparkEntry.queries(name)(spark, sfDir) })

  private def plan(name: String): String = {
    val df = builtQuery(name)
    auditing = name
    df.queryExecution.executedPlan.toString
  }

  // Spark drops a hint it cannot apply (a broadcast hint on the preserved
  // side of an outer join, an unknown hint name) with a warning through
  // HintErrorLogger and plans without it. Every build and plan of this
  // suite's single pass is watched, tagged with the query being audited.
  @volatile private var auditing = ""
  private val hintErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    Configurator.setLevel(name, Level.WARN)
    val appender = new AbstractAppender("graft-hint-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        hintErrors.add(s"$auditing: ${e.getMessage.getFormattedMessage}"); ()
      }
    }
    appender.start()
    LogManager.getLogger(name).asInstanceOf[Logger].addAppender(appender)
  }

  test("date filter is pushed down to the parquet scan") {
    val p = plan("filter_partition_date")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(l_shipdate.*"), p)
  }

  test("column pruning reaches the scan (ReadSchema carries only used columns)") {
    val p = plan("filter_eq")
    // query touches 4 of lineitem's/orders' columns; the scan must not read all
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty, p)
    val cols = read.split(",").map(_.takeWhile(_ != ':').trim)
    assert(cols.toSet == Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"), read)
  }

  test("star-schema rollup broadcasts every dimension (no sort-merge join)") {
    val p = plan("join_star_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("aggregations run partial+final (map-side combine)") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("flagship query runs inside whole-stage codegen") {
    // AQE's executedPlan prints before codegen collapse; CodegenMode
    // explain shows the generated stages
    val p = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }

  test("bloom-filter runtime pruning reaches the fact side of the big-dim join") {
    // join_bloom_pruned emulates the at-scale shape (dim too big to
    // broadcast); InjectRuntimeFilter must build a bloom over the
    // filtered dimension's keys and probe it on the lineitem side
    // before the shuffle
    val p = plan("join_bloom_pruned")
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"), p)
    assert(p.contains("bloom_filter_agg"), p)
    // the demo's whole point is the non-broadcast shape — losing the
    // sort-merge join to a stats change would silently gut it
    assert(p.contains("SortMergeJoin"), p)
  }

  test("anti join compiles to a broadcast/shuffled anti join, not a filter") {
    val p = plan("join_anti_not_exists")
    assert(p.contains("LeftAnti"), p)
  }

  test("Q18's IN-subquery decorrelates to a semi join against the HAVING aggregate") {
    val p = plan("q18_large_volume_customer")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q21's EXISTS/NOT EXISTS chain decorrelates to semi + anti joins") {
    val p = plan("q21_sole_fault_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q17/Q20's correlated scalar subqueries decorrelate to aggregates + joins") {
    val p17 = plan("q17_small_quantity_revenue")
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoopJoin"), p17)
    assert("HashAggregate".r.findAllIn(p17).size >= 2, p17) // per-part avg is ONE aggregate, not per-row
    val p20 = plan("q20_dominant_share_supplier")
    assert(p20.contains("LeftSemi"), p20)
    assert(!p20.contains("CartesianProduct") && !p20.contains("BroadcastNestedLoopJoin"), p20)
  }

  test("Q2's correlated scalar MIN decorrelates to one per-part aggregate") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // min-per-part is ONE agg, not per-row
  }

  test("Q4's non-equi EXISTS decorrelates to a semi join with pushed date filters") {
    val p = plan("q4_order_priority_check")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate.*"), p)
  }

  test("Q7's disjunctive nation-pair predicate stays a hash join, not a cartesian") {
    val p = plan("q7_nation_volume_shipping")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // both nation aliases broadcast
  }

  test("Q13's outer join keeps zero-order customers (LeftOuter in the plan)") {
    val p = plan("q13_customer_distribution")
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q22's NOT EXISTS anti-joins; the scalar avg is a one-row subquery, not a rescan") {
    val p = plan("q22_global_sales_opportunity")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q6's predicates all reach the parquet scan") {
    // FormattedMode prints the full PushedFilters list (the plan
    // toString truncates it)
    val p = SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
    assert(pushed.contains("LessThan(l_quantity"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount"), pushed)
  }

  test("Q10's top-20 compiles to TakeOrderedAndProject (no full sort of the aggregate)") {
    val p = plan("q10_returned_item_ranking")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q16's NOT IN plans as a null-aware anti join") {
    val p = plan("q16_supplier_part_counts")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q19's disjunctive predicate keeps the common equi key as a hash join") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("top-k similarity aggregates with bounded state (ObjectHashAggregate)") {
    val p = plan("sim_topk_brute")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.toLowerCase.contains("window"), p)
  }

  test("no scan in any registered query reads all columns of a wide table for a narrow projection") {
    // sort_limit_topk projects 3 of orders' 6 columns
    val p = plan("sort_limit_topk")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.takeWhile(_ != ':').trim)
    assert(cols.toSet == Set("o_orderkey", "o_custkey", "o_totalprice"), read)
  }

  test("quality binning prunes the documents scan to the text column alone") {
    // the query projects doc_id through intermediate selects but the
    // final histogram doesn't use it — pruning must drop it at the scan
    val p = plan("pipeline_quality_bins")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.takeWhile(_ != ':').trim)
    assert(cols.toSet == Set("text"), read)
  }

  test("global sort+limit compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed co-located join runs with zero hash exchanges") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("global rank joins its offset table by broadcast and ranks per-key only") {
    // sort_global_rank's whole point: the O(domain) offset table is
    // broadcast (never a corpus-wide shuffle for the join) and the only
    // corpus-sized window is partitioned by the sort key.
    val p = plan("sort_global_rank")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("shard manifest is one partial+final aggregate, no window, no join") {
    val p = plan("pipeline_shard_manifest")
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.toLowerCase.contains("join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // map-side combine
  }

  test("boilerplate df-scan and report branches share one exchange at runtime") {
    // boilerplateSpanStats derives both branches from the same reduced
    // (h, id) pair table; the static plan shows two Scan+Generate branches
    // but AQE's stage cache must collapse them — otherwise the expensive
    // span-md5 explode over the corpus runs twice.
    val df = SparkEntry.queries("text_boilerplate_spans")(spark, sfDir)
    df.collect()
    // AdaptiveSparkPlanExec.toString with isFinalPlan=true prints BOTH the
    // "== Final Plan ==" and "== Initial Plan ==" sections, so a naive count
    // over the whole string sees every surviving scan twice. Audit only the
    // final section.
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("ReusedExchange") ||
      "Scan parquet".r.findAllIn(finalPlan).size <= 1, finalPlan.take(4000))
  }

  test("partitioned sink read-back prunes on the partition column") {
    val p = plan("sink_partitioned_pruning")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"), p)
  }

  test("dynamic partition pruning injects a runtime filter into the fact scan") {
    // the dim filter is on a non-partition attribute, so the partition
    // set is only knowable through the join — the scan must carry a
    // dynamicpruning expression, not just a static PartitionFilter
    val p = plan("join_dpp_partitioned")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(4000))
  }

  test("fused IVF-SQ8 probe prunes the cell-partitioned index scan") {
    // the whole point of persisting the fused index partitioned by cell
    // (r14): the probe's join on `cell` must reach the index scan as a
    // partition-level prune — dynamicpruning (probe set known only
    // through the join) — so unprobed cells' FILES are never read
    val p = plan("sim_index_ivfsq8")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(4000))
  }

  // Every BroadcastNestedLoopJoin in the suite must be one of these
  // documented bounded shapes; anything new is a scale regression. Every
  // entry must name a query whose audited plan has one: a join behind a
  // checkpoint or a graft.Bounded fold is not in that plan.
  //  - histogram / profile_stats / incremental_distinct_exact /
  //    sketch_error_bounds: cross join against a 1-row broadcast
  //    (scalar recombine)
  //  - embedding_cosine: the labeled quadratic baseline (LSH is the path)
  //  - topk_brute: brute-force scoring baseline (bounded-heap ranked)
  //  - topk_ivf: query×centroid assignment, |centroids| is a small const
  private val allowedBnlj = Set("agg_profile_histogram", "agg_profile_stats",
    "agg_incremental_distinct_exact", "agg_sketch_error_bounds",
    "agg_approx_topk_bounds", "agg_hll_mergeable_bounds", "agg_countmin_bounds",
    "dedup_embedding_cosine", "sim_topk_brute", "sim_topk_filtered", "sim_topk_ivf",
    // index_probe/rotate: same vector×centroid routing cross join as
    // topk_ivf, against the STORED |centroids|-row broadcast table
    "sim_index_probe", "sim_index_rotate",
    // drift audit: two of the same routing cross joins (frozen + fresh
    // quantizer) + the 1-row drift-share broadcast recombine
    "sim_index_reversion",
    // PQ drift audit: same shape — two ksub-row codebook encodes are
    // narrow maps, the BNLJ is the 1-row drift-share broadcast recombine
    "sim_index_pq_reversion",
    // domain_mix / median / pack_chunks: 1-row broadcast scalar recombine
    // (pack_chunks rebases its data-derived shard bucket on broadcast
    // min/max ids — see the scaladoc at its QueryDef)
    "pipeline_domain_mix", "agg_median_distributed", "pipeline_pack_chunks",
    // PQ family: |Q|-row broadcast of query distance tables with the
    // non-equi qid≠cid guard (codes side streams map-only), plus the
    // same query×centroid routing as topk_ivf in the fused form
    "sim_topk_pq", "sim_index_pq", "sim_topk_ivfpq", "sim_topk_pq_rerank",
    // SQ8 + IVF-SQ8: topk_brute's non-equi qid≠cid probe broadcast over
    // the codes scan (sq8), plus in the fused form the query×centroid
    // routing cross join of topk_ivf (|centroids| small const) with the
    // probed-cells scoring join an equi join on cell
    "sim_topk_ivfsq8", "sim_index_ivfsq8",
    // range search: brute-exact registered form, same non-equi broadcast
    // shape as topk_brute
    "sim_range_search",
    // bm25 / lm_score: 1-row broadcast corpus-stats recombine
    "text_bm25_search", "text_lm_score",
    // hybrid retrieval: bm25's 1-row stats recombine + topk_brute's
    // non-equi qid≠cid probe broadcast (both bounded sides)
    "text_hybrid_retrieval",
    // mixture temperature: 1-row broadcast Σ√n/total recombine
    "pipeline_mixture_temperature",
    // mixture KL: the same 1-row Σ√n/total recombine feeding the
    // per-source divergence terms
    "pipeline_mixture_kl",
    // MIPS: topk_brute's non-equi qid≠cid probe broadcast
    "sim_topk_mips",
    // weighted median: same 1-row broadcast scalar recombine as
    // agg_median_distributed
    "agg_weighted_median_distributed",
    // MIPS norm-augmentation: the corpus max-norm M² is a 1-row
    // broadcast recombined onto the candidate side (the bucketed
    // probe join itself is an equi hash join)
    "sim_topk_mips_norm",
    // semdedup (+ its incremental probe): the same vector×centroid
    // routing cross join as topk_ivf; the broadcast side is the COARSE
    // quantizer tier only — ~√n up to maxFlatCells=4096 flat, ~n^(1/4)
    // rows two-level past that, so it is bounded at ANY corpus size —
    // and the in-cell pair/candidate joins are equi joins on cell
    "dedup_semdedup_cells", "dedup_semdedup_probe",
    // two-level semdedup: the coarse tier (8 rows here) is the only
    // BNLJ; the sub tier routes via a keyed equi join on ccell
    "dedup_semdedup_twolevel",
    // curriculum: |bins|-row (≤3) bucket-count self-join on bin<bin for
    // the cumulative offsets — both sides broadcast-tiny
    "pipeline_curriculum_order",
    // anova: the |types|-row group frame × 1-row grand-moment broadcast
    // recombine (the scalar-recombine shape)
    "agg_anova_oneway",
    // modularity: the |communities|-row frame × 1-row total-weight
    // broadcast recombine (the scalar-recombine shape)
    "graph_community_modularity",
    // diff-in-diff: the 1-row day-span broadcast recombine
    "agg_diff_in_diff",
    // mann-kendall: the O(days) d<d self-join (pareto-skyline class,
    // both sides the same tiny aggregate) + the 1-row tie recombine
    "agg_mann_kendall",
    // cuped: the 1-row day-span broadcast recombine (the did shape)
    "agg_cuped_adjustment",
    // cvm: the KS-style 1-row sample-size recombine
    "agg_cvm_two_sample",
    // kruskal-wallis: the |types|-row group frame × 1-row tie/total
    // broadcast recombine (the anova shape)
    "agg_kruskal_wallis",
    // BH FDR: the |types|² cross-multiplied p-rational rank self-join
    // (pareto-skyline class) + 1-row m/k* broadcast recombines
    "agg_fdr_bh",
    // token budget: 1-row j*/waterline broadcast recombines onto the
    // |sources|-row frame
    "pipeline_token_budget",
    // Brown-Forsythe: the |types|-row frame × 1-row grand-moment
    // broadcast recombine (the anova shape)
    "agg_levene_bf",
    // Hill estimator: the 1-row x_{k+1} broadcast onto the 101-row
    // TakeOrdered tail frame
    "agg_hill_tail",
    // MMR rerank: per greedy round a 1-row selected-vector broadcast
    // onto the candidate block (the sim_topk_brute probe shape)
    "sim_mmr_rerank",
    // POT: the 1-row threshold broadcast onto the domain histogram
    "agg_peak_over_threshold",
    // burstiness: the 1-row doc-count broadcast onto the term frame
    "text_burstiness",
    // energy distance: two 1-row population-count broadcasts onto the
    // 1-row component sums
    "embed_energy_distance",
    // temporal holdout: 1-row cut-day + overlap-count broadcasts
    "split_temporal_holdout",
    // PSI: 1-row half-total + dropped-band broadcasts onto the
    // ≤10-band frame
    "agg_psi_bands",
    // catalog coverage: per entity a 1-row dimension-total broadcast
    "dq_catalog_coverage",
    // neyman: 1-row weight-total + used-budget broadcasts onto the
    // |strata|-row frame
    "sample_neyman_allocation",
    // transition entropy: the 1-row transition-total broadcast onto
    // the k² term frame
    "agg_transition_entropy",
    // lorenz: the 1-row revenue-total broadcast onto the 10-row frame
    "agg_lorenz_deciles",
    // cohort decay: the 1-row user-count broadcast onto the 4-row
    // pooled-rate frame
    "agg_cohort_decay_fit",
    // class balance: the 1-row min-class-count target broadcast onto
    // the lang-ranked corpus
    "sample_class_balance",
    // matryoshka eval: two sim_topk_brute-style non-equi probe
    // broadcasts over the same candidate scan
    "embed_matryoshka_eval",
    // hard negatives: sim_topk_brute's non-equi qid≠cid probe broadcast
    "sample_hard_negatives",
    // negative sampling: the orders×slots frame × 1-row part-key-domain
    // broadcast recombine; candidate validation and the positive
    // exclusion are equi joins
    "sample_negative_candidates",
    // jensen-shannon: the 1-row even/odd-total broadcast onto the
    // |types|-row cell frame (the tv_distance scalar-recombine shape)
    "agg_jensen_shannon",
    // mutual information: 1-row grand-total broadcast onto the
    // ≤|types|·7-cell contingency frame + 1-row×1-row MI/H recombines
    "agg_mutual_information",
    // hurst R/S: the 3-row block-size frame broadcast onto the
    // O(|nations|·|days|) daily collapse (constant-bounded side)
    "agg_hurst_rs",
    // trace variants: the 1-row trace-count broadcast onto the
    // variant frequency frame
    "agg_trace_variants",
    // ndcg eval: sim_topk_brute's non-equi qid≠cid probe broadcast
    "sim_eval_ndcg",
    // ljung-box: the 5-row lag frame broadcast onto the per-nation
    // deviation grid (constant-bounded side; the lag pairing itself
    // is an equi join)
    "agg_ljung_box",
    // isotonic PAV: B=10 bin frames — interval build and the two
    // non-equi range joins all ride ≤55-row broadcasts
    "pipeline_isotonic_calibration",
    // threshold sweep: the 5-row threshold frame broadcast onto the
    // exact pair set (non-equi jaccard >= t band join)
    "dedup_threshold_sweep",
    // footer stats: 1-row footer frame × 1-row scan-aggregate cross
    // check (both sides single rows)
    "maintenance_footer_stats",
    // shapley: observed-mask frame × k-row channel frame × 1-row k
    // (all constant-bounded broadcasts; the bit-rank self-join too)
    "agg_shapley_attribution",
    // nearest centroid: the |labels|-row centroid frame broadcast onto
    // the corpus scan (the sim_topk_ivf routing shape)
    "embed_nearest_centroid",
    // EB shrinkage: the 1-row (pbar, M) prior broadcast onto the probe
    // slice (scalar-recombine shape)
    "agg_eb_shrinkage",
    // tukey: the ≤k² type-pair self-join (t_a < t_b, both sides the
    // |types|-row moment frame) + the 1-row MSW broadcast
    "agg_tukey_pairs",
    // intrinsic dim: sim_topk_brute's non-equi qid≠cid probe broadcast
    // + the 1-row probe-count recombine
    "embed_intrinsic_dim",
    // theil: the 1-row global-total broadcast onto the |sources|-row
    // frame (scalar-recombine shape)
    "agg_theil_decomposition",
    // stylometry: the |sources|² s_a < s_b self-join, both sides the
    // |sources|-row count-vector frame
    "text_stylometry_matrix",
    // competing risks: the 1-row collected day-array broadcast back
    // onto the 15-row grid (scalar-recombine shape)
    "agg_competing_risks",
    // approx-quantile bound check: exact-rank scan against the 1-row
    // broadcast sketch estimates (the *_bounds scalar-recombine shape)
    "agg_approx_quantile_bounds",
    // bpe apply: the 1-row broadcast merge-list array recombined onto
    // the TakeOrdered word-type side
    "text_bpe_apply",
    // abtt: pca's 1-row recombines plus the 1-row U2 norm broadcast
    "embed_abtt_residual",
    // skew report: the 1-row broadcast total recombine
    "agg_skew_report",
    // benford: the 1-row broadcast digit-count total recombined onto the
    // 9-row expectation table (both sides constant-bounded)
    "dq_benford",
    // spell candidates: constant broadcast dictionary × distinct vocab
    // under a non-equi Levenshtein predicate (bounded side constant)
    "text_spell_candidates",
    // tfidf: the 1-row broadcast corpus-count recombine onto the tf×df
    // join (the bm25/lm_score stats-recombine shape)
    "text_tfidf_topk",
    // rfm: two 1-row broadcast recombines (dataset max-day anchor +
    // quantile-threshold row) onto the |users|-row aggregate
    "agg_rfm_scores",
    // freshness: the 1-row broadcast watermark recombine onto the
    // |types|-row aggregate
    "dq_freshness_sla",
    // collocation lift: the 1-row broadcast corpus-count recombine
    "text_collocation_lift",
    // runs test: the 1-row broadcast median recombine onto the O(days)
    // daily grid (the scalar-recombine shape)
    "agg_runs_test",
    // cusum: the 1-row broadcast global-target recombine onto the
    // event stream (the scalar-recombine shape)
    "window_cusum_drift",
    // basket lift: the 1-row broadcast order-total recombine onto the
    // frequent-pair aggregate (the pair join itself is an equi join)
    "agg_basket_lift",
    // KS: the 1-row broadcast sample-size recombine onto the O(domain)
    // ECDF table (the scalar-recombine shape)
    "dq_distribution_ks",
    // revenue concentration: two 1-row broadcast recombines (p90
    // threshold + revenue total) onto the per-user aggregate
    "agg_revenue_concentration",
    // FK orphan scoreboard: seven 1-row x 1-row count recombines (one
    // per audited edge; the orphan detection itself is anti joins)
    "dq_pk_fk_orphan_report",
    // Mann-Whitney: the KS-style 1-row sample-size recombine
    "agg_mann_whitney_u",
    // partition stats: the 1-row broadcast median-rows recombine
    "maintenance_partition_stats",
    // time decay / purchase overdue / importance weights: the 1-row
    // broadcast anchor/horizon/total recombines
    "agg_time_decay_score", "agg_purchase_overdue",
    "pipeline_importance_weights",
    // stickiness: the 1-row broadcast horizon recombine
    "agg_stickiness_dau_wau",
    // chi-square: the 1-row broadcast N/levels recombine onto the
    // ≤|segments|×|nations| contingency cells
    "agg_chi_square_cramers",
    // pareto skyline: ≤33-row bucket-maxima self-join on bucket<bucket
    // for the prefix max (both sides broadcast-tiny), plus the 1-row
    // min/max span recombine
    "sort_pareto_skyline",
    // target encoding: the 1-row broadcast global-sum recombine onto the
    // |cats|×5 cell table
    "pipeline_target_encode_oof",
    // lsh eval: the 1-row corpus-count stride broadcast + three 1-row
    // metric-count recombines (sample/candidate work is equi-joined)
    "dedup_lsh_eval",
    // bloom fpr: three 1-row metric-count recombines (filter build and
    // probe are equi joins against the ≤4096-row position table)
    "dq_bloom_fpr_eval",
    // silhouette: the corpus×32-centroid routing cross join (the
    // topk_ivf/assignment shape against the broadcast centroid table)
    "embed_silhouette",
    // embed decontamination: the 1-row count stride broadcast + the
    // |train|×≤65-eval-vector broadcast scoring pass
    "pipeline_decontaminate_embed",
    // maxsim: the corpus×4-row broadcast query-vector pass (the
    // sim_topk_brute scoring shape)
    "sim_maxsim_colbert",
    // tv distance: the 1-row totals broadcast onto the ≤|types| cells
    "agg_tv_distance",
    // sequence gaps: two 1-row gap-summary recombines onto the 1-row
    // span identity (detail passes are partitioned windows + the
    // bucket-1 equi self-join)
    "dq_sequence_gaps",
    // median CI: the 1-row rank-bound broadcast onto the O(domain)
    // cumulative table (the agg_median_distributed recombine shape)
    "agg_median_ci_rank",
    // triplet margin: the 1-row count stride broadcast (picks/sims are
    // equi joins on the class)
    "embed_triplet_margin",
    // probe sweep: the topk_ivf routing/brute cross joins + the 4-row
    // budget broadcast on prank<=np + the 1-row query-count recombine
    "sim_ivf_probe_sweep",
    // SQ8: stage 1 is topk_brute's non-equi qid≠cid probe broadcast
    // over the int8 CODES scan; the exact re-rank joins are equi joins
    // (the index form probes the same shape against stored codes)
    "sim_topk_sq8", "sim_index_sq8",
    // DSIR: the 1-row (N_raw, N_tgt) totals broadcast onto the 1024-row
    // feature table (scalar-recombine shape); the per-doc pass is an
    // equi join on the broadcast term table (the resample form adds the
    // 1-row corpus-total broadcast onto the |langs|-row report)
    "pipeline_dsir_weights", "pipeline_dsir_resample",
    // DOULION: two 1-row broadcast count recombines (kept-edge count +
    // sampled-triangle count onto the 1-row edge total); the triangle
    // enumeration itself is equi joins on the sparsified edge set
    "graph_triangle_doulion",
    // CCNet buckets: the 1-row tercile-cuts broadcast onto the held-out
    // score frame (scalar-recombine shape); the LM pipeline underneath
    // is all equi joins
    "pipeline_perplexity_buckets",
    // margin sampling + prototype pruning: the corpus×32-centroid
    // routing cross join (the embed_silhouette shape)
    "sample_uncertainty_margin", "embed_prune_prototypes",
    // recall eval: topk_ivf's query×centroid routing cross joins +
    // topk_brute's non-equi qid≠cid probe broadcast (both bounded)
    "sim_recall_eval",
    // cluster ARI: the corpus×32-centroid routing cross join
    // (silhouette shape) + three 1-row pair-count recombines
    "embed_cluster_ari",
    // ivf balance: topk_ivf's vector×centroid routing cross join
    "sim_index_ivf_balance",
    // shadow A/B: topk_ivf's query×centroid routing cross join, twice
    // (both probe budgets ride the same bounded centroid broadcast)
    "sim_index_shadow_ab",
    // stratified ATE: the 1-row folded-estimate broadcast recombine
    // onto the |strata|-row frame (the anova scalar-recombine shape)
    "agg_stratified_ate",
    // theta sketch: three 1-row recombines (click-θ × view-θ × exact
    // intersection count) — all single-row sketch summaries
    "agg_theta_sketch_setops",
    // t-closeness: the |groups|×|langs| dimension cross against the
    // broadcast ≤|langs|-row marginal + the 1-row corpus-total
    // recombine (the tv_distance shape)
    "dq_t_closeness",
    // MMD: the ≤~256-per-side stride sample crossed with its broadcast
    // self (the dedup_lsh_eval bounded-eval shape) + the 1-row
    // (nx, ny) recombine
    "embed_mmd_drift",
    // Fellegi–Sunter: three 1-row N broadcasts under the u-rationals,
    // the 1-row weight-frame recombines, and the ≤8-pattern × 1-row
    // weight cross; the pair stage is the audited equi block join
    "join_er_fellegi_sunter",
    // PQ permute: the 1-row total/max-variance recombines onto the
    // 8-subspace frame
    "sim_index_pq_permute",
    // jackknife: the 1-row totals/mean/SE recombines onto the |G|=25
    // per-group frame (the anova scalar-recombine shape)
    "agg_jackknife_ratio_ci",
    // doremi: the 1-row corpus-totals + update-normalizer recombines
    // onto the |sources|-row frame
    "pipeline_doremi_update",
    // ivf rebalance: the vector×8-centroid routing cross join (the
    // embed_silhouette shape) + four 1-row size recombines
    "sim_ivf_cell_rebalance",
    // Kneser-Ney: the 1-row bigram-type-total broadcast onto the
    // held-out bigram frame (the text_lm_score n_tokens shape)
    "text_lm_kneser_ney")

  /** Spark jobs started while `f` runs. Query construction is counted
    * after one warm build, so the memoized table-footer inference job of
    * a first table touch is not charged to the query. The listener bus is
    * asynchronous, so the warm build's job events can reach the listener
    * after it is added: a job counts only if it was submitted after that.
    */
  private def buildJobs(name: String)(f: org.apache.spark.sql.DataFrame => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var since = Long.MaxValue
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.time >= since) { jobs.incrementAndGet(); () }
    }
    SparkEntry.queries(name)(spark, sfDir)
    spark.sparkContext.addSparkListener(listener)
    since = System.currentTimeMillis()
    try {
      f(SparkEntry.queries(name)(spark, sfDir))
      Thread.sleep(1500) // listener bus is async; give any job event time to land
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("agg_sketch_error_bounds builds and explains with zero Spark jobs") {
    // The sketch-vs-exact booleans must live IN the plan (1×1 broadcast
    // cross join), not in eager .head() calls — otherwise every plan
    // audit or dry explain of the registry pays two full aggregations.
    val n = buildJobs("agg_sketch_error_bounds") { df =>
      df.queryExecution.executedPlan.toString
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    }
    assert(n == 0, s"plan construction/explain ran $n Spark jobs")
  }

  test("iterative ops' total Spark jobs, build + execution, are pinned") {
    // Job counts are work counters load cannot move, unlike wall time.
    // Build-time collects and the jobs of the written result count alike:
    // a loop may move its rounds onto the driver when its total falls.
    // Pinned at the counts measured at sf0.001 with one noop write; a rise
    // means a new barrier, collect or stage. Each bounded round
    // (graft.Bounded) is one job.
    val pinned = Map(
      "agg_survey_raking" -> 3,
      "embed_kmeans_converged" -> 5,
      "text_bpe_train3" -> 6,
      "text_classifier_train" -> 11,
      "graph_shortest_hops" -> 5,
      "sim_rerank_mmr" -> 5)
    val got = pinned.keys.toSeq.sorted.map { name =>
      name -> buildJobs(name)(_.write.format("noop").mode("overwrite").save())
    }.toMap
    assert(pinned.forall { case (n, max) => got(n) <= max }, s"jobs per op: $got vs pins $pinned")
  }

  test("graph family's total Spark jobs, build + execution, are pinned") {
    // The graph queries are built from shared operators over edge lists
    // (graft.operators.Graph); sharing must add no barrier, collect or
    // stage to any of them. Pinned at the counts measured at sf0.001 with
    // one noop write before the operators were shared, except
    // graph_assortativity (20 then): it no longer builds the label
    // propagation it discarded; graph_shortest_hops (6 then): its edge
    // fold dedups without a shuffle; and the nation-grid loops whose
    // rounds run on the driver (PageRank, HITS, label propagation,
    // harmonic centrality) plus the k-truss cap sweep's local frame.
    val pinned = Map(
      "agg_gravity_model" -> 14,
      "graph_assortativity" -> 11,
      "graph_bfs_distance" -> 32,
      "graph_clustering_coeff" -> 13,
      "graph_community_modularity" -> 20,
      "graph_copurchase_projection" -> 3,
      "graph_harmonic_centrality" -> 6,
      "graph_hits_power" -> 7,
      "graph_kcore_peel" -> 22,
      "graph_ktruss_cap_sweep" -> 29,
      "graph_ktruss_capped" -> 14,
      "graph_ktruss_peel" -> 19,
      "graph_label_propagation" -> 11,
      "graph_neighbor_jaccard" -> 10,
      "graph_pagerank_fixed" -> 7,
      "graph_personalized_pagerank" -> 7,
      "graph_shortest_hops" -> 5,
      "graph_triangle_count" -> 10,
      "graph_triangle_doulion" -> 9)
    val got = pinned.keys.toSeq.sorted.map { name =>
      name -> buildJobs(name)(_.write.format("noop").mode("overwrite").save())
    }.toMap
    assert(pinned.forall { case (n, max) => got(n) <= max }, s"jobs per op: $got vs pins $pinned")
  }

  test("no registered query plans an unpartitioned window over unreduced input") {
    // An unpartitioned Window moves ALL its input through one task — the
    // classic single-task scale killer (WindowExec warns exactly this).
    // Allowed only when the window's input was already reduced by an
    // aggregate below it (e.g. the one-row-per-shard offset scan in
    // pipeline_pack_chunks, the one-row-per-batch watermark scan in
    // streaming_late_drop): there the window input is O(shards)/O(batches),
    // not O(rows). `reduced` uses an exists-walk, which is the right
    // grain here — every global window in the suite sits directly on its
    // reducing aggregate, not across a join.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case other => other.children.exists(reduced)
    }
    val globalWindowQueries = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val lp = builtQuery(name).queryExecution.optimizedPlan
      val gw = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      val bad = gw.filterNot(w => reduced(w.child))
      assert(bad.isEmpty, s"$name: ${bad.size} global window(s) over unreduced input")
      if (gw.nonEmpty) Some(name) else None
    }
    // Exact allowlist of reduced-input global windows — each is a
    // WindowExec "No Partition Defined" emitter at runtime, SAFE because
    // its input is an O(shards)/O(domain)/O(batches) aggregate, and
    // documented at its site. Pinning the set turns a new emitter into a
    // red test instead of one more line of benign-looking warning noise:
    //  - pipeline_pack_chunks: one-row-per-shard offset scan
    //  - sort_global_rank: O(domain) value-histogram prefix offsets
    //  - agg_median_distributed: cumulative count over the reduced
    //    distinct-value table (O(domain), maxDomain-guarded)
    //  - streaming_late_drop: one-row-per-batch watermark scan
    //  - pipeline_full_curation: min-target over the |sources|-row
    //    per-source char-total aggregate (the domain-mix cap)
    val allowedGlobalWindows = Set("pipeline_pack_chunks", "sort_global_rank",
      "agg_median_distributed", "streaming_late_drop", "pipeline_full_curation",
      // weighted median: same O(domain) reduced-input cumulative window
      // as agg_median_distributed (maxDomain-guarded in Profiler)
      "agg_weighted_median_distributed",
      // KS drift test: cumulative ECDF counts over the reduced
      // distinct-cent-value table (O(domain), same class as the medians)
      "dq_distribution_ks",
      // Mann-Whitney U: same O(domain) reduced ECDF cumulative window
      "agg_mann_whitney_u",
      // gini / median CI: the same O(domain) cumulative-count window
      // over the distinct-value histogram as agg_median_distributed
      "agg_gini_coefficient", "agg_median_ci_rank",
      // rolling corr: 7-row moment frames over the O(days) joined daily
      // grid — both window inputs are day-grouped aggregates
      "window_rolling_corr",
      // CvM: the same O(domain) reduced ECDF cumulative window as the
      // KS test
      "agg_cvm_two_sample",
      // Kruskal-Wallis: the same O(domain) reduced pooled-rank
      // cumulative window as MWU/KS/CvM
      "agg_kruskal_wallis",
      // (agg_fdr_bh left this set in r16: its O(domain) cumulative
      // window still runs, but inside the eagerly-materialized perG
      // checkpoint prefix, so the FINAL plan these audits inspect no
      // longer contains it)
      // token budget: rank/prefix windows over the |sources|-row frame
      // (the full_curation O(sources) class)
      "pipeline_token_budget",
      // zipf fit: rank window over the TakeOrdered 100-row top-vocab
      // frame
      "text_zipf_fit",
      // SPRT: the cumulative LLR walk over the O(days) daily grid
      "agg_sprt_sequential",
      // POT: the same O(domain) cumulative histogram as the median
      // family (threshold pick)
      "agg_peak_over_threshold",
      // temporal holdout: the same O(days) cumulative histogram
      // (cut-day pick)
      "split_temporal_holdout",
      // PSI: the same O(domain) cumulative histogram (decile bands)
      "agg_psi_bands",
      // Page-Hinkley: stacked cumulative walks over the O(days) grid
      "agg_page_hinkley",
      // neyman: the largest-remainder rank window over the
      // |strata|-row frame
      "sample_neyman_allocation",
      // lorenz: rank/cumulative windows over the O(users) per-user
      // spend collapse (the gini_coefficient class) + the 10-row
      // decile frame
      "agg_lorenz_deciles",
      // runs test: one lag over the O(days) signed daily grid (the
      // agg_sprt_sequential class)
      "agg_runs_test",
      // seasonal decompose: the ±3-day trend frame over the O(days)
      // daily grid (the rolling_corr class)
      "agg_seasonal_decompose",
      // seasonal strength: the same ±3-day trend frame over the
      // O(days) daily grid as the decompose
      "window_seasonal_strength",
      // competing risks: the KM suffix/cumulative walks over the
      // 15-row literal day grid
      "agg_competing_risks",
      // PQ permute: the variance-rank window over the 64-row per-dim
      // aggregate (fixed embedding dimensionality)
      "sim_index_pq_permute")
    assert(globalWindowQueries.toSet == allowedGlobalWindows,
      s"global-window query set changed: got ${globalWindowQueries.mkString(", ")} — " +
        "a new unpartitioned window needs a reduced-input proof + allowlist entry " +
        "(and its site documented), or a partitioned rewrite")
  }

  test("physical plans: unpartitioned WindowExec only at the documented reduced-input sites") {
    // Physical-level companion to the logical audit above (r10 verdict
    // item 3): the logical test proves every global Window sits on a
    // reducing aggregate; this one pins the set of queries whose
    // PHYSICAL plan carries a WindowExec with an empty partitionSpec —
    // the exact node that executes single-task and prints Spark's
    // "No Partition Defined" warning. A planner change that materializes
    // a new global WindowExec (e.g. a rewrite dropping a partition key)
    // turns this red even if the logical shape still looks reduced.
    // Audited on sparkPlan (pre-AQE) because AdaptiveSparkPlanExec is a
    // leaf wrapper that hides its subtree from collect().
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val phys = builtQuery(name).queryExecution.sparkPlan
      val gw = phys.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      if (gw.nonEmpty) Some(name) else None
    }
    val allowed = Set("pipeline_pack_chunks", "sort_global_rank",
      "agg_median_distributed", "streaming_late_drop", "pipeline_full_curation",
      "agg_weighted_median_distributed", "dq_distribution_ks",
      "agg_mann_whitney_u", "agg_gini_coefficient", "agg_median_ci_rank",
      "window_rolling_corr", "agg_cvm_two_sample", "agg_kruskal_wallis",
      // agg_fdr_bh left in r16: its window now runs inside the
      // checkpointed perG prefix, not the final plan
      "pipeline_token_budget", "text_zipf_fit",
      "agg_sprt_sequential", "agg_peak_over_threshold",
      "split_temporal_holdout", "agg_psi_bands", "agg_page_hinkley",
      "sample_neyman_allocation", "agg_lorenz_deciles", "agg_runs_test",
      "agg_seasonal_decompose", "window_seasonal_strength",
      "agg_competing_risks", "sim_index_pq_permute")
    assert(offenders.toSet == allowed,
      s"unpartitioned WindowExec query set changed: got ${offenders.mkString(", ")} — " +
        "each site needs a reduced-input proof + allowlist entry in BOTH window audits")
  }

  test("no registered query EMITS a wide decimal (internal decimals fine)") {
    // r11 verdict item 1: a DECIMAL(p>18,s) output column round-trips
    // through parquet as FIXED_LEN_BYTE_ARRAY(16) on the Spark side but
    // as a HUGEINT-backed decimal in DuckDB — values compare repr-equal
    // while the driver's encoding hash diverges, turning a correct query
    // red at the gate. Exact wide-decimal arithmetic stays INTERNAL;
    // the emitted column must be a canonical type (STRING of the exact
    // integer, or a BIGINT device). p<=18 decimals encode as INT64 in
    // both engines and are left alone.
    import org.apache.spark.sql.types.DecimalType
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val wide = builtQuery(name).schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] &&
          f.dataType.asInstanceOf[DecimalType].precision > 18 =>
          s"${f.name}:${f.dataType.simpleString}"
      }
      if (wide.nonEmpty) Some(s"$name -> ${wide.mkString(", ")}") else None
    }
    assert(offenders.isEmpty,
      "wide-decimal output columns (cast them to string at emission):\n" +
        offenders.mkString("\n"))
  }

  test("no registered query plans a cartesian product; BNLJ only in documented bounded shapes") {
    val plans = SparkEntry.queries.keys.toSeq.sorted.map(name => name -> plan(name))
    val cartesian = plans.collect { case (name, p) if p.contains("CartesianProduct") => name }
    val withBnlj = plans.collect { case (name, p) if p.contains("BroadcastNestedLoopJoin") => name }.toSet
    assert(cartesian.isEmpty, "cartesian products: " + cartesian.mkString(", "))
    assert((withBnlj -- allowedBnlj).isEmpty,
      "undocumented BNLJ: " + (withBnlj -- allowedBnlj).toSeq.sorted.mkString(", "))
    // two-way: an entry whose query plans no BNLJ, or names no registered
    // query, would let a new BNLJ in unreviewed
    assert((allowedBnlj -- withBnlj).isEmpty,
      "allowed BNLJ entries without one (remove them): " +
        (allowedBnlj -- withBnlj).toSeq.sorted.mkString(", "))
  }

  test("no registered query carries a hint Spark ignores") {
    SparkEntry.queries.keys.toSeq.sorted.foreach(plan)
    assert(hintErrors.isEmpty, "ignored hints (remove them):\n" +
      hintErrors.toArray.distinct.mkString("\n"))
  }

  // The SCALING.md stress set: plans must keep their shape when the data
  // grows 10× — no query may pick up a cartesian/BNLJ (or lose its
  // broadcast to a sort-merge explosion) just because stats changed.
  // Runs only when tools/gen_sf1.py's output is present.
  private val stressQueries = Seq("dedup_clusters", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_embedding_cosine", "join_asof_latest_order",
    "snapshot_scd2_history", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_volume_customer",
    "q21_sole_fault_supplier", "agg_profile_stats", "sim_topk_ivf",
    "pipeline_daily_run", "q17_small_quantity_revenue",
    "q20_dominant_share_supplier", "streaming_interval_join",
    "q2_min_cost_supplier", "q7_nation_volume_shipping",
    "q13_customer_distribution", "q22_global_sales_opportunity",
    "q6_forecast_revenue", "q8_market_share", "q9_product_type_profit",
    "q10_returned_item_ranking", "q12_priority_shipping",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_part_counts",
    "q19_disjunctive_revenue", "dedup_simhash", "text_fingerprint_rolling",
    "dedup_apply_near", "pipeline_decontaminate", "join_lateral_topn",
    "join_null_safe_eq", "text_vocab_topk", "agg_unpivot_melt",
    "q11_important_part_value", "streaming_sliding_counts",
    "pipeline_pack_chunks", "pipeline_leakage_check", "dedup_incremental",
    "dedup_canonical_quality", "join_bloom_pruned",
    "dedup_signature_index", "dedup_index_rotate", "dedup_index_compact",
    "dedup_ingest_loop", "sim_index_probe", "sim_index_rotate",
    "sim_topk_pq", "sim_index_pq", "sim_topk_ivfpq", "sim_index_pq_rotate",
    "sim_topk_pq_rerank", "sim_range_search", "text_bm25_search", "text_lm_score",
    // r11 additions: graph edge builds (fact joins), fixed-point linear
    // algebra, containment prefix-filter join, ALSH probe join, the
    // as-of family variants, fold/window sequence ops
    "dedup_containment", "sim_topk_mips", "sim_topk_mips_norm",
    "graph_pagerank_fixed", "graph_triangle_count", "graph_label_propagation",
    "embed_pca_power", "embed_abtt_residual", "text_bpe_apply",
    "window_twap_per_key", "join_asof_next_order", "join_asof_tolerance",
    "agg_ewma_per_key", "window_retention_cohorts", "pipeline_curriculum_order",
    "agg_weighted_median_distributed", "dq_anomaly_zscore", "agg_skew_report",
    "agg_linreg_per_key", "dq_benford", "pipeline_source_reputation",
    "agg_markov_transitions", "dq_activity_gap_report", "agg_gini_by_group",
    "agg_cohen_kappa", "text_spell_candidates", "window_sessionize_ids",
    "window_streak_longest", "pipeline_calibration_bins", "text_tfidf_topk",
    "agg_mad_outliers", "agg_seasonality_profile", "pipeline_feature_hash",
    "pipeline_pii_risk_by_source", "agg_rfm_scores", "pipeline_chunk_overlap",
    "text_collocation_lift", "snapshot_scd2_asof", "dq_freshness_sla",
    "agg_new_vs_returning", "agg_time_to_convert", "streaming_funnel_stage",
    // this session's additions with non-trivial join/window shapes: the
    // basket self-join, temporal SCD2 join, phash band join, shingle
    // inverted index, CUSUM scalar recombine, sessionized sweeps
    "agg_basket_lift", "join_fact_scd2_temporal", "multimodal_phash_dedup",
    "text_ngram_novelty", "window_cusum_drift", "agg_survival_km",
    "window_peak_concurrency", "agg_session_abandonment",
    "sim_knn_label_confusion", "embed_centroid_drift", "dq_distribution_ks",
    "agg_ltv_cohort_matrix", "agg_attribution_last_touch",
    "dq_reconcile_order_totals", "sample_poisson_bootstrap",
    "pipeline_epoch_shuffle", "agg_mann_whitney_u", "agg_cross_corr_lagk",
    "window_rolling_median", "dq_pk_fk_orphan_report",
    // this session's additions with non-trivial join/window shapes: the
    // PIT union+range-window feature join, LSH pair rollup, hash
    // negative-sampling join chain, interval/mask islands, the
    // graph-helper rebuild under modularity, VAD islands, cluster-moment
    // recombines
    "join_pit_trailing_features", "dedup_source_matrix",
    "sample_negative_candidates", "window_interval_coalesce",
    "pipeline_span_corruption", "graph_community_modularity",
    "agg_ratio_metric_ci", "window_rolling_corr", "multimodal_audio_vad",
    "text_bpe_train3", "agg_mann_kendall", "sample_hard_negatives",
    "agg_price_index", "agg_cuped_adjustment", "snapshot_expire_versions",
    "window_holt_linear", "agg_user_entropy",
    // r11 batch 12: rank-test recombines + the balance-target broadcast
    "agg_kruskal_wallis", "agg_spearman_corr", "sample_class_balance",
    // r11 batch 13: changepoint grid windows, BH rank self-join,
    // waterfilling broadcasts
    "window_changepoint_cusum", "agg_fdr_bh", "pipeline_token_budget",
    // r11 batch 14: HITS edge build + rescale broadcasts, JL shifted
    // self-join, top-vocab rank frame
    "graph_hits_power", "embed_rp_project", "text_zipf_fit",
    // r11 batch 15: BF median histograms, Hill tail frame, bipartite
    // projection self-join
    "agg_levene_bf", "agg_hill_tail", "graph_copurchase_projection",
    // r11 batch 16: SPRT daily walk, Simpson rollup, MMR greedy rounds
    "agg_sprt_sequential", "text_simpson_diversity", "sim_mmr_rerank",
    // r11 batch 17: EVT threshold/broadcast frames, cohort decay fold
    "agg_peak_over_threshold", "agg_block_maxima_gumbel",
    "agg_cohort_decay_fit",
    // r11 batch 18: NB moments, burstiness term frame, energy-distance
    // dimension join
    "agg_negbin_fit", "text_burstiness", "embed_energy_distance",
    // r12: SemDeDup cell blocking (auto-sized quantizer + in-cell pair
    // join), multi-query MMR operator, hashed-classifier explode+agg
    "dedup_semdedup_cells", "sim_rerank_mmr", "text_hashed_classifier",
    // r13: the forced two-level quantizer (coarse broadcast + keyed
    // sub-tier join) must keep its shape at 10× data
    "dedup_semdedup_twolevel",
    // r14: the fused IVF-SQ8 probe (routing cross join + cell equi join
    // + codes scoring) must keep its shape at 10× data
    "sim_topk_ivfsq8", "sim_index_ivfsq8",
    // r11 batch 19: ER blocking self-join, temporal-cut broadcasts,
    // prefix-template rollup
    "join_entity_blocking", "split_temporal_holdout",
    "text_prefix_templates",
    // r11 batch 20: PSI bands, catalog anti-joins, spherical sums
    "agg_psi_bands", "dq_catalog_coverage",
    "embed_spherical_concentration",
    // r11 batch 21: friedman block windows, backtest lags, PH walk
    "agg_friedman_test", "window_forecast_backtest", "agg_page_hinkley",
    // r11 batch 22: per-arm quantile histograms, neyman strata frame
    "agg_quantile_treatment_effect", "sample_neyman_allocation",
    // r11 batch 23: transition-lag windows, lorenz user collapse
    "agg_transition_entropy", "agg_lorenz_deciles",
    // r11 batch 24: BFS frontier joins, time-series lag joins/windows,
    // trace prefix collect, char kernels, ndcg probe broadcast
    "graph_bfs_distance", "agg_ljung_box", "agg_dickey_fuller",
    "agg_hurst_rs", "agg_trace_variants", "text_blocklist_filter",
    "text_char_entropy", "agg_mutual_information", "sim_eval_ndcg",
    "pipeline_isotonic_calibration",
    // r11 batch 25: wedge-join truss, soft-dedup pair gen, brute L2
    // probes, survival grids, coalition collapses
    "graph_ktruss_peel", "dedup_soft_weights", "embed_intrinsic_dim",
    "text_stylometry_matrix", "agg_competing_risks", "agg_logrank_test",
    "agg_shapley_attribution", "agg_gravity_model",
    "graph_harmonic_centrality", "dedup_threshold_sweep")

  test("driver entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("stress queries keep cartesian/BNLJ-free plans at sf1 (10× data)") {
    val sf1 = "/root/repo/sf1"
    assume(new java.io.File(s"$sf1/lineitem.parquet").exists(),
      "sf1 not generated (tools/gen_sf1.py)")
    val offenders = stressQueries.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, sf1).queryExecution.executedPlan.toString
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") && !allowedBnlj(name)
      if (cart || bnlj) Some(s"$name cartesian=$cart unexpectedBnlj=$bnlj") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
