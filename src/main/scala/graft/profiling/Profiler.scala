package graft.profiling

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data profiler — fixes the contract of the reference's undefined
  * `SimpleDataProfiler` (tests/profiling_example.py:11-17; config hints at
  * :37-56: table list, optional fecha filter, optional sampling, schema
  * info, histograms off by default).
  *
  * One row per (table, column) with: type, total, null count/rate,
  * distinct count, min/max. Numeric bounds are reported as DOUBLE
  * (`min_numeric`/`max_numeric`), string/temporal bounds as text
  * (`min_text`/`max_text`) — no lossy double→string formatting.
  *
  * Scale: a single `agg` pass per table (partial+final hash aggregate);
  * `approxDistinct=true` swaps exact `count(DISTINCT)` (which needs an
  * Expand at one extra row-multiplier per column) for single-pass HLL
  * `approx_count_distinct` — the right choice at 100 TB.
  */
object Profiler {

  /** Column families the profiler can bound. Complex types (arrays, maps,
    * structs) get schema info + null counts only.
    */
  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }
  private def isTextual(dt: DataType): Boolean = dt match {
    case StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `approxDistinct` defaults to the scale-safe HLL path: exact
    * `count(DISTINCT)` multiplies scan rows by an Expand factor per
    * profiled column, which is the wrong default at 100 TB. The
    * oracle-checked query passes `approxDistinct = false` explicitly
    * (DuckDB recomputes exact distincts).
    */
  def profile(
      df0: DataFrame,
      tableName: String,
      fecha: Option[String] = None,
      dateColumn: String = "fecha",
      approxDistinct: Boolean = true,
      sampleRows: Option[Long] = None): DataFrame = {

    val df1 = fecha match {
      case Some(d) => df0.filter(col(dateColumn) === lit(java.sql.Date.valueOf(d)))
      case None    => df0
    }
    // Reference sample_size semantics (profiling_example.py:54): profile
    // ~n rows. A global `limit(n)` would funnel the entire sample through
    // ONE task (GlobalLimit exchanges to a single partition) and its Int
    // cast silently truncates n > 2³¹ — both wrong at scale. Each
    // partition instead contributes an equal share of the budget via a
    // per-partition take: no exchange, no driver round-trip, ≤ max(n,
    // numPartitions) rows total (each partition yields ≥ 1 row, so tiny
    // budgets over many partitions over-deliver slightly — a sample-size
    // approximation profiling tolerates by construction).
    val df = sampleRows match {
      case Some(n) =>
        require(n > 0, s"sampleRows must be positive, got $n")
        val parts = math.max(1, df1.rdd.getNumPartitions)
        val perPart = math.min(math.max(1L, n / parts), Int.MaxValue.toLong).toInt
        df1.mapPartitions(_.take(perPart))(
          org.apache.spark.sql.Encoders.row(df1.schema))
      case None => df1
    }

    val fields = df.schema.fields
    def atomic(f: StructField): Boolean = f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    }

    val baseAggs: Seq[Column] = count(lit(1)).as("__total") +: fields.toIndexedSeq.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"))
      val dist =
        if (atomic(f) && approxDistinct)
          Seq(approx_count_distinct(c).as(s"${f.name}__distinct"))
        else if (!atomic(f))
          Seq(lit(null).cast(LongType).as(s"${f.name}__distinct"))
        else Nil // exact path: separate aggregate below
      val bounds =
        if (isNumeric(f.dataType)) Seq(
          min(c).cast(DoubleType).as(s"${f.name}__min_n"),
          max(c).cast(DoubleType).as(s"${f.name}__max_n"),
          lit(null).cast(StringType).as(s"${f.name}__min_t"),
          lit(null).cast(StringType).as(s"${f.name}__max_t"))
        else if (isTextual(f.dataType)) Seq(
          lit(null).cast(DoubleType).as(s"${f.name}__min_n"),
          lit(null).cast(DoubleType).as(s"${f.name}__max_n"),
          min(c).cast(StringType).as(s"${f.name}__min_t"),
          max(c).cast(StringType).as(s"${f.name}__max_t"))
        else Seq(
          lit(null).cast(DoubleType).as(s"${f.name}__min_n"),
          lit(null).cast(DoubleType).as(s"${f.name}__max_n"),
          lit(null).cast(StringType).as(s"${f.name}__min_t"),
          lit(null).cast(StringType).as(s"${f.name}__max_t"))
      base ++ dist ++ bounds
    }

    // Exact count(DISTINCT) lives in its OWN aggregate: mixed with
    // min/max over string columns the whole aggregate falls back to
    // SortAggregate (string-typed aggregation buffers disqualify
    // HashAggregate), which fully sorts the Expand's ×(n_cols+1) row
    // blow-up — measured 5× slower than the split plan. Distinct-only
    // aggregation keeps long-typed buffers (strings appear only as
    // grouping keys, which UnsafeRow hashing handles), so both passes
    // stay hash-based; the two 1-row results recombine by cross join.
    val one =
      if (approxDistinct) df.agg(baseAggs.head, baseAggs.tail: _*)
      else {
        val distAggs = fields.filter(atomic).map(f =>
          countDistinct(col(f.name)).as(s"${f.name}__distinct"))
        val basic = df.agg(baseAggs.head, baseAggs.tail: _*)
        if (distAggs.isEmpty) basic
        else basic.crossJoin(broadcast(df.agg(distAggs.head, distAggs.tail.toIndexedSeq: _*)))
      }

    // Pivot the single stats row into one row per column with `stack`
    // (driver never sees the data; this is a 1-row local transform).
    // Friendly type labels: local (NTZ) and instant timestamps both
    // profile as "timestamp" — the storage flavor is not a data property.
    def label(dt: DataType): String = dt match {
      case TimestampNTZType => "timestamp"
      case other => other.typeName
    }
    val stackArgs = fields.map { f =>
      s"'${f.name}', '${label(f.dataType)}', `${f.name}__nulls`, `${f.name}__distinct`, " +
        s"`${f.name}__min_n`, `${f.name}__max_n`, `${f.name}__min_t`, `${f.name}__max_t`"
    }.mkString(", ")

    one.select(
        lit(tableName).as("table_name"), col("__total").as("total_records"),
        expr(s"stack(${fields.length}, $stackArgs) AS " +
          "(column_name, data_type, null_count, distinct_count, min_numeric, max_numeric, min_text, max_text)"))
      .select(
        col("table_name"), col("column_name"), col("data_type"),
        col("total_records"), col("null_count"),
        when(col("total_records") === 0, 0.0)
          .otherwise(col("null_count").cast(DoubleType) / col("total_records"))
          .as("null_rate"),
        col("distinct_count"),
        col("min_numeric"), col("max_numeric"), col("min_text"), col("max_text"))
  }

  /** Equi-width histogram of a numeric column (the reference's
    * `calculate_histograms` config hint, profiling_example.py:56 — off by
    * default there and here). Two passes: one min/max scan, then a
    * bucketed count aggregate; bucket = floor((x−min)/width) clamped to
    * [0, buckets−1] so max lands in the last bucket.
    */
  def histogram(
      df: DataFrame,
      column: String,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val c = col(column)
    val mm = df.agg(min(c).cast(DoubleType).as("mn"), max(c).cast(DoubleType).as("mx"))
    val b = mm.select(col("mn"), col("mx"),
      when(col("mx") === col("mn"), 1.0)
        .otherwise((col("mx") - col("mn")) / buckets).as("w"))
    df.filter(c.isNotNull).crossJoin(broadcast(b))
      .select(least(
        floor((c.cast(DoubleType) - col("mn")) / col("w")).cast("int"),
        lit(buckets - 1)).as("bucket"),
        col("mn"), col("w"))
      .groupBy(col("bucket"), col("mn"), col("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (col("mn") + col("bucket") * col("w")).as("lo"),
        (col("mn") + (col("bucket") + 1) * col("w")).as("hi"),
        col("n"))
  }

  /** Distribution quantiles per numeric column: single-pass
    * `approx_percentile` (GK sketch — mergeable partials, bounded
    * memory, the only viable percentile at 100 TB; exact percentiles
    * need a full sort per column). Accuracy bounded in ProfilerSpec.
    */
  def quantiles(
      df: DataFrame,
      columns: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    val probsArr = array(probabilities.map(lit): _*)
    val aggs = columns.map(c =>
      approx_percentile(col(c).cast(DoubleType), probsArr, lit(10000))
        .as(s"${c}__q"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = columns.map(c =>
      s"'$c', `${c}__q`").mkString(", ")
    one.select(expr(
        s"stack(${columns.length}, $stacked) AS (column_name, qs)"))
      .select(col("column_name") +:
        probabilities.zipWithIndex.map { case (p, i) =>
          element_at(col("qs"), i + 1).as(s"p${(p * 100).toInt}")
        }: _*)
  }

  /** Exact interpolated percentiles (SQL PERCENTILE_CONT semantics:
    * linear interpolation at rank p·(n−1)) — the oracle-checkable twin of
    * [[quantiles]]. Needs a full per-column sort inside the aggregate, so
    * it is the small-data/audit path; production profiling stays on the
    * mergeable GK sketch.
    */
  def quantilesExact(
      df: DataFrame,
      columns: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    val probsArr = array(probabilities.map(lit): _*)
    val aggs = columns.map(c =>
      percentile(col(c).cast(DoubleType), probsArr).as(s"${c}__q"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = columns.map(c => s"'$c', `${c}__q`").mkString(", ")
    one.select(expr(
        s"stack(${columns.length}, $stacked) AS (column_name, qs)"))
      .select(col("column_name") +:
        probabilities.zipWithIndex.map { case (p, i) =>
          element_at(col("qs"), i + 1).as(s"p${(p * 100).toInt}")
        }: _*)
  }

  /** Exact order statistics WITHOUT a global sort: group by value (the
    * full-width shuffle is a hash aggregate), then run the cumulative
    * count over the *reduced* distinct-value table, selecting the
    * rank-⌈n/2⌉ / ⌈9n/10⌉ order statistics (lower median, lower p90) by
    * integer rank arithmetic. This is the scale path where
    * `percentile()`'s sort-based exact is a non-starter and a GK
    * sketch's answer isn't exact enough (e.g. billing cutoffs).
    *
    * `maxDomain` guards the O(domain) single-task window: the cumulative
    * sum is safe only because the distinct-value table is BOUNDED
    * (DECIMAL prices, enums, dates — e.g. DECIMAL(12,2) prices are ≤10⁷
    * distinct whatever the row count). If the observed domain exceeds
    * `maxDomain` the query fails fast with a clear error instead of
    * silently serializing an unbounded window through one task; an
    * unbounded-domain column (raw doubles, ids) needs a two-level
    * bucket-then-refine selection instead. The guard is IN-PLAN — it
    * rides the same one-row broadcast aggregate (folded into the rank
    * threshold so column pruning can't drop it), so building/explaining
    * the query stays job-free. Default bound 10⁸ ≈ 1.6 GB through the
    * window task — loose enough for every bounded domain, tight enough
    * to catch a mistaken unbounded column.
    */
  def exactOrderStats(
      df: DataFrame,
      valueCol: String,
      maxDomain: Long = 100000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
    val cum = vals.withColumn("cum", sum(col("c")).over(
      Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // The guard is folded into BOTH rank thresholds: a consumer that
    // projects only p90_low would otherwise let column pruning drop t50
    // and the raise_error with it, silently running the O(domain)
    // single-task window the guard exists to prevent.
    def guarded(rank: org.apache.spark.sql.Column) =
      when(col("d") <= maxDomain, rank)
        .otherwise(raise_error(concat(
          lit(s"exactOrderStats($valueCol): distinct-value domain "),
          col("d").cast("string"),
          lit(s" exceeds maxDomain=$maxDomain — unbounded domain; " +
            "use a bucket-then-refine selection"))))
    val tot = vals.agg(sum(col("c")).as("n"), count(lit(1)).as("d"))
      .select(col("n"),
        guarded(expr("(n + 1) div 2")).as("t50"),
        guarded(expr("(9 * n + 9) div 10")).as("t90"))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_rows"),
        min(when(col("cum") >= col("t50"), col("v"))).cast("double").as("p50_low"),
        min(when(col("cum") >= col("t90"), col("v"))).cast("double").as("p90_low"))
  }

  /** WEIGHTED order statistics by the same no-global-sort histogram
    * plan as [[exactOrderStats]]: weighted lower median (smallest v with
    * 2·cumweight ≥ totalweight) and weighted lower p90 — the
    * importance-weighted profile cut (e.g. "the quantity below which
    * half the REVENUE sits", vs half the rows). Weights aggregate in
    * exact DECIMAL (order-independent; the threshold comparisons are
    * exact decimal arithmetic in both engines), the cumulative window
    * runs over the REDUCED O(domain) distinct-value table only
    * (maxDomain-guarded with the same prune-proof in-plan raise_error),
    * and the final pick is one broadcast recombine.
    */
  def exactWeightedOrderStats(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      maxDomain: Long = 100000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.groupBy(col(valueCol).as("v"))
      .agg(sum(graft.queries.Exact.dec2(col(weightCol))).as("wc"),
        count(lit(1)).as("c"))
    val cum = vals.withColumn("cum", sum(col("wc")).over(
      Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = vals.agg(sum(col("wc")).as("wt0"), sum(col("c")).as("n"),
        count(lit(1)).as("d"))
      .select(col("n"),
        when(col("d") <= maxDomain, col("wt0"))
          .otherwise(raise_error(concat(
            lit(s"exactWeightedOrderStats($valueCol): distinct-value domain "),
            col("d").cast("string"),
            lit(s" exceeds maxDomain=$maxDomain — unbounded domain; " +
              "use a bucket-then-refine selection")))).as("wtot"))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_rows"),
        min(when(col("cum") * 2 >= col("wtot"), col("v")))
          .cast("double").as("wp50_low"),
        min(when(col("cum") * 10 >= col("wtot") * 9, col("v")))
          .cast("double").as("wp90_low"))
  }

  /** Run-over-run drift of the monitoring metrics — the comparison the
    * reference's APPEND monitoring table exists to enable
    * (profiling_example.py:24-28): join two profile frames on
    * (table, column) and report integer row/null deltas. Full outer so
    * added or dropped columns surface as NULL-sided rows.
    */
  def drift(current: DataFrame, previous: DataFrame): DataFrame =
    current.select(col("table_name"), col("column_name"),
        col("total_records").as("cur_total"), col("null_count").as("cur_nulls"))
      .join(previous.select(col("table_name"), col("column_name"),
          col("total_records").as("prev_total"), col("null_count").as("prev_nulls")),
        Seq("table_name", "column_name"), "full_outer")
      .withColumn("row_delta", col("cur_total") - col("prev_total"))
      .withColumn("null_delta", col("cur_nulls") - col("prev_nulls"))

  /** Reference call-site shape (profiling_example.py:11-21): several
    * tables → one frame, with run metadata appended.
    */
  def profileTables(
      @annotation.unused spark: SparkSession, // kept: callers pass their session
      tables: Seq[(String, DataFrame)],
      runId: String,
      environment: String,
      fecha: Option[String] = None,
      approxDistinct: Boolean = true): DataFrame =
    tables.map { case (n, df) => profile(df, n, fecha, approxDistinct = approxDistinct) }
      .reduce(_.union(_))
      .withColumn("run_id", lit(runId))
      .withColumn("environment", lit(environment))
}
