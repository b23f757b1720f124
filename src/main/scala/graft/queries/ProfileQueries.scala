package graft.queries

import graft.Tables
import graft.profiling.Profiler
import org.apache.spark.sql.functions._

/** Profiler over testdata (SURVEY.md §2.4 `agg_profile_stats`, §3.3). */
object ProfileQueries extends QueryModule {

  val defs: Seq[QueryDef] = Seq(
    // Equi-width histogram (reference `calculate_histograms` hint,
    // profiling_example.py:56).
    QueryDef("agg_profile_histogram",
      (s, dir) => Profiler.histogram(Tables.load(s, dir, "orders"), "o_totalprice", 10)
        .orderBy("bucket"),
      Some("""WITH mm AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
            CAST(max(o_totalprice) AS DOUBLE) AS mx FROM orders),
        b AS (SELECT mn, CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 10 END AS w FROM mm),
        h AS (SELECT least(CAST(floor((o_totalprice - mn) / w) AS INTEGER), 9) AS bucket, mn, w
              FROM orders, b WHERE o_totalprice IS NOT NULL)
        SELECT bucket, mn + bucket * w AS lo, mn + (bucket + 1) * w AS hi, count(*) AS n
        FROM h GROUP BY bucket, mn, w ORDER BY bucket""")),

    QueryDef("agg_profile_stats",
      (s, dir) => Profiler.profileTables(s,
          Seq("region" -> Tables.load(s, dir, "region"),
              "orders" -> Tables.load(s, dir, "orders")),
          runId = "run_2024_01_01", environment = "production",
          approxDistinct = false) // oracle recomputes exact distincts
        .orderBy("table_name", "column_name"),
      Some("""WITH
      oa AS (SELECT count(*) AS total,
        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1, count(DISTINCT o_orderkey) AS d1,
          CAST(min(o_orderkey) AS DOUBLE) AS mn1, CAST(max(o_orderkey) AS DOUBLE) AS mx1,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2, count(DISTINCT o_custkey) AS d2,
          CAST(min(o_custkey) AS DOUBLE) AS mn2, CAST(max(o_custkey) AS DOUBLE) AS mx2,
        CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3, count(DISTINCT o_orderstatus) AS d3,
          CAST(min(o_orderstatus) AS VARCHAR) AS mnt3, CAST(max(o_orderstatus) AS VARCHAR) AS mxt3,
        CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n4, count(DISTINCT o_totalprice) AS d4,
          CAST(min(o_totalprice) AS DOUBLE) AS mn4, CAST(max(o_totalprice) AS DOUBLE) AS mx4,
        CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n5, count(DISTINCT o_orderdate) AS d5,
          CAST(min(o_orderdate) AS VARCHAR) AS mnt5, CAST(max(o_orderdate) AS VARCHAR) AS mxt5,
        CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n6, count(DISTINCT o_orderpriority) AS d6,
          CAST(min(o_orderpriority) AS VARCHAR) AS mnt6, CAST(max(o_orderpriority) AS VARCHAR) AS mxt6
        FROM orders),
      ra AS (SELECT count(*) AS total,
        CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1, count(DISTINCT r_regionkey) AS d1,
          CAST(min(r_regionkey) AS DOUBLE) AS mn1, CAST(max(r_regionkey) AS DOUBLE) AS mx1,
        CAST(sum(CASE WHEN r_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2, count(DISTINCT r_name) AS d2,
          CAST(min(r_name) AS VARCHAR) AS mnt2, CAST(max(r_name) AS VARCHAR) AS mxt2
        FROM region),
      rows_ AS (
        SELECT 'orders' AS table_name, 'o_orderkey' AS column_name, 'long' AS data_type, total, n1 AS null_count, d1 AS distinct_count, mn1 AS min_numeric, mx1 AS max_numeric, CAST(NULL AS VARCHAR) AS min_text, CAST(NULL AS VARCHAR) AS max_text FROM oa
        UNION ALL SELECT 'orders', 'o_custkey', 'long', total, n2, d2, mn2, mx2, NULL, NULL FROM oa
        UNION ALL SELECT 'orders', 'o_orderstatus', 'string', total, n3, d3, NULL, NULL, mnt3, mxt3 FROM oa
        UNION ALL SELECT 'orders', 'o_totalprice', 'double', total, n4, d4, mn4, mx4, NULL, NULL FROM oa
        UNION ALL SELECT 'orders', 'o_orderdate', 'timestamp', total, n5, d5, NULL, NULL, mnt5, mxt5 FROM oa
        UNION ALL SELECT 'orders', 'o_orderpriority', 'string', total, n6, d6, NULL, NULL, mnt6, mxt6 FROM oa
        UNION ALL SELECT 'region', 'r_regionkey', 'integer', total, n1, d1, mn1, mx1, NULL, NULL FROM ra
        UNION ALL SELECT 'region', 'r_name', 'string', total, n2, d2, NULL, NULL, mnt2, mxt2 FROM ra)
      SELECT table_name, column_name, data_type, total AS total_records, null_count,
        CASE WHEN total = 0 THEN 0.0 ELSE CAST(null_count AS DOUBLE) / total END AS null_rate,
        distinct_count, min_numeric, max_numeric, min_text, max_text,
        'run_2024_01_01' AS run_id, 'production' AS environment
      FROM rows_ ORDER BY table_name, column_name""")),

    // Run-over-run drift: today's slice (orders from 2000-01-01) vs the
    // full history — integer row/null deltas per column, the check the
    // APPEND monitoring table exists for.
    QueryDef("agg_profile_drift",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val prev = Profiler.profile(orders, "orders")
        val cur = Profiler.profile(
          orders.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          "orders")
        Profiler.drift(cur, prev)
          .select("table_name", "column_name", "cur_total", "prev_total",
            "row_delta", "cur_nulls", "prev_nulls", "null_delta")
          .orderBy("column_name")
      },
      Some("""WITH p AS (SELECT count(*) AS t FROM orders),
        c AS (SELECT count(*) AS t FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
        cols AS (SELECT unnest(['o_custkey','o_orderdate','o_orderkey',
          'o_orderpriority','o_orderstatus','o_totalprice']) AS column_name)
        SELECT 'orders' AS table_name, column_name,
          c.t AS cur_total, p.t AS prev_total, c.t - p.t AS row_delta,
          CAST(0 AS BIGINT) AS cur_nulls, CAST(0 AS BIGINT) AS prev_nulls,
          CAST(0 AS BIGINT) AS null_delta
        FROM cols, p, c ORDER BY column_name""")),

    // Incremental distinct over daily windows. The production path is
    // mergeable per-day HLL sketches unioned for any window (the only
    // way distinct-users-over-N-days scales — exact distincts can't
    // merge); its estimate is deterministic but not SQL-reproducible, so
    // the sketch path lives as a Profiler/ProfilerSpec capability (error
    // bounded ≤ 5% there) and the REGISTRY slot is carried by this exact
    // twin: per-day exact distincts plus the exact window distinct. The
    // sum-of-dailies vs window-distinct gap in the result is exactly why
    // the sketch path exists (dailies over-count returning users).
    QueryDef("agg_incremental_distinct_exact",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val daily = ev.groupBy(to_date(col("ts")).as("d"))
          .agg(countDistinct(col("user_id")).as("du"))
        daily.agg(
            count(lit(1)).as("n_days"),
            sum(col("du")).as("sum_daily_users"))
          .crossJoin(broadcast(
            ev.agg(countDistinct(col("user_id")).as("exact_users"))))
      },
      Some("""WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS du
          FROM events GROUP BY 1)
        SELECT (SELECT count(*) FROM daily) AS n_days,
               (SELECT CAST(sum(du) AS BIGINT) FROM daily) AS sum_daily_users,
               (SELECT count(DISTINCT user_id) FROM events) AS exact_users""")),

    // Per-column distribution quantiles. The production path is the
    // single-pass mergeable GK sketch (approx_percentile — exact
    // percentiles need a full sort per column, a non-starter at scale);
    // it is deterministic but not SQL-reproducible, so it lives as a
    // Profiler/ProfilerSpec capability (rank error bounded there) and
    // the REGISTRY slot is carried by the exact-percentile variant:
    // Spark `percentile` and DuckDB `quantile_cont` share the
    // PERCENTILE_CONT definition lower + (upper − lower)·frac at rank
    // p·(n−1), so the hash compare is exact.
    QueryDef("agg_profile_quantiles_exact",
      (s, dir) => Profiler.quantilesExact(
          Tables.load(s, dir, "orders"), Seq("o_totalprice", "o_custkey"))
        .orderBy("column_name"),
      Some("""SELECT 'o_custkey' AS column_name,
          quantile_cont(CAST(o_custkey AS DOUBLE), 0.25) AS p25,
          quantile_cont(CAST(o_custkey AS DOUBLE), 0.50) AS p50,
          quantile_cont(CAST(o_custkey AS DOUBLE), 0.75) AS p75,
          quantile_cont(CAST(o_custkey AS DOUBLE), 0.95) AS p95
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
          quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25),
          quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50),
          quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75),
          quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95)
        FROM orders
        ORDER BY column_name""")),

    // GROUPED exact interpolated percentiles — per-segment latency/value
    // cuts, the analytics staple: Spark `percentile` and DuckDB
    // `quantile_cont` share the PERCENTILE_CONT interpolation (verified
    // bit-identical — the same parity agg_profile_quantiles_exact leans
    // on), so exact doubles survive the hash compare. One hash aggregate
    // per group; per-group state is the sorted value multiset (Spark's
    // exact percentile is a sort-based ImperativeAggregate) — bounded by
    // group cardinality, the documented trade for exactness (the
    // sketch-bounded alternative is agg_approx_quantile_bounds).
    QueryDef("agg_percentile_grouped",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .groupBy($"event_type")
          .agg(expr("percentile(value, array(0.5D, 0.95D))").as("ps"),
            count(lit(1)).as("n"))
          .select($"event_type", $"ps".getItem(0).as("p50"),
            $"ps".getItem(1).as("p95"), $"n")
          .orderBy($"event_type")
      },
      Some("""SELECT event_type,
          quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.95) AS p95,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Exact order statistics WITHOUT a global sort — see
    // [[graft.profiling.Profiler.exactOrderStats]] for the shape
    // (hash-agg by value → cumulative count over the REDUCED
    // distinct-value table → integer-rank selection) and for the
    // in-plan maxDomain guard that keeps the O(domain) single-task
    // window from silently serializing an unbounded-domain column
    // (l_extendedprice is DECIMAL(12,2): ≤10⁷ distinct, well inside
    // the default 10⁸ bound).
    QueryDef("agg_median_distributed",
      (s, dir) => graft.profiling.Profiler.exactOrderStats(
        Tables.load(s, dir, "lineitem"), "l_extendedprice"),
      Some("""WITH v AS (SELECT l_extendedprice AS v, count(*) AS c
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM v),
        cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM v)
        SELECT t.n AS n_rows,
          CAST(min(CASE WHEN cum.cum >= (t.n + 1) // 2 THEN cum.v END) AS DOUBLE) AS p50_low,
          CAST(min(CASE WHEN cum.cum >= (9 * t.n + 9) // 10 THEN cum.v END) AS DOUBLE) AS p90_low
        FROM cum CROSS JOIN t GROUP BY t.n""")),

    // WEIGHTED median/p90, same no-global-sort histogram plan: the
    // quantity below which half the lineitem REVENUE sits (weights in
    // exact DECIMAL — order-independent sums, exact threshold compares
    // in both engines; the cumulative window runs over the ~50-row
    // quantity domain only, maxDomain-guarded).
    QueryDef("agg_weighted_median_distributed",
      (s, dir) => graft.profiling.Profiler.exactWeightedOrderStats(
        Tables.load(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""WITH v AS (SELECT l_quantity AS v,
            sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS wc, count(*) AS c
          FROM lineitem GROUP BY 1),
        t AS (SELECT sum(wc) AS wtot, CAST(sum(c) AS BIGINT) AS n FROM v),
        cum AS (SELECT v, sum(wc) OVER (ORDER BY v) AS cum FROM v)
        SELECT t.n AS n_rows,
          CAST(min(CASE WHEN cum.cum * 2 >= t.wtot THEN cum.v END) AS DOUBLE) AS wp50_low,
          CAST(min(CASE WHEN cum.cum * 10 >= 9 * t.wtot THEN cum.v END) AS DOUBLE) AS wp90_low
        FROM cum CROSS JOIN t GROUP BY t.n"""))
  )
}
