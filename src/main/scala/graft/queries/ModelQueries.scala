package graft.queries


import graft.Tables
import graft.models._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** dbt-parity end-to-end: build the reference's two example models through
  * the DAG runner and run their declared schema tests (SURVEY.md §5.2
  * item 4 — `not_null` on my_first_dbt_model.id FAILS by design).
  */
object ModelQueries extends QueryModule {

  private def built(s: SparkSession) = ModelDag.run(s, ExampleModels.all)

  val defs: Seq[QueryDef] = Seq(

    QueryDef("model_first_dbt",
      (s, _) => {
        import s.implicits._
        built(s)("my_first_dbt_model").orderBy($"id".asc_nulls_last)
      },
      Some("SELECT * FROM (SELECT CAST(1 AS INTEGER) AS id UNION ALL SELECT CAST(NULL AS INTEGER)) t ORDER BY id NULLS LAST")),

    QueryDef("model_second_dbt",
      (s, _) => {
        import s.implicits._
        built(s)("my_second_dbt_model").orderBy($"id")
      },
      Some("""WITH m1 AS (SELECT CAST(1 AS INTEGER) AS id UNION ALL SELECT CAST(NULL AS INTEGER))
        SELECT id FROM m1 WHERE id = 1 ORDER BY id""")),

    QueryDef("dbt_schema_tests",
      (s, _) => {
        import s.implicits._
        built(s)
        s.createDataset(SchemaTests.runAll(s, ExampleModels.declaredTests))
          .toDF().orderBy($"model_name", $"test_name")
      },
      Some("""WITH m1 AS (SELECT CAST(1 AS INTEGER) AS id UNION ALL SELECT CAST(NULL AS INTEGER)),
      m2 AS (SELECT id FROM m1 WHERE id = 1),
      r AS (
        SELECT 'my_first_dbt_model' AS model_name, 'id' AS column_name, 'unique' AS test_name,
          CASE WHEN (SELECT count(*) FROM (SELECT id FROM m1 GROUP BY id HAVING count(*) > 1) v) = 0 THEN 'PASS' ELSE 'FAIL' END AS status
        UNION ALL SELECT 'my_first_dbt_model', 'id', 'not_null',
          CASE WHEN (SELECT count(*) FROM m1 WHERE id IS NULL) = 0 THEN 'PASS' ELSE 'FAIL' END
        UNION ALL SELECT 'my_second_dbt_model', 'id', 'unique',
          CASE WHEN (SELECT count(*) FROM (SELECT id FROM m2 GROUP BY id HAVING count(*) > 1) v) = 0 THEN 'PASS' ELSE 'FAIL' END
        UNION ALL SELECT 'my_second_dbt_model', 'id', 'not_null',
          CASE WHEN (SELECT count(*) FROM m2 WHERE id IS NULL) = 0 THEN 'PASS' ELSE 'FAIL' END)
      SELECT * FROM r ORDER BY model_name, test_name""")),

    // dbt snapshots slot, timestamp strategy: rebuild SCD-2 validity
    // intervals from the orders change stream (customer's order-status
    // history). One window shuffle on the snapshot key, no joins.
    QueryDef("snapshot_scd2_history",
      (s, dir) => Snapshot.scd2History(Tables.load(s, dir, "orders"),
          Seq("o_custkey"), "o_orderstatus", "o_orderdate", "o_orderkey")
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderstatus"),
          col("valid_to").asc_nulls_last),
      Some("""WITH s AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
            lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
          FROM orders),
        c AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM s
          WHERE prev IS NULL OR prev <> o_orderstatus),
        h AS (SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
            lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
          FROM c)
        SELECT o_custkey, o_orderstatus, valid_from, valid_to,
          valid_to IS NULL AS is_current
        FROM h
        ORDER BY o_custkey, valid_from, o_orderstatus, valid_to NULLS LAST""")),

    // SCD-2 POINT-IN-TIME read — the query the history exists FOR: the
    // dimension version valid at a literal as-of instant (valid_from ≤
    // asof < valid_to, open intervals current). One filter over the
    // history relation; at scale the valid_from/valid_to columns are
    // exactly what min/max row-group pruning wants.
    QueryDef("snapshot_scd2_asof",
      (s, dir) => {
        val asof = lit("1997-06-01").cast("timestamp")
        Snapshot.scd2History(Tables.load(s, dir, "orders"),
            Seq("o_custkey"), "o_orderstatus", "o_orderdate", "o_orderkey")
          .filter(col("valid_from") <= asof &&
            (col("valid_to").isNull || col("valid_to") > asof))
          .orderBy(col("o_custkey"), col("valid_from"), col("o_orderstatus"))
      },
      Some("""WITH s AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
            lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
          FROM orders),
        c AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM s
          WHERE prev IS NULL OR prev <> o_orderstatus),
        h AS (SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
            lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
          FROM c)
        SELECT o_custkey, o_orderstatus, valid_from, valid_to,
          valid_to IS NULL AS is_current
        FROM h
        WHERE valid_from <= TIMESTAMP '1997-06-01'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-01')
        ORDER BY o_custkey, valid_from, o_orderstatus""")),

    // dbt snapshots slot, check strategy: initial snapshot of the
    // point-in-time state at T1, then merge the state at T2 — changed
    // keys are closed out and reopened, unchanged keys stay open.
    QueryDef("snapshot_scd2_merge",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val t1 = lit("1998-01-01").cast("timestamp")
        val t2 = lit("2000-01-01").cast("timestamp")
        val key = Seq("o_custkey")
        val st1 = Snapshot.stateAsOf(orders, key, "o_orderstatus",
          "o_orderdate", "o_orderkey", t1)
        val st2 = Snapshot.stateAsOf(orders, key, "o_orderstatus",
          "o_orderdate", "o_orderkey", t2)
        Snapshot.scd2Merge(Snapshot.scd2Init(st1, key, "o_orderstatus", t1),
            st2, key, "o_orderstatus", t2)
          .orderBy(col("o_custkey"), col("valid_from"), col("o_orderstatus"))
      },
      Some("""WITH st1 AS (
          SELECT o_custkey, o_orderstatus FROM (
            SELECT o_custkey, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01') t WHERE rn = 1),
        st2 AS (
          SELECT o_custkey, o_orderstatus FROM (
            SELECT o_custkey, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') t WHERE rn = 1),
        merged AS (
          SELECT h.o_custkey, h.o_orderstatus, TIMESTAMP '1998-01-01' AS valid_from,
            CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
          FROM st1 h LEFT JOIN st2 s ON h.o_custkey = s.o_custkey
          WHERE s.o_custkey IS NULL OR s.o_orderstatus = h.o_orderstatus
          UNION ALL
          SELECT h.o_custkey, h.o_orderstatus, TIMESTAMP '1998-01-01',
            TIMESTAMP '2000-01-01', false
          FROM st1 h JOIN st2 s ON h.o_custkey = s.o_custkey
          WHERE s.o_orderstatus <> h.o_orderstatus
          UNION ALL
          SELECT s.o_custkey, s.o_orderstatus, TIMESTAMP '2000-01-01',
            CAST(NULL AS TIMESTAMP), true
          FROM st2 s LEFT JOIN st1 h ON h.o_custkey = s.o_custkey
          WHERE h.o_custkey IS NULL OR h.o_orderstatus <> s.o_orderstatus)
        SELECT * FROM merged ORDER BY o_custkey, valid_from, o_orderstatus""")),

    // dbt materialized='incremental' with unique_key: first run builds
    // days < 2000-01-01, second run rebuilds only days >= 1999-11-01
    // (the reference's date-partition filter, dq_sql_notes.md:75) and
    // merges them in; the final table must equal the full-history build.
    QueryDef("model_incremental",
      (s, dir) => {
        val wh = QueryScratch.dir("model_inc").toString
        def daily(pred: org.apache.spark.sql.Column): Model =
          Model("orders_daily", Nil, Materialization.Incremental(Seq("d")),
            sp => Tables.load(sp, dir, "orders")
              .filter(pred)
              .groupBy(to_date(col("o_orderdate")).as("d"))
              .agg(count(lit(1)).as("n"),
                Exact.dsum(col("o_totalprice")).as("revenue")))
        ModelDag.run(s,
          Seq(daily(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))), Some(wh))
        val out = ModelDag.run(s,
          Seq(daily(col("o_orderdate") >= lit("1999-11-01").cast("timestamp"))), Some(wh))
        out("orders_daily").orderBy("d")
      },
      Some(s"""SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
          ${Exact.sqlDsum("o_totalprice")} AS revenue
        FROM orders GROUP BY 1 ORDER BY d""")),

    // Incremental AGGREGATE maintenance: where model_incremental replaces
    // whole key-rows, this COMBINES partial aggregates — the base table's
    // per-user (count, decimal sum) merges with the new slice's partials
    // via full-outer + coalesce-add. Decimal partial sums re-add exactly,
    // so the merged table is bitwise the full recompute (the oracle) —
    // the pattern that lets a 100 TB daily rollup absorb a day of data
    // without rescanning history.
    QueryDef("model_incremental_agg_merge",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events").select($"user_id", $"ts", $"value")
        val cut = lit("2024-01-10").cast("timestamp")
        def partial(df: org.apache.spark.sql.DataFrame) = df.groupBy($"user_id")
          .agg(count(lit(1)).as("n"), sum($"value".cast("decimal(20,2)")).as("v"))
        val base = partial(ev.filter($"ts" < cut))
          .select($"user_id", $"n".as("bn"), $"v".as("bv"))
        val delta = partial(ev.filter($"ts" >= cut))
          .select($"user_id", $"n".as("dn"), $"v".as("dv"))
        base.join(delta, Seq("user_id"), "full_outer")
          .select($"user_id",
            (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_events"),
            (coalesce($"bv", lit(0).cast("decimal(20,2)")) +
              coalesce($"dv", lit(0).cast("decimal(20,2)"))).cast("double")
              .as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // The reference's daily Airflow DAG in miniature (orchestrate.md:
    // 256-306): ONE registered query drives model build → date-slice DQ →
    // profiler drift for a single execution date, and emits the unified
    // run report the orchestrator would persist. Each step's frame is
    // projected onto (step, item, status, records) and unioned — the
    // whole day's pipeline is one Spark job graph, no driver round-trips
    // between stages beyond the model materialization itself.
    QueryDef("pipeline_daily_run",
      (s, dir) => {
        import graft.dq._
        import graft.profiling.Profiler
        val day = "1998-03-02"
        val cut = lit(day).cast("timestamp")
        val orders = Tables.load(s, dir, "orders")
        // 1. model: build the day's slice through the DAG runner
        val slice = ModelDag.run(s, Seq(Model("orders_slice", Nil,
          Materialization.View,
          sp => Tables.load(sp, dir, "orders")
            .filter(col("o_orderdate") === cut))))("orders_slice")
        val modelStep = slice.agg(count(lit(1)).as("records"))
          .select(lit("model").as("step"), lit("orders_slice").as("item"),
            lit("OK").as("status"), col("records"))
        // 2. DQ: completeness over the same date slice
        val dqStep = DqEngine.run(s, orders,
            DqConfig(tableName = "orders", fecha = Some(day),
              dateColumn = "o_orderdate",
              tests = DqTests(completeness = Seq("o_orderstatus", "o_totalprice"))),
            day).toDF()
          .select(lit("dq").as("step"), col("test_name").as("item"),
            col("status"), col("failed_records").as("records"))
        // 3. profiling: today's slice vs full history → row drift
        val driftStep = Profiler.drift(
            Profiler.profile(orders.filter(col("o_orderdate") === cut), "orders"),
            Profiler.profile(orders, "orders"))
          .select(lit("profile_drift").as("step"),
            col("column_name").as("item"), lit("OK").as("status"),
            col("row_delta").as("records"))
        modelStep.unionByName(dqStep).unionByName(driftStep)
          .orderBy("step", "item")
      },
      Some("""WITH slice AS (
          SELECT * FROM orders WHERE o_orderdate = TIMESTAMP '1998-03-02'),
        sc AS (SELECT count(*) AS n FROM slice),
        fc AS (SELECT count(*) AS n FROM orders),
        dq AS (SELECT
            CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = '' THEN 1 ELSE 0 END) AS BIGINT) AS f_st,
            CAST(sum(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN 1 ELSE 0 END) AS BIGINT) AS f_tp
          FROM slice),
        rows_ AS (
          SELECT 'model' AS step, 'orders_slice' AS item, 'OK' AS status,
            (SELECT n FROM sc) AS records
          UNION ALL SELECT 'dq', 'completeness_o_orderstatus',
            CASE WHEN f_st = 0 THEN 'PASS' ELSE 'FAIL' END, f_st FROM dq
          UNION ALL SELECT 'dq', 'completeness_o_totalprice',
            CASE WHEN f_tp = 0 THEN 'PASS' ELSE 'FAIL' END, f_tp FROM dq
          UNION ALL SELECT 'profile_drift', c, 'OK',
            (SELECT n FROM sc) - (SELECT n FROM fc)
          FROM (SELECT unnest(['o_custkey','o_orderdate','o_orderkey',
            'o_orderpriority','o_orderstatus','o_totalprice']) AS c) cols)
        SELECT step, item, status, records FROM rows_ ORDER BY step, item""")),

    // View materialization, dbt's default (SURVEY §2.1 sink_view;
    // dbt_project.yml:31-35): a Table model persists as a catalog table,
    // then a dependent View model materializes as a persistent
    // `CREATE OR REPLACE VIEW` over it — no data movement, SQL text in
    // the catalog. The result is read back THROUGH the view name
    // (`spark.table`), and is_catalog_view confirms the catalog object
    // really is a VIEW, not a table or temp view.
    QueryDef("sink_view",
      (s, dir) => {
        val wh = QueryScratch.dir("view_wh").toString
        val base = Model("graft_region_base", Nil, Materialization.Table,
          sp => Tables.load(sp, dir, "region").select(col("r_regionkey"), col("r_name")))
        val view = Model("graft_region_view", Seq("graft_region_base"),
          Materialization.View,
          sp => sp.table("graft_region_base").filter(col("r_regionkey") >= 1),
          sqlText = Some(
            "SELECT r_regionkey, r_name FROM graft_region_base WHERE r_regionkey >= 1"))
        ModelDag.run(s, Seq(base, view), Some(wh), catalogViews = true)
        val isView = s.catalog.getTable("graft_region_view").tableType == "VIEW"
        s.table("graft_region_view")
          .withColumn("is_catalog_view", lit(isView))
          .orderBy("r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, true AS is_catalog_view
        FROM region WHERE r_regionkey >= 1 ORDER BY r_regionkey""")),

    // The ref() dataflow edge (SURVEY §2.3 join_ref_dag;
    // models/example/my_second_dbt_model.sql:5): a four-model diamond —
    // staging feeds a fact filter and a dimension distinct, which a mart
    // row-joins back together — resolved purely by name through
    // `spark.table` at build time. The output is the engine's compiled
    // execution manifest: topological build order, each model's declared
    // upstream refs, and its materialized row count. Counts are computed
    // as one lazy union of per-model aggregates — the DAG builds at plan
    // time, Spark runs one job.
    QueryDef("join_ref_dag",
      (s, dir) => {
        val models = Seq(
          Model("stg_orders", Nil, Materialization.View,
            sp => Tables.load(sp, dir, "orders")
              .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))),
          Model("fct_priced", Seq("stg_orders"), Materialization.View,
            sp => sp.table("stg_orders").filter(col("o_totalprice") > 0)),
          Model("dim_status", Seq("stg_orders"), Materialization.View,
            sp => sp.table("stg_orders").select(col("o_orderstatus")).distinct()),
          Model("mart_by_status", Seq("fct_priced", "dim_status"), Materialization.View,
            sp => sp.table("fct_priced")
              .join(sp.table("dim_status"), Seq("o_orderstatus"))))
        val order = ModelDag.topoSort(models)
        val built = ModelDag.run(s, models)
        order.zipWithIndex.map { case (m, i) =>
          built(m.name).agg(count(lit(1)).as("n_rows"))
            .select(lit(i + 1).as("build_order"), lit(m.name).as("model_name"),
              lit(m.deps.mkString(",")).as("depends_on"), col("n_rows"))
        }.reduce(_.unionByName(_)).orderBy("build_order")
      },
      Some("""SELECT * FROM (
          SELECT 1 AS build_order, 'stg_orders' AS model_name, '' AS depends_on,
            (SELECT count(*) FROM orders) AS n_rows
          UNION ALL SELECT 2, 'fct_priced', 'stg_orders',
            (SELECT count(*) FROM orders WHERE o_totalprice > 0)
          UNION ALL SELECT 3, 'dim_status', 'stg_orders',
            (SELECT count(DISTINCT o_orderstatus) FROM orders)
          UNION ALL SELECT 4, 'mart_by_status', 'fct_priced,dim_status',
            (SELECT count(*) FROM orders WHERE o_totalprice > 0))
        ORDER BY build_order""")),

    // ── SCD-2 retention expiry (the version-GC every dimension store
    //    eventually needs — history grows forever, queries only reach
    //    back so far): versions whose validity CLOSED before the
    //    retention watermark ('1996-01-01') are expirable; the version
    //    active AT the watermark survives by construction (its valid_to
    //    is NULL or ≥ watermark), so as-of reads at or after the
    //    watermark are unaffected — the exact invariant the spec
    //    asserts. Per key: versions, expirable, kept, earliest surviving
    //    start. One filter+aggregate over the history relation; at scale
    //    valid_to is what min/max row-group pruning keys on. ────────────
    QueryDef("snapshot_expire_versions",
      (s, dir) => {
        val cutoff = lit("1996-01-01").cast("timestamp")
        Snapshot.scd2History(Tables.load(s, dir, "orders"),
            Seq("o_custkey"), "o_orderstatus", "o_orderdate", "o_orderkey")
          .select(col("o_custkey"),
            when(col("valid_to").isNotNull && col("valid_to") < cutoff, 1L)
              .otherwise(0L).as("expirable"),
            col("valid_from"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_versions"),
            sum(col("expirable")).as("n_expired"),
            (count(lit(1)) - sum(col("expirable"))).as("n_kept"),
            min(when(col("expirable") === 0L, col("valid_from")))
              .as("kept_from"))
          .filter(col("n_expired") > 0)
          .orderBy(col("o_custkey"))
      },
      Some("""WITH s AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
            lag(o_orderstatus) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS prev
          FROM orders),
        c AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM s
          WHERE prev IS NULL OR prev <> o_orderstatus),
        h AS (SELECT o_custkey, o_orderdate AS valid_from,
            lead(o_orderdate) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS valid_to
          FROM c),
        e AS (SELECT o_custkey, valid_from,
            CASE WHEN valid_to IS NOT NULL
                AND valid_to < TIMESTAMP '1996-01-01'
              THEN 1 ELSE 0 END AS expirable
          FROM h),
        g AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_versions,
            CAST(sum(expirable) AS BIGINT) AS n_expired,
            CAST(count(*) - sum(expirable) AS BIGINT) AS n_kept,
            min(CASE WHEN expirable = 0 THEN valid_from END) AS kept_from
          FROM e GROUP BY o_custkey)
        SELECT * FROM g WHERE n_expired > 0 ORDER BY o_custkey""")),

    // ── dbt `materialized='ephemeral'` (the fourth core dbt
    //    materialization beside view/table/incremental — the slot the
    //    reference's dbt_project.yml leaves at its default): a 3-model
    //    DAG whose middle model is Ephemeral — downstream refs inline
    //    its plan (dbt's compile-to-CTE), nothing is stored or left in
    //    the catalog, and ModelSpec proves the name is NOT addressable
    //    after the run. The oracle is the same query hand-compiled to
    //    one CTE — exactly what dbt would emit. Plan note: because the
    //    boundary is a temp view over a lazy plan, Catalyst pushes the
    //    downstream status filter INTO the ephemeral aggregate's scan;
    //    a materialized middle model could not do that. ─────────────────
    QueryDef("model_ephemeral_inline",
      (s, dir) => {
        val raw = Model("eph_orders_raw", Nil, Materialization.View,
          sp => Tables.load(sp, dir, "orders"))
        val mid = Model("eph_daily_status", Seq("eph_orders_raw"),
          Materialization.Ephemeral,
          sp => sp.table("eph_orders_raw")
            .groupBy(col("o_orderstatus"), to_date(col("o_orderdate")).as("d"))
            .agg(count(lit(1)).as("n"),
              expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
                .as("cents")))
        val top = Model("eph_status_rollup", Seq("eph_daily_status"),
          Materialization.Table,
          sp => sp.table("eph_daily_status")
            .filter(col("o_orderstatus") =!= "P")
            .groupBy(col("o_orderstatus"))
            .agg(sum(col("n")).as("n_orders"),
              count(lit(1)).as("n_days"),
              sum(col("cents")).as("cents")))
        val out = ModelDag.run(s, Seq(raw, mid, top))
        require(!out.contains("eph_daily_status"),
          "ephemeral model leaked into the materialized map")
        out("eph_status_rollup").orderBy(col("o_orderstatus"))
      },
      Some("""WITH eph_daily_status AS (
          SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS d,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders GROUP BY 1, 2)
        SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n_orders,
          CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(cents) AS BIGINT) AS cents
        FROM eph_daily_status WHERE o_orderstatus <> 'P'
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ── SCD-2 merge idempotence (the property a warehouse MERGE must
    //    hold for safe orchestration retries — Airflow re-running a
    //    completed snapshot task must be a no-op): apply the SAME T2
    //    state twice; the oracle computes the single-merge history, so
    //    the hash match IS the proof that merge∘merge = merge. Second
    //    pass mechanics: unchanged keys carry their open rows, nothing
    //    differs from the just-written values, so close/open sets are
    //    empty by construction. ─────────────────────────────────────────
    QueryDef("snapshot_merge_idempotent",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val t1 = lit("1998-01-01").cast("timestamp")
        val t2 = lit("2000-01-01").cast("timestamp")
        val key = Seq("o_custkey")
        val st1 = Snapshot.stateAsOf(orders, key, "o_orderstatus",
          "o_orderdate", "o_orderkey", t1)
        val st2 = Snapshot.stateAsOf(orders, key, "o_orderstatus",
          "o_orderdate", "o_orderkey", t2)
        val once = Snapshot.scd2Merge(
          Snapshot.scd2Init(st1, key, "o_orderstatus", t1),
          st2, key, "o_orderstatus", t2)
        Snapshot.scd2Merge(once, st2, key, "o_orderstatus", t2)
          .orderBy(col("o_custkey"), col("valid_from"), col("o_orderstatus"))
      },
      Some("""WITH st1 AS (
          SELECT o_custkey, o_orderstatus FROM (
            SELECT o_custkey, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01') t WHERE rn = 1),
        st2 AS (
          SELECT o_custkey, o_orderstatus FROM (
            SELECT o_custkey, o_orderstatus,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01') t WHERE rn = 1),
        merged AS (
          SELECT h.o_custkey, h.o_orderstatus, TIMESTAMP '1998-01-01' AS valid_from,
            CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
          FROM st1 h LEFT JOIN st2 s ON h.o_custkey = s.o_custkey
          WHERE s.o_custkey IS NULL OR s.o_orderstatus = h.o_orderstatus
          UNION ALL
          SELECT h.o_custkey, h.o_orderstatus, TIMESTAMP '1998-01-01',
            TIMESTAMP '2000-01-01', false
          FROM st1 h JOIN st2 s ON h.o_custkey = s.o_custkey
          WHERE s.o_orderstatus <> h.o_orderstatus
          UNION ALL
          SELECT s.o_custkey, s.o_orderstatus, TIMESTAMP '2000-01-01',
            CAST(NULL AS TIMESTAMP), true
          FROM st2 s LEFT JOIN st1 h ON h.o_custkey = s.o_custkey
          WHERE h.o_custkey IS NULL OR h.o_orderstatus <> s.o_orderstatus)
        SELECT * FROM merged ORDER BY o_custkey, valid_from, o_orderstatus"""))
  )
}
