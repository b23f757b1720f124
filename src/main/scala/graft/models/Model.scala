package graft.models

import java.nio.file.Paths

import graft.Concurrently
import graft.sources.Maintenance
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A transformation model: the engine's equivalent of a dbt model
  * (reference: the SQL files under models/example plus dbt_project.yml:31-42).
  *
  * `build` receives the session and resolves upstream models with
  * `spark.table(name)` — the engine registers each materialized model as a
  * view before its dependents run, which is the `ref()` dataflow edge
  * (reference models/example/my_second_dbt_model.sql:5).
  *
  * `sqlText`, when given, is the model's SELECT body as SQL (what a dbt
  * model file literally is) — required for catalog-view materialization
  * ([[ModelDag.run]] `catalogViews`), since a persistent `CREATE OR
  * REPLACE VIEW` stores SQL text, not a DataFrame plan.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    build: SparkSession => DataFrame,
    sqlText: Option[String] = None)

sealed trait Materialization
object Materialization {
  /** dbt default (dbt_project.yml:31-35): a view — no data movement. */
  case object View extends Materialization
  /** `materialized='table'` (my_first_dbt_model.sql:10): full rebuild CTAS. */
  case object Table extends Materialization
  /** dbt `materialized='incremental'` with `unique_key`: on the first run
    * a plain CTAS; afterwards the build's output rows *replace* existing
    * rows sharing the unique key and all other existing rows are kept —
    * dbt's merge semantics. The build is expected to read only the new
    * slice (the reference's universal date-partition filter,
    * dq_sql_notes.md:75), so each run shuffles only the increment, never
    * the accumulated table; the untouched remainder is carried by an
    * anti join keyed on `uniqueKey`. Each merge still rewrites the whole
    * accumulated table once, into a stage directory that replaces the
    * table by rename, so a failed merge leaves the previous version in
    * place. Rewriting only the files that hold a replaced key is not done
    * yet.
    */
  final case class Incremental(uniqueKey: Seq[String]) extends Materialization
  /** dbt `materialized='ephemeral'`: never materialized, never
    * addressable — dbt compiles the model to a CTE interpolated into
    * every downstream `ref()`. Engine mapping: the model registers as a
    * temp view only for the DURATION of the DAG run (so downstream
    * builds can `spark.table` it); the view is dropped before `run`
    * returns — downstream plans captured the resolved subtree at their
    * own analysis time — and the model is excluded from the returned
    * frame map. No catalog or storage footprint, and Catalyst optimizes
    * straight through the boundary (filters and column pruning cross
    * it), which is exactly the CTE-inlining contract.
    */
  case object Ephemeral extends Materialization
}

/** Topological model runner — the engine's in-process `dbt run`
  * (reference README.md:6, orchestration shape in tests/orchestrate.md).
  */
object ModelDag {

  /** Kahn toposort; throws on cycles or missing refs. */
  def topoSort(models: Seq[Model]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    models.foreach { m =>
      m.deps.foreach { d =>
        require(byName.contains(d), s"model ${m.name} refs unknown model $d")
      }
    }
    val indeg = scala.collection.mutable.Map(models.map(m => m.name -> m.deps.size): _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[Model]
    val ready = scala.collection.mutable.Queue(
      models.filter(_.deps.isEmpty).map(_.name).sorted: _*)
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += byName(n)
      models.filter(_.deps.contains(n)).foreach { m =>
        indeg(m.name) -= 1
        if (indeg(m.name) == 0) ready.enqueue(m.name)
      }
    }
    require(out.size == models.size,
      s"model DAG has a cycle among ${models.map(_.name).diff(out.map(_.name)).mkString(",")}")
    out.toSeq
  }

  /** Build every model in dependency order; materialize each as a temp view
    * (Table models are additionally persisted under `warehouseDir` when
    * given — the CTAS full-rebuild semantics of dbt_project.yml:38-42).
    * Returns the materialized frames by name.
    *
    * Like dbt's `threads`, a model starts as soon as every one of its
    * `deps` has registered its view, so independent materializations run
    * at the same time ([[graft.Concurrently]], at most cores-many). If a
    * model fails, its dependents never build, the models already running
    * finish, and the model's own exception is rethrown.
    *
    * `catalogViews = true` is the exact dbt-default parity mode
    * (dbt_project.yml:31-35): Table models register as catalog tables
    * (`saveAsTable`, external at the warehouse path) and View models with
    * `sqlText` as persistent `CREATE OR REPLACE VIEW`s — visible to every
    * session sharing the metastore, not just this one. Temp-view mode
    * stays the default: the engine is driver-scoped in this harness, and
    * temp views add no catalog state to clean up between queries.
    */
  def run(
      spark: SparkSession,
      models: Seq[Model],
      warehouseDir: Option[String] = None,
      catalogViews: Boolean = false): Map[String, DataFrame] = {
    val byName = topoSort(models).map(m => m.name -> m).toMap
    def node(m: Model): DataFrame = {
      if (catalogViews) spark.catalog.dropTempView(m.name) // unshadow catalog names
      val df = m.build(spark)
      val materialized = (m.materialization, warehouseDir) match {
        case (Materialization.Table, Some(dir)) if catalogViews =>
          val p = s"$dir/${m.name}"
          spark.sql(s"DROP TABLE IF EXISTS `${m.name}`")
          df.write.mode("overwrite").option("path", p).saveAsTable(m.name)
          spark.table(m.name)
        // A materialized model is read back with the schema it was
        // written with, so no footer-inference job runs.
        case (Materialization.Table, Some(dir)) =>
          val p = s"$dir/${m.name}"
          df.write.mode("overwrite").parquet(p)
          spark.read.schema(df.schema).parquet(p)
        case (Materialization.Incremental(keys), Some(dir)) =>
          val p = s"$dir/${m.name}"
          val target = new java.io.File(p)
          val written = if (target.exists()) {
            // merge: new rows win on uniqueKey; the merged plan reads the
            // parquet it replaces, so it is written to a stage directory
            // and swapped in by rename. The stored table is read with
            // inference: its schema can differ from this run's build.
            val existing = spark.read.parquet(p)
            val merged = existing.join(df, keys, "left_anti").unionByName(df)
            val stage = s"$dir/${m.name}__stage"
            merged.write.mode("overwrite").parquet(stage)
            Maintenance.swapIn(Paths.get(stage), Paths.get(p))
            merged.schema
          } else {
            df.write.mode("overwrite").parquet(p)
            df.schema
          }
          spark.read.schema(written).parquet(p)
        case _ => df
      }
      (m.materialization, m.sqlText) match {
        case (Materialization.View, Some(sql)) if catalogViews =>
          // A persistent view referencing an Ephemeral model's temp view
          // would be rejected by Spark (INVALID_TEMP_OBJ_REFERENCE) and
          // dangle once the ephemeral is dropped after this run. dbt's
          // contract is CTE inlining — replicate it: prepend each
          // (transitively) referenced ephemeral's SQL body as a CTE, in
          // dependency order. Ephemerals without sqlText can't be
          // inlined into SQL text, so that combination is rejected
          // loudly here instead of failing later inside Spark.
          val ephByName = models
            .filter(_.materialization == Materialization.Ephemeral)
            .map(e => e.name -> e).toMap
          val needed = scala.collection.mutable.LinkedHashSet.empty[Model]
          def visit(deps: Seq[String]): Unit = deps.foreach { d =>
            ephByName.get(d).foreach { e =>
              if (!needed.contains(e)) { visit(e.deps); needed += e }
            }
          }
          visit(m.deps)
          needed.foreach { e =>
            require(e.sqlText.isDefined,
              s"catalog view '${m.name}' depends on ephemeral '${e.name}' " +
                "which has no sqlText — a persistent view cannot reference " +
                "a temp view, and nothing can be inlined; give the " +
                "ephemeral a sqlText body or materialize it as a View/Table")
          }
          val finalSql = if (needed.isEmpty) sql else {
            // dbt's __dbt__cte__ precedent: inline each ephemeral under a
            // reserved prefix and rewrite references, so a view whose OWN
            // WITH clause defines a CTE with an ephemeral's bare name
            // can't produce a duplicate CTE definition. The rewrite is
            // dbt-style token substitution (whole-word / backquoted name
            // → prefixed name) — names must be referenced as relations,
            // the same contract dbt's ref() imposes. Ephemeral BODIES are
            // rewritten for every needed name (they are the only place a
            // transitive ephemeral is referenced); the view's SQL only
            // for its DIRECT ephemeral deps, so a view-local CTE that
            // happens to share a transitive ephemeral's name is left
            // alone (SQL scoping already resolves it to the local CTE).
            def alias(n: String) = s"__eph__$n"
            def rewriteRefs(body: String, names: Iterable[String]): String =
              names.foldLeft(body) { (acc, n) =>
                val q = java.util.regex.Pattern.quote(n)
                acc.replaceAll(s"`$q`|\\b$q\\b", s"`${alias(n)}`")
              }
            val allNames = needed.toSeq.map(_.name)
            val directNames = m.deps.filter(ephByName.contains)
            directNames.foreach { d =>
              // a view-local CTE named like a DIRECT ephemeral dep is
              // genuinely ambiguous — refuse loudly rather than let the
              // rewrite silently capture the local definition
              require(!sql.matches(s"(?is).*\\b${java.util.regex.Pattern.quote(d)}`?\\s+AS\\s*\\(.*"),
                s"catalog view '${m.name}' declares ephemeral dep '$d' but its " +
                  "SQL also defines a CTE of that name — rename one of them")
            }
            val ctes = needed
              .map(e => s"`${alias(e.name)}` AS (${rewriteRefs(e.sqlText.get, allNames)})")
              .mkString(", ")
            // strip leading -- line comments and /* */ blocks before the
            // WITH sniff — a comment ahead of WITH would otherwise route
            // the text down the non-WITH branch and produce `WITH x AS
            // (...) -- c WITH ...`, a confusing Spark parse error
            val trimmed = rewriteRefs(sql, directNames).trim
              .replaceAll("(?s)\\A(?:\\s*(?:--[^\\n]*\\n|/\\*.*?\\*/))*\\s*", "")
            if (trimmed.toUpperCase.startsWith("WITH"))
              s"WITH $ctes, ${trimmed.drop(4).trim}"
            else s"WITH $ctes $trimmed"
          }
          spark.sql(s"CREATE OR REPLACE VIEW `${m.name}` AS $finalSql")
        case (Materialization.Table, _) if catalogViews && warehouseDir.isDefined =>
          () // already a catalog table via saveAsTable — don't shadow it
        case _ =>
          materialized.createOrReplaceTempView(m.name)
      }
      spark.table(m.name)
    }
    val names = byName.keys.toSeq.sorted
    val built =
      try Concurrently.dag(spark, names)(byName(_).deps)(n => node(byName(n)))
      finally {
        // ephemeral views vanish with the run, once every model is done:
        // downstream frames already carry the resolved subtrees, so
        // dropping the name makes the model non-addressable afterward
        // (dbt: you cannot SELECT an ephemeral model)
        models.filter(_.materialization == Materialization.Ephemeral)
          .foreach(m => spark.catalog.dropTempView(m.name))
      }
    names.zip(built).filter { case (n, _) =>
      byName(n).materialization != Materialization.Ephemeral
    }.toMap
  }
}

/** dbt schema tests (reference models/example/schema.yml:10-21): each test
  * compiles to a query returning *violating rows*; PASS ⇔ 0 rows.
  */
object SchemaTests {
  /** `unique`: values of `col` that appear more than once. */
  def unique(df: DataFrame, col: String): DataFrame =
    df.groupBy(col).count().filter(org.apache.spark.sql.functions.col("count") > 1)

  /** `not_null`: rows where `col` is null. */
  def notNull(df: DataFrame, col: String): DataFrame =
    df.filter(org.apache.spark.sql.functions.col(col).isNull)

  final case class TestResult(
      model_name: String, column_name: String, test_name: String, status: String)

  private val kinds: Map[String, (DataFrame, String) => DataFrame] =
    Map("unique" -> (unique _), "not_null" -> (notNull _))

  /** Runs every test at once (at most cores-many, as dbt does with its
    * `threads`); results in input order. Every test kind is checked before
    * any job starts.
    */
  def runAll(
      spark: SparkSession,
      tests: Seq[(String, String, String)]): Seq[TestResult] = {
    tests.foreach { case (_, _, kind) =>
      if (!kinds.contains(kind)) throw new IllegalArgumentException(s"unknown test $kind")
    }
    val violations = Concurrently(spark)(tests.map { case (model, column, kind) =>
      () => kinds(kind)(spark.table(model), column).count()
    })
    tests.zip(violations).map { case ((model, column, kind), n) =>
      TestResult(model, column, kind, if (n == 0) "PASS" else "FAIL")
    }
  }
}
