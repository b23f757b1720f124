package graft.dq

import graft.Concurrently
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One DQ result row — the one fixed relation in the reference
  * (tests/dq_sql_notes.md:87-96, repeated per category at :120-129,
  * :163-173, :203-214, :246-255). Category-specific fields are optional.
  */
final case class DqResult(
    test_date: String,
    test_name: String,
    test_category: String,
    status: String, // 'PASS' | 'FAIL'
    failed_records: Long,
    total_records: Long,
    failure_rate: Double, // failed/total, 0 when total==0 (dq_sql_notes.md:94)
    column_name: Option[String] = None,
    key_columns: Option[String] = None,
    rule: Option[String] = None,
    min_value: Option[Double] = None,
    max_value: Option[Double] = None,
    sql_condition: Option[String] = None)

/** The DQ engine: compiles a [[DqConfig]] against a DataFrame.
  *
  * Scale design (SURVEY.md §4, rewrite 1 — "rule fusion"): the reference
  * runs one `.count()` action per rule plus one for the total
  * (dq_sql_notes.md:77-85,150-161,201), i.e. k+1 scans per table. Here all
  * completeness/format/range rules AND all row-local custom-SQL conditions
  * compile into a single `agg(count, sum(when(p,1))...)` — ONE scan however
  * many rules; only uniqueness keys (one shuffle each) and non-row-local
  * custom SQL (correlated subqueries) run as separate jobs.
  */
object DqEngine {

  /** Named format rules. `length_3`/`positive`/`not_empty` are implemented
    * by the reference (dq_sql_notes.md:150-161); `numeric_11`,
    * `email_format`, `phone_format` are declared in its config
    * (example_templates.yaml:27,87,88) but never implemented — the
    * regexes below are engine-defined (SURVEY.md §7.3).
    */
  def formatFailCondition(c: Column, rule: String): Column = rule match {
    case "length_3"     => !c.rlike("^[A-Z]{3}$")
    case "positive"     => c <= 0
    case "not_empty"    => c.isNull || c === ""
    case "numeric_11"   => !c.cast(StringType).rlike("^[0-9]{11}$")
    case "email_format" => !c.rlike("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")
    case "phone_format" => !c.rlike("^[+]?[0-9][0-9 ()-]{6,18}$")
    case other => throw new IllegalArgumentException(s"unknown format rule: $other")
  }

  /** Missing-ness, preserving the reference's intent (null, empty string,
    * NaN — dq_sql_notes.md:81-84) while type-dispatching: the reference
    * applies `isnan` unconditionally, which Spark rejects on non-numeric
    * columns (SURVEY.md §7.3).
    */
  def missingCondition(df: DataFrame, column: String): Column = {
    val c = col(column)
    df.schema(column).dataType match {
      case FloatType | DoubleType   => c.isNull || isnan(c)
      case StringType               => c.isNull || c === ""
      case _                        => c.isNull
    }
  }

  def rangeFailCondition(c: Column, bounds: RangeBounds): Column = {
    // Reference semantics (dq_sql_notes.md:191-201): pass requires NOT NULL
    // and within whichever bounds are present; NULL fails.
    var ok = c.isNotNull
    bounds.min.foreach(m => ok = ok && c >= m)
    bounds.max.foreach(m => ok = ok && c <= m)
    !ok
  }

  /** Run every configured check against `df`; ONE scan for all row-local
    * rules + one shuffle per uniqueness key set + one job per non-fusable
    * custom rule or full-SELECT rule, all at once. Results come back in
    * config category order. `testDate` is the reference's `fecha` run
    * parameter.
    */
  def run(spark: SparkSession, df0: DataFrame, cfg: DqConfig, testDate: String): Dataset[DqResult] = {
    import spark.implicits._
    Validators.validateConfig(cfg)
    val df = cfg.fecha match {
      case Some(d) => df0.filter(col(cfg.dateColumn) === lit(java.sql.Date.valueOf(d)))
      case None    => df0
    }

    // ── row-local rules → one fused aggregate ─────────────────────────
    final case class RowRule(meta: DqResult, failCond: Column, expected: Long = 0L)
    val completeness = cfg.tests.completeness.map { c =>
      RowRule(
        DqResult(testDate, s"completeness_$c", "completeness", "", 0, 0, 0.0,
          column_name = Some(c)),
        missingCondition(df, c))
    }
    val format = cfg.tests.format.map { case (c, rule) =>
      RowRule(
        DqResult(testDate, s"format_${c}_$rule", "format", "", 0, 0, 0.0,
          column_name = Some(c), rule = Some(rule)),
        formatFailCondition(col(c), rule))
    }
    val range = cfg.tests.range.map { case (c, bounds) =>
      RowRule(
        DqResult(testDate, s"range_$c", "range", "", 0, 0, 0.0,
          column_name = Some(c), min_value = bounds.min, max_value = bounds.max),
        rangeFailCondition(col(c), bounds))
    }
    // Row-local custom conditions fuse too; correlated/join conditions
    // fall back to a spark.sql job (the reference's exact shape,
    // dq_sql_notes.md:238-244).
    val (fusableCustom, unfusableCustom) = cfg.tests.customSql.partition { t =>
      try { df.select(when(!expr(t.sqlCondition), 1)); true }
      catch { case _: Exception => false }
    }
    val custom = fusableCustom.map { t =>
      RowRule(
        DqResult(testDate, s"custom_${t.testName}", "custom", "", 0, 0, 0.0,
          sql_condition = Some(t.sqlCondition)),
        !expr(t.sqlCondition),
        expected = t.expectedResult)
    }

    val rowRules = completeness ++ format ++ range ++ custom

    // ── every other rule is one count job ─────────────────────────────
    final case class JobRule(meta: DqResult, failed: () => Long, expected: Long = 0L)
    // uniqueness: one shuffle per key combination
    val uniqueness = cfg.tests.uniqueness.map { keys =>
      JobRule(
        DqResult(testDate, s"uniqueness_${keys.mkString("_")}", "uniqueness", "", 0, 0, 0.0,
          key_columns = Some(keys.mkString(","))),
        () => df.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count())
    }
    // non-row-local custom SQL: reference-faithful spark.sql. The input
    // slice registers under a per-run unique view name (Verify runs queries
    // concurrently in one session — a fixed name would cross-contaminate
    // runs); the reference's `temp_table` contract (dq_sql_notes.md:228) is
    // preserved by aliasing inside the statement.
    val view = s"graft_dq_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val unfused = unfusableCustom.map { t =>
      JobRule(
        DqResult(testDate, s"custom_${t.testName}", "custom", "", 0, 0, 0.0,
          sql_condition = Some(t.sqlCondition)),
        () => spark
          .sql(s"SELECT COUNT(*) AS failed_count FROM $view temp_table WHERE NOT (${t.sqlCondition})")
          .collect()(0).getLong(0),
        t.expectedResult)
    }
    // full-SELECT rules: the reference's flagship shape — a complete
    // statement (joins/NOT EXISTS against other registered tables) whose
    // result rows ARE the failures (dq_sql_notes.md:17-29,36-44).
    val select = cfg.tests.customSelect.map { t =>
      Validators.validateCustomSelect(t.sql)
      JobRule(
        DqResult(testDate, s"custom_${t.testName}", "custom_select", "", 0, 0, 0.0,
          sql_condition = Some(t.sql)),
        () => spark.sql(t.sql).count(),
        t.expectedResult)
    }
    val jobRules = uniqueness ++ unfused ++ select

    // ONE scan computes the total AND every fused rule counter — also when
    // only job rules need the denominator (no second df.count() pass). It
    // and every job rule's count run at once (at most cores-many).
    val fused: () => Seq[Long] = () => {
      val aggCols = count(lit(1)).as("__total") +:
        rowRules.zipWithIndex.map { case (r, i) =>
          sum(when(r.failCond, 1L).otherwise(0L)).as(s"__f$i")
        }
      val row = df.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      (0 until row.length).map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    }
    val counts =
      if (rowRules.isEmpty && jobRules.isEmpty) Nil
      else {
        if (unfused.nonEmpty) df.createOrReplaceTempView(view)
        try Concurrently(spark)(fused +: jobRules.map(r => () => Seq(r.failed())))
        finally if (unfused.nonEmpty) spark.catalog.dropTempView(view)
      }

    // ── results in config category order ──────────────────────────────
    val (total, failed) = counts match {
      case fusedRow +: jobs => (fusedRow.head, fusedRow.tail ++ jobs.map(_.head))
      case _                => (0L, Nil)
    }
    val rules = rowRules.map(r => (r.meta, r.expected)) ++ jobRules.map(r => (r.meta, r.expected))
    spark.createDataset(rules.zip(failed).map { case ((meta, expected), f) =>
      meta.copy(
        status = if (f == expected) "PASS" else "FAIL",
        failed_records = f,
        total_records = total,
        failure_rate = if (total == 0) 0.0 else f.toDouble / total)
    })
  }

  /** Threshold/severity gating (example_templates.yaml:30,45,51-54):
    * classifies each row of a results relation for alerting, in the plan
    * (no driver round-trip). Critical columns and completeness use the
    * configured thresholds; failure rates are in [0,1] while thresholds
    * are percentages.
    */
  def classificationColumn(th: QualityThresholds): Column = {
    val pct = col("failure_rate") * 100.0
    val isCritical =
      if (th.criticalColumns.isEmpty) lit(false)
      else col("column_name").isin(th.criticalColumns: _*)
    when(col("status") === "PASS", "OK")
      .when(isCritical, "CRITICAL")
      .when(col("test_category") === "completeness" &&
        (lit(100.0) - pct) < th.completenessThreshold, "CRITICAL")
      .when(pct > th.maxFailureRate, "CRITICAL")
      .otherwise("WARNING")
  }
}
