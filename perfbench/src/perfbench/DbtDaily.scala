package perfbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dq.{DqConfig, DqEngine}
import graft.models.{Materialization, Model, ModelDag, SchemaTests, Snapshot}
import graft.profiling.Profiler

/** The `dbt_daily` workload: the reference's scheduled job surface over
  * consecutive one-day slices of `events`. Each slice runs the model DAG, its
  * schema tests, the daily DQ config, the profiler and the SCD-2 snapshot
  * through their public functions; the weekly full-scan DQ config runs on the
  * accumulated incremental fact. Operation names are `<verb>@<slice>`.
  */
final class DbtDaily(spark: SparkSession, dataDir: String, warehouse: String, startDay: Int) {
  private val day0 = LocalDate.of(2024, 1, 1)
  private def day(slice: Int): LocalDate = day0.plusDays(startDay.toLong + slice)

  private def events: DataFrame =
    Tables.load(spark, dataDir, "events").withColumn("fecha", to_date(col("ts")))

  private def models(d: LocalDate): Seq[Model] = {
    import Materialization._
    Seq(
      Model("stg_events", Nil, View, _ =>
        events.filter(col("fecha") === lit(Date.valueOf(d)))),
      Model("stg_customers", Nil, View, s =>
        Tables.load(s, dataDir, "customer")
          .join(Tables.load(s, dataDir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_mktsegment", "n_name")),
      Model("int_user_day", Seq("stg_events"), Ephemeral, s =>
        s.table("stg_events").groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("value_sum"),
          countDistinct(col("event_type")).as("n_types"))),
      Model("mart_event_types", Seq("stg_events"), Table, s =>
        s.table("stg_events").groupBy("fecha", "event_type").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).as("value_sum"))),
      Model("mart_user_activity", Seq("int_user_day", "stg_customers"), Table, s =>
        s.table("int_user_day")
          .join(s.table("stg_customers"), col("user_id") === col("c_custkey"), "left")
          .select("user_id", "n_events", "value_sum", "n_types", "c_mktsegment", "n_name")),
      Model("fct_events", Seq("stg_events"), Incremental(Seq("event_id")), s =>
        s.table("stg_events").select("event_id", "user_id", "event_type", "value", "props", "fecha")))
  }

  private val schemaTests = Seq(
    ("fct_events", "event_id", "unique"),
    ("fct_events", "event_id", "not_null"),
    ("mart_event_types", "event_type", "not_null"),
    ("mart_user_activity", "user_id", "unique"),
    ("mart_user_activity", "n_name", "not_null"))

  /** The 16-rule template of the `dq_full_template` query, as YAML. */
  private def dqYaml(table: String, fecha: Option[String]): String =
    s"""project_id: "analytics-project"
       |table_name: $table
       |${fecha.map(f => s"fecha: \"$f\"").getOrElse("")}
       |tests:
       |  completeness:
       |    - event_id
       |    - user_id
       |    - event_type
       |    - value
       |    - props
       |  uniqueness:
       |    - [user_id, event_type]
       |    - [event_id]
       |  format:
       |    event_type: length_3
       |    props: not_empty
       |    value: positive
       |    user_id: numeric_11
       |  range:
       |    value:
       |      min: 0.001
       |      max: 500.0
       |    user_id:
       |      min: 0
       |      max: 10000
       |  custom_sql:
       |    - test_name: valid_event_types
       |      sql_condition: "event_type IN ('click', 'view', 'purchase', 'signup', 'error')"
       |      severity: ERROR
       |    - test_name: non_negative_value
       |      sql_condition: "value >= 0"
       |      severity: ERROR
       |    - test_name: props_present_shape
       |      sql_condition: "props IS NULL OR length(props) >= 2"
       |      severity: WARNING
       |quality_thresholds:
       |  completeness_threshold: 95.0
       |  max_failure_rate: 5.0
       |  critical_columns: [user_id, event_type, value]
       |processing:
       |  full_table_scan: ${fecha.isEmpty}
       |""".stripMargin

  private def snapshotDir = s"$warehouse/snap_user_event_type"

  def reset(): Unit = Runner.deleteTree(new File(warehouse))

  /** Runs one verb call; `phase` wraps each public call in a child span.
    * Returns the untimed summary of the verb's output that is checked.
    */
  def exec(op: String, phase: Runner.Phase): () => String = {
    val Array(verb, sliceStr) = op.split("@")
    val d = day(sliceStr.toInt)
    verb match {
      case "models.run" =>
        phase("models.run")(ModelDag.run(spark, models(d), Some(warehouse)))
        () => Seq("fct_events", "mart_event_types", "mart_user_activity")
          .map(m => s"$m=${spark.table(m).count()}").mkString(",")
      case "models.test" =>
        val rs = phase("models.test")(SchemaTests.runAll(spark, schemaTests))
        () => rs.map(r => s"${r.model_name}.${r.column_name}.${r.test_name}=${r.status}").mkString(",")
      case "dq.slice" | "dq.weekly" =>
        val weekly = verb == "dq.weekly"
        val cfg = phase("dq.config")(DqConfig.fromYaml(
          if (weekly) dqYaml("fct_events", None) else dqYaml("events", Some(d.toString))))
        val rows = phase("dq.run") {
          DqEngine.run(spark, if (weekly) spark.table("fct_events") else events, cfg, d.toString)
            .collect()
        }
        () => rows.sortBy(_.test_name)
          .map(r => s"${r.test_name}=${r.status}:${r.failed_records}/${r.total_records}")
          .mkString(",")
      case "profiling.run" =>
        val rows = phase("profiling.run") {
          Profiler.profileTables(spark, Seq("events" -> events), "bench", "bench",
            fecha = Some(d.toString)).collect()
        }
        () => Runner.rowsDigest(rows.map(_.toString).toSeq)
      case "models.snapshot" =>
        val asOf = lit(Timestamp.valueOf(d.atStartOfDay()))
        phase("models.snapshot") {
          val state = Snapshot.stateAsOf(spark.table("stg_events"), Seq("user_id"),
            "event_type", "ts", "event_id", lit(Timestamp.valueOf(d.plusDays(1).atStartOfDay())))
          if (new File(snapshotDir).exists()) {
            val history = spark.read.parquet(snapshotDir)
            val stage = s"${snapshotDir}__stage"
            Snapshot.scd2Merge(history, state, Seq("user_id"), "event_type", asOf)
              .write.mode("overwrite").parquet(stage)
            spark.read.parquet(stage).write.mode("overwrite").parquet(snapshotDir)
          } else {
            Snapshot.scd2Init(state, Seq("user_id"), "event_type", asOf)
              .write.mode("overwrite").parquet(snapshotDir)
          }
        }
        () => {
          val h = spark.read.parquet(snapshotDir)
          s"rows=${h.count()},open=${h.filter(col("is_current")).count()}"
        }
    }
  }

  /** Bytes in the final warehouse directories (stage copies excluded). */
  def warehouseBytes(): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum else f.length
    Option(new File(warehouse).listFiles).toSeq.flatten
      .filterNot(_.getName.endsWith("__stage")).map(size).sum
  }
}
