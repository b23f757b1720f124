package graft

import org.apache.spark.sql.SparkSession

import graft.dq.{DqConfig, DqEngine}
import graft.models.{ExampleModels, ModelDag, SchemaTests, Snapshot}
import graft.profiling.Profiler
import graft.sources.Sinks

/** Engine CLI — the reference's operational verbs (SURVEY.md §2.9):
  * `dbt run` / `dbt test` / `dbt clean` (README.md:6-7,
  * dbt_project.yml:22-25) and the DQ / profiling jobs that Airflow
  * submits (tests/orchestrate.md:278-301, profiling_example.py:59-67).
  *
  * Usage: EngineCli <verb> [args]
  *   run <warehouseDir>              build all models in DAG order
  *   test                            run declared schema tests
  *   dq <configYaml> <sfDir> [fecha] run a YAML-configured DQ job
  *   profile <sfDir> <outDir> t1,t2  profile tables, APPEND to outDir
  *   snapshot <sfDir> <outDir> [asOf] capture/merge the SCD-2 snapshot
  *   explain <sfDir> [q1,q2,…]       print formatted physical plans and
  *                                   output schemas (all queries if none named)
  *   clean <warehouseDir>            delete build artifacts
  */
object EngineCli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: EngineCli <run|test|dq|profile|clean> [args]")
    val spark = SparkEntry.localSession()
    try execute(spark, args.head, args.tail.toIndexedSeq)
    finally spark.stop()
  }

  /** Verb dispatch, separated from session lifecycle for testability. */
  def execute(spark: SparkSession, verb: String, args: Seq[String]): Unit = verb match {
    case "run" =>
      val dir = args.headOption
      val built = ModelDag.run(spark, ExampleModels.all, dir)
      built.keys.toSeq.sorted.foreach(n => println(s"OK    model $n"))

    case "test" =>
      ModelDag.run(spark, ExampleModels.all)
      SchemaTests.runAll(spark, ExampleModels.declaredTests).foreach { r =>
        println(f"${r.status}%-5s ${r.test_name} ${r.model_name}.${r.column_name}")
      }

    case "dq" =>
      val Seq(configPath, sfDir, rest @ _*) = args: @unchecked
      val cfg = DqConfig.fromYaml(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath))))
      val fecha = rest.headOption.orElse(cfg.fecha)
      Tables.registerAll(spark, sfDir)
      val df = Tables.load(spark, sfDir, cfg.tableName)
      val results = DqEngine.run(spark, df,
        cfg.copy(fecha = fecha.filter(_ => cfg.dateColumn != "")), // date slice if configured
        fecha.getOrElse(java.time.LocalDate.now.toString))
      Sinks.console(results.toDF())

    case "profile" =>
      val Seq(sfDir, outDir, tableCsv) = args: @unchecked
      val tables = tableCsv.split(",").toSeq.map(t => t -> Tables.load(spark, sfDir, t))
      val prof = Profiler.profileTables(spark, tables,
        runId = s"run_${java.time.LocalDate.now}", environment = "cli")
      Sinks.appendParquet(prof, outDir)
      Sinks.console(prof)

    // dbt snapshot: each invocation captures the source's current state
    // into the SCD-2 table — first run initializes, later runs merge
    // (check strategy; see graft.models.Snapshot).
    case "snapshot" =>
      import org.apache.spark.sql.functions.{col, lit}
      val Seq(sfDir, outDir, rest @ _*) = args: @unchecked
      val asOf = lit(rest.headOption
        .getOrElse(java.time.LocalDateTime.now.toString.replace('T', ' ')))
        .cast("timestamp")
      val orders = Tables.load(spark, sfDir, "orders")
      val key = Seq("o_custkey")
      val state = Snapshot.stateAsOf(orders, key, "o_orderstatus",
        "o_orderdate", "o_orderkey", lit("9999-01-01").cast("timestamp"))
      val path = s"$outDir/orders_status_scd2"
      val target = new java.io.File(path)
      val history =
        if (target.exists()) {
          val merged = Snapshot.scd2Merge(
            spark.read.parquet(path), state, key, "o_orderstatus", asOf)
          val stage = s"${path}__stage"
          merged.write.mode("overwrite").parquet(stage)
          spark.read.parquet(stage).write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        } else {
          Snapshot.scd2Init(state, key, "o_orderstatus", asOf)
            .write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        }
      val open = history.filter(col("is_current")).count()
      println(s"OK    snapshot orders_status_scd2 rows=${history.count()} open=$open")

    // Plan inspection: print the formatted physical plan of any registered
    // query without executing it — the first thing to check when a query
    // is slow (pushdown, broadcast vs sort-merge, exchange reuse).
    // Caveat: the centroid-seeded builders (sim_knn_join, embed_kmeans_*)
    // run BOUNDED seeding jobs at build time (a count for auto-sizing plus
    // an nc-row collect for the quantizer matrix — the trained-model state
    // a real pipeline loads from disk), so explaining those executes small
    // Spark jobs; the main query plan itself is still not run.
    case "explain" =>
      val Seq(sfDir, rest @ _*) = args: @unchecked
      val names = rest.headOption.fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(",").toSeq)
      names.foreach { name =>
        val q = SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown query: $name"))
        println(s"== $name ==")
        val df = q(spark, sfDir)
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        println(df.schema.json)
      }

    case "clean" =>
      val dir = java.nio.file.Paths.get(args.head)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      println(s"cleaned ${args.head}")

    case other =>
      throw new IllegalArgumentException(s"unknown verb: $other")
  }
}
