package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered query modules (one per SURVEY.md §2 capability area). */
  def modules: Seq[QueryModule] = Seq(
    RelationalQueries,
    ModelQueries,
    DqQueries,
    ProfileQueries,
    PipelineQueries,
    SourceSinkQueries,
    StreamingQueries)

  private lazy val allDefs: Seq[QueryDef] = {
    val ds = modules.flatMap(_.defs)
    val dupes = ds.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** The one local session every entry point (Bench, Verify, EngineCli,
    * the test suite) runs on: `local[cpus]` with one shuffle partition per
    * thread, UTC, nanosecond parquet timestamps read as longs, no UI,
    * WARN logging. `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4.
    */
  def localSession(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle FILES (unlike RDD blocks, which Bench's per-pass release
      // sweep frees) are only deleted when ContextCleaner sees the
      // shuffle dependency get GC'd — across a heavy multi-query run at
      // big sf they accumulate until the disk fills (the sf10 ktruss
      // measurement died on SPILL_OUT_OF_MEMORY/ENOSPC with ~70 GB of
      // dead shuffle files from the six previous queries still on
      // disk). The 2-min periodic driver GC bounds that accumulation;
      // at sf0.1 suite pace it fires ~4 times (~1 s total).
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
