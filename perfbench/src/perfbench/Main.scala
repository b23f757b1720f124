package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType, StructType, ArrayType}

import graft.SparkEntry

/** Benchmark harness JVM. Runs one workload's operation list as a closed loop
  * from this (single) thread: a discarded warm-up pass (its end, less the
  * checking time, closes `setup_s`), then the measured passes. Every pass
  * checks each op's output after the op ends, outside the op's interval.
  * Writes the raw record (ops, spans, listener counters per job group) as one
  * JSON file; all statistics are computed by `perfbench/run.py`.
  *
  * Args: --workload W --ops FILE --data DIR --scratch DIR --out FILE
  *       --passes N --budget-s S --trace 0|1 --start-day N --check-only 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val ops = new String(Files.readAllBytes(Paths.get(opt("ops"))), UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val scratch = opt("scratch")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)

    val dbt =
      if (workload == "dbt_daily")
        Some(new DbtDaily(spark, opt("data"), s"$scratch/warehouse", opt("start-day").toInt))
      else None
    val runner = new Runner(spark, opt("data"), dbt)
    val record = mutable.LinkedHashMap[String, Any]("workload" -> workload, "cores" -> cores)
    try {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val checkS = runner.runPass(0, traced = false, ops)
      record("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - checkS
      // a fixed number of passes (sized by the caller to the time budget)
      // gives every run of a workload the same sample count; traced runs
      // alternate untraced and traced passes so the trace overhead is
      // measured in the same JVM. On a host so loaded that the next pass
      // would end past the JVM's wall budget, the run keeps fewer passes.
      val traced = opt("trace") == "1"
      val minPasses = if (traced) 2 else 1
      val n = if (opt("check-only") == "1") 0 else math.max(minPasses, opt("passes").toInt)
      val budgetMs = (opt("budget-s").toDouble * 1000).toLong
      var p = 1
      var lastMs = 0L
      while (p <= n && (p <= minPasses ||
          System.currentTimeMillis() - jvmStartMs + lastMs <= budgetMs)) {
        val t0 = System.currentTimeMillis()
        runner.runPass(p, traced && p % 2 == 0, ops)
        lastMs = System.currentTimeMillis() - t0
        p += 1
      }
      spark.stop() // drains the listener bus before the counters are read
      rec.attributeBlocks()
      record ++= Seq("passes" -> runner.passes, "spans" -> runner.spans,
        "groups" -> rec.groups, "plans" -> runner.plans, "phases" -> rec.phases,
        "peak_rss_mb" -> Runner.peakRssMb())
    } finally {
      if (!spark.sparkContext.isStopped) spark.stop()
    }
    // snake_case keys: Counters.cpuNs is written as cpu_ns
    val json = JsonMapper.builder().addModule(DefaultScalaModule)
      .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()
    json.writeValue(new File(opt("out")), record)
  }
}

object Runner {
  /** Wraps one public call of an operation in a child span. */
  trait Phase { def apply[T](name: String)(body: => T): T }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def rowsDigest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    s"${rows.size}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toLong / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  private def needsJson(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => needsJson(f.dataType))
    case a: ArrayType => needsJson(a.elementType)
    case other => other.typeName == "variant"
  }

  /** Row count plus an order-insensitive digest: the sum (as a decimal) and
    * the xor of each row's xxhash64.
    */
  def digest(df: DataFrame): String = {
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = r.schema.fields.map { f =>
      if (needsJson(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = r.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
    val row = h.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .collect()(0)
    s"${row.getLong(0)}:${row.get(1)}:${row.get(2)}"
  }
}

final class Runner(spark: SparkSession, dataDir: String, dbt: Option[DbtDaily]) {
  private val sc = spark.sparkContext
  private val clockMs = System.currentTimeMillis()
  private val clockNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock (comparable with task times). */
  private def nowUs: Long = clockMs * 1000 + (System.nanoTime() - clockNs) / 1000

  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Op tag -> plan counts and Catalyst phase seconds. */
  val plans = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private var nextSpan = 0

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def countNodes(p: SparkPlan): (Int, Int) = {
    var ex = 0
    var nlj = 0
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        n match {
          case _: ShuffleExchangeLike => ex += 1
          case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => nlj += 1
          case _ =>
        }
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(p)
    (ex, nlj)
  }

  /** Runs one span under its own job group; records the span when traced. */
  private final class Tracer(tag: String, opName: String, root: Int, traced: Boolean)
      extends Runner.Phase {
    def apply[T](name: String)(body: => T): T =
      if (!traced) body
      else {
        val id = { nextSpan += 1; nextSpan }
        val g = s"$tag.$name"
        sc.setJobGroup(g, opName, interruptOnCancel = false)
        val c0 = compiles
        val t0 = nowUs
        try body
        finally {
          val t1 = nowUs
          val dc = compiles - c0
          // the compile-time histogram is a sampling reservoir: its mean
          // times the exact compile count estimates the time compiling
          val compileS =
            if (dc == 0) 0.0 else dc * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000
          sc.setJobGroup(tag, opName, interruptOnCancel = false)
          spans += Map("id" -> id, "parent" -> root, "op" -> tag, "name" -> name,
            "group" -> g, "start" -> t0, "end" -> t1, "compiles" -> dc,
            "compile_s" -> compileS)
        }
      }
  }

  /** Runs one op; returns the (untimed) check of its output. */
  private def execOp(op: String, phase: Runner.Phase, tag: String): () => String =
    dbt match {
      case Some(d) => d.exec(op, phase)
      case None =>
        val df = phase("build")(SparkEntry.queries(op)(spark, dataDir))
        val plan = phase("plan")(df.queryExecution.executedPlan)
        phase("execute")(df.write.format("noop").mode("overwrite").save())
        val (ex, nlj) = countNodes(plan)
        val ph = df.queryExecution.tracker.phases.map { case (n, p) => n -> p.durationMs / 1000.0 }
        plans(tag) = Map("exchanges" -> ex, "nlj_joins" -> nlj,
          "analysis_s" -> ph.getOrElse("analysis", 0.0),
          "optimization_s" -> ph.getOrElse("optimization", 0.0),
          "planning_s" -> ph.getOrElse("planning", 0.0))
        () => Runner.digest(df)
    }

  /** Frees persisted blocks (iterative queries' checkpoints) between ops,
    * waiting for the removal, so each op starts from the same resident state.
    */
  private def release(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** One pass over `ops`. Each op's output summary is taken after the op
    * ends and kept in its record; returns the seconds the checks took.
    */
  def runPass(p: Int, traced: Boolean, ops: Seq[String]): Double = {
    dbt.foreach(_.reset())
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var checkUs = 0L
    val start = nowUs
    ops.zipWithIndex.foreach { case (op, i) =>
      val tag = s"p$p.o$i"
      val root = if (traced) { nextSpan += 1; nextSpan } else 0
      sc.setJobGroup(tag, op, interruptOnCancel = false)
      val t0 = nowUs
      val res =
        try Right(execOp(op, new Tracer(tag, op, root, traced), tag))
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val t1 = nowUs
      sc.setJobGroup("check", op, interruptOnCancel = false)
      val check = res match {
        case Right(f) =>
          try f() catch { case NonFatal(e) => s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        case Left(err) => s"ERROR $err"
      }
      checkUs += nowUs - t1
      sc.clearJobGroup()
      if (traced)
        spans += Map("id" -> root, "parent" -> 0, "op" -> tag, "name" -> op,
          "group" -> tag, "start" -> t0, "end" -> t1, "compiles" -> 0, "compile_s" -> 0.0)
      recs += Map("tag" -> tag, "name" -> op, "start" -> t0, "end" -> t1,
        "error" -> res.left.toOption, "check" -> check)
      release()
    }
    val end = nowUs
    val whBytes = dbt.map(_.warehouseBytes()).getOrElse(0L)
    passes += Map("pass" -> p, "traced" -> traced, "start" -> start, "end" -> end,
      "check_s" -> checkUs / 1e6, "warehouse_bytes" -> whBytes, "ops" -> recs.toSeq)
    checkUs / 1e6
  }
}
