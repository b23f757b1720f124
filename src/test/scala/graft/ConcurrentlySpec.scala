package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.dq.{CustomSelectTest, CustomSqlTest, DqConfig, DqEngine, DqTests}
import graft.models.{Materialization, Model, ModelDag, SchemaTests}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ConcurrentlySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  test("results come back in input order, whatever order the actions finish in") {
    val out = Concurrently(spark)((0 until 6).map(i => () => { Thread.sleep(60L * (6 - i)); i * i }))
    assert(out == (0 until 6).map(i => i * i))
    assert(Concurrently(spark)(Seq.empty[() => Int]).isEmpty)
  }

  test("at most defaultParallelism actions run at once, and more than one does") {
    val now = new AtomicInteger()
    val peak = new AtomicInteger()
    Concurrently(spark)((0 until 3 * sc.defaultParallelism).map { _ => () =>
      peak.accumulateAndGet(now.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(30)
      now.decrementAndGet()
    })
    assert(peak.get() > 1 && peak.get() <= sc.defaultParallelism, peak.get())
  }

  test("a failure rethrows its own type only after the running actions finish") {
    final class Boom extends RuntimeException("boom")
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    intercept[Boom] {
      Concurrently(spark)(Seq(
        () => { assert(started.await(30, TimeUnit.SECONDS)); throw new Boom },
        () => { started.countDown(); Thread.sleep(300); finished.set(true) }))
    }
    assert(finished.get(), "threw before the running sibling finished")
  }

  test("workers see the caller's local properties and active session") {
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    sc.setLocalProperty("graft.concurrently.probe", "caller")
    try {
      val seen = Concurrently(spark)(Seq.fill(4)(() =>
        (sc.getLocalProperty("graft.concurrently.probe"), SparkSession.active eq other)))
      assert(seen.forall(_ == (("caller", true))), seen)
    } finally {
      sc.setLocalProperty("graft.concurrently.probe", null)
      SparkSession.setActiveSession(spark)
    }
  }

  test("dag starts a key only after all of its deps, and rejects a cycle") {
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val deps = Map("a" -> Nil, "b" -> Nil, "c" -> Seq("a", "b"), "d" -> Seq("c"))
    val out = Concurrently.dag(spark, Seq("d", "c", "b", "a"))(deps) { k =>
      val ready = deps(k).forall(done.contains)
      done.add(k)
      k -> ready
    }
    assert(out == Seq("d" -> true, "c" -> true, "b" -> true, "a" -> true))
    intercept[IllegalArgumentException] {
      Concurrently.dag(spark, Seq("x", "y"))(Map("x" -> Seq("y"), "y" -> Seq("x")))(identity)
    }
  }

  test("model runs, schema tests and DQ checks keep the caller's job group, and overlap") {
    import spark.implicits._
    val starts = new ConcurrentLinkedQueue[(Int, String, Long)]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
    }
    // the listener bus is asynchronous and job ids grow in submission order:
    // a one-job sentinel before and after the calls brackets exactly their jobs
    def sentinel(group: String): Int = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def seen = starts.asScala.find(_._2 == group).map(_._1).filter(ends.containsKey)
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      seen.getOrElse(fail(s"listener never saw the $group sentinel job"))
    }
    val dir = tempDir("wh").toString
    val models = Seq(
      Model("jg_left", Nil, Materialization.Table, s => s.range(0, 50).toDF("id")),
      Model("jg_right", Nil, Materialization.Table, s => s.range(50, 100).toDF("id")),
      Model("jg_both", Seq("jg_left", "jg_right"), Materialization.Table,
        s => s.table("jg_left").union(s.table("jg_right"))))
    sc.addSparkListener(listener)
    try {
      val first = sentinel("jg_before")
      sc.setJobGroup("g", "concurrency under one job group")
      ModelDag.run(spark, models, warehouseDir = Some(dir))
      val tests = SchemaTests.runAll(spark, Seq(("jg_both", "id", "unique"),
        ("jg_both", "id", "not_null"), ("jg_left", "id", "unique")))
      val df = (0 until 20).map(i => (i, i % 5)).toDF("id", "k")
      val dq = DqEngine.run(spark, df, DqConfig(tableName = "t", tests = DqTests(
        completeness = Seq("id"), uniqueness = Seq(Seq("id"), Seq("k")),
        customSql = Seq(CustomSqlTest("small", "temp_table.id < 15")),
        customSelect = Seq(CustomSelectTest("left_big", "SELECT id FROM jg_left WHERE id > 40")))),
        "2024-01-01").collect()
      val last = sentinel("jg_after")
      assert(tests.map(_.status) == Seq("PASS", "PASS", "PASS"))
      assert(dq.map(_.failed_records).toSeq == Seq(0L, 0L, 5L, 5L, 9L))
      val jobs = starts.asScala.toSeq.filter { case (id, _, _) => id > first && id < last }
      assert(jobs.nonEmpty)
      assert(jobs.forall(_._2 == "g"), jobs.filter(_._2 != "g"))
      val spans = jobs.map { case (id, _, t0) => (t0, ends.get(id)) }
      val overlapping = spans.combinations(2).count { case Seq((s1, e1), (s2, e2)) =>
        s1 < e2 && s2 < e1
      }
      assert(overlapping >= 1, s"no two of the ${jobs.size} jobs ran at the same time")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Seq("jg_left", "jg_right", "jg_both").foreach(spark.catalog.dropTempView)
    }
  }
}
