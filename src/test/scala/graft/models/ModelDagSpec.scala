package graft.models

import graft.{TempDirs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

class ModelDagSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("example models build in DAG order with exact dbt-faithful contents") {
    val out = ModelDag.run(spark, ExampleModels.all)
    val first = out("my_first_dbt_model").collect().map(r => Option(r.get(0))).toSet
    assert(first == Set(Some(1), None)) // {1, NULL} — my_first_dbt_model.sql:12-21
    val second = out("my_second_dbt_model").collect().map(_.get(0)).toSeq
    assert(second == Seq(1)) // {1} — my_second_dbt_model.sql:4-6
  }

  test("declared schema tests: 3 pass, not_null on first model FAILS by design (schema.yml)") {
    ModelDag.run(spark, ExampleModels.all)
    val results = SchemaTests.runAll(spark, ExampleModels.declaredTests)
      .map(t => (t.model_name, t.test_name) -> t.status).toMap
    assert(results(("my_first_dbt_model", "unique")) == "PASS")
    assert(results(("my_first_dbt_model", "not_null")) == "FAIL")
    assert(results(("my_second_dbt_model", "unique")) == "PASS")
    assert(results(("my_second_dbt_model", "not_null")) == "PASS")
  }

  test("toposort rejects cycles and unknown refs") {
    val a = Model("a", Seq("b"), Materialization.View, s => s.range(1).toDF())
    val b = Model("b", Seq("a"), Materialization.View, s => s.range(1).toDF())
    assertThrows[IllegalArgumentException](ModelDag.topoSort(Seq(a, b)))
    val c = Model("c", Seq("nope"), Materialization.View, s => s.range(1).toDF())
    assertThrows[IllegalArgumentException](ModelDag.topoSort(Seq(c)))
  }

  test("an incremental merge whose build fails leaves the previous version readable") {
    import org.apache.spark.sql.functions._
    val wh = tempDir("inc_fail").toString
    def model(build: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) =
      Model("inc_t", Nil, Materialization.Incremental(Seq("k")), build)
    ModelDag.run(spark, Seq(model(s => s.range(1, 4).toDF("k"))), Some(wh))
    // the new slice fails while the merged table is being written
    val failing = model(s => s.range(3, 6).toDF("k")
      .withColumn("k", when(col("k") === 5, raise_error(lit("boom"))).otherwise(col("k"))))
    intercept[Exception](ModelDag.run(spark, Seq(failing), Some(wh)))
    val kept = spark.read.parquet(s"$wh/inc_t").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
    // and the next good run merges onto that version
    val out = ModelDag.run(spark, Seq(model(s => s.range(3, 6).toDF("k"))), Some(wh))
    assert(out("inc_t").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("materialized models are read back with their written schema, without a job") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.Metadata
    val wh = tempDir("readback").toString
    val keyMeta = Metadata.fromJson("""{"comment":"model key"}""")
    // a non-null key with field metadata, a nullable flag, an all-null string
    def build(lo: Long)(s: SparkSession): DataFrame = s.range(lo, lo + 3).toDF("k")
      .select(col("k").as("k", keyMeta), when(col("k") % 2 === 0, true).as("even"),
        lit(null).cast("string").as("note"))
    def jobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; Thread.sleep(1500) } // the listener bus is async
      finally spark.sparkContext.removeSparkListener(listener)
      n.get()
    }
    def readBack(m: Model): (Int, DataFrame) = {
      var out: DataFrame = null
      (jobs { out = ModelDag.run(spark, Seq(m), Some(wh))(m.name) }, out)
    }
    // the read-back adds no job to the write's own
    val writeJobs = jobs(build(0)(spark).write.mode("overwrite").parquet(s"$wh/probe"))
    val table = Model("rb_table", Nil, Materialization.Table, build(0))
    val inc = Model("rb_inc", Nil, Materialization.Incremental(Seq("k")), build(0))
    for (m <- Seq(table, inc)) {
      val (n, out) = readBack(m)
      assert(n == writeJobs, s"${m.name}: $n jobs, the write alone ran $writeJobs")
      assert(out.schema == spark.read.parquet(s"$wh/${m.name}").schema, m.name)
      assert(out.schema("k").metadata == keyMeta, m.name)
    }
    // after a merge, too; the merge reads the stored table with inference
    val merged = ModelDag.run(spark, Seq(inc.copy(build = build(2))), Some(wh))("rb_inc")
    assert(merged.schema == spark.read.parquet(s"$wh/rb_inc").schema)
    assert(merged.select("k").collect().map(_.getLong(0)).sorted.toSeq == (0L to 4L))
  }

  test("table materialization persists to the warehouse dir") {
    val dir = tempDir("wh").toString
    val out = ModelDag.run(spark, ExampleModels.all, warehouseDir = Some(dir))
    assert(new java.io.File(s"$dir/my_first_dbt_model").exists())
    assert(out("my_first_dbt_model").count() == 2)
  }

  test("catalog mode: table model becomes a catalog table, view model a CREATE OR REPLACE VIEW") {
    val dir = tempDir("whcat").toString
    val out = ModelDag.run(spark, ExampleModels.all,
      warehouseDir = Some(dir), catalogViews = true)
    // both are persistent catalog objects now, not session temp views
    val tbl = spark.catalog.getTable("my_first_dbt_model")
    assert(!tbl.isTemporary, "table model is still a temp view")
    val vw = spark.catalog.getTable("my_second_dbt_model")
    assert(!vw.isTemporary, "view model is still a temp view")
    assert(vw.tableType == "VIEW", vw.tableType)
    // dbt contents preserved through the catalog round-trip
    assert(out("my_second_dbt_model").collect().map(_.get(0)).toSeq == Seq(1))
    assert(spark.table("my_second_dbt_model").count() == 1)
    // cleanup so other suites' temp-view mode is unaffected
    spark.sql("DROP VIEW IF EXISTS my_second_dbt_model")
    spark.sql("DROP TABLE IF EXISTS my_first_dbt_model")
  }

  test("ephemeral models inline into downstream refs and are not addressable after the run") {
    import org.apache.spark.sql.functions._
    val base = Model("eph_base", Nil, Materialization.View,
      s => s.range(10).toDF("id"))
    val mid = Model("eph_mid", Seq("eph_base"), Materialization.Ephemeral,
      s => s.table("eph_base").withColumn("dbl", col("id") * 2))
    val top = Model("eph_top", Seq("eph_mid"), Materialization.View,
      s => s.table("eph_mid").filter(col("dbl") >= 10))
    val out = ModelDag.run(spark, Seq(base, mid, top))
    // dbt contract 1: ephemeral never appears among materializations
    assert(!out.contains("eph_mid"))
    // dbt contract 2: downstream sees the inlined rows
    assert(out("eph_top").collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(10L, 12L, 14L, 16L, 18L))
    // dbt contract 3: the name is not addressable after the run
    assertThrows[Exception](spark.table("eph_mid").collect())
    // inlining is a real optimization boundary: the downstream filter
    // must be PUSHED THROUGH the ephemeral model's Project to sit
    // directly on the leaf relation — a materialization barrier (or a
    // view that blocks pushdown) would leave a Project between them
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode}
    val opt = out("eph_top").queryExecution.optimizedPlan
    val pushedToLeaf = opt.collect {
      case f: Filter if f.child.isInstanceOf[LeafNode] => f
    }
    assert(pushedToLeaf.nonEmpty,
      s"downstream filter did not reach the leaf through the ephemeral boundary:\n$opt")
    assert(pushedToLeaf.exists(_.condition.toString.contains("* 2")),
      s"pushed filter lost the substituted ephemeral expression (id * 2):\n$opt")
    spark.catalog.dropTempView("eph_base")
    spark.catalog.dropTempView("eph_top")
  }

  test("catalog mode inlines ephemeral sqlText as a CTE into downstream persistent views") {
    val dir = tempDir("wheph").toString
    val base = Model("eph_cat_base", Nil, Materialization.View,
      s => s.sql("SELECT id FROM range(10)"),
      sqlText = Some("SELECT id FROM range(10)"))
    val mid = Model("eph_cat_mid", Seq("eph_cat_base"), Materialization.Ephemeral,
      s => s.sql("SELECT id, id * 2 AS dbl FROM `eph_cat_base`"),
      sqlText = Some("SELECT id, id * 2 AS dbl FROM `eph_cat_base`"))
    val top = Model("eph_cat_top", Seq("eph_cat_mid"), Materialization.View,
      s => s.sql("SELECT dbl FROM `eph_cat_mid` WHERE dbl >= 10"),
      sqlText = Some("SELECT dbl FROM `eph_cat_mid` WHERE dbl >= 10"))
    ModelDag.run(spark, Seq(base, mid, top),
      warehouseDir = Some(dir), catalogViews = true)
    val vw = spark.catalog.getTable("eph_cat_top")
    assert(!vw.isTemporary && vw.tableType == "VIEW", vw.toString)
    // the persistent view works AFTER the ephemeral temp view is gone —
    // its SQL carries the inlined CTE, not a dangling temp-view ref
    assert(spark.table("eph_cat_top").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 12L, 14L, 16L, 18L))
    assertThrows[Exception](spark.table("eph_cat_mid").collect())
    spark.sql("DROP VIEW IF EXISTS eph_cat_top")
    spark.sql("DROP VIEW IF EXISTS eph_cat_base")
  }

  test("catalog mode rejects a view over an ephemeral that has no sqlText (nothing to inline)") {
    val dir = tempDir("whephbad").toString
    val mid = Model("eph_bad_mid", Nil, Materialization.Ephemeral,
      s => s.range(5).toDF("id")) // DataFrame-only: cannot inline into SQL
    val top = Model("eph_bad_top", Seq("eph_bad_mid"), Materialization.View,
      s => s.sql("SELECT id FROM `eph_bad_mid`"),
      sqlText = Some("SELECT id FROM `eph_bad_mid`"))
    val e = intercept[IllegalArgumentException] {
      ModelDag.run(spark, Seq(mid, top),
        warehouseDir = Some(dir), catalogViews = true)
    }
    assert(e.getMessage.contains("eph_bad_mid"), e.getMessage)
    spark.catalog.dropTempView("eph_bad_mid")
  }

  test("inlined ephemeral CTEs are prefixed so a view-local CTE of the same name can't collide") {
    val dir = tempDir("whephcte").toString
    val mid = Model("eph_pfx_mid", Nil, Materialization.Ephemeral,
      s => s.sql("SELECT id, id * 3 AS tri FROM range(6)"),
      sqlText = Some("SELECT id, id * 3 AS tri FROM range(6)"))
    // the view's OWN WITH clause defines a CTE named after a TRANSITIVE
    // sibling name-space ('local'), plus a leading comment before WITH —
    // both previously broke the inliner (duplicate CTE / parse error)
    val top = Model("eph_pfx_top", Seq("eph_pfx_mid"), Materialization.View,
      s => s.sql("SELECT tri FROM `eph_pfx_mid` WHERE tri > 6"),
      sqlText = Some(
        """-- leading comment before WITH
          WITH local AS (SELECT 1 AS one)
          SELECT tri FROM `eph_pfx_mid` CROSS JOIN local WHERE tri > 6"""))
    ModelDag.run(spark, Seq(mid, top), warehouseDir = Some(dir), catalogViews = true)
    assert(spark.table("eph_pfx_top").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(9L, 12L, 15L))
    // a view-local CTE named exactly like a DIRECT ephemeral dep is
    // genuinely ambiguous — rejected loudly, not silently rewritten
    val bad = Model("eph_pfx_bad", Seq("eph_pfx_mid"), Materialization.View,
      s => s.sql("SELECT 1 AS x"),
      sqlText = Some(
        "WITH eph_pfx_mid AS (SELECT 1 AS x) SELECT x FROM eph_pfx_mid"))
    val e = intercept[IllegalArgumentException] {
      ModelDag.run(spark, Seq(mid, bad), warehouseDir = Some(dir), catalogViews = true)
    }
    assert(e.getMessage.contains("eph_pfx_mid"), e.getMessage)
    spark.sql("DROP VIEW IF EXISTS eph_pfx_top")
  }

  test("rerunning a DAG with an ephemeral model is stable (re-registers, re-drops)") {
    import org.apache.spark.sql.functions._
    val base = Model("eph_base2", Nil, Materialization.View,
      s => s.range(4).toDF("id"))
    val mid = Model("eph_mid2", Seq("eph_base2"), Materialization.Ephemeral,
      s => s.table("eph_base2").withColumn("sq", col("id") * col("id")))
    val top = Model("eph_top2", Seq("eph_mid2"), Materialization.View,
      s => s.table("eph_mid2"))
    val r1 = ModelDag.run(spark, Seq(base, mid, top))("eph_top2").collect()
    val r2 = ModelDag.run(spark, Seq(base, mid, top))("eph_top2").collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    spark.catalog.dropTempView("eph_base2")
    spark.catalog.dropTempView("eph_top2")
  }

  test("diamond DAG: independent models build at once, each after its deps' views exist") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = tempDir("whdiamond").toString
    // each side waits for the other to start, so the run finishes only if
    // both independent models are in flight at the same time
    val bothStarted = new CountDownLatch(2)
    def side(name: String, from: Long) = Model(name, Nil, Materialization.Table, s => {
      bothStarted.countDown()
      assert(bothStarted.await(30, TimeUnit.SECONDS), s"$name built alone")
      s.range(from, from + 5).toDF("id")
    })
    val seenDeps = new java.util.concurrent.atomic.AtomicBoolean(false)
    val top = Model("dia_top", Seq("dia_left", "dia_right"), Materialization.Table, s => {
      seenDeps.set(s.catalog.tableExists("dia_left") && s.catalog.tableExists("dia_right"))
      s.table("dia_left").union(s.table("dia_right"))
    })
    val out = ModelDag.run(spark, Seq(top, side("dia_left", 0), side("dia_right", 5)),
      warehouseDir = Some(dir))
    assert(seenDeps.get(), "dia_top built before its deps registered their views")
    assert(out.keySet == Set("dia_left", "dia_right", "dia_top"))
    assert(out("dia_left").collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    assert(out("dia_right").collect().map(_.getLong(0)).sorted.toSeq == (5L until 10L))
    assert(out("dia_top").collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    assert(spark.read.parquet(s"$dir/dia_top").count() == 10)
    Seq("dia_left", "dia_right", "dia_top").foreach(spark.catalog.dropTempView)
  }

  test("a failing model rethrows its own exception after its running sibling finishes; " +
      "its dependents never build") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    final class ModelFailed extends RuntimeException("model failed")
    val siblingStarted = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val topBuilt = new AtomicBoolean(false)
    val bad = Model("fail_bad", Nil, Materialization.View, _ => {
      assert(siblingStarted.await(30, TimeUnit.SECONDS), "sibling never started")
      throw new ModelFailed
    })
    val slow = Model("fail_slow", Nil, Materialization.View, s => {
      siblingStarted.countDown()
      Thread.sleep(300)
      siblingDone.set(true)
      s.range(3).toDF("id")
    })
    val top = Model("fail_top", Seq("fail_bad", "fail_slow"), Materialization.View, s => {
      topBuilt.set(true)
      s.table("fail_slow")
    })
    intercept[ModelFailed](ModelDag.run(spark, Seq(bad, slow, top)))
    assert(siblingDone.get(), "run returned while a sibling model was still building")
    assert(!topBuilt.get(), "a dependent of the failed model was built")
    spark.catalog.dropTempView("fail_slow")
  }

  test("schema tests reject an unknown test kind before any job runs") {
    import org.apache.spark.sql.functions.{col, udf}
    val rowsRead = spark.sparkContext.longAccumulator("schema-test rows read")
    val touch = udf((x: Long) => { rowsRead.add(1); x }).asNondeterministic()
    spark.range(5).select(touch(col("id")).as("id")).createOrReplaceTempView("ff_model")
    val e = intercept[IllegalArgumentException] {
      SchemaTests.runAll(spark, Seq(("ff_model", "id", "unique"), ("ff_model", "id", "bogus")))
    }
    assert(e.getMessage.contains("bogus"), e.getMessage)
    assert(rowsRead.value == 0L, s"a test job ran before the kind check (${rowsRead.value} rows)")
    assert(SchemaTests.runAll(spark, Seq(("ff_model", "id", "unique"))).map(_.status) ==
      Seq("PASS"))
    assert(rowsRead.value > 0L)
    spark.catalog.dropTempView("ff_model")
  }
}
