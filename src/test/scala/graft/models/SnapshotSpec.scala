package graft.models

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SnapshotSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // change stream: key 1 goes A→A→B→A, key 2 stays X
  private def changes = Seq(
    (1L, 1L, "A", "2024-01-01"),
    (1L, 2L, "A", "2024-01-05"),
    (1L, 3L, "B", "2024-02-01"),
    (1L, 4L, "A", "2024-03-01"),
    (2L, 5L, "X", "2024-01-10")
  ).toDF("k", "id", "v", "d").withColumn("ts", $"d".cast("timestamp")).drop("d")

  test("scd2History collapses consecutive duplicates and chains intervals") {
    val h = Snapshot.scd2History(changes, Seq("k"), "v", "ts", "id")
      .orderBy("k", "valid_from")
      .select($"k", $"v", $"valid_from".cast("string"), $"valid_to".cast("string"), $"is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), Option(r.getString(3)), r.getBoolean(4)))
    assert(h.toSeq == Seq(
      (1L, "A", "2024-01-01 00:00:00", Some("2024-02-01 00:00:00"), false),
      (1L, "B", "2024-02-01 00:00:00", Some("2024-03-01 00:00:00"), false),
      (1L, "A", "2024-03-01 00:00:00", None, true),
      (2L, "X", "2024-01-10 00:00:00", None, true)))
  }

  test("scd2Merge closes changed keys, keeps unchanged, opens new keys") {
    val init = Snapshot.scd2Init(
      Seq((1L, "A"), (2L, "X")).toDF("k", "v"),
      Seq("k"), "v", lit("2024-01-01").cast("timestamp"))
    val batch = Seq((1L, "B"), (2L, "X"), (3L, "N")).toDF("k", "v")
    val merged = Snapshot.scd2Merge(init, batch, Seq("k"), "v",
        lit("2024-02-01").cast("timestamp"))
      .orderBy($"k", $"valid_from")
      .select($"k", $"v", $"valid_from".cast("string"), $"valid_to".cast("string"), $"is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), Option(r.getString(3)), r.getBoolean(4)))
    assert(merged.toSeq == Seq(
      (1L, "A", "2024-01-01 00:00:00", Some("2024-02-01 00:00:00"), false),
      (1L, "B", "2024-02-01 00:00:00", None, true),
      (2L, "X", "2024-01-01 00:00:00", None, true),
      (3L, "N", "2024-02-01 00:00:00", None, true)))
  }

  test("incremental materialization merges on unique key across runs") {
    val wh = tempDir("inc").toString
    def model(rows: Seq[(Long, String)]): Model =
      Model("inc_t", Nil, Materialization.Incremental(Seq("k")),
        s => { import s.implicits._; rows.toDF("k", "v") })
    ModelDag.run(spark, Seq(model(Seq(1L -> "a", 2L -> "b"))), Some(wh))
    val out = ModelDag.run(spark, Seq(model(Seq(2L -> "b2", 3L -> "c"))), Some(wh))
    val got = out("inc_t").orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("scd2Merge is idempotent: replaying the same state is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t1 = lit("2020-01-01").cast("timestamp")
    val t2 = lit("2020-02-01").cast("timestamp")
    val s1 = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v")
    val s2 = Seq(1L -> "a", 2L -> "B", 4L -> "d").toDF("k", "v")
    val once = Snapshot.scd2Merge(
      Snapshot.scd2Init(s1, Seq("k"), "v", t1), s2, Seq("k"), "v", t2)
    val twice = Snapshot.scd2Merge(once, s2, Seq("k"), "v", t2)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(once) == canon(twice))
    // and the state is the expected one: 2 closed-out, 5 rows total
    assert(twice.filter(!col("is_current")).count() == 1) // k=2 closed
    assert(twice.filter(col("is_current")).count() == 4)  // 1,2',3,4 open
  }
}
