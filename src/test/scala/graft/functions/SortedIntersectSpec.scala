package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-pointer merge count behind `sorted_intersect_count` (the
  * edge-iterator triangle-count inner loop): randomized cross-check
  * against the set-intersection size (fixed seed, the PropertySpec
  * convention), plus the codegen path through SQL.
  */
class SortedIntersectSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("equals the set-intersection size on sorted distinct arrays (randomized)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(100).toLong - 50L)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(100).toLong - 50L)
        .distinct.sorted
      val want = a.toSet.intersect(b.toSet).size.toLong
      val got = SketchKernels.sortedIntersectCount(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray))
      assert(got == want, s"a=$a b=$b")
    }
  }

  test("SQL path (codegen) matches array_intersect on real adjacency shapes") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(7L), Seq(7L)),
      (Seq(-3L, 0L, 4L), Seq(-3L, 0L, 4L))
    ).toDF("a", "b")
    val rows = df.select(
      SketchFunctions.sortedIntersectCount($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).cast("long").as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }
}
