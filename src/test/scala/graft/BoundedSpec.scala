package graft

import scala.collection.mutable

import graft.functions.BpeKernel
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class BoundedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Distinct values of `id` under `bound`, folded from 8 partitions. */
  private def distinctIds(n: Int, bound: Long): mutable.HashSet[Long] =
    Bounded.aggregate(spark.range(0, n, 1, 8).toDF("id"), bound)(mutable.HashSet.empty[Long])(
      (set, r) => set += r.getLong(0) % 50, _ ++= _, _.size.toLong)

  private def failure(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  test("aggregate folds every row into one state, whatever the partitioning") {
    assert(distinctIds(1000, 50) == (0L until 50L).toSet)
    val sums = Bounded.aggregate(spark.range(0, 1000, 1, 7).toDF("id"), 1)(Array(0L))(
      (s, r) => { s(0) += r.getLong(0); s }, (a, b) => { a(0) += b(0); a }, _ => 1L)
    assert(sums.toSeq == Seq(999L * 1000 / 2))
  }

  test("aggregate throws above its bound, naming the size and the bound") {
    val msg = failure(distinctIds(1000, 49))
    assert(msg.contains("bounded state holds 50, above its bound of 49"), msg)
  }

  test("collect returns every row as a Row, and throws above maxRows") {
    val df = spark.range(0, 20, 1, 3).selectExpr("id", "array(cast(id AS float)) AS v")
    val rows = Bounded.collect(df, 20).sortBy(_.getLong(0))
    assert(rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq ==
      (0 until 20).map(i => (i.toLong, Seq(i.toFloat))))
    val msg = failure(Bounded.collect(df, 19))
    assert(msg.contains("bounded state holds 20, above its bound of 19"), msg)
  }

  test("frame builds a local frame of the rows with the declared schema") {
    val df = Bounded.frame(spark, Seq(Row(1L, "a"), Row(2L, null)), "k BIGINT NOT NULL, s STRING")
    assert(df.schema.map(f => (f.name, f.nullable)) == Seq(("k", false), ("s", true)))
    assert(df.collect().toSeq == Seq(Row(1L, "a"), Row(2L, null)))
  }

  test("BPE counts know the token total after merging their best pair") {
    // runs of one symbol merge ⌊k/2⌋ times; two different symbols never overlap
    def u(s: String) = UTF8String.fromString(s)
    val words = Seq("aaaa" -> 3L, "aaab" -> 2L, "abab" -> 1L, "ba" -> 5L, "aaaaa" -> 1L)
    def counts(merges: Seq[(UTF8String, UTF8String)]) =
      words.grouped(2).map(_.foldLeft(new BpeKernel.Counts) { case (c, (w, n)) =>
        c.add(u(w), n, merges)
      }).reduce(_ merge _)
    var merges = Seq.empty[(UTF8String, UTF8String)]
    for (_ <- 1 to 4) {
      val Some((a, b, n, after)) = counts(merges).best: @unchecked
      merges :+= (a -> b)
      val tokens = words.map { case (w, c) => c * BpeKernel.symbols(u(w), merges).length }.sum
      assert(after == tokens, s"merge ($a, $b) of count $n")
    }
    // (a, a) first: 3·3 + 2·2 + 4 = 17 adjacent pairs, ahead of (b, a) at 6
    assert(merges.head == (u("a") -> u("a")))
  }
}
