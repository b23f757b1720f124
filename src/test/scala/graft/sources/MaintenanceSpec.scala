package graft.sources

import java.nio.file.{Files, Paths}

import graft.{TempDirs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

class MaintenanceSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("compactParquet merges fragmented files, preserves rows, swaps atomically") {
    val dir = tempDir("compact").resolve("t").toString
    val df = (1L to 5000L).toDF("id")
    df.repartition(20).write.parquet(dir)
    val stats = Maintenance.compactParquet(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(stats.filesBefore == 20)
    assert(stats.filesAfter == 1)
    assert(!Files.exists(Paths.get(dir + "__compact"))) // stage moved away
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"id")).collect()(0).getLong(0)
      == 5000L * 5001 / 2)
    assert(!Files.exists(Paths.get(dir + "__old"))) // old copy dropped
  }

  test("compactParquet preserves a Hive partition layout") {
    val dir = tempDir("compactp").resolve("t").toString
    val df = (1L to 1000L).map(i => (i, (i % 3).toString)).toDF("id", "p")
    df.repartition(8).write.partitionBy("p").parquet(dir)
    Maintenance.compactParquet(spark, dir, targetBytes = 512L * 1024 * 1024)
    // layout survives: p=0/1/2 dirs still exist, each compacted to 1 file
    (0 to 2).foreach { p =>
      val pd = Paths.get(dir, s"p=$p")
      assert(Files.exists(pd), s"partition dir p=$p lost by compaction")
      assert(Files.list(pd).iterator().asScala.count(_.toString.endsWith(".parquet")) == 1)
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.columns.toSet == Set("id", "p"))
  }

  test("vacuumOrphans deletes only unreferenced files and restores listing == manifest") {
    val dir = tempDir("vacuum").resolve("t").toString
    (1L to 1000L).toDF("id").repartition(3).write.parquet(dir)
    val manifest = Maintenance.listDataFiles(dir)
    assert(manifest.size == 3)
    // strand an uncommitted append
    (2000L to 2100L).toDF("id").repartition(2).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 1101) // the double-count corruption
    val stats = Maintenance.vacuumOrphans(dir, manifest)
    assert(stats == Maintenance.VacuumStats(3, 5, 2))
    assert(Maintenance.listDataFiles(dir) == manifest) // listing == manifest
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0)
      == 1000L * 1001 / 2)
  }

  test("vacuumOrphans refuses a manifest referencing files absent on disk") {
    val dir = tempDir("vacuumm").resolve("t").toString
    (1L to 10L).toDF("id").repartition(1).write.parquet(dir)
    val manifest = Maintenance.listDataFiles(dir) :+ "part-lost.parquet"
    val e = intercept[IllegalArgumentException] {
      Maintenance.vacuumOrphans(dir, manifest)
    }
    assert(e.getMessage.contains("part-lost.parquet"))
    // nothing was deleted on the refused path
    assert(Maintenance.listDataFiles(dir).size == 1)
  }

  test("time travel: versioned commits, as-of reads, vacuum interplay") {
    import org.apache.spark.sql.functions.sum
    val dir = tempDir("ttravel").resolve("t").toString
    (1L to 100L).toDF("id").repartition(2).write.parquet(dir)
    val c1 = Maintenance.commitVersion(dir, 100L * 101 / 2)
    assert(c1.version == 1 && c1.files.size == 2)
    (101L to 300L).toDF("id").repartition(3).write.mode("append").parquet(dir)
    val c2 = Maintenance.commitVersion(dir, 300L * 301 / 2)
    assert(c2.version == 2 && c2.files.size == 5)
    assert(Maintenance.versions(dir) == Seq(1, 2))
    // as-of reads reconstruct each version exactly; recomputed checksum
    // must reproduce the recorded commit (appends never rewrite v1 files)
    def sumAsOf(v: Int): Long =
      Maintenance.readAsOf(spark, dir, v).agg(sum($"id")).head().getLong(0)
    assert(sumAsOf(1) == Maintenance.readCommit(dir, 1).checksum)
    assert(sumAsOf(2) == Maintenance.readCommit(dir, 2).checksum)
    assert(Maintenance.readAsOf(spark, dir, 1).count() == 100)
    // missing version fails loudly
    val e = intercept[IllegalArgumentException] {
      Maintenance.readCommit(dir, 3)
    }
    assert(e.getMessage.contains("version 3"))
    // vacuum against the LATEST manifest keeps every file v2 references
    // (v2 ⊇ v1 under append-only writes), so v1 stays readable; the
    // manifest log itself is never a vacuum candidate (non-parquet)
    val stats = Maintenance.vacuumOrphans(dir, Maintenance.readCommit(dir, 2).files)
    assert(stats.orphansDeleted == 0)
    assert(sumAsOf(1) == 100L * 101 / 2)
  }

  /** r14 verdict item 7: the diff of two REAL manifest versions must
    * reproduce the known commit delta — added = the odd half appended
    * in v2, removed = the tombstoned evens (event_id % 20 = 2),
    * changed = the corrected evens (% 10 = 0) whose cents actually
    * moved (cents·2 ≠ cents unless 0), unchanged = the rest.
    */
  test("maintenance_version_diff counts equal the known commit delta") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("maintenance_version_diff")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = graft.Tables.load(spark, dir, "events")
      .select($"event_id",
        coalesce(expr("CAST(round(value * 100) AS BIGINT)"), lit(-1L))
          .as("cents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val evens = ev.filter(_._1 % 2 == 0)
    val nAdded = ev.count(_._1 % 2 != 0)
    val nRemoved = evens.count(_._1 % 20 == 2)
    val nChanged = evens.count { case (id, c) => id % 10 == 0 && c * 2 != c }
    val nUnchanged = evens.length - nRemoved - nChanged
    assert(got == Map("added" -> nAdded.toLong, "removed" -> nRemoved.toLong,
      "changed" -> nChanged.toLong, "unchanged" -> nUnchanged.toLong)
      .filter(_._2 > 0L), s"got $got")
  }

  test("parquet footers expose row-group stats without scanning data") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new Path("/root/testdata/sf0.001/lineitem.parquet")
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    val blocks = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    assert(blocks.nonEmpty, "at least one row group")
    // every row group carries usable l_orderkey statistics
    blocks.foreach { bg =>
      val c = bg.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get
      assert(!c.getStatistics.isEmpty, "row-group stats present")
      assert(bg.getRowCount > 0)
    }
    // footer row total equals the table's actual cardinality
    val total = blocks.map(_.getRowCount).sum
    assert(total == spark.read.parquet(f.toString).count())
    // and the registered query reports consistency on the same fixtures
    val row = graft.SparkEntry.queries("maintenance_footer_stats")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(row.getBoolean(3), "footer_consistent")
    assert(row.getLong(0) == total)
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
