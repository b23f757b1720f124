package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Table maintenance: small-file compaction. Streaming/incremental
  * writers leave many small parquet files; scans then pay per-file open
  * + footer costs and lose row-group locality — at warehouse scale the
  * dominant silent tax. Compaction rewrites a directory into
  * ceil(bytes / targetBytes) files via one repartition (a single
  * round-robin shuffle, no data skew risk), staged next to the target
  * and swapped in so readers never observe a half-written directory.
  */
object Maintenance {

  final case class CompactStats(
      filesBefore: Int, filesAfter: Int, bytes: Long)

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq

  private def deleteTree(dir: Path): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Hive partition columns, in nesting order, inferred from the first
    * leaf file's `key=value` path segments (empty → unpartitioned). */
  private def partitionCols(dir: Path, leaves: Seq[Path]): Seq[String] =
    leaves.headOption.toSeq.flatMap { leaf =>
      dir.relativize(leaf).iterator().asScala.toSeq
        .map(_.toString).filter(_.contains('='))
        .map(_.takeWhile(_ != '='))
    }

  def compactParquet(
      spark: SparkSession,
      path: String,
      targetBytes: Long): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = Paths.get(path)
    val before = parquetFiles(dir)
    val totalBytes = before.map(Files.size).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val partCols = partitionCols(dir, before)

    val stage = Paths.get(path + "__compact")
    // Partitioned tables keep their layout: hash-repartition on the
    // partition columns co-locates each partition value in one task, so
    // every partition dir is rewritten as one file. Unpartitioned tables
    // get a round-robin repartition into ceil(bytes/target) files.
    val src = spark.read.option("basePath", path).parquet(path)
    val writer =
      if (partCols.nonEmpty)
        src.repartition(nFiles, partCols.map(org.apache.spark.sql.functions.col): _*)
          .write.partitionBy(partCols: _*)
      else src.repartition(nFiles).write
    writer.mode("overwrite").parquet(stage.toString)
    swapIn(stage, dir)
    CompactStats(before.size, parquetFiles(dir).size, totalBytes)
  }

  /** Replaces the table directory `dir` with the fully written `stage`
    * directory by two atomic renames, so a crash never strands the table
    * with no live copy: move the old dir aside, move the staged dir into
    * place, then drop the old copy. A reader can race only into the
    * instant between the two renames — never into a half-deleted tree.
    */
  def swapIn(stage: Path, dir: Path): Unit = {
    val old = Paths.get(dir.toString + "__old")
    if (Files.exists(old)) deleteTree(old)
    Files.move(dir, old)
    Files.move(stage, dir)
    deleteTree(old)
  }

  final case class VacuumStats(
      manifestFiles: Int, listedFiles: Int, orphansDeleted: Int)

  /** Data files under `path`, as `path`-relative strings — the listing
    * a write commit records into its manifest (and what vacuum diffs
    * that manifest against later).
    */
  def listDataFiles(path: String): Seq[String] = {
    val dir = Paths.get(path)
    parquetFiles(dir).map(p => dir.relativize(p).toString).sorted
  }

  /** Delete data files a table's MANIFEST does not reference — the
    * Delta `VACUUM` / Iceberg `remove_orphan_files` maintenance action.
    * Orphans are what failed or uncommitted writes strand in a table
    * directory; a path-listing reader (plain `spark.read.parquet(dir)`)
    * then silently DOUBLE-COUNTS rows the transaction log never
    * committed — vacuuming restores listing ≡ manifest, which is the
    * committed table content. `manifest` entries are paths relative to
    * `path`. Files IN the manifest are never touched (deleting a
    * referenced file corrupts the table — this direction is checked
    * first); files missing from disk that the manifest references fail
    * loudly rather than vacuum a half-lost table.
    */
  def vacuumOrphans(
      path: String,
      manifest: Seq[String]): VacuumStats = {
    val dir = Paths.get(path)
    val listed = parquetFiles(dir)
    val byRel = listed.map(p => dir.relativize(p).toString -> p).toMap
    val missing = manifest.filterNot(byRel.contains)
    require(missing.isEmpty,
      s"manifest references files absent on disk: ${missing.take(3).mkString(", ")}")
    val keep = manifest.toSet
    val orphans = byRel.filterNot { case (rel, _) => keep(rel) }
    orphans.values.foreach(Files.delete)
    VacuumStats(manifest.size, listed.size, orphans.size)
  }

  // ── Versioned commit log + AS-OF reads (the lakehouse READ half of
  //    the manifest protocol vacuumOrphans enforces the write half of:
  //    Delta's _delta_log / Iceberg's snapshot list, minimally).
  //    Each commit records the table's CURRENT data-file listing plus a
  //    caller-computed content checksum into an append-only
  //    `_graft_log/v<k>.manifest`; a reader AS OF version k scans
  //    exactly v_k's files — append-mode writers never rewrite files, so
  //    every old version stays readable until a vacuum against a newer
  //    manifest retires its unreferenced files. The checksum makes the
  //    commit VERIFIABLE: `maintenance_time_travel` recomputes it from
  //    the as-of read and must reproduce the recorded value. ───────────

  final case class CommitInfo(version: Int, files: Seq[String], checksum: Long)

  private val logDirName = "_graft_log"

  private def manifestPath(path: String, version: Int): Path =
    Paths.get(path, logDirName, f"v$version%05d.manifest")

  /** Committed versions under `path`, ascending (empty → no log). */
  def versions(path: String): Seq[Int] = {
    val logDir = Paths.get(path, logDirName)
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      // Files.list holds a directory fd until closed — versions() runs
      // on every commit and as-of read, so an unclosed stream leaks one
      // fd per call (r14 advisory)
      val stream = Files.list(logDir)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
          s.stripPrefix("v").stripSuffix(".manifest").toInt }
        .toSeq.sorted
      finally stream.close()
    }
  }

  /** Record the table's current file listing as the next version. The
    * checksum is the writer's content statement (any engine-replayable
    * aggregate of the committed rows — the registered query uses
    * sum(event_id)); line 1 of the manifest, data files after. Returns
    * the recorded commit. Write is staged-then-renamed so a concurrent
    * reader never observes a half-written manifest.
    */
  def commitVersion(path: String, checksum: Long): CommitInfo = {
    val v = versions(path).lastOption.getOrElse(0) + 1
    val files = listDataFiles(path)
    val target = manifestPath(path, v)
    Files.createDirectories(target.getParent)
    val stage = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(stage, (checksum.toString +: files).asJava)
    // ATOMIC_MOVE, not the default copy-permitting move: the scaladoc's
    // "readers never observe a half-written manifest" holds only if the
    // stage→target rename is a single directory-entry swap
    Files.move(stage, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    CommitInfo(v, files, checksum)
  }

  /** Commit an EXPLICIT file set as the next version — the REPLACE
    * commit shape ([[commitVersion]] is the append shape that lists the
    * whole directory). A compaction writes its rewritten files, then
    * commits ONLY them: earlier versions keep referencing the old files
    * (time travel intact) until [[expireVersions]] ages them out. File
    * names are `path`-relative, exactly as [[readAsOf]] resolves them.
    */
  def commitFiles(path: String, files: Seq[String],
      checksum: Long): CommitInfo = {
    require(files.nonEmpty, "a version must reference at least one file")
    val v = versions(path).lastOption.getOrElse(0) + 1
    val target = manifestPath(path, v)
    Files.createDirectories(target.getParent)
    val stage = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(stage, (checksum.toString +: files.sorted).asJava)
    Files.move(stage, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    CommitInfo(v, files.sorted, checksum)
  }

  final case class ExpireStats(versionsBefore: Int, expired: Seq[Int],
      retained: Seq[Int], deletableFiles: Int, deletedFiles: Int)

  /** Retention GC — the Iceberg `expire_snapshots` / Delta VACUUM-
    * retention analog: drop all but the newest `keepLast` versions. A
    * data file is deletable iff ONLY expired versions reference it;
    * append-only histories therefore free NOTHING (every commit's files
    * are inherited by its successors) — storage is reclaimed exactly
    * when a REPLACE commit ([[commitFiles]], i.e. compaction) superseded
    * files and the last version referencing them ages out. Deletes the
    * superseded data files first, then the expired manifests, so a
    * crash mid-expire can only strand already-unreferenced files (the
    * [[vacuumOrphans]] class), never break a retained version.
    */
  def expireVersions(path: String, keepLast: Int): ExpireStats = {
    require(keepLast >= 1, "keepLast >= 1")
    val vs = versions(path)
    val (expired, retained) = vs.splitAt(math.max(0, vs.size - keepLast))
    val keep = retained.flatMap(v => readCommit(path, v).files).toSet
    val drop = expired.flatMap(v => readCommit(path, v).files).toSet -- keep
    var deleted = 0
    drop.toSeq.sorted.foreach { f =>
      if (Files.deleteIfExists(Paths.get(path, f))) deleted += 1
    }
    expired.foreach(v => Files.deleteIfExists(manifestPath(path, v)))
    ExpireStats(vs.size, expired, retained, drop.size, deleted)
  }

  /** Read back version k's recorded commit (manifest + checksum). */
  def readCommit(path: String, version: Int): CommitInfo = {
    val p = manifestPath(path, version)
    require(Files.exists(p), s"no committed version $version under $path")
    val lines = Files.readAllLines(p).asScala.toSeq
    CommitInfo(version, lines.tail, lines.head.toLong)
  }

  /** The table AS OF version k: scan exactly v_k's manifest files —
    * later appends are invisible, exactly like a Delta/Iceberg
    * versioned read. Fails loudly if any referenced file was vacuumed
    * away (spark errors on the missing path at scan time).
    */
  def readAsOf(spark: SparkSession, path: String, version: Int)
      : org.apache.spark.sql.DataFrame = {
    val ci = readCommit(path, version)
    require(ci.files.nonEmpty, s"version $version committed an empty table")
    spark.read.parquet(ci.files.map(f => Paths.get(path, f).toString): _*)
  }
}
