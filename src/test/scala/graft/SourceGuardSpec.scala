package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: the local session is configured in one function
  * (`SparkEntry.localSession`), only Bench's between-pass sweep
  * releases RDDs through the global registry — a registry sweep inside a
  * query can free a concurrently running query's checkpoint — no code
  * tunes Spark's code generation, no code writes the session's
  * function registry, driver loops fold their input only through
  * `graft.Bounded`, and the count of localCheckpoint barriers only falls.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** (file, line) of every non-comment line under `roots` naming `token`;
    * this spec, which names the tokens it looks for, is skipped.
    */
  private def codeLines(token: String, roots: String*): Seq[(String, String)] = {
    val files = roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }
    files.filter(_.getFileName.toString != "SourceGuardSpec.scala").sortBy(_.toString)
      .flatMap { f =>
        Files.readAllLines(f).asScala.map(_.trim)
          .filter(l => l.contains(token) && !Seq("//", "*", "/*", "#").exists(l.startsWith))
          .map(f.toString -> _)
      }
  }

  test("SparkSession.builder appears only in the shared local session and the extensions test") {
    assert(codeLines("SparkSession.builder", "src/main", "tools").map(_._1) ==
      Seq("src/main/scala/graft/SparkEntry.scala"))
    assert(codeLines("SparkSession.builder", "src/test").map(_._1) ==
      Seq("src/test/scala/graft/GraftExtensionsSpec.scala"))
  }

  test("getPersistentRDDs appears only in Bench's between-pass sweep") {
    assert(codeLines("getPersistentRDDs", "src/main", "tools").map(_._1) ==
      Seq("src/main/scala/graft/Bench.scala"))
  }

  test("the nation-trade join is written once in src/main") {
    // The graph family and agg_gravity_model share one
    // lineitem⋈orders⋈customer⋈supplier build; its customer leg names it.
    assert(codeLines("""broadcast(c), $"o_custkey" === $"c_custkey"""", "src/main") ==
      Seq("src/main/scala/graft/queries/RelationalQueries.scala" ->
        """.join(broadcast(c), $"o_custkey" === $"c_custkey")"""))
  }

  test("no engine or tool code sets a spark.sql.codegen conf") {
    // The codegen working set is fitted by the plans the queries build; a
    // larger codegen cache (spark.sql.codegen.cache.maxEntries, a static
    // conf) or any other codegen setting would hide a regression in them.
    assert(codeLines("spark.sql.codegen.", "src/main", "tools").isEmpty)
    // the same settings through SQLConf's entries (CODEGEN_CACHE_MAX_ENTRIES,
    // WHOLESTAGE_CODEGEN_ENABLED, ...)
    assert(codeLines("CODEGEN", "src/main", "tools").isEmpty)
  }

  test("only graft.Bounded folds a planned Dataset RDD or builds a local frame of Rows") {
    // A driver loop folds its input through Bounded, which checks the
    // state against its bound and plans the input once for every round.
    for (token <- Seq("toRdd", "treeAggregate"))
      assert(codeLines(token, "src/main", "tools").map(_._1).distinct ==
        Seq("src/main/scala/graft/Bounded.scala"), token)
    assert(codeLines("createDataFrame(", "src/main", "tools")
      .filter(l => l._2.contains("asJava") || l._2.contains("parallelize"))
      .map(_._1) == Seq("src/main/scala/graft/Bounded.scala"))
  }

  test("localCheckpoint barriers in src/main do not grow") {
    // A loop whose state is fixed by a dimension folds through Bounded
    // instead of checkpointing its rounds; the barriers left hold
    // data-sized intermediates. Lower the ceiling as they go.
    val sites = codeLines(".localCheckpoint(", "src/main")
    assert(sites.size <= 44, sites.groupMapReduce(_._1)(_ => 1)(_ + _))
  }

  test("no engine or tool code writes the session function registry") {
    // graft functions build their Columns from their expressions
    // (graft.functions.*Functions); SQL sees them through the one table
    // in GraftExtensions.
    for (token <- Seq("createOrReplaceTempFunction", "functionRegistry", "Functions.register("))
      assert(codeLines(token, "src/main", "tools").isEmpty, token)
  }
}
