package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: the local session is configured in one function
  * (`SparkEntry.localSession`), and only Bench's between-pass sweep
  * releases RDDs through the global registry — a registry sweep inside a
  * query can free a concurrently running query's checkpoint.
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
}
