package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Gives each test a fresh root under the system temp dir; `tempDir`
  * creates directories inside it, and the whole root is deleted when the
  * test ends, pass or fail.
  */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private var root: Path = _

  protected def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  abstract override def withFixture(test: NoArgTest): Outcome = {
    root = Files.createTempDirectory("graft-test")
    try super.withFixture(test)
    finally {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }
}
