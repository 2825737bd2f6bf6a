package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

import graft.sources.v2.MemCatalog.deleteRecursively

/** The one temp-dir fixture for specs: a dir made with [[tempDir]] is
  * deleted when the test that made it ends, on the pass AND the fail path,
  * so a test run leaves no `graft-*` dir behind in `java.io.tmpdir`.
  */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh `java.io.tmpdir` dir named `prefix<random>`, removed when the
    * current test ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(made.poll()).takeWhile(_ != null).foreach(deleteRecursively)
}
