package graft.sources.v2

import graft.TempDirs
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Commit-hook contracts behind the oracle-gated `dsv2_mv_autorefresh`
  * query: a hook fires after every main-chain publish (async — the
  * committing thread never waits), a commit storm COALESCES (at least
  * one run after the last commit, never more runs than commits), a
  * throwing hook poisons neither the commit nor later runs, branch
  * commits stay silent until fast-forward publishes to main, and a
  * dropped hook never fires again.
  */
class MemHookSpec extends AnyFunSuite with TempDirs {

  private def mk(): Path = {
    val dir = tempDir("graft-hook")
    MemCatalog.writeManifest(dir, 0, Seq.empty, op = "create")
    dir
  }

  private def entry(n: String) =
    MemCatalog.FileEntry(n, Map("#rows" -> (1L, 1L)))

  test("hook fires after a main commit; the last commit is always absorbed") {
    val dir = mk()
    val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
    MemCatalog.onCommit(dir)(() => seen.set(MemCatalog.currentVersion(dir).toLong))
    try {
      MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("a.bin"))
      MemCatalog.awaitCommitHooks()
      assert(seen.get() == MemCatalog.currentVersion(dir).toLong,
        "after quiesce the hook must have observed the head version")
    } finally MemCatalog.dropCommitHook(dir)
  }

  test("commit storm coalesces: 1 <= runs <= commits, final state absorbed") {
    val dir = mk()
    val runs = new AtomicInteger(0)
    val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
    MemCatalog.onCommit(dir) { () =>
      runs.incrementAndGet()
      // a slow hook widens the coalescing window
      Thread.sleep(20)
      seen.set(MemCatalog.currentVersion(dir).toLong)
    }
    try {
      val n = 12
      (1 to n).foreach(i => MemCatalog.commitManifest(dir, "append")(fs =>
        fs :+ entry(s"f$i.bin")))
      MemCatalog.awaitCommitHooks()
      assert(runs.get() >= 1 && runs.get() <= n,
        s"expected coalesced runs in [1, $n], got ${runs.get()}")
      assert(seen.get() == MemCatalog.currentVersion(dir).toLong,
        "the final commit must be absorbed by the last run")
    } finally MemCatalog.dropCommitHook(dir)
  }

  test("a throwing hook fails neither the commit nor later runs") {
    val dir = mk()
    val runs = new AtomicInteger(0)
    MemCatalog.onCommit(dir) { () =>
      if (runs.incrementAndGet() == 1) sys.error("maintenance blew up")
    }
    try {
      MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("a.bin"))
      MemCatalog.awaitCommitHooks() // run 1 throws inside the hook thread
      MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("b.bin"))
      MemCatalog.awaitCommitHooks()
      assert(MemCatalog.currentVersion(dir) == 2, "both commits must publish")
      assert(runs.get() >= 2, "the hook must keep firing after a failure")
    } finally MemCatalog.dropCommitHook(dir)
  }

  test("branch commits are silent; fast-forward fires (it IS a main commit)") {
    val dir = mk()
    MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("base.bin")) // v1
    val runs = new AtomicInteger(0)
    MemCatalog.onCommit(dir)(() => { runs.incrementAndGet(); () })
    try {
      MemCatalog.createBranch(dir, "b")
      MemCatalog.commitManifestEq(dir, "append", Some("b"))((fs, eq, _) =>
        (fs :+ entry("branch.bin"), eq))
      MemCatalog.awaitCommitHooks()
      assert(runs.get() == 0,
        "unpublished branch work must not trigger main maintenance")
      MemCatalog.fastForward(dir, "b")
      MemCatalog.awaitCommitHooks()
      assert(runs.get() >= 1, "the fast-forward publish must fire the hook")
    } finally {
      MemCatalog.dropCommitHook(dir)
      MemCatalog.dropBranch(dir, "b")
    }
  }

  test("a dropped hook never fires again") {
    val dir = mk()
    val runs = new AtomicInteger(0)
    MemCatalog.onCommit(dir)(() => { runs.incrementAndGet(); () })
    MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("a.bin"))
    MemCatalog.awaitCommitHooks()
    val before = runs.get()
    assert(before >= 1)
    MemCatalog.dropCommitHook(dir)
    MemCatalog.commitManifest(dir, "append")(fs => fs :+ entry("b.bin"))
    MemCatalog.awaitCommitHooks()
    assert(runs.get() == before, "no runs after dropCommitHook")
  }
}
