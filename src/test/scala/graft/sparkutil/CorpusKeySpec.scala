package graft.sparkutil

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The corpus-fingerprint contract behind every persisted serving
  * artifact: byte-identical corpora REUSE the artifact (same token, even
  * across copies / re-syntheses with new mtimes — the r13 probe bug),
  * any content or layout change RETRAINS (different token).
  */
class CorpusKeySpec extends AnyFunSuite with TempDirs {

  private def corpus(rows: Seq[String]): java.nio.file.Path = {
    val d = tempDir("graft-ck")
    Files.createDirectories(d.resolve("part=a"))
    Files.write(d.resolve("part=a/f0.bin"), rows.mkString("\n").getBytes("UTF-8"))
    Files.write(d.resolve("f1.bin"),
      rows.reverse.mkString("\n").getBytes("UTF-8"))
    d
  }

  test("byte-identical re-synthesis (fresh mtimes) keeps the token") {
    val rows = (0 until 5000).map(i => s"row-$i-payload")
    val a = corpus(rows)
    Thread.sleep(15) // guarantee distinct mtimes on the copy
    val b = corpus(rows)
    assert(CorpusKey.token(a) == CorpusKey.token(b),
      "identical bytes must reuse the serving artifact across re-syntheses")
  }

  test("any row change retrains: head, interior-with-size-shift, tail") {
    val rows = (0 until 5000).map(i => s"row-$i-payload")
    val base = CorpusKey.token(corpus(rows))
    val headEdit = CorpusKey.token(corpus(rows.updated(0, "CHANGED")))
    val tailEdit = CorpusKey.token(corpus(rows.updated(4999, "CHANGED")))
    val grown = CorpusKey.token(corpus(rows :+ "one-more-row"))
    assert(headEdit != base)
    assert(tailEdit != base)
    assert(grown != base)
  }

  test("layout changes retrain; nested files are covered; absent is stable") {
    val rows = (0 until 100).map(i => s"r$i")
    val d = corpus(rows)
    val t0 = CorpusKey.token(d)
    // a NEW nested file must change the token (the recursive-walk contract)
    Files.write(d.resolve("part=a/f2.bin"), "extra".getBytes("UTF-8"))
    assert(CorpusKey.token(d) != t0)
    assert(CorpusKey.token(d.resolve("no-such-dir")) == "absent")
  }
}
