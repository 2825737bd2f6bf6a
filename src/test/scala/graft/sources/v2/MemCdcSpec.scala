package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The CDC-apply contracts the oracle-gated query (`dsv2_stream_cdc_upsert`)
  * can't show: what happens on REPLAY — a recovering driver re-commits its
  * last epoch, and each of the two per-table commits must no-op exactly
  * when it already published, whichever side a crash stranded.
  */
class MemCdcSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftmemspec_cdc$tag"
    val root = tempDir(s"graft-memcat-spec-cdc$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("commitStreamingEpochCdc: replayed epoch publishes nothing — no " +
    "duplicate file, no duplicate delete line") {
    val (cat, root) = freshCatalog("rp")
    spark.sql(s"CREATE TABLE $cat.t.tgt TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS " +
      "SELECT CAST(id AS BIGINT) AS k, id * 10 AS v FROM range(20)")
    val dir = root.resolve("t__tgt")
    val v0 = MemCatalog.currentVersion(dir)
    // epoch 0: one fresh file + one equality delete, committed together
    val part = java.nio.file.Files.createTempFile(dir, "part-cdc-", ".bin")
    val entry = MemCatalog.FileEntry(part.getFileName.toString, Map("#rows" -> (0L, 0L)))
    val del = MemCatalog.writeEqDelete(dir, Seq(Seq("3"), Seq("7")))
    assert(MemCatalog.commitStreamingEpochCdc(dir, None, "q1", 0L, Seq(entry), Seq("k"), Some(del)))
    val v1 = MemCatalog.currentVersion(dir)
    assert(v1 == v0 + 1)
    assert(MemCatalog.eqDeletes(dir).size == 1)
    // the replay: same (query, epoch) — must refuse without a commit
    val del2 = MemCatalog.writeEqDelete(dir, Seq(Seq("3"), Seq("7")))
    assert(!MemCatalog.commitStreamingEpochCdc(dir, None, "q1", 0L, Seq(entry), Seq("k"), Some(del2)))
    assert(MemCatalog.currentVersion(dir) == v1, "replay must not advance the version")
    assert(MemCatalog.eqDeletes(dir).size == 1, "replay must not duplicate the delete")
    // a LATER epoch from the same query commits normally
    assert(MemCatalog.commitStreamingEpochCdc(dir, None, "q1", 1L, Seq.empty, Seq("k"), None))
  }

  test("the CDC commit's delete masks every strictly-older row, and a " +
    "reinsert after it survives (same-epoch survival is query-gated)") {
    val (cat, root) = freshCatalog("seq")
    spark.sql(s"CREATE TABLE $cat.t.s TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS " +
      "SELECT CAST(id AS BIGINT) AS k, CAST(id * 10 AS BIGINT) AS v FROM range(10)")
    val dir = root.resolve("t__s")
    // two generations of k=4 exist (CTAS + INSERT) before the delete
    spark.sql(s"INSERT INTO $cat.t.s VALUES (CAST(4 AS BIGINT), CAST(444 AS BIGINT))")
    val del = MemCatalog.writeEqDelete(dir, Seq(Seq("4")))
    assert(MemCatalog.commitStreamingEpochCdc(dir, None, "q", 0L, Seq.empty, Seq("k"), Some(del)))
    // the delete (seq = head version) masks BOTH older generations
    val after = spark.sql(s"SELECT v FROM $cat.t.s WHERE k = 4").collect().map(_.getLong(0))
    assert(after.isEmpty, s"older k=4 rows must be masked, got ${after.mkString(",")}")
    // a reinsert AFTER the delete carries a newer sequence and survives
    // (the same scoping that lets a CDC epoch's own inserts survive its
    // deletes — the e2e shape is gated by dsv2_stream_cdc_upsert)
    spark.sql(s"INSERT INTO $cat.t.s VALUES (CAST(4 AS BIGINT), CAST(555 AS BIGINT))")
    val reborn = spark.sql(s"SELECT v FROM $cat.t.s WHERE k = 4").collect().map(_.getLong(0))
    assert(reborn.toSeq == Seq(555L), s"reinsert must outlive the delete, got ${reborn.mkString(",")}")
  }

  test("crash between the two per-table commits converges on replay") {
    val (cat, root) = freshCatalog("cw")
    spark.sql(s"CREATE TABLE $cat.t.tgt2 TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS " +
      "SELECT CAST(id AS BIGINT) AS k, id * 10 AS v FROM range(5)")
    spark.sql(s"CREATE TABLE $cat.t.log2 " +
      "(op STRING, k BIGINT, v BIGINT) TBLPROPERTIES " +
      s"('graft.applyCdcTo'='t.tgt2', 'graft.cdcOp'='op')")
    val tgt = root.resolve("t__tgt2")
    val log = root.resolve("t__log2")
    // simulate the crash window: the TARGET apply committed, the landing
    // commit never ran (driver died between them)
    val del = MemCatalog.writeEqDelete(tgt, Seq(Seq("1")))
    assert(MemCatalog.commitStreamingEpochCdc(tgt, None, "q", 0L, Seq.empty, Seq("k"), Some(del)))
    val tgtV = MemCatalog.currentVersion(tgt)
    // the recovering driver replays epoch 0 in full: target no-ops,
    // landing applies — both tables end exactly-once
    val del2 = MemCatalog.writeEqDelete(tgt, Seq(Seq("1")))
    assert(!MemCatalog.commitStreamingEpochCdc(tgt, None, "q", 0L, Seq.empty, Seq("k"), Some(del2)))
    assert(MemCatalog.currentVersion(tgt) == tgtV)
    assert(MemCatalog.eqDeletes(tgt).size == 1)
    assert(MemCatalog.commitStreamingEpoch(log, "q", 0L, Seq.empty),
      "the landing side must still apply its half of the replayed epoch")
  }

  test("batch INSERT into a CDC landing table refuses loudly") {
    val (cat, root) = freshCatalog("bi")
    spark.sql(s"CREATE TABLE $cat.t.tgt3 TBLPROPERTIES " +
      "('graft.eqDeleteKeys'='k') AS SELECT CAST(id AS BIGINT) AS k FROM range(3)")
    spark.sql(s"CREATE TABLE $cat.t.log3 (op STRING, k BIGINT) " +
      "TBLPROPERTIES ('graft.applyCdcTo'='t.tgt3', 'graft.cdcOp'='op')")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t.log3 VALUES ('I', CAST(9 AS BIGINT))").collect()
    }
    assert(e.getMessage != null && (e.getMessage.contains("CDC landing") ||
      (e.getCause != null && e.getCause.getMessage.contains("CDC landing"))),
      s"expected the landing-table refusal, got: ${e.getMessage}")
    assert(root.resolve("t__log3").toFile.exists)
  }
}
