package graft.sources.v2

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Branch equality-delete contracts under the oracle-gated query
  * (`dsv2_branch_eqdelete`): the branch keyed DELETE is sidecar-only and
  * main-isolated, branch-relative sequence scoping lets a reinserted key
  * survive, fast-forward CONVERTS branch-born eq-deletes into positional
  * deletion vectors (no carried #eqdel lines, fork files live by name),
  * the conversion prevents the forward-mask hazard on post-publish main
  * commits, and drop+vacuum reclaims the orphaned sidecar.
  */
class MemBranchEqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  private def mk(name: String): java.nio.file.Path = {
    spark.sql(s"DROP TABLE IF EXISTS graftmem.tmp.$name")
    spark.sql(
      s"""CREATE TABLE graftmem.tmp.$name
         |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
         |SELECT CAST(id % 7 AS BIGINT) AS k, CAST(id AS BIGINT) AS v
         |FROM range(0, 21)""".stripMargin) // v0: keys 0..6, 3 rows each
    spark.sql(s"INSERT INTO graftmem.tmp.$name " +
      "SELECT CAST(100 + id AS BIGINT), CAST(id AS BIGINT) FROM range(0, 3)") // v1
    tdir(name)
  }

  private def rows(table: String): Set[(Long, Long)] =
    spark.sql(s"SELECT k, v FROM $table").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("branch keyed delete: sidecar-only commit, main fully isolated") {
    val dir = mk("beqs_iso")
    MemCatalog.createBranch(dir, "b")
    val preParts = MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet
    val preMain = rows("graftmem.tmp.beqs_iso")
    spark.sql("DELETE FROM graftmem.tmp.beqs_iso.branch_b WHERE k = 3")
    assert(MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet == preParts,
      "a branch eq-delete must write no part file")
    val bm = MemCatalog.branchManifest(dir, "b")
    assert(bm.eqDels.size == 1 && bm.eqDels.head.cols == Seq("k"))
    assert(bm.eqDels.head.seq == MemCatalog.branchBase(dir, "b") + 1,
      "the eq-delete stamps its own branch commit's sequence")
    assert(MemCatalog.currentVersion(dir) == 1 &&
      rows("graftmem.tmp.beqs_iso") == preMain, "main must not see the branch delete")
    // audit read masks the key
    assert(!rows("graftmem.tmp.beqs_iso.branch_b").exists(_._1 == 3L))
    MemCatalog.dropBranch(dir, "b")
  }

  test("branch-relative sequencing: older branch file masked, reinsert survives") {
    val dir = mk("beqs_seq")
    MemCatalog.createBranch(dir, "b")
    spark.sql("INSERT INTO graftmem.tmp.beqs_seq.branch_b VALUES " +
      "(CAST(3 AS BIGINT), CAST(777 AS BIGINT))") // branch-born, pre-delete
    spark.sql("DELETE FROM graftmem.tmp.beqs_seq.branch_b WHERE k = 3")
    spark.sql("INSERT INTO graftmem.tmp.beqs_seq.branch_b VALUES " +
      "(CAST(3 AS BIGINT), CAST(888 AS BIGINT))") // post-delete: survives
    val k3 = rows("graftmem.tmp.beqs_seq.branch_b").filter(_._1 == 3L)
    assert(k3 == Set((3L, 888L)),
      s"pre-delete rows (fork AND branch-born) masked, reinsert kept: $k3")
    MemCatalog.dropBranch(dir, "b")
  }

  test("fast-forward converts born eq-deletes to vectors; no lines carried, fork files by name") {
    val dir = mk("beqs_pub")
    val forkNames = MemCatalog.liveEntries(dir).map(_.name).toSet
    MemCatalog.createBranch(dir, "b")
    spark.sql("DELETE FROM graftmem.tmp.beqs_pub.branch_b WHERE k = 2")
    spark.sql("INSERT INTO graftmem.tmp.beqs_pub.branch_b VALUES " +
      "(CAST(2 AS BIGINT), CAST(999 AS BIGINT))")
    val branchView = rows("graftmem.tmp.beqs_pub.branch_b")
    MemCatalog.fastForward(dir, "b")
    // published content == the audited branch head, bit for bit
    assert(rows("graftmem.tmp.beqs_pub") == branchView)
    // conversion: zero #eqdel lines on main, masks ride deletion vectors,
    // every fork file still live by name (zero data-file rewrites)
    assert(MemCatalog.eqDeletes(dir).isEmpty)
    val live = MemCatalog.liveEntries(dir)
    assert(forkNames.subsetOf(live.map(_.name).toSet))
    assert(live.exists(e => forkNames(e.name) && e.dv.nonEmpty),
      "the masked fork file must carry a vector")
    // maintenance materializes the vectors to the same content
    MemCatalog.compact(dir)
    assert(rows("graftmem.tmp.beqs_pub") == branchView)
    MemCatalog.dropBranch(dir, "b")
  }

  test("no forward mask: a main commit after publish is untouched by the published delete") {
    val dir = mk("beqs_fwd")
    MemCatalog.createBranch(dir, "b")
    spark.sql("DELETE FROM graftmem.tmp.beqs_fwd.branch_b WHERE k = 4")
    // two more branch commits push the delete's branch-relative sequence
    // to base+1 while inserts sit at base+2, base+3 — carried as a line,
    // seq base+1 < a future main file's seq would still be safe, but the
    // INSERTS' seqs (base+2, base+3) re-stamp at publish; the DELETE must
    // not survive as a line at ANY branch-relative sequence
    spark.sql("INSERT INTO graftmem.tmp.beqs_fwd.branch_b VALUES " +
      "(CAST(200 AS BIGINT), CAST(1 AS BIGINT))")
    spark.sql("DELETE FROM graftmem.tmp.beqs_fwd.branch_b WHERE k = 5")
    MemCatalog.fastForward(dir, "b") // publishes at version 2
    MemCatalog.dropBranch(dir, "b")
    // version-3 commit REINTRODUCES k=4 and k=5: a carried #eqdel line at
    // branch-relative seq (base+2=3) would outrank these seq-3 files and
    // silently mask them — the conversion must have prevented that
    spark.sql("INSERT INTO graftmem.tmp.beqs_fwd VALUES " +
      "(CAST(4 AS BIGINT), CAST(444 AS BIGINT)), (CAST(5 AS BIGINT), CAST(555 AS BIGINT))")
    val r = rows("graftmem.tmp.beqs_fwd")
    assert(r.contains((4L, 444L)) && r.contains((5L, 555L)),
      s"post-publish commits must never be masked by published branch deletes: $r")
    assert(!r.exists(t => t._1 == 4L && t._2 != 444L) &&
      !r.exists(t => t._1 == 5L && t._2 != 555L),
      "the published deletes themselves must still hold")
  }

  test("drop + vacuum reclaims the orphaned branch eq sidecar") {
    val dir = mk("beqs_gc")
    MemCatalog.createBranch(dir, "b")
    spark.sql("DELETE FROM graftmem.tmp.beqs_gc.branch_b WHERE k = 1")
    import scala.jdk.CollectionConverters._
    def eqSidecars: Seq[String] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_eq-")).toSeq
      finally ls.close()
    }
    assert(eqSidecars.nonEmpty)
    MemCatalog.fastForward(dir, "b") // converts to vectors: sidecar now branch-only
    MemCatalog.dropBranch(dir, "b")
    MemCatalog.vacuum(dir, keepVersions = 1)
    assert(eqSidecars.isEmpty, "no manifest references the sidecar after drop+vacuum")
    // the published state still holds after the reclaim
    assert(!rows("graftmem.tmp.beqs_gc").exists(_._1 == 1L))
  }
}
