package graft.sources.v2

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Metadata-table contracts behind the oracle-gated `dsv2_metadata_tables`
  * query: the files relation mirrors the live manifest entry-for-entry,
  * history hides vacuumed versions (it reports exactly what time travel
  * can still reach), MoR deletion vectors and applicable eq-deletes
  * surface per file, and a REAL table whose flat name collides with a
  * handle suffix shadows the handle (resolution order).
  */
class MemMetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  test("files relation mirrors the live manifest; history hides vacuumed versions") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.meta_t")
    spark.sql("CREATE TABLE graftmem.tmp.meta_t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.meta_t SELECT id, id FROM range(0, 10)")
    spark.sql("INSERT INTO graftmem.tmp.meta_t SELECT id, id FROM range(10, 15)")
    val dir = tdir("meta_t")
    val live = MemCatalog.liveEntries(dir)
      .map(e => (e.name, e.stats.get("#rows").map(_._1), MemCatalog.seqOf(e)))
      .toSet
    val rel = spark.sql("SELECT name, n_rows, seq FROM graftmem.tmp.meta_t.files")
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .toSet
    assert(rel == live, "the files relation must mirror the live manifest")
    val preVersions = spark.sql("SELECT version FROM graftmem.tmp.meta_t.history")
      .collect().map(_.getInt(0)).toSet
    assert(preVersions == Set(0, 1, 2))
    MemCatalog.vacuum(dir, keepVersions = 1)
    val postVersions = spark.sql("SELECT version FROM graftmem.tmp.meta_t.history")
      .collect().map(_.getInt(0)).toSet
    assert(postVersions == Set(2),
      s"history must report only retained snapshots, got $postVersions")
  }

  test("MoR vectors and eq-deletes surface per file") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.meta_m")
    spark.sql(
      """CREATE TABLE graftmem.tmp.meta_m
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(id AS BIGINT) AS k, CAST(id AS BIGINT) AS v
        |FROM range(0, 9)""".stripMargin)
    spark.sql("DELETE FROM graftmem.tmp.meta_m WHERE v = 3") // positional DV
    spark.sql("DELETE FROM graftmem.tmp.meta_m WHERE k = 5") // eq-delete sidecar
    val rows = spark.sql(
      "SELECT has_dv, n_eqdels FROM graftmem.tmp.meta_m.files")
      .collect().map(r => (r.getBoolean(0), r.getInt(1)))
    assert(rows.exists(_._1), "at least one file must carry a deletion vector")
    assert(rows.exists(_._2 > 0), "the eq-delete must apply to at least one file")
  }

  test("branch-scoped files/history read the branch chain, never main") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.meta_b")
    spark.sql("CREATE TABLE graftmem.tmp.meta_b (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.meta_b SELECT id, id FROM range(0, 6)")
    val dir = tdir("meta_b")
    MemCatalog.createBranch(dir, "b")
    spark.sql("INSERT INTO graftmem.tmp.meta_b.branch_b SELECT id, id FROM range(6, 9)")
    val mainFiles = spark.sql("SELECT name FROM graftmem.tmp.meta_b.files")
      .collect().map(_.getString(0)).toSet
    val branchFiles = spark.sql("SELECT name FROM graftmem.tmp.meta_b.branch_b.files")
      .collect().map(_.getString(0)).toSet
    assert(mainFiles.subsetOf(branchFiles) && branchFiles.size > mainFiles.size,
      "the branch files relation must show fork files plus the unpublished append")
    assert(MemCatalog.liveEntries(dir).map(_.name).toSet == mainFiles,
      "main's relation must not see branch work")
    val bh = spark.sql("SELECT version, op FROM graftmem.tmp.meta_b.branch_b.history")
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(bh.keySet == Set(0, 1), s"branch history = fork + one append, got $bh")
    MemCatalog.dropBranch(dir, "b")
  }

  test("retention policy: unsetting the property stops auto-vacuum") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.meta_rp")
    spark.sql("CREATE TABLE graftmem.tmp.meta_rp (k BIGINT)")
    spark.sql("ALTER TABLE graftmem.tmp.meta_rp " +
      "SET TBLPROPERTIES('graft.autoVacuumKeep'='1')")
    val dir = tdir("meta_rp")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO graftmem.tmp.meta_rp VALUES (CAST($i AS BIGINT))"))
    MemCatalog.awaitCommitHooks()
    def versions(): Set[Int] =
      spark.sql("SELECT version FROM graftmem.tmp.meta_rp.history")
        .collect().map(_.getInt(0)).toSet
    assert(versions() == Set(3), s"keep=1 must retain only the head, got ${versions()}")
    spark.sql("ALTER TABLE graftmem.tmp.meta_rp " +
      "UNSET TBLPROPERTIES('graft.autoVacuumKeep')")
    (4 to 5).foreach(i =>
      spark.sql(s"INSERT INTO graftmem.tmp.meta_rp VALUES (CAST($i AS BIGINT))"))
    MemCatalog.awaitCommitHooks()
    assert(versions() == Set(3, 4, 5),
      s"with the policy dropped the log must grow again, got ${versions()}")
  }

  test("refs relation: drop releases the lease row; empty landscape is empty") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.refspec")
    spark.sql("CREATE TABLE graftmem.tmp.refspec (k BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.refspec VALUES (CAST(1 AS BIGINT))")
    val dir = MemCatalog.tableDir(spark, "graftmem.tmp.refspec")
    assert(spark.sql("SELECT count(*) FROM graftmem.tmp.refspec.refs")
      .head().getLong(0) == 0, "no refs yet — the relation must be empty")
    MemCatalog.createTag(dir, "t1", 1)
    MemCatalog.createBranch(dir, "b1")
    assert(spark.sql(
      "SELECT name, type FROM graftmem.tmp.refspec.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("b1", "branch"), ("t1", "tag")))
    MemCatalog.dropTag(dir, "t1")
    MemCatalog.dropBranch(dir, "b1")
    assert(spark.sql("SELECT count(*) FROM graftmem.tmp.refspec.refs")
      .head().getLong(0) == 0, "dropped refs must leave the landscape")
    spark.sql("DROP TABLE graftmem.tmp.refspec")
  }

  test("a real table of the flat name shadows the metadata handle") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.history")
    spark.sql("CREATE TABLE graftmem.tmp.history AS " +
      "SELECT CAST(1 AS BIGINT) AS real_col")
    val cols = spark.table("graftmem.tmp.history").columns.toSeq
    assert(cols == Seq("real_col"),
      "a real table named 'history' must win over the handle")
    spark.sql("DROP TABLE graftmem.tmp.history")
  }
}
