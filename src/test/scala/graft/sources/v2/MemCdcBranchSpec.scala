package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Branch-targeted CDC apply contracts behind the oracle-gated
  * `dsv2_cdc_branch_apply` query: the branch-chain replay watermark makes
  * a recovered driver's re-committed epoch a no-op, branch sequences stay
  * branch-relative (a later epoch's delete masks an earlier epoch's
  * insert, not vice versa), and a stream configured against a missing
  * audit branch refuses at start instead of silently applying to main.
  */
class MemCdcBranchSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  private def mk(name: String): java.nio.file.Path = {
    spark.sql(s"DROP TABLE IF EXISTS graftmem.tmp.$name")
    spark.sql(
      s"""CREATE TABLE graftmem.tmp.$name
         |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
         |SELECT CAST(id AS BIGINT) AS k, CAST(id * 10 AS BIGINT) AS v
         |FROM range(0, 5)""".stripMargin) // v0
    tdir(name)
  }

  test("replayed epoch no-ops against the branch-chain watermark") {
    val dir = mk("cdcbr_replay")
    MemCatalog.createBranch(dir, "a")
    val del = MemCatalog.writeEqDelete(dir, Seq(Seq(MemCatalog.canonEq(1L))))
    assert(MemCatalog.commitStreamingEpochCdc(dir, Some("a"), "q1", 0L,
      Seq.empty, Seq("k"), Some(del)), "first commit of epoch 0 publishes")
    val headAfter = MemCatalog.branchHead(dir, "a")
    assert(!MemCatalog.commitStreamingEpochCdc(dir, Some("a"), "q1", 0L,
      Seq.empty, Seq("k"), Some(del)), "replay of epoch 0 must no-op")
    assert(MemCatalog.branchHead(dir, "a") == headAfter,
      "a replayed epoch advances nothing on the branch chain")
    assert(MemCatalog.commitStreamingEpochCdc(dir, Some("a"), "q1", 1L,
      Seq.empty, Seq("k"), None), "the next epoch still publishes")
    MemCatalog.dropBranch(dir, "a")
  }

  test("branch-relative sequencing across CDC epochs: later delete masks earlier insert") {
    val dir = mk("cdcbr_seq")
    MemCatalog.createBranch(dir, "a")
    // epoch 0 inserts k=9 via branch DML (stands in for an epoch file)
    spark.sql("INSERT INTO graftmem.tmp.cdcbr_seq.branch_a VALUES " +
      "(CAST(9 AS BIGINT), CAST(90 AS BIGINT))")
    // epoch 1: CDC delete of k=9 at a LATER branch sequence
    val del = MemCatalog.writeEqDelete(dir, Seq(Seq(MemCatalog.canonEq(9L))))
    assert(MemCatalog.commitStreamingEpochCdc(dir, Some("a"), "q1", 0L,
      Seq.empty, Seq("k"), Some(del)))
    val ks = spark.sql("SELECT k FROM graftmem.tmp.cdcbr_seq.branch_a")
      .collect().map(_.getLong(0)).toSet
    assert(!ks.contains(9L), "the later epoch's delete masks the earlier insert")
    assert(ks == Set(0L, 1L, 2L, 3L, 4L), s"fork rows intact: $ks")
    MemCatalog.dropBranch(dir, "a")
  }

  test("a stream against a missing audit branch refuses at start") {
    val dir = mk("cdcbr_refuse")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.cdcbr_refuse_log")
    spark.sql(
      """CREATE TABLE graftmem.tmp.cdcbr_refuse_log
        |(op STRING, k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.applyCdcTo'='tmp.cdcbr_refuse', 'graft.cdcOp'='op',
        |               'graft.applyCdcBranch'='nope')""".stripMargin)
    val src = tempDir("graft-cdcbr-refuse-src")
    val ckpt = tempDir("graft-cdcbr-refuse-ckpt")
    spark.sql("SELECT 'I' AS op, CAST(7 AS BIGINT) AS k, CAST(70 AS BIGINT) AS v")
      .write.mode("overwrite").parquet(src.resolve("d").toString)
    val q = spark.readStream.schema("op STRING, k BIGINT, v BIGINT")
      .parquet(src.resolve("d").toString)
      .writeStream.option("checkpointLocation", ckpt.toString)
      .toTable("graftmem.tmp.cdcbr_refuse_log")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("does not exist") ||
      Option(e.getCause).exists(_.getMessage.contains("does not exist")),
      s"expected a loud missing-branch refusal, got: ${e.getMessage}")
    assert(MemCatalog.currentVersion(dir) == 0,
      "nothing may publish to main when the audit branch is missing")
  }
}
