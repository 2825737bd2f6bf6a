package graft.sources.v2

import graft.TempDirs
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Write-time CDC sidecar contracts under the oracle-gated query
  * (`dsv2_cdc_sidecar`): the sidecar is a pure accelerator — every
  * degraded state (torn pair, vacuumed commit, pre-sidecar history)
  * falls back to the read-side snapshot diff with identical rows.
  */
class MemCdcSidecarSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  private def mk(name: String): java.nio.file.Path = {
    spark.sql(s"DROP TABLE IF EXISTS graftmem.tmp.$name")
    spark.sql(
      s"""CREATE TABLE graftmem.tmp.$name AS
         |SELECT CAST(id % 9 AS BIGINT) AS k, CAST(id AS BIGINT) AS v
         |FROM range(0, 90)""".stripMargin) // v0
    spark.sql(s"UPDATE graftmem.tmp.$name SET v = v + 100 WHERE k % 3 = 1") // v1: COW
    tdir(name)
  }

  private def drain(table: String): Seq[(Long, Long, String)] = {
    val ckpt = tempDir("graft-cdcside-ckpt")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = spark.readStream
      .option("changefeed", "true").option("netChanges", "true")
      .option("startingVersion", 1)
      .table(table)
      .select("k", "v", "_change_type")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized {
          got ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(ckpt)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
    got.toSeq.sorted
  }

  test("torn pair (crash window) falls back to the diff with identical rows") {
    val dir = mk("scside_torn")
    assert(MemCdcSidecar.existsFor(dir, 1))
    val viaSidecar = drain("graftmem.tmp.scside_torn")
    assert(viaSidecar.exists(_._3 == "update_preimage"))
    // a crash between the two links leaves one file: the reader must
    // trust NOTHING of the pair
    Files.delete(dir.resolve(MemCdcSidecar.postName(1)))
    assert(!MemCdcSidecar.existsFor(dir, 1))
    assert(drain("graftmem.tmp.scside_torn") == viaSidecar,
      "the diff fallback must emit exactly the sidecar's rows")
  }

  test("publish is replay-safe: an existing pair is never clobbered") {
    val dir = mk("scside_replay")
    val before = Files.readAllBytes(dir.resolve(MemCdcSidecar.preName(1)))
    // a replayed publish of the same version stages fresh temps and must
    // leave the existing pair byte-identical, with no temps behind
    val staged = MemCdcSidecar.stage(dir, MemCatalog.readSchema(dir),
      removed = Seq.empty, added = Seq.empty)
    MemCdcSidecar.publish(dir, 1, staged)
    assert(Files.readAllBytes(dir.resolve(MemCdcSidecar.preName(1))).sameElements(before))
    import scala.jdk.CollectionConverters._
    val ls = Files.list(dir)
    try assert(!ls.iterator().asScala.exists(_.getFileName.toString.startsWith("_cdcstage-")))
    finally ls.close()
  }

  test("vacuum drops sidecars with their manifest and reclaims stage temps") {
    val dir = mk("scside_vac")
    spark.sql("INSERT INTO graftmem.tmp.scside_vac " +
      "SELECT CAST(id AS BIGINT), CAST(id AS BIGINT) FROM range(500, 505)") // v2
    spark.sql("UPDATE graftmem.tmp.scside_vac SET v = v + 1 WHERE k % 4 = 2") // v3: COW
    assert(MemCdcSidecar.existsFor(dir, 1) && MemCdcSidecar.existsFor(dir, 3))
    val orphan = Files.createTempFile(dir, "_cdcstage-x", ".tmp") // lost-race leftover
    MemCatalog.vacuum(dir, keepVersions = 1) // keeps v3 only
    assert(!MemCdcSidecar.existsFor(dir, 1), "v1's sidecars drop with its manifest")
    assert(MemCdcSidecar.existsFor(dir, 3), "the retained commit keeps its pair")
    assert(!Files.exists(orphan), "stage temps are lost-race leftovers")
    // the table itself is untouched by the reclaim
    assert(spark.table("graftmem.tmp.scside_vac").count() == 95)
  }
}
