package graft.sources.v2

import graft.TempDirs
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Shallow-clone contracts behind the oracle-gated `dsv2_shallow_clone`
  * query: a source with pending equality deletes refuses (sequence scoping
  * does not survive re-stamping), clone-local vacuum can never reclaim a
  * source file (the safety half of Delta's documented source-vacuum
  * caveat), and the clone's v0 time-travels to the exact clone-point rows.
  */
class MemCloneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  test("a source with pending equality deletes refuses to clone") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.cls_eq")
    spark.sql(
      """CREATE TABLE graftmem.tmp.cls_eq
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(id AS BIGINT) AS k, CAST(id AS BIGINT) AS v
        |FROM range(0, 9)""".stripMargin)
    spark.sql("DELETE FROM graftmem.tmp.cls_eq WHERE k = 3") // eq sidecar
    val dst = tempDir("graft-clone-refuse")
    val e = intercept[IllegalArgumentException] {
      MemCatalog.cloneTable(tdir("cls_eq"), dst)
    }
    assert(e.getMessage.contains("OPTIMIZE"))
    // compact materializes the delete; the clone then succeeds
    MemCatalog.compact(tdir("cls_eq"))
    MemCatalog.deleteRecursively(dst)
    Files.createDirectories(dst)
    MemCatalog.cloneTable(tdir("cls_eq"), dst)
    assert(MemCatalog.currentVersion(dst) == 0)
    MemCatalog.deleteRecursively(dst)
  }

  test("promote is idempotent and time travel to pre-promote versions still reads") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.cls_p")
    spark.sql("CREATE TABLE graftmem.tmp.cls_p (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.cls_p SELECT id, id * 2 FROM range(0, 10)")
    val src = tdir("cls_p")
    val dst = tdir("cls_p_clone")
    MemCatalog.deleteRecursively(dst)
    MemCatalog.cloneTable(src, dst)
    val rows = spark.sql("SELECT k, v FROM graftmem.tmp.cls_p_clone")
      .collect().map(_.toString).toSet
    val n1 = MemCatalog.promoteClone(dst)
    assert(n1 >= 1, "the first promote must localize the references")
    val n2 = MemCatalog.promoteClone(dst)
    assert(n2 == 0, "a second promote must find nothing absolute left")
    assert(spark.sql("SELECT k, v FROM graftmem.tmp.cls_p_clone")
      .collect().map(_.toString).toSet == rows)
    // v0 (the shallow manifest) still references the live source — time
    // travel works as long as the source survives
    assert(spark.sql("SELECT k, v FROM graftmem.tmp.cls_p_clone VERSION AS OF 0")
      .collect().map(_.toString).toSet == rows)
    MemCatalog.deleteRecursively(dst)
  }

  test("clone-local vacuum never reclaims source files; v0 time-travels to the clone point") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.cls_v")
    spark.sql("CREATE TABLE graftmem.tmp.cls_v (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.cls_v SELECT id, id * 2 FROM range(0, 12)")
    val src = tdir("cls_v")
    val dst = tdir("cls_v_clone")
    MemCatalog.deleteRecursively(dst)
    MemCatalog.cloneTable(src, dst)
    val clonePoint = spark.sql("SELECT k, v FROM graftmem.tmp.cls_v")
      .collect().map(_.toString).toSet
    // rewrite EVERYTHING in the clone (retires every source reference),
    // then vacuum the clone down to the head
    spark.sql("UPDATE graftmem.tmp.cls_v_clone SET v = v + 1 WHERE k >= 0")
    val (_, _) = MemCatalog.vacuum(dst, keepVersions = 1)
    import scala.jdk.CollectionConverters._
    val srcFiles = {
      val ls = Files.list(src)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith("_")).toSet
      finally ls.close()
    }
    assert(MemCatalog.liveEntries(src).map(_.name).toSet.subsetOf(srcFiles),
      "every live source file must still exist after the clone's vacuum")
    assert(spark.sql("SELECT k, v FROM graftmem.tmp.cls_v")
      .collect().map(_.toString).toSet == clonePoint,
      "the source must read identically after clone DML + clone vacuum")
    // a fresh clone's v0 travels to the clone point
    MemCatalog.deleteRecursively(dst)
    MemCatalog.cloneTable(src, dst)
    spark.sql("INSERT INTO graftmem.tmp.cls_v_clone VALUES (CAST(77 AS BIGINT), CAST(0 AS BIGINT))")
    val v0 = spark.sql("SELECT k, v FROM graftmem.tmp.cls_v_clone VERSION AS OF 0")
      .collect().map(_.toString).toSet
    assert(v0 == clonePoint, "clone v0 must equal the source at clone time")
    MemCatalog.deleteRecursively(dst)
  }
}
