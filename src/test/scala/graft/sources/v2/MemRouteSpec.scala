package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Transform-aware write routing (`graft.partitionRoute`): the fanout
  * writer + clustered-distribution contracts the oracle-gated
  * `dsv2_partition_route` doesn't cover — the days transform, the
  * mutual-exclusion refusal, constraint enforcement through the fanout
  * path, and null transform sources.
  */
class MemRouteSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftroutespec_$tag"
    val root = tempDir(s"graft-route-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("days routing: one plain INSERT yields day-pure files") {
    val (cat, root) = fresh("days")
    spark.sql(
      s"""CREATE TABLE $cat.t.ev (ts BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='days(ts)',
         |               'graft.partitionRoute'='true', 'clusterParts'='3')""".stripMargin)
    // three distinct days, interleaved arrival order
    spark.sql(s"INSERT INTO $cat.t.ev " +
      "SELECT (id % 3) * 86400 + id, id FROM range(0, 90)")
    val entries = MemCatalog.liveEntries(root.resolve("t__ev"))
    val ranges = entries.flatMap(_.stats.get("pt:days(ts)"))
    assert(entries.size == 3 && ranges.size == 3,
      s"expected 3 day-pure files, got ${entries.size} (${ranges.size} stamped)")
    assert(ranges.forall { case (lo, hi) => lo == hi },
      s"every file must hold exactly one day, got $ranges")
    assert(ranges.map(_._1).sorted == Seq(0L, 1L, 2L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ev").head().getLong(0) == 90)
  }

  test("partitionRoute and clusterBy refuse together") {
    val (cat, _) = fresh("excl")
    spark.sql(
      s"""CREATE TABLE $cat.t.bad (k BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true', 'clusterBy'='k')""".stripMargin)
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.t.bad VALUES (1)"))
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("CHECK constraints gate every fanout leg; a violating INSERT publishes nothing") {
    val (cat, root) = fresh("check")
    spark.sql(
      s"""CREATE TABLE $cat.t.c (k BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true', 'check.pos'='k >= 0')""".stripMargin)
    intercept[Exception](
      spark.sql(s"INSERT INTO $cat.t.c SELECT id - 5 FROM range(0, 10)"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.c").head().getLong(0) == 0,
      "a violating routed INSERT must publish no file")
    // staged leftovers are confined to the (aborted) inflight dir
    assert(MemCatalog.liveEntries(root.resolve("t__c")).isEmpty)
  }

  test("streaming epochs route too: writeStream.toTable yields partition-pure files") {
    val (cat, root) = fresh("stream")
    val ss = spark.newSession()
    ss.conf.set(s"spark.sql.catalog.$cat", classOf[MemCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    ss.sql(
      s"""CREATE TABLE $cat.t.s (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(3,k)',
         |               'graft.partitionRoute'='true')""".stripMargin)
    val src = tempDir("graft-route-stream-src")
    ss.range(0, 30).selectExpr("id AS k", "id * 2 AS v")
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val ckpt = tempDir("graft-route-stream-ckpt")
    val q = ss.readStream.schema("k BIGINT, v BIGINT").parquet(src.toString)
      .writeStream.option("checkpointLocation", ckpt.toString)
      .toTable(s"$cat.t.s")
    try q.processAllAvailable() finally q.stop()
    assert(ss.sql(s"SELECT count(*) FROM $cat.t.s").head().getLong(0) == 30)
    val ranges = MemCatalog.liveEntries(root.resolve("t__s"))
      .flatMap(_.stats.get("pt:bucket(3,k)"))
    assert(ranges.nonEmpty && ranges.forall { case (lo, hi) => lo == hi },
      s"streamed files must be partition-pure, got $ranges")
    assert(ranges.map(_._1).toSet == Set(0L, 1L, 2L))
  }

  test("NULL transform sources route to their own file, rows intact") {
    val (cat, root) = fresh("nulls")
    spark.sql(
      s"""CREATE TABLE $cat.t.n (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.n " +
      "SELECT CASE WHEN id < 4 THEN id ELSE NULL END, id FROM range(0, 8)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.n").head().getLong(0) == 8)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.n WHERE k IS NULL")
      .head().getLong(0) == 4)
    // null-keyed rows land in files with NO pt stamp (unknown partition),
    // non-null files stay pure
    val entries = MemCatalog.liveEntries(root.resolve("t__n"))
    val stamped = entries.flatMap(_.stats.get("pt:bucket(2,k)"))
    assert(stamped.forall { case (lo, hi) => lo == hi },
      s"non-null files must stay pure, got $stamped")
  }
}
