package graft.sources.v2

import graft.TempDirs
import graft.sparkutil.ScanMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The ATOMICITY contracts of the writable staging catalog — the part the
  * oracle-gated round-trip (`dsv2_catalog_ctas`) can't show: what happens
  * when the write FAILS halfway.
  */
class MemCatalogSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(tag: String): String = {
    val name = s"graftmemspec_$tag"
    val root = tempDir(s"graft-memcat-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    name
  }

  /** (files kept, files total) of the one catalog scan `df` ran — read
    * after an action on `df` itself.
    */
  private def pruned(df: DataFrame): (Int, Int) = {
    val scans = ScanMetrics.pruned(df)
    assert(scans.size == 1, s"expected one catalog scan: $scans")
    val (_, (kept, total)) = scans.head
    (kept.toInt, total.toInt)
  }

  private def prunedBy(df: DataFrame): (Int, Int) = { df.collect(); pruned(df) }

  test("CTAS round-trip: create, read back, drop") {
    val cat = freshCatalog("rt")
    spark.sql(s"CREATE TABLE $cat.t.base AS SELECT id, id * 2 AS dbl, " +
      "concat('v', id) AS s FROM range(100)")
    val back = spark.sql(s"SELECT count(*) AS n, sum(dbl) AS sd FROM $cat.t.base").collect()(0)
    assert(back.getLong(0) == 100 && back.getLong(1) == 9900)
    // column pruning reaches the catalog scan
    val p = spark.sql(s"SELECT s FROM $cat.t.base").queryExecution.executedPlan.toString
    assert(p.contains("cols=s"), s"pruned read expected:\n$p")
    spark.sql(s"DROP TABLE $cat.t.base")
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $cat.t.base").collect())
  }

  test("a failing CTAS leaves NO table (staged changes aborted)") {
    val cat = freshCatalog("abort")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t.bad AS " +
        "SELECT id, assert_true(id < 10, 'boom') AS a FROM range(100)").collect()
    }
    val err = intercept[AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.t.bad").collect()
    }
    assert(err.getMessage.toLowerCase.contains("table or view not found") ||
      err.getCondition != null && err.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND"),
      s"failed CTAS must publish nothing, got: ${err.getMessage}")
  }

  test("a failing REPLACE keeps the OLD table intact and readable") {
    val cat = freshCatalog("rtas")
    spark.sql(s"CREATE TABLE $cat.t.keep AS SELECT id FROM range(7)")
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.t.keep AS " +
        "SELECT id, assert_true(false, 'boom') AS a FROM range(100)").collect()
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.keep").collect()(0).getLong(0) == 7,
      "old data must survive a failed replace")
  }

  test("INSERT INTO appends through the two-phase commit; nulls survive the codec") {
    val cat = freshCatalog("ins")
    spark.sql(s"CREATE TABLE $cat.t.app AS SELECT id, concat('v', id) AS s FROM range(3)")
    spark.sql(s"INSERT INTO $cat.t.app VALUES (99, NULL)")
    val rows = spark.sql(s"SELECT id, s FROM $cat.t.app ORDER BY id").collect()
    assert(rows.length == 4)
    assert(rows.last.getLong(0) == 99 && rows.last.isNullAt(1))
  }

  test("DELETE: exact-match shapes take the metadata path; range shapes fall back to COW") {
    val cat = freshCatalog("del")
    spark.sql(s"CREATE TABLE $cat.t.d AS SELECT id, id % 4 AS grp FROM range(40)")
    // exact-match: OptimizeMetadataOnlyDeleteFromTable converts the
    // rewritten plan back to the cheap deleteWhere (canDeleteWhere = true)
    spark.sql(s"DELETE FROM $cat.t.d WHERE grp = 1")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.d").collect()(0).getLong(0) == 30)
    // a range predicate is OUTSIDE canDeleteWhere's shapes — before
    // SupportsRowLevelOperations it was refused; now the group-based COW
    // rewrite evaluates it in Spark and swaps whole files, so it WORKS
    spark.sql(s"DELETE FROM $cat.t.d WHERE id > 35")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.d").collect()(0).getLong(0) == 27,
      "the COW rewrite must delete 36/38/39 (37 went with grp=1)")
    // IN stays on the metadata path
    spark.sql(s"DELETE FROM $cat.t.d WHERE grp IN (2, 3)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.d").collect()(0).getLong(0) == 9)
  }

  test("the V2 catalog function resolves by SQL identifier and matches the generator") {
    val r = spark.sql(
      "SELECT count(*) AS n, count(CASE WHEN graftcat.gen.knuth_val(id) = val THEN 1 END) AS ok " +
        "FROM graftcat.gen.seq_1000_2").collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 1000,
      "knuth_val(id) must reproduce the connector's val column on every row")
    intercept[Exception](
      spark.sql("SELECT graftcat.gen.nope(1)").collect())
    // the AGGREGATE half of the SPI: the checksum runs the distributed
    // partial/merge protocol (plan carries a partial+final aggregate
    // pair) and, being order-independent, must equal the sequential fold
    val aggDf = spark.sql(
      "SELECT graftcat.gen.knuth_checksum(id) AS c FROM graftcat.gen.seq_1000_4")
    val plan = aggDf.queryExecution.executedPlan.toString
    assert("(?i)aggregate".r.findAllIn(plan).size >= 2,
      s"the V2 aggregate must plan partial + final stages:\n$plan")
    val expect = (0L until 1000L).map(SeqSource.valueOf).foldLeft(0L)((a, v) => (a + v) % 1000003L)
    assert(aggDf.collect()(0).getLong(0) == expect,
      "any task schedule must reach the sequential fold's checksum")
  }

  test("_file metadata column reports row provenance; SHOW TABLES lists the namespace") {
    val cat = freshCatalog("meta")
    spark.sql(s"CREATE TABLE $cat.t.prov (id BIGINT, s STRING)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $cat.t.prov VALUES ($i, 'r$i')"))
    val files = spark.sql(s"SELECT _file FROM $cat.t.prov").collect().map(_.getString(0))
    assert(files.length == 3 && files.distinct.length == 3,
      "three single-row inserts must land in three part files, each row naming its own")
    assert(files.forall(_.startsWith("part-")))
    // unselected metadata costs nothing: the plain read's scan prunes it
    val p = spark.sql(s"SELECT id FROM $cat.t.prov").queryExecution.executedPlan.toString
    assert(p.contains("cols=id"), s"unselected _file must not be decoded:\n$p")
    val listed = spark.sql(s"SHOW TABLES IN $cat.t").collect().map(_.getString(1))
    assert(listed.contains("prov"))
  }

  test("UPDATE rewrites ONLY the part files containing matching rows (file-granularity COW)") {
    val cat = freshCatalog("updgran")
    spark.sql(s"CREATE TABLE $cat.t.u (id BIGINT, grp BIGINT, v BIGINT)")
    // two inserts → disjoint part-file sets per group
    spark.sql(s"INSERT INTO $cat.t.u SELECT id, 0L AS grp, id AS v FROM range(10)")
    spark.sql(s"INSERT INTO $cat.t.u SELECT id, 1L AS grp, id AS v FROM range(10, 20)")
    def filesByGrp(): Map[Long, Set[String]] =
      spark.sql(s"SELECT grp, _file FROM $cat.t.u").collect()
        .groupBy(_.getLong(0)).map { case (g, rs) => g -> rs.map(_.getString(1)).toSet }
    val before = filesByGrp()
    assert((before(0L) intersect before(1L)).isEmpty, "fixture must separate groups by file")
    spark.sql(s"UPDATE $cat.t.u SET v = v * 100 WHERE grp = 1")
    val after = filesByGrp()
    // the untouched group's files survive BY NAME: runtime group filtering
    // kept them out of the scan, so the COW never rewrote them
    assert(after(0L) == before(0L),
      s"grp=0 files must be untouched: before=${before(0L)} after=${after(0L)}")
    assert((after(1L) intersect before(1L)).isEmpty,
      "grp=1 files must have been replaced by the COW write")
    val r = spark.sql(s"SELECT sum(v) AS sv, count(*) AS n FROM $cat.t.u").collect()(0)
    assert(r.getLong(1) == 20 && r.getLong(0) == 45 + 100 * (10L to 19L).sum)
  }

  test("a failing UPDATE aborts the group replacement: old files stay readable, contents unchanged") {
    val cat = freshCatalog("updabort")
    spark.sql(s"CREATE TABLE $cat.t.f AS SELECT id, id % 2 AS grp, id AS v FROM range(20)")
    val before = spark.sql(s"SELECT sum(v) AS sv, count(*) AS n FROM $cat.t.f").collect()(0)
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.t.f SET v = CASE WHEN v >= 0 " +
        "THEN CAST(raise_error('boom') AS BIGINT) ELSE v END WHERE grp = 1").collect()
    }
    val after = spark.sql(s"SELECT sum(v) AS sv, count(*) AS n FROM $cat.t.f").collect()(0)
    assert(after.getLong(0) == before.getLong(0) && after.getLong(1) == before.getLong(1),
      "a failed group-replacement write must leave the pre-statement table intact")
  }

  test("MERGE INTO upserts: matched rows update, unmatched rows insert") {
    val cat = freshCatalog("mrg")
    spark.sql(s"CREATE TABLE $cat.t.m AS SELECT id AS k, id AS v FROM range(5)")
    spark.sql(
      s"""MERGE INTO $cat.t.m t
         |USING (SELECT id AS k, id * 10 AS v FROM range(3, 8)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.t.m ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L to 2L).map(k => (k, k)) ++
      (3L to 4L).map(k => (k, k + k * 10)) ++ (5L to 7L).map(k => (k, k * 10))
    assert(got == want, s"merge result mismatch: $got")
  }

  /** Drives the append SPI of table dir `dir` (one `id BIGINT` column)
    * directly: one task of write `queryId` stages `ids` under its own
    * `_inflight-<queryId>`; the driver commit or abort is left to the caller.
    */
  private def stagedAppend(dir: java.nio.file.Path, queryId: String, ids: Seq[Long])
      : (MemBatchWrite, Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    val inflight = Some(s"_inflight-$queryId")
    val bw = new MemBatchWrite(dir, schema, inflight, MemWritePolicy.Empty)
    val w = new MemWriterFactory(dir.toString, schema, inflight, MemWritePolicy.Empty)
      .createWriter(0, 0L)
    ids.foreach(i => w.write(org.apache.spark.sql.catalyst.InternalRow(i)))
    (bw, Array(w.commit()))
  }

  test("concurrent appends stage per-write: one commit never deletes the other's staged parts") {
    val cat = freshCatalog("conc")
    spark.sql(s"CREATE TABLE $cat.t.c (id BIGINT)")
    // drive the write SPI directly with two interleaved writes — the
    // in-process stand-in for two jobs appending to the same table
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__c")
    val (bw1, m1) = stagedAppend(dir, "q1", Seq(1L, 2L))
    val (bw2, m2) = stagedAppend(dir, "q2", Seq(3L, 4L)) // staged but not yet committed
    bw1.commit(m1) // must NOT sweep q2's staged parts
    bw2.commit(m2)
    val ids = spark.sql(s"SELECT id FROM $cat.t.c ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L),
      s"both appends must survive interleaved commits, got $ids")
  }

  test("an aborted append deletes its staged part and its own staging dir") {
    val cat = freshCatalog("abortdir")
    spark.sql(s"CREATE TABLE $cat.t.a (id BIGINT)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__a")
    def inflightDirs(): Seq[String] = {
      val ls = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_inflight")).toSeq
      } finally ls.close()
    }
    val (bw, msgs) = stagedAppend(dir, "q1", Seq(1L))
    assert(inflightDirs() == Seq("_inflight-q1"), "the write stages under its own dir")
    bw.abort(msgs)
    assert(inflightDirs().isEmpty, s"abort must remove the write's staging dir: ${inflightDirs()}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.a").collect()(0).getLong(0) == 0L,
      "an aborted append publishes nothing")
  }

  test("a stranded .old- directory is neither listed nor lost: loadTable restores it") {
    val cat = freshCatalog("strand")
    val root = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"CREATE TABLE $cat.t.s AS SELECT id FROM range(9)")
    // simulate a crash in the RTAS publish window: target moved aside,
    // staging never moved in
    java.nio.file.Files.move(root.resolve("t__s"),
      root.resolve("t__s.old-deadbeef"))
    val listed = spark.sql(s"SHOW TABLES IN $cat.t").collect().map(_.getString(1))
    assert(!listed.exists(_.contains(".old-")), "retired dirs must never list as tables")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.s").collect()(0).getLong(0) == 9,
      "loadTable must restore the stranded previously-committed table")
  }

  test("VERSION AS OF pins each snapshot: CTAS=v0, append=v1, COW update=v2, delete=v3") {
    val cat = freshCatalog("tt")
    spark.sql(s"CREATE TABLE $cat.t.v AS SELECT id, id AS v FROM range(10)") // v0
    spark.sql(s"INSERT INTO $cat.t.v VALUES (100, 100)") // v1
    spark.sql(s"UPDATE $cat.t.v SET v = v * 10 WHERE id >= 5") // v2 (COW)
    spark.sql(s"DELETE FROM $cat.t.v WHERE id = 0") // v3 (metadata path)
    def sumAt(ver: Int): (Long, Long) = {
      val r = spark.sql(
        s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.v VERSION AS OF $ver").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(sumAt(0) == ((10L, 45L)), "v0 = the CTAS content")
    assert(sumAt(1) == ((11L, 145L)), "v1 = v0 + the appended row")
    assert(sumAt(2) == ((11L, 10L + (5L to 9L).sum * 10 + 1000L)),
      "v2 = the post-UPDATE image (ids >= 5 scaled, append included)")
    assert(sumAt(3) == ((10L, 10L + (5L to 9L).sum * 10 + 1000L)),
      "v3 = v2 minus the deleted id=0 row")
    val cur = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.v").collect()(0)
    assert((cur.getLong(0), cur.getLong(1)) == sumAt(3), "the plain read IS the latest snapshot")
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t.v VERSION AS OF 9").collect())
  }

  test("TIMESTAMP AS OF resolves to the newest snapshot at or before the time") {
    val cat = freshCatalog("ttts")
    spark.sql(s"CREATE TABLE $cat.t.ts AS SELECT id FROM range(3)") // v0
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $cat.t.ts VALUES (100)") // v1
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val between = fmt.format(java.time.Instant.ofEpochMilli(betweenMs))
    val n = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t.ts TIMESTAMP AS OF '$between'").collect()(0).getLong(0)
    assert(n == 3, "a timestamp between v0 and v1 must read v0")
    val now = fmt.format(java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1000))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.ts TIMESTAMP AS OF '$now'")
      .collect()(0).getLong(0) == 4, "a current timestamp must read the latest snapshot")
    intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t.ts TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
  }

  test("history files stay on disk: a COW update retires files from the manifest, never deletes them") {
    val cat = freshCatalog("tthist")
    spark.sql(s"CREATE TABLE $cat.t.h AS SELECT id, id AS v FROM range(8)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__h")
    val before = MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet
    spark.sql(s"UPDATE $cat.t.h SET v = -v WHERE id >= 0") // rewrites every live file
    val after = MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet
    assert(before.subsetOf(after),
      s"pre-update files must survive on disk for the v0 snapshot: $before vs $after")
    val v0 = spark.sql(s"SELECT sum(v) AS sv FROM $cat.t.h VERSION AS OF 0").collect()(0).getLong(0)
    assert(v0 == 28, "the pre-update snapshot must still read its original content")
  }

  test("streaming tail replays the commit log: one micro-batch per manifest version") {
    val cat = freshCatalog("tail")
    spark.sql(s"CREATE TABLE $cat.t.tl AS SELECT id FROM range(5)") // v0
    spark.sql(s"INSERT INTO $cat.t.tl SELECT id FROM range(10, 13)") // v1
    spark.sql(s"INSERT INTO $cat.t.tl SELECT id FROM range(20, 22)") // v2
    val ckpt = tempDir("graft-tail-spec")
    val q = spark.readStream.table(s"$cat.t.tl")
      .groupBy().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("id").as("s"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .format("memory").queryName("graft_tail_spec").start()
    try {
      q.processAllAvailable()
      val fed = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
      assert(fed == Seq(5L, 3L, 2L),
        s"each commit must arrive as its OWN micro-batch in order, got $fed")
      val r = spark.table("graft_tail_spec").collect()(0)
      assert(r.getLong(0) == 10 && r.getLong(1) == (0L to 4L).sum + 33L + 41L,
        "the drained tail must equal the table's final content")
    } finally q.stop()
    spark.catalog.dropTempView("graft_tail_spec")
    // the pinned-table guard lives in toMicroBatchStream: a time-travel
    // scan can never become a stream
    val pinnedScan = new MemScan(
      java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__tl"),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType),
      version = Some(0))
    intercept[IllegalArgumentException](pinnedScan.toMicroBatchStream("/tmp/never"))
  }

  test("ALTER TABLE ADD COLUMN widens the schema; old files prefix-decode with NULL backfill") {
    val cat = freshCatalog("evo")
    spark.sql(s"CREATE TABLE $cat.t.e AS SELECT id, id * 2 AS dbl FROM range(5)")
    spark.sql(s"ALTER TABLE $cat.t.e ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (100, 200, 'new')")
    val rows = spark.sql(s"SELECT id, dbl, tag FROM $cat.t.e ORDER BY id").collect()
    assert(rows.length == 6)
    assert(rows.take(5).forall(_.isNullAt(2)), "pre-ALTER rows must backfill NULL")
    assert(rows.last.getString(2) == "new")
    // aggregates see the evolved schema uniformly
    val agg = spark.sql(
      s"SELECT count(*) AS n, count(tag) AS n_tag, sum(dbl) AS sd FROM $cat.t.e").collect()(0)
    assert(agg.getLong(0) == 6 && agg.getLong(1) == 1 && agg.getLong(2) == 20 + 200)
    // time travel reads the OLD snapshot under the current (wider) schema
    val v0 = spark.sql(s"SELECT count(*) AS n, count(tag) AS n_tag " +
      s"FROM $cat.t.e VERSION AS OF 0").collect()(0)
    assert(v0.getLong(0) == 5 && v0.getLong(1) == 0)
    // round 14: RENAME/DROP are field-id metadata commits (full
    // contracts in MemSchemaEvolutionSpec); positioned ADD stays refused
    spark.sql(s"ALTER TABLE $cat.t.e RENAME COLUMN dbl TO d2")
    spark.sql(s"ALTER TABLE $cat.t.e DROP COLUMN d2")
    assert(spark.table(s"$cat.t.e").schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(spark.sql(s"SELECT sum(id) FROM $cat.t.e").head().getLong(0) == 110L)
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.t.e ADD COLUMN first_c LONG FIRST"))
  }

  test("vacuum drops old manifests and deletes unreferenced files; current reads survive") {
    val cat = freshCatalog("vac")
    spark.sql(s"CREATE TABLE $cat.t.g AS SELECT id, id AS v FROM range(12)") // v0
    spark.sql(s"UPDATE $cat.t.g SET v = v + 1 WHERE id >= 0") // v1: rewrites every file
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__g")
    val before = MemCatalog.partFiles(dir).size
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.g VERSION AS OF 0").collect()(0).getLong(0) == 12)
    val (mDropped, fDeleted) = MemCatalog.vacuum(dir, keepVersions = 1)
    assert(mDropped == 1 && fDeleted > 0, s"v0's files must be reclaimed ($mDropped, $fDeleted)")
    assert(MemCatalog.partFiles(dir).size == before - fDeleted)
    // the current snapshot is untouched...
    val cur = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.g").collect()(0)
    assert(cur.getLong(0) == 12 && cur.getLong(1) == (1L to 12L).sum)
    // ...and the vacuumed version is gone, loudly
    intercept[Exception](
      spark.sql(s"SELECT count(*) FROM $cat.t.g VERSION AS OF 0").collect())
  }

  test("data skipping: per-file min/max stats prune value-clustered files from the plan") {
    val cat = freshCatalog("skip")
    spark.sql(s"CREATE TABLE $cat.t.z (band BIGINT, v BIGINT)")
    // four single-band inserts → four value-clustered files (each file's
    // band stats are a point range)
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.z SELECT CAST($b AS BIGINT) AS band, id AS v " +
        s"FROM range(${10 * b}, ${10 * b + 10})"))
    // clustered predicate: three of four files can't match and must skip
    val r = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.z WHERE band = 2")
    val got = r.collect()(0)
    assert(got.getLong(0) == 10 && got.getLong(1) == (20L until 30L).sum)
    // each INSERT fans out over range()'s tasks, so a band's rows span
    // several files — but every file is single-band, so exactly 1/4 of
    // the files survive the band=2 prune regardless of parallelism
    val (kEq, tEq) = pruned(r)
    assert(tEq == 4 * kEq && kEq >= 1,
      s"band=2 must plan exactly one band's files, got ($kEq, $tEq)")
    // the pushed filter is visible in the plan
    val p = r.queryExecution.executedPlan.toString
    assert(p.contains("skipBy="), s"the scan must echo its skipping filters:\n$p")
    // range predicate skips too
    val (kGe, tGe) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.z WHERE band >= 3"))
    assert(tGe == 4 * kGe && kGe >= 1, s"band>=3 keeps one band's files, got ($kGe, $tGe)")
    // a predicate satisfiable in every file's range must keep all files
    val (kAll, tAll) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.z WHERE v >= 0"))
    assert(kAll == tAll,
      s"a predicate satisfiable everywhere must keep all files, got ($kAll, $tAll)")
    // correctness safety: skipping filters stay residual, so a predicate
    // INSIDE a kept file's range still row-filters exactly
    val part = spark.sql(s"SELECT count(*) AS n FROM $cat.t.z WHERE v >= 25 AND band = 2")
      .collect()(0).getLong(0)
    assert(part == 5, "residual evaluation must filter rows within the kept file")
  }

  test("a join of two catalog tables reports each scan's own kept/total, in the formatted plan too") {
    val cat = freshCatalog("joinskip")
    spark.sql(s"CREATE TABLE $cat.t.a (band BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.t.b (band BIGINT, w BIGINT)")
    (0 until 4).foreach(b => spark.sql(s"INSERT INTO $cat.t.a " +
      s"SELECT CAST($b AS BIGINT), id FROM range(${10 * b}, ${10 * b + 10}, 1, 1)"))
    (0 until 2).foreach(b => spark.sql(s"INSERT INTO $cat.t.b " +
      s"SELECT CAST($b AS BIGINT), id FROM range(${10 * b}, ${10 * b + 10}, 1, 1)"))
    // a's band filter keeps one of its four files; b is read whole
    val j = spark.sql(s"SELECT count(*) FROM $cat.t.a JOIN $cat.t.b ON a.v = b.w WHERE a.band = 1")
    assert(j.collect().head.getLong(0) == 10L)
    assert(ScanMetrics.pruned(j).sortBy(_._1) ==
      Seq("graft_mem(t.a)" -> ((1L, 4L)), "graft_mem(t.b)" -> ((2L, 2L))),
      s"each scan reports its own parts: ${ScanMetrics.pruned(j)}")
    val formatted = j.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    Seq("partsKept=1 partsTotal=4", "partsKept=2 partsTotal=2").foreach(m =>
      assert(formatted.contains(m), s"explain(formatted) must show $m:\n$formatted"))
  }

  test("dsv2_bloom_skipping keeps bloom_pruned when 8 runs overlap dsv2_data_skipping runs") {
    // every run drops and recreates its query's fixed table, so each run
    // gets its own session (sharing this JVM and SparkContext) over its
    // own catalog root; the scan metrics each probe reads are its own
    val names = (0 until 16).map(i => if (i % 2 == 0) "dsv2_bloom_skipping" else "dsv2_data_skipping")
    val roots = names.indices.map(i => tempDir(s"graft-memcat-conc-$i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    val results = try {
      names.zip(roots).map { case (q, root) =>
        pool.submit(new java.util.concurrent.Callable[(String, Set[Seq[Any]])] {
          override def call(): (String, Set[Seq[Any]]) = {
            val s = spark.newSession()
            s.conf.set("spark.sql.catalog.graftmem.root", root.toString)
            q -> graft.SparkEntry.queries(q)(s, TestSpark.sf).collect().map(_.toSeq).toSet
          }
        })
      }.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val bloom = results.collect { case ("dsv2_bloom_skipping", rows) => rows }
    assert(bloom.size == 8 && bloom.forall(_.nonEmpty))
    assert(bloom.forall(_.forall(_.last == true)),
      s"every overlapping run must prove its pruning: ${bloom.map(_.map(_.last))}")
    results.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).distinct.size == 1, s"$q must answer the same in every run")
    }
  }

  test("writeStream.toTable appends one manifest commit per epoch; replayed epochs publish nothing") {
    val cat = freshCatalog("ssink")
    spark.sql(s"CREATE TABLE $cat.t.w (id BIGINT, val BIGINT, bucket BIGINT)")
    val ckpt = tempDir("graft-ssink-spec")
    val q = spark.readStream.format("graft.sources.v2.SeqStreamSource")
      .option("n", "1000").option("step", "250").option("parts", "2").load()
      .select("id", "val", "bucket")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .toTable(s"$cat.t.w")
    try q.processAllAvailable() finally q.stop()
    val r = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM $cat.t.w").collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == (0L until 1000L).sum,
      "the drained sink table must hold exactly the streamed rows")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__w")
    assert(MemCatalog.currentVersion(dir) >= 4,
      "each of the 4 epochs must be its own manifest commit after the CREATE")
    // exactly-once: re-committing an already-watermarked epoch is a no-op
    val before = MemCatalog.liveEntries(dir).map(_.name).toSet
    val qid = MemCatalog.readManifestFull(dir, MemCatalog.currentVersion(dir))
      .txns.keys.head
    val replayed = MemCatalog.commitStreamingEpoch(dir, qid, 0L,
      Seq(MemCatalog.FileEntry("part-ghost.bin", Map.empty)))
    assert(!replayed, "epoch 0 is below the watermark: the commit must refuse")
    assert(MemCatalog.liveEntries(dir).map(_.name).toSet == before,
      "a replayed epoch must leave the live set untouched")
  }

  test("clusterBy: the write requests clustering+sort, so ONE unclustered insert yields skippable files") {
    val cat = freshCatalog("clus")
    spark.sql(s"CREATE TABLE $cat.t.c (band BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy'='band', 'clusterParts'='4')")
    // one INSERT from UNCLUSTERED input: Spark must plan the exchange+sort
    // the Write requests — the writer itself never routes rows
    spark.sql(s"INSERT INTO $cat.t.c SELECT id % 4 AS band, id AS v FROM range(1000)")
    val r = spark.sql(s"SELECT count(*) AS n FROM $cat.t.c WHERE band = 2")
    assert(r.collect()(0).getLong(0) == 250)
    val (kept, total) = pruned(r)
    assert(kept < total,
      s"clustered files must let band=2 skip some files, got ($kept, $total)")
    // an identical table WITHOUT clusterBy gets interleaved files: every
    // file spans all bands, nothing can skip — the contrast proves the
    // distribution request (not luck) produced the clustering
    spark.sql(s"CREATE TABLE $cat.t.u (band BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.u SELECT id % 4 AS band, id AS v FROM range(1000)")
    val (kU, tU) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.u WHERE band = 2"))
    assert(kU == tU, s"unclustered files span every band: nothing skips, got ($kU, $tU)")
    // properties round-trip through the catalog
    val tbl = spark.sql(s"SHOW TBLPROPERTIES $cat.t.c").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(tbl.get("clusterBy").contains("band"))
    // DDL-time validation: an unknown clustering column fails the CREATE
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t.bad (x BIGINT) TBLPROPERTIES ('clusterBy'='nope')"))
    // PARTITIONED BY refuses loudly (both the plain and CTAS paths) —
    // silently ignoring it would misrepresent the layout
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t.part (x BIGINT, p BIGINT) PARTITIONED BY (p)"))
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t.partctas PARTITIONED BY (p) AS SELECT id AS x, id % 2 AS p FROM range(4)"))
  }

  test("streaming tail restart: the second incarnation resumes after the committed version") {
    val cat = freshCatalog("tailrs")
    spark.sql(s"CREATE TABLE $cat.t.rs AS SELECT id FROM range(5)") // v0
    spark.sql(s"INSERT INTO $cat.t.rs SELECT id FROM range(10, 13)") // v1
    val ckpt = tempDir("graft-tailrs-spec")
    // memory sink refuses checkpoint recovery — foreachBatch is the
    // recovery-capable collector for restart tests
    def drain(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.table(s"$cat.t.rs")
        .writeStream.option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    assert(drain() == ((0L until 5L) ++ (10L until 13L)).sorted,
      "incarnation 1 must drain v0 + v1")
    spark.sql(s"INSERT INTO $cat.t.rs SELECT id FROM range(20, 22)") // v2, post-stop
    // the fresh instance's latestOffset is called BEFORE deserializeOffset
    // (the SeqStreamSource lesson): admission control receives the
    // committed start, so nothing below it can redeliver
    assert(drain() == Seq(20L, 21L),
      "incarnation 2 must deliver ONLY the post-restart commit — no redelivery")
  }

  test("INSERT OVERWRITE replaces the live set in one commit; the old snapshot stays time-travelable") {
    val cat = freshCatalog("ovw")
    spark.sql(s"CREATE TABLE $cat.t.o AS SELECT id, id AS v FROM range(10)") // v0
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__o")
    val preFiles = MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet
    spark.sql(s"INSERT OVERWRITE $cat.t.o SELECT id, id * 100 AS v FROM range(3)") // v1
    val cur = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.o").collect()(0)
    assert(cur.getLong(0) == 3 && cur.getLong(1) == 300,
      "the overwrite must fully replace the live content")
    val v0 = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.o VERSION AS OF 0")
      .collect()(0)
    assert(v0.getLong(0) == 10 && v0.getLong(1) == 45,
      "the pre-overwrite snapshot must still read its original content")
    assert(preFiles.subsetOf(MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet),
      "overwrite retires files from the manifest, never deletes them")
  }

  test("commitManifest under a real thread race: every committer's edit lands, versions stay distinct") {
    val cat = freshCatalog("race")
    spark.sql(s"CREATE TABLE $cat.t.r (id BIGINT)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__r")
    // 8 threads commit concurrently, each adding its own (fake) file entry
    // — the create-new manifest race must serialize them without losing
    // any edit (the retry re-applies the pure update on the fresh live set)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val futures = (0 until 8).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val v = MemCatalog.commitManifest(dir)(live =>
            live :+ MemCatalog.FileEntry(s"part-race-$i.bin", Map("id" -> (i.toLong, i.toLong))))
          versions.add(v)
        }
      })
    }
    futures.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.size == 8, s"each commit must claim a distinct version, got $versions")
    val live = MemCatalog.liveEntries(dir).map(_.name).toSet
    (0 until 8).foreach(i => assert(live.contains(s"part-race-$i.bin"),
      s"commit $i's edit was lost in the race: $live"))
    // stats survive the race too (the losing committer re-renders them);
    // the commit stamps `#seq` — the data-sequence equality deletes scope
    // by — so compare the user stats net of it
    assert(MemCatalog.liveEntries(dir).find(_.name == "part-race-3.bin")
      .exists(_.stats - "#seq" == Map("id" -> (3L, 3L))))
    // the same race on a branch chain: main and branch commits share one
    // loop, so 8 branch committers must serialize onto distinct ordinals
    MemCatalog.createBranch(dir, "race")
    val branchPool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val heads = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val branchFutures = (0 until 8).map { i =>
      branchPool.submit(new Runnable {
        override def run(): Unit = {
          val k = MemCatalog.commitManifestEq(dir, "append", Some("race")) { (live, eq, _) =>
            (live :+ MemCatalog.FileEntry(s"part-branch-$i.bin", Map("id" -> (i.toLong, i.toLong))), eq)
          }
          heads.add(k)
        }
      })
    }
    branchFutures.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    branchPool.shutdown()
    assert(heads.size == 8, s"each branch commit must claim a distinct head, got $heads")
    val branchLive = MemCatalog.branchManifest(dir, "race").files.map(_.name).toSet
    (0 until 8).foreach(i => assert(branchLive.contains(s"part-branch-$i.bin"),
      s"branch commit $i's edit was lost in the race: $branchLive"))
    assert(MemCatalog.liveEntries(dir).map(_.name).toSet == live,
      "branch commits must leave main untouched")
  }

  test("manifest row counts surface as exact planner cardinality, deletion vectors subtracted") {
    val cat = freshCatalog("nrows")
    spark.sql(s"CREATE TABLE $cat.t.nr TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(100)")
    spark.sql(s"INSERT INTO $cat.t.nr SELECT id, id FROM range(100, 130)")
    def rowCount: Option[BigInt] =
      spark.table(s"$cat.t.nr").queryExecution.optimizedPlan.stats.rowCount
    assert(rowCount.contains(BigInt(130)),
      s"the planner must see the exact manifest row count: $rowCount")
    // a MoR delete's vector subtracts from the estimate without any scan
    spark.sql(s"DELETE FROM $cat.t.nr WHERE id < 10")
    assert(rowCount.contains(BigInt(120)),
      s"deletion vectors must subtract from numRows: $rowCount")
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from the manifest with zero data reads") {
    val cat = freshCatalog("metaagg")
    spark.sql(s"CREATE TABLE $cat.t.ma AS SELECT id, id * 3 AS v FROM range(50)")
    spark.sql(s"INSERT INTO $cat.t.ma SELECT id, id FROM range(50, 60)")
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__ma")
    // hide every part file; only manifests remain on disk — the answer
    // arriving anyway PROVES no task opened a data file
    val hidden = java.nio.file.Files.createDirectory(dir.resolve("_hid"))
    val parts = MemCatalog.partFiles(dir)
    parts.foreach(p => java.nio.file.Files.move(p, hidden.resolve(p.getFileName)))
    val r = spark.sql(s"SELECT count(*), min(id), max(v) FROM $cat.t.ma").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((60L, 0L, 147L)),
      s"metadata aggregate mismatch: $r")
    // a WHERE keeps the row path (filters stay residual, so the push is
    // never attempted): with the files hidden it must FAIL, never lie
    intercept[Exception](
      spark.sql(s"SELECT count(*) FROM $cat.t.ma WHERE id > 5").collect())
    parts.foreach(p => java.nio.file.Files.move(hidden.resolve(p.getFileName), p))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ma WHERE id > 5").head().getLong(0) == 54L)
  }

  test("metadata-only aggregates under merge-on-read: COUNT subtracts the vector, MIN/MAX falls back") {
    val cat = freshCatalog("metaaggmor")
    spark.sql(s"CREATE TABLE $cat.t.mm TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(20)")
    spark.sql(s"DELETE FROM $cat.t.mm WHERE id >= 15") // v1: deletion vector
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__mm")
    val hidden = java.nio.file.Files.createDirectory(dir.resolve("_hid"))
    val parts = MemCatalog.partFiles(dir)
    parts.foreach(p => java.nio.file.Files.move(p, hidden.resolve(p.getFileName)))
    // COUNT stays metadata-only: #rows minus the vector's positions
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.mm").head().getLong(0) == 15L)
    // MIN/MAX cannot trust zone maps under a vector (it may mask the
    // extreme row) — the push refuses, the row path needs the files
    intercept[Exception](spark.sql(s"SELECT max(id) FROM $cat.t.mm").collect())
    parts.foreach(p => java.nio.file.Files.move(hidden.resolve(p.getFileName), p))
    assert(spark.sql(s"SELECT max(id) FROM $cat.t.mm").head().getLong(0) == 14L)
  }

  test("manifest statistics make a small catalog table broadcast-eligible in joins") {
    val cat = freshCatalog("stats")
    spark.sql(s"CREATE TABLE $cat.t.dim AS SELECT id AS k, concat('d', id) AS label FROM range(10)")
    val big = spark.range(200000).selectExpr("id % 10 AS k", "id AS v")
    val joined = big.join(spark.table(s"$cat.t.dim"), "k")
    val p = joined.queryExecution.executedPlan.toString
    // without SupportsReportStatistics the V2 relation reports
    // defaultSizeInBytes (Long.Max) and the tiny dim could never broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"a 10-row catalog table must be chosen as the broadcast side:\n$p")
    val r = joined.groupBy().count().collect()(0).getLong(0)
    assert(r == 200000, "the broadcast join must keep every probe row")
  }

  test("namespace DDL: create/show/drop, implied namespaces, and cascade semantics") {
    val cat = freshCatalog("ns")
    spark.sql(s"CREATE NAMESPACE $cat.fresh")
    spark.sql(s"CREATE TABLE $cat.implied.tbl AS SELECT id FROM range(3)")
    val listed = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0)).toSet
    assert(listed("fresh") && listed("implied"),
      s"both the explicit and the table-implied namespace must list: $listed")
    intercept[Exception](spark.sql(s"CREATE NAMESPACE $cat.fresh")) // already exists
    // dropping a non-empty namespace needs CASCADE
    intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.implied"))
    spark.sql(s"DROP NAMESPACE $cat.implied CASCADE")
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $cat.implied.tbl").collect())
    spark.sql(s"DROP NAMESPACE $cat.fresh") // empty: plain drop works
    val after = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0)).toSet
    assert(!after("fresh") && !after("implied"), s"dropped namespaces must unlist: $after")
  }

  test("plain CREATE TABLE refuses to overwrite; REPLACE on a missing table refuses") {
    val cat = freshCatalog("ddl")
    spark.sql(s"CREATE TABLE $cat.t.once AS SELECT id FROM range(2)")
    intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.t.once AS SELECT id FROM range(2)"))
    intercept[Exception](
      spark.sql(s"REPLACE TABLE $cat.t.missing AS SELECT id FROM range(2)"))
  }

  test("change feed: retired files replay as delete rows, one commit per batch, net fold = table") {
    val cat = freshCatalog("cdf")
    spark.sql(s"CREATE TABLE $cat.t.cf AS SELECT id, id AS v FROM range(6)") // v0
    spark.sql(s"INSERT INTO $cat.t.cf VALUES (100, 100)") // v1: insert-only commit
    spark.sql(s"UPDATE $cat.t.cf SET v = v * 10 WHERE id >= 4") // v2: COW → delete+insert
    spark.sql(s"DELETE FROM $cat.t.cf WHERE id = 0") // v3: rewrite → delete (+ survivors re-insert)
    val ckpt = tempDir("graft-cdfspec-ckpt")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
    val q = spark.readStream.option("changefeed", "true").table(s"$cat.t.cf")
      .select("id", "v", "_change_type")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized {
          batches += ((id, df.groupBy("_change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap))
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val byId = batches.sortBy(_._1).map(_._2)
    assert(byId.size == 4, s"one micro-batch per commit (v0..v3), got $batches")
    assert(byId(0) == Map("insert" -> 6L), s"v0 = the CTAS snapshot as inserts: ${byId(0)}")
    assert(byId(1) == Map("insert" -> 1L), s"v1 = the appended row: ${byId(1)}")
    assert(byId(2).getOrElse("delete", 0L) > 0 && byId(2).getOrElse("insert", 0L) > 0,
      s"a COW update must emit pre-image deletes AND post-image inserts: ${byId(2)}")
    assert(byId(3).getOrElse("delete", 0L) > byId(3).getOrElse("insert", 0L),
      s"the DELETE commit removes net rows: ${byId(3)}")
    // the fold property: Σ insert − Σ delete per key reconstructs the table
    val ckpt2 = tempDir("graft-cdfspec-ckpt2")
    val qn = "graft_cdfspec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q2 = spark.readStream.option("changefeed", "true").table(s"$cat.t.cf")
      .select("id", "v", "_change_type")
      .writeStream.option("checkpointLocation", ckpt2.toString)
      .format("memory").queryName(qn).start()
    try q2.processAllAvailable() finally q2.stop()
    import org.apache.spark.sql.functions._
    val net = spark.table(qn)
      .groupBy("id").agg(
        sum(when(col("_change_type") === "delete", -1L).otherwise(1L)).as("n"),
        sum(when(col("_change_type") === "delete", -col("v")).otherwise(col("v"))).as("v"))
      .filter(col("n") =!= 0)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val table = spark.sql(s"SELECT id, v FROM $cat.t.cf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(net == table, s"net of the change feed must equal the table:\n$net\nvs\n$table")
    spark.catalog.dropTempView(qn)
    // batch reads serve _change_type = 'insert' (snapshot semantics)
    val batchTypes = spark.sql(s"SELECT DISTINCT _change_type FROM $cat.t.cf")
      .collect().map(_.getString(0)).toSet
    assert(batchTypes == Set("insert"), s"snapshot read change types: $batchTypes")
  }

  test("change feed startingVersion: the stream begins at commit N, no initial-snapshot replay") {
    val cat = freshCatalog("cdfsv")
    spark.sql(s"CREATE TABLE $cat.t.sv AS SELECT id FROM range(5)") // v0
    spark.sql(s"INSERT INTO $cat.t.sv VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.sv VALUES (20)") // v2
    spark.sql(s"INSERT INTO $cat.t.sv VALUES (30)") // v3
    val ckpt = tempDir("graft-cdfsv-ckpt")
    val qn = "graft_cdfsv_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .option("changefeed", "true").option("startingVersion", "2")
      .table(s"$cat.t.sv")
      .select("id", "_change_type")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .format("memory").queryName(qn).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table(qn).collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(qn)
    assert(ids == Set(20L, 30L),
      s"startingVersion=2 must stream exactly commits v2 and v3, got $ids")
    intercept[Exception](
      spark.readStream.option("changefeed", "true").option("startingVersion", "-1")
        .table(s"$cat.t.sv").writeStream
        .option("checkpointLocation",
          tempDir("graft-cdfsv-bad").toString)
        .format("memory").queryName(qn + "_bad").start().processAllAvailable())
  }

  test("change feed startingTimestamp: earliest commit AT OR AFTER the instant; past-the-end and dual-option refuse") {
    val cat = freshCatalog("cdfst")
    spark.sql(s"CREATE TABLE $cat.t.st AS SELECT id FROM range(3)") // v0
    Thread.sleep(15) // commits must land in distinct milliseconds
    spark.sql(s"INSERT INTO $cat.t.st VALUES (10)") // v1
    Thread.sleep(15)
    spark.sql(s"INSERT INTO $cat.t.st VALUES (20)") // v2
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__st")
    val t1 = MemCatalog.readManifestFull(dir, 1).ts
    val ckpt = tempDir("graft-cdfst-ckpt")
    val qn = "graft_cdfst_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .option("changefeed", "true").option("startingTimestamp", t1.toString)
      .table(s"$cat.t.st")
      .select("id", "_change_type")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .format("memory").queryName(qn).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table(qn).collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(qn)
    // v1's exact commit instant resolves to v1 (v0 is strictly earlier):
    // at-or-AFTER, the mirror of time travel's at-or-before
    assert(ids == Set(10L, 20L),
      s"startingTimestamp=ts(v1) must stream exactly commits v1 and v2, got $ids")
    // an instant past the last commit refuses loudly (never an empty stream)
    val t2 = MemCatalog.readManifestFull(dir, 2).ts
    intercept[Exception](
      spark.readStream.option("changefeed", "true")
        .option("startingTimestamp", (t2 + 60000L).toString)
        .table(s"$cat.t.st").writeStream
        .option("checkpointLocation",
          tempDir("graft-cdfst-bad1").toString)
        .format("memory").queryName(qn + "_bad1").start().processAllAvailable())
    // the two start options are mutually exclusive (the Delta rule)
    intercept[Exception](
      spark.readStream.option("changefeed", "true")
        .option("startingVersion", "1").option("startingTimestamp", t1.toString)
        .table(s"$cat.t.st").writeStream
        .option("checkpointLocation",
          tempDir("graft-cdfst-bad2").toString)
        .format("memory").queryName(qn + "_bad2").start().processAllAvailable())
  }

  /** Drain the net change feed from `fromVersion`, returning
    * (col0, col1, _change_type) triples.
    */
  private def drainNet(table: String, fromVersion: Int): Set[(Long, Long, String)] = {
    val ckpt = tempDir("graft-netcdf-ckpt")
    val qn = "graft_netcdf_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .option("changefeed", "true").option("netChanges", "true")
      .option("startingVersion", fromVersion.toString)
      .table(table)
      .select("id", "v", "_change_type")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .format("memory").queryName(qn).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    spark.catalog.dropTempView(qn)
    rows
  }

  test("net change feed: an UPDATE commit emits ONLY the changed rows, as update_pre/postimage pairs") {
    val cat = freshCatalog("netupd")
    spark.sql(s"CREATE TABLE $cat.t.nu AS SELECT id, id * 10 AS v FROM range(10)") // v0
    spark.sql(s"UPDATE $cat.t.nu SET v = v + 1 WHERE id < 3") // v1
    val got = drainNet(s"$cat.t.nu", 1)
    val want = (0L until 3L).flatMap(i => Seq(
      (i, i * 10, "update_preimage"), (i, i * 10 + 1, "update_postimage"))).toSet
    // the 7 untouched rows of the rewritten file group cancel INSIDE the
    // diff task — the default file-granularity replay would ship all 10
    // twice; the net feed must ship exactly the 6 change images
    assert(got == want, s"net UPDATE delta mismatch: $got")
    // netChanges without the change feed is a contract violation
    intercept[Exception](
      spark.readStream.option("netChanges", "true").table(s"$cat.t.nu")
        .writeStream.option("checkpointLocation",
          tempDir("graft-netcdf-bad").toString)
        .format("memory").queryName("graft_netcdf_bad").start().processAllAvailable())
  }

  test("net change feed: DELETE emits pure deletes; a following OPTIMIZE commit is invisible") {
    val cat = freshCatalog("netdel")
    spark.sql(s"CREATE TABLE $cat.t.nd (id BIGINT, v BIGINT)") // v0
    (0 until 3).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.nd SELECT id, id AS v FROM range(${b * 3}, ${b * 3 + 3})")) // v1..v3
    spark.sql(s"DELETE FROM $cat.t.nd WHERE id >= 6") // v4: range pred -> COW rewrite
    val dirNd = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__nd")
    MemCatalog.compact(dirNd, 1L << 20) // v5: OPTIMIZE — not a data change
    assert(MemCatalog.readManifestFull(dirNd, 5).op == "optimize")
    val got = drainNet(s"$cat.t.nd", 4)
    val want = (6L until 9L).map(i => (i, i, "delete")).toSet
    assert(got == want,
      s"expected only the 3 deleted rows and NOTHING from the compaction commit: $got")
  }

  test("net change feed: MERGE stays net delete/insert — no update pairing the commit log can't prove") {
    val cat = freshCatalog("netmrg")
    spark.sql(s"CREATE TABLE $cat.t.nm AS SELECT id, id AS v FROM range(5)") // v0
    spark.sql(
      s"""MERGE INTO $cat.t.nm t USING (SELECT id FROM range(3, 7)) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 100
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 100)""".stripMargin) // v1
    val got = drainNet(s"$cat.t.nm", 1)
    val want = Set((3L, 3L, "delete"), (4L, 4L, "delete"),
      (3L, 100L, "insert"), (4L, 100L, "insert"),
      (5L, 100L, "insert"), (6L, 100L, "insert"))
    assert(got == want, s"net MERGE delta mismatch: $got")
    assert(!got.exists(_._3.startsWith("update_")),
      "a MERGE's mixed clauses must not claim update classification")
  }

  test("merge-on-read DELETE: deletion vector, zero data-file rewrites, stable _pos, time travel") {
    val cat = freshCatalog("mor")
    spark.sql(s"CREATE TABLE $cat.t.m TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id * 10 AS v FROM range(10)") // v0
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__m")
    val v0Names = MemCatalog.liveEntries(dir).map(_.name).toSet
    spark.sql(s"DELETE FROM $cat.t.m WHERE id % 3 = 0") // v1: MoR row deltas
    val after = MemCatalog.liveEntries(dir)
    // the base files survive BY NAME — the delete wrote only a dv sidecar
    assert(after.map(_.name).toSet == v0Names,
      s"MoR delete must not rewrite data files: $v0Names -> ${after.map(_.name)}")
    assert(after.exists(_.dv.nonEmpty), "touched entries must carry a deletion vector")
    val got = spark.sql(s"SELECT id FROM $cat.t.m").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 10L).filterNot(_ % 3 == 0).toSet, s"visible rows: $got")
    // _pos stays the BASE-file position: the masked positions are absent,
    // survivors keep their original offsets (no renumbering)
    val posByFile = spark.sql(s"SELECT _file, _pos FROM $cat.t.m").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    posByFile.foreach { case (f, ps) =>
      val all = spark.sql(s"SELECT count(*) FROM $cat.t.m VERSION AS OF 0 WHERE _file = '$f'")
        .head().getLong(0)
      assert(ps.subsetOf((0L until all).toSet) && ps.size < all,
        s"$f positions must be a strict subset of base offsets: $ps of $all")
    }
    // the pre-delete snapshot reads ALL rows (its entries carry no dv)
    val v0Count = spark.sql(s"SELECT count(*) FROM $cat.t.m VERSION AS OF 0").head().getLong(0)
    assert(v0Count == 10L, s"time travel to the pre-delete snapshot: $v0Count rows")
    // a second delete UNIONS into the vector (same base files, new dv)
    spark.sql(s"DELETE FROM $cat.t.m WHERE id = 1") // v2
    assert(MemCatalog.liveEntries(dir).map(_.name).toSet == v0Names)
    val got2 = spark.sql(s"SELECT id FROM $cat.t.m").collect().map(_.getLong(0)).toSet
    assert(got2 == (0L until 10L).filterNot(i => i % 3 == 0 || i == 1).toSet, s"after 2nd delete: $got2")
  }

  test("merge-on-read UPDATE/MERGE: delete+insert deltas; OPTIMIZE materializes the vectors") {
    val cat = freshCatalog("morup")
    spark.sql(s"CREATE TABLE $cat.t.mu TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(8)") // v0
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__mu")
    val v0Names = MemCatalog.liveEntries(dir).map(_.name).toSet
    spark.sql(s"UPDATE $cat.t.mu SET v = v + 100 WHERE id < 3") // v1: dv + new file
    val afterUpd = MemCatalog.liveEntries(dir)
    assert(v0Names.subsetOf(afterUpd.map(_.name).toSet),
      "an MoR update must keep every base file live (post-images land in NEW files)")
    val gotUpd = spark.sql(s"SELECT id, v FROM $cat.t.mu").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantUpd = (0L until 8L).map(i => (i, if (i < 3) i + 100 else i)).toSet
    assert(gotUpd == wantUpd, s"MoR update content: $gotUpd")
    spark.sql(
      s"""MERGE INTO $cat.t.mu t USING (SELECT id FROM range(6, 10)) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = -1
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1)""".stripMargin) // v2
    val gotMrg = spark.sql(s"SELECT id, v FROM $cat.t.mu").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantMrg = (0L until 6L).map(i => (i, if (i < 3) i + 100 else i)).toSet ++
      (6L until 10L).map(i => (i, -1L)).toSet
    assert(gotMrg == wantMrg, s"MoR merge content: $gotMrg")
    assert(MemCatalog.liveEntries(dir).exists(_.dv.nonEmpty))
    // OPTIMIZE pays off the read tax: vectors materialize into clean
    // files, content is byte-identical, and no live entry carries a dv
    MemCatalog.compact(dir, 1L << 20) // v3
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.forall(_.dv.isEmpty),
      s"compaction must materialize every deletion vector: ${entries.filter(_.dv.nonEmpty)}")
    val gotOpt = spark.sql(s"SELECT id, v FROM $cat.t.mu").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotOpt == wantMrg, "compaction must preserve content exactly")
    // vacuum reclaims the superseded vectors once old manifests drop
    MemCatalog.vacuum(dir, keepVersions = 1)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(dir)
    val dvLeft = try ls.iterator().asScala
      .count(_.getFileName.toString.startsWith("_dv-")) finally ls.close()
    assert(dvLeft == 0, s"vacuum must reclaim unreferenced dv sidecars, $dvLeft left")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.mu").head().getLong(0) == 10L)
  }

  test("merge-on-read DELETE prunes files via zone maps before planning row deltas") {
    val cat = freshCatalog("morskip")
    spark.sql(s"CREATE TABLE $cat.t.ms (id BIGINT, v BIGINT) TBLPROPERTIES ('graft.dml'='mor')")
    // range(..., numSlices = 1): one writer task per INSERT → exactly
    // four part files with disjoint id ranges
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.ms SELECT id, id FROM range(${b * 10}, ${b * 10 + 10}, 1, 1)"))
    val del = spark.sql(s"DELETE FROM $cat.t.ms WHERE id >= 35") // only file 4's range matches
    // a DELTA scan may skip: pruned files yield no deltas and stay as-is
    // (group-based COW must refuse exactly this — the asymmetry under test)
    val (kept, total) = pruned(del)
    assert(total == 4 && kept == 1,
      s"zone maps must prune the MoR delete scan to the one matching file: $kept/$total")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ms").head().getLong(0) == 35L)
  }

  test("manifest entry format: render/parse round-trips every token kind; old readers skip new tokens") {
    def b64(n: Int, b: Byte) = java.util.Base64.getEncoder.encodeToString(Array.fill(n)(b))
    val full = MemCatalog.FileEntry("part-0-1.bin",
      Map("k" -> (3L, 99L), "v" -> (-7L, 0L), "pt:identity(tag)" -> (5L, 5L)),
      dv = Some("_dv-123.txt"),
      blooms = Map("tag" -> b64(128, 1)),
      sortedBy = Some("k,v"),
      ndvs = Map("k" -> b64(40, 2), "v" -> b64(8, 3)),
      hists = Map("v" -> b64(24, 4)),
      // a raw partition value holding every separator the line format uses
      ptvs = Map("identity(tag)" -> "a\tb=c@d..e"))
    assert(MemCatalog.FileEntry.parse(full.render) == full,
      "every token kind (stats, dv@, sort@, bloom:, ndv:, hist:, ptv:) must survive the round trip")
    val bare = MemCatalog.FileEntry("part-9.bin", Map.empty)
    assert(MemCatalog.FileEntry.parse(bare.render) == bare)
    // forward compat: a pre-dv/pre-bloom reader treats unknown tokens as
    // unparseable stats and ignores them — prove the parse is tolerant
    // the other way too (an unknown future token must not throw)
    val future = full.render + "\tfuture:opaque-token"
    assert(MemCatalog.FileEntry.parse(future).name == "part-0-1.bin")
  }

  test("a part file without the GRFU header fails its read, naming the file") {
    val cat = freshCatalog("nohdr")
    spark.sql(s"CREATE TABLE $cat.t.h (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.h SELECT id, id FROM range(0, 4, 1, 1)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__h")
    val Seq(part) = MemCatalog.liveFiles(dir)
    val schema = MemCatalog.readSchema(dir)
    // the same rows behind the old positional "GRFT" (magic, ncols) header
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(part)))
    try {
      out.writeInt(0x47524654)
      out.writeInt(schema.length)
      (0L until 4L).foreach(i => MemCodec.writeRow(out,
        org.apache.spark.sql.catalyst.InternalRow(i, i), schema))
    } finally out.close()
    val err = intercept[Exception](spark.sql(s"SELECT sum(v) FROM $cat.t.h").collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(err).exists(m => m.contains(part.toString) && m.contains("GRFU")),
      s"the read must fail loudly and name $part: ${chain(err).mkString(" | ")}")
  }

  test("bloom-filter skipping: equality probes prune files zone maps cannot; sketches survive OPTIMIZE") {
    val cat = freshCatalog("bloom")
    spark.sql(s"CREATE TABLE $cat.t.bl (tag STRING, v BIGINT) " +
      "TBLPROPERTIES ('bloomFor'='tag')")
    Seq("alpha", "beta", "gamma", "delta").zipWithIndex.foreach { case (t, i) =>
      spark.sql(s"INSERT INTO $cat.t.bl " +
        s"SELECT '$t', id FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    }
    // a STRING equality probe: zone maps have nothing (no integral
    // stats), the per-file bloom prunes to exactly the matching file
    val gamma = spark.sql(s"SELECT count(*) FROM $cat.t.bl WHERE tag = 'gamma'")
    assert(gamma.collect().head.getLong(0) == 10L)
    val (kept, total) = pruned(gamma)
    assert(total == 4 && kept == 1,
      s"bloom must prune the string probe to one file: $kept/$total")
    // a value present nowhere: every file PROVES absence — zero files
    // planned and the (correct) empty result never launched a read task
    val omega = spark.sql(s"SELECT count(*) FROM $cat.t.bl WHERE tag = 'omega'")
    assert(omega.collect().head.getLong(0) == 0L)
    val (k2, t2) = pruned(omega)
    assert(t2 == 4 && k2 == 0, s"absent value must plan zero files: $k2/$t2")
    // OPTIMIZE rebuilds the sketches during the rewrite: the merged file
    // still proves 'omega' absent and still serves 'gamma'
    val dirBl = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__bl")
    MemCatalog.compact(dirBl, 1L << 20)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.bl WHERE tag = 'gamma'")
      .head().getLong(0) == 10L)
    val omegaOpt = spark.sql(s"SELECT count(*) FROM $cat.t.bl WHERE tag = 'omega'")
    assert(omegaOpt.collect().head.getLong(0) == 0L)
    val (k3, t3) = pruned(omegaOpt)
    assert(k3 == 0 && t3 < 4, s"post-OPTIMIZE bloom must still prove absence: $k3/$t3")
    // the same probe on an un-bloomed twin table prunes NOTHING — the
    // sketch, not luck, did the work
    spark.sql(s"CREATE TABLE $cat.t.nb (tag STRING, v BIGINT)")
    Seq("alpha", "beta").zipWithIndex.foreach { case (t, i) =>
      spark.sql(s"INSERT INTO $cat.t.nb " +
        s"SELECT '$t', id FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    }
    val (k4, t4) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.nb WHERE tag = 'omega'"))
    assert(t4 == 2 && k4 == 2, s"no bloom -> no skip, conservative: $k4/$t4")
    // IN-list probes prune per member: a file survives iff the sketch
    // may contain ANY listed value — all-absent lists plan zero files
    val absent = spark.sql(s"SELECT count(*) FROM $cat.t.bl WHERE tag IN ('omega', 'psi')")
    assert(absent.collect().head.getLong(0) == 0L)
    val (k5, t5) = pruned(absent)
    assert(k5 == 0, s"all-absent IN list must plan zero files: $k5/$t5")
  }

  test("CHECK constraints: every write path enforces; ADD CONSTRAINT validates existing rows") {
    val cat = freshCatalog("chk")
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    spark.sql(s"CREATE TABLE $cat.t.ck (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check.nonneg'='v >= 0')")
    spark.sql(s"INSERT INTO $cat.t.ck SELECT id, id FROM range(5)")
    // a violating INSERT fails the statement and publishes nothing
    val e1 = intercept[Exception](spark.sql(s"INSERT INTO $cat.t.ck VALUES (9, -1)"))
    assert(causes(e1).exists(_.contains("nonneg")), s"error must name the constraint: $e1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ck").head().getLong(0) == 5L)
    // a COW UPDATE cannot write a forbidden post-image; the table keeps
    // its pre-statement content
    intercept[Exception](spark.sql(s"UPDATE $cat.t.ck SET v = -5 WHERE id = 1"))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t.ck").head().getLong(0) == 10L)
    spark.sql(s"UPDATE $cat.t.ck SET v = v + 1 WHERE id = 1") // compliant: passes
    // ADD CONSTRAINT existing rows violate is refused (v now reaches 4+... max 4? ids 0..4, v=id except id1→2; max=4)
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t.ck SET TBLPROPERTIES ('check.small'='v <= 3')"))
    assert(causes(e2).exists(_.contains("existing row violates")), s"$e2")
    // one that holds is accepted AND enforced from then on
    spark.sql(s"ALTER TABLE $cat.t.ck SET TBLPROPERTIES ('check.cap'='v <= 100')")
    intercept[Exception](spark.sql(s"INSERT INTO $cat.t.ck VALUES (10, 101)"))
    spark.sql(s"INSERT INTO $cat.t.ck VALUES (10, 100)") // boundary value passes
    // UNSET releases the invariant
    spark.sql(s"ALTER TABLE $cat.t.ck UNSET TBLPROPERTIES ('check.cap')")
    spark.sql(s"INSERT INTO $cat.t.ck VALUES (11, 500)")
    // unparseable predicates refuse at DDL time — never silently unenforced
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.t.ck SET TBLPROPERTIES ('check.bad'='v + id > 0')"))
    // IS NOT NULL flavor (comparisons use SQL 3VL: NULL never violates them)
    spark.sql(s"ALTER TABLE $cat.t.ck SET TBLPROPERTIES ('check.vnn'='v IS NOT NULL')")
    intercept[Exception](spark.sql(s"INSERT INTO $cat.t.ck VALUES (12, NULL)"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ck").head().getLong(0) == 7L)
  }

  test("CHECK constraints gate streaming epochs: a violating batch publishes nothing") {
    val cat = freshCatalog("chkstream")
    spark.sql(s"CREATE TABLE $cat.t.cs (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check.pos'='v > 0')")
    val src = tempDir("graft-chkstream-src")
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit = {
      import spark.implicits._
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(src.toString)
      ()
    }
    writeBatch("good", (1L to 5L).map(i => (i, i)))
    val ckpt = tempDir("graft-chkstream-ckpt")
    def run(): Unit = {
      val q = spark.readStream
        .schema("id BIGINT, v BIGINT").parquet(src.toString)
        .writeStream.option("checkpointLocation", ckpt.toString)
        .toTable(s"$cat.t.cs")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.cs").head().getLong(0) == 5L)
    // the violating epoch fails the stream and publishes NO manifest
    // commit — the table still reads its pre-epoch content
    writeBatch("bad", Seq((9L, -1L)))
    intercept[Exception](run())
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.cs").head().getLong(0) == 5L,
      "a violating streaming epoch must leave the table untouched")
  }

  test("CHECK constraints gate merge-on-read inserts too") {
    val cat = freshCatalog("chkmor")
    spark.sql(s"CREATE TABLE $cat.t.cm (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.dml'='mor', 'check.pos'='v > 0')")
    spark.sql(s"INSERT INTO $cat.t.cm SELECT id, id + 1 FROM range(4)")
    // the MERGE's insert/update post-images route through the delta
    // writer's insert path — the same gate
    intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.t.cm t USING (SELECT id FROM range(2, 3)) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t.cm").head().getLong(0) == 10L,
      "a refused MoR statement must leave content untouched")
    spark.sql(s"UPDATE $cat.t.cm SET v = v + 10 WHERE id = 0") // compliant
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t.cm").head().getLong(0) == 20L)
  }

  test("snapshot tags: VERSION AS OF 'name' resolves; a tag is a retention lease vacuum honors") {
    val cat = freshCatalog("tags")
    spark.sql(s"CREATE TABLE $cat.t.tg AS SELECT id FROM range(3)") // v0
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__tg")
    MemCatalog.createTag(dir, "baseline", 0)
    spark.sql(s"INSERT INTO $cat.t.tg VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.tg VALUES (20)") // v2
    // tag resolution through real SQL time travel
    val tagged = spark.sql(s"SELECT id FROM $cat.t.tg VERSION AS OF 'baseline'")
      .collect().map(_.getLong(0)).toSet
    assert(tagged == Set(0L, 1L, 2L), s"VERSION AS OF 'baseline' must read v0: $tagged")
    // vacuum with keepVersions=1 would normally drop v0 and v1 — the tag
    // keeps v0 (manifest AND files) alive; untagged v1 goes
    MemCatalog.vacuum(dir, keepVersions = 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.tg VERSION AS OF 'baseline'")
      .head().getLong(0) == 3L, "the tagged snapshot must survive vacuum")
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t.tg VERSION AS OF 1").collect())
    // duplicate tag creation refuses (immutable pointers); unknown tag is
    // a loud error naming the known tags; all-digit names are rejected
    intercept[IllegalArgumentException](MemCatalog.createTag(dir, "baseline", 2))
    intercept[IllegalArgumentException](MemCatalog.createTag(dir, "7", 2))
    val ex = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t.tg VERSION AS OF 'nope'").collect())
    assert(ex.getMessage.contains("baseline"), s"unknown-tag error must list tags: $ex")
    // dropping the tag releases the lease: the next vacuum reclaims v0
    assert(MemCatalog.dropTag(dir, "baseline"))
    MemCatalog.vacuum(dir, keepVersions = 1)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t.tg VERSION AS OF 'baseline'").collect())
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.tg").head().getLong(0) == 5L)
  }

  test("change feed vs vacuum: replaying a vacuumed commit fails loudly with the recovery hint") {
    val cat = freshCatalog("cdfvac")
    spark.sql(s"CREATE TABLE $cat.t.cv AS SELECT id FROM range(3)") // v0
    spark.sql(s"INSERT INTO $cat.t.cv VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.cv VALUES (20)") // v2
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__cv")
    MemCatalog.vacuum(dir, keepVersions = 1) // only v2 retained
    val ex = intercept[Exception] {
      val ckpt = tempDir("graft-cdfvac-ckpt")
      spark.readStream.option("changefeed", "true").option("startingVersion", "1")
        .table(s"$cat.t.cv")
        .writeStream.option("checkpointLocation", ckpt.toString)
        .format("memory").queryName("graft_cdfvac_bad").start().processAllAvailable()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => Option(c.getMessage).exists(_.contains("was vacuumed"))),
      s"the failure must name the vacuumed commit and the recovery options: $ex")
  }

  test("merge-on-read + net change feed: a DV-only commit emits exactly the masked rows as deletes") {
    val cat = freshCatalog("morcdf")
    spark.sql(s"CREATE TABLE $cat.t.mc TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(6)") // v0
    spark.sql(s"DELETE FROM $cat.t.mc WHERE id >= 4") // v1: dv-only commit
    val got = drainNet(s"$cat.t.mc", 1)
    assert(got == Set((4L, 4L, "delete"), (5L, 5L, "delete")),
      s"the DV commit's net delta must be the two masked rows: $got")
    // a MoR UPDATE commit = (old dv → new dv on the base file) + a new
    // post-image file; the (file, dv)-keyed diff still classifies it as
    // exact update_pre/postimage pairs — the MoR and net-CDC features
    // compose with no special casing
    spark.sql(s"UPDATE $cat.t.mc SET v = v + 50 WHERE id < 2") // v2
    val got2 = drainNet(s"$cat.t.mc", 2)
    val want2 = Set((0L, 0L, "update_preimage"), (1L, 1L, "update_preimage"),
      (0L, 50L, "update_postimage"), (1L, 51L, "update_postimage"))
    assert(got2 == want2, s"MoR update net delta mismatch: $got2")
  }

  test("OPTIMIZE: bin-packed compaction collapses small files in ONE commit; skipping and time travel survive") {
    val cat = freshCatalog("opt")
    spark.sql(s"CREATE TABLE $cat.t.ob (band BIGINT, v BIGINT) " +
      "TBLPROPERTIES('clusterBy'='band')")
    // four single-band single-task inserts → four tiny value-clustered
    // files, the classic streaming/trickle-ingest degradation
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.ob SELECT CAST($b AS BIGINT), id " +
        s"FROM range(${100 * b}, ${100 * b + 100}, 1, 1)"))
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__ob")
    val entriesBefore = MemCatalog.liveEntries(dir)
    assert(entriesBefore.size == 4, s"expected 4 small files, got ${entriesBefore.size}")
    val vPre = MemCatalog.currentVersion(dir)
    // target sized for pairs: the clusterBy ordering packs adjacent bands
    // together, so merged files stay contiguous key ranges
    val maxSz = MemCatalog.liveFiles(dir).map(java.nio.file.Files.size).max
    val (retired, created) = MemCatalog.compact(dir, targetBytes = (maxSz * 2.2).toLong)
    assert(retired == 4 && created == 2, s"expected 4→2 bin-packing, got ($retired, $created)")
    val after = MemCatalog.liveEntries(dir)
    assert(after.size == 2)
    // recomputed zone-map stats: each merged file spans exactly its two
    // adjacent bands — compaction must not blunt the skipping metadata
    assert(after.map(_.stats("band")).sortBy(_._1) == Seq((0L, 1L), (2L, 3L)),
      s"merged files must carry exact contiguous band ranges, got ${after.map(_.stats)}")
    // content is bit-identical...
    val r = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.ob").collect()(0)
    assert(r.getLong(0) == 400 && r.getLong(1) == (0L until 400L).sum)
    // ...skipping still prunes (band >= 2 plans ONE of the two files)...
    val obSkip = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.ob WHERE band >= 2"))
    assert(obSkip == ((1, 2)),
      s"post-compaction skipping must prune the low-band file, got $obSkip")
    // ...and the pre-compaction snapshot still reads from the RETIRED
    // files (compaction never deletes history)
    val pre = spark.sql(
      s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.ob VERSION AS OF $vPre").collect()(0)
    assert(pre.getLong(0) == 400 && pre.getLong(1) == (0L until 400L).sum,
      "time travel to the pre-compaction snapshot must survive")
    // idempotence: the two packed files meet the target, so a second pass
    // finds nothing to do
    assert(MemCatalog.compact(dir, targetBytes = (maxSz * 2.2).toLong) == ((0, 0)),
      "a repeat OPTIMIZE at the same target must be a no-op")
  }

  test("a repeat vacuum at the same retention reports zero drops (counts actual deletions)") {
    val cat = freshCatalog("vac2")
    spark.sql(s"CREATE TABLE $cat.t.g2 AS SELECT id, id AS v FROM range(12)") // v0
    spark.sql(s"UPDATE $cat.t.g2 SET v = v + 1 WHERE id >= 0") // v1
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__g2")
    val first = MemCatalog.vacuum(dir, keepVersions = 1)
    assert(first._1 == 1 && first._2 > 0, s"first vacuum must reclaim v0 ($first)")
    assert(MemCatalog.vacuum(dir, keepVersions = 1) == ((0, 0)),
      "nothing is left to reclaim — the second vacuum must report (0, 0), " +
        "not re-report the already-deleted manifests")
  }

  test("a COW statement whose scanned file was rewritten by a concurrent commit FAILS, never composes") {
    // Iceberg's optimistic-concurrency rule: the manifest retry loop may
    // compose pure APPENDS, but a COW post-image is only valid against
    // the exact files it scanned. Simulate the loser deterministically:
    // plan a COW scan (records the scanned files), let a "concurrent"
    // UPDATE commit first (retiring those files), then drive the loser's
    // write commit directly — it must throw, not duplicate rows.
    val cat = freshCatalog("cowrace")
    spark.sql(s"CREATE TABLE $cat.t.r AS SELECT id, id AS v FROM range(8)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__r")
    val schema = MemCatalog.readSchema(dir)
    val op = new MemRowLevelOperation(
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE, dir, schema)
    // the loser's scan plans against the pre-race snapshot
    op.scannedEntries.set(MemCatalog.liveEntries(dir).map(e => e.name -> e.dv))
    // the winner commits: every live file is rewritten (full-table COW)
    spark.sql(s"UPDATE $cat.t.r SET v = v * 10 WHERE id >= 0")
    val loser = new MemCowWrite(dir, schema, op, "loser-query")
    val err = intercept[MemCatalog.CommitConflictException](
      loser.commit(Array.empty))
    assert(err.getMessage.contains("concurrent write conflict"))
    // the winner's image is intact — nothing was duplicated or resurrected
    val r = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM $cat.t.r").collect()(0)
    assert(r.getLong(0) == 8 && r.getLong(1) == (0L to 7L).map(_ * 10).sum,
      "the committed winner's snapshot must be untouched by the failed loser")
  }

  test("a COW statement conflicts when a concurrent MoR delete composed a NEW vector onto a scanned file") {
    // the (name, dv) conflict unit: the loser's post-image was built
    // against the OLD deletion vector — if only the NAME were validated,
    // a concurrent MoR delete (which keeps every file live by name and
    // only swaps its dv) would pass the check and the committed COW image
    // would silently resurrect the concurrently-deleted rows.
    val cat = freshCatalog("dvrace")
    spark.sql(s"CREATE TABLE $cat.t.dv TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(8)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__dv")
    val schema = MemCatalog.readSchema(dir)
    val op = new MemRowLevelOperation(
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE, dir, schema)
    // the loser's scan plans against the pre-race snapshot (no dv yet)
    op.scannedEntries.set(MemCatalog.liveEntries(dir).map(e => e.name -> e.dv))
    // the winner is a MoR DELETE: every file stays live BY NAME, but its
    // entry now carries a deletion vector
    spark.sql(s"DELETE FROM $cat.t.dv WHERE id = 3")
    assert(MemCatalog.liveEntries(dir).exists(_.dv.nonEmpty), "winner must have composed a dv")
    val loser = new MemCowWrite(dir, schema, op, "dv-loser-query")
    val err = intercept[MemCatalog.CommitConflictException](loser.commit(Array.empty))
    assert(err.getMessage.contains("concurrent write conflict"))
    val got = spark.sql(s"SELECT id FROM $cat.t.dv").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 8L).toSet - 3L,
      s"the winner's MoR delete must survive the failed loser: $got")
  }

  test("deleteWhere honors deletion vectors left by a former MoR mode (no resurrection)") {
    // the flipped-mode hole: 'graft.dml' can be UNSET off a table that
    // still holds live dv entries; a subsequent exact-match DELETE takes
    // the metadata-only deleteWhere path, which must subtract the masked
    // rows while rewriting (MemCowScan and compact already do).
    val cat = freshCatalog("dvflip")
    // ONE part file, so the dv-carrying file is the very one the later
    // DELETE rewrites — if deleteWhere ignored the vector, row 7 would
    // resurrect into the survivor
    spark.sql(s"CREATE TABLE $cat.t.f TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(0, 10, 1, 1)") // v0
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__f")
    spark.sql(s"DELETE FROM $cat.t.f WHERE id = 7") // v1: MoR dv
    assert(MemCatalog.liveEntries(dir).exists(_.dv.nonEmpty))
    spark.sql(s"ALTER TABLE $cat.t.f UNSET TBLPROPERTIES ('graft.dml')")
    spark.sql(s"DELETE FROM $cat.t.f WHERE id = 2") // exact-match → deleteWhere
    // prove the metadata path actually ran: its rewrites are part-del- files
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.exists(_.name.startsWith("part-del-")),
      s"expected the deleteWhere rewrite path, entries: ${entries.map(_.name)}")
    val got = spark.sql(s"SELECT id FROM $cat.t.f").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 10L).toSet -- Set(2L, 7L),
      s"the MoR-deleted row 7 must NOT resurrect through deleteWhere: $got")
    // the survivor materialized the vector: no live entry carries a dv
    assert(entries.forall(_.dv.isEmpty),
      s"deleteWhere's rewrite must materialize the vector: ${entries.filter(_.dv.nonEmpty)}")
    // count agrees through the metadata-only aggregate too (#rows stats)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.f").head().getLong(0) == 8L)
  }

  test("rollback republishes an old live set without rewriting history; vacuum then reclaims the bad commit") {
    val cat = freshCatalog("rb")
    spark.sql(s"CREATE TABLE $cat.t.rb AS SELECT id FROM range(5)") // v0
    spark.sql(s"INSERT INTO $cat.t.rb SELECT id FROM range(5, 8)") // v1: last good
    spark.sql(s"INSERT INTO $cat.t.rb SELECT id FROM range(100, 103)") // v2: bad
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__rb")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.rb").head().getLong(0) == 11)
    val vNew = MemCatalog.rollback(dir, 1) // v3
    assert(vNew == 3)
    assert(MemCatalog.readManifestFull(dir, vNew).op == "rollback")
    // the head is the good content; the bad snapshot is UNREWRITTEN history
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.rb").head().getLong(0) == 8)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.rb VERSION AS OF 2").head().getLong(0) == 11,
      "rollback must never rewrite history — the bad snapshot stays readable")
    // refusal surface: future versions and vacuumed snapshots, loudly
    intercept[IllegalArgumentException](MemCatalog.rollback(dir, 99))
    // retention is what finally reclaims the bad files: vacuum keeps only
    // the rolled-back head, the bad commit's files become unreferenced
    val (droppedM, droppedF) = MemCatalog.vacuum(dir, keepVersions = 1)
    assert(droppedM == 3 && droppedF >= 1,
      s"vacuum must reclaim the bad commit's files: ($droppedM, $droppedF)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.rb").head().getLong(0) == 8)
    intercept[Exception](
      spark.sql(s"SELECT count(*) FROM $cat.t.rb VERSION AS OF 2").head())
    intercept[IllegalArgumentException](MemCatalog.rollback(dir, 0))
    // (a rollback racing a concurrent commit loses the create-new version
    // slot and throws CommitConflictException — the single-attempt,
    // no-retry-compose branch; the link(2) slot race itself is already
    // thread-race-proven for commitManifest)
  }

  test("cluster-key evolution: OPTIMIZE re-sorts by the NEW key; pre-evolution time travel unchanged") {
    val cat = freshCatalog("cevo")
    spark.sql(s"CREATE TABLE $cat.t.ce (a BIGINT, b BIGINT) TBLPROPERTIES ('clusterBy'='a')")
    // two a-clustered inserts; b = a Knuth-ish shuffle so the old layout
    // is maximally UNclustered in b (every file spans the full b range)
    spark.sql(s"INSERT INTO $cat.t.ce SELECT id, (id * 37) % 200 FROM range(0, 100, 1, 1)")
    spark.sql(s"INSERT INTO $cat.t.ce SELECT id, (id * 37) % 200 FROM range(100, 200, 1, 1)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__ce")
    assert(MemCatalog.liveEntries(dir).forall(_.sortedBy.contains("a")),
      "batch inserts under clusterBy must stamp their sort order")
    val vPre = MemCatalog.currentVersion(dir)
    spark.sql(s"ALTER TABLE $cat.t.ce SET TBLPROPERTIES ('clusterBy'='b')")
    // both files are now OUT OF ORDER (stamped 'a', table says 'b') —
    // candidates at any size; target ≈ a third of the bytes forces the
    // global re-sort to split into several disjoint-b files
    val total = MemCatalog.liveFiles(dir).map(java.nio.file.Files.size).sum
    val (retired, created) = MemCatalog.compact(dir, math.max(512L, total / 3))
    assert(retired == 2 && created >= 2, s"expected a splitting re-sort, got ($retired, $created)")
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.forall(_.sortedBy.contains("b")),
      s"every rewritten file must stamp the NEW key: ${entries.map(e => e.name -> e.sortedBy)}")
    // rows WITHIN each file are physically ordered by b...
    val schema = MemCatalog.readSchema(dir)
    entries.foreach { e =>
      val in = MemCodec.open(dir.resolve(e.name), schema)
      val bs = try Iterator.continually(in.readRow()).takeWhile(_ != null)
        .map(_(1).asInstanceOf[java.lang.Long].longValue()).toSeq
      finally in.close()
      assert(bs == bs.sorted, s"${e.name} must be b-ordered after evolution: $bs")
    }
    // ...and ACROSS files the b ranges are disjoint (touching boundaries
    // allowed: the rolling split can cut mid-key)
    val ranges = entries.map(_.stats("b")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(lo2 >= hi1, s"global re-sort must yield disjoint b ranges: $ranges")
      case _ => ()
    }
    // a b-filter prunes files now
    val (kept, totalFiles) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.ce WHERE b >= 150"))
    assert(kept < totalFiles, s"re-clustering must restore b-skipping: $kept of $totalFiles")
    // content is unchanged, and the pre-evolution snapshot reads the OLD
    // layout byte-identically
    val now = spark.sql(s"SELECT count(*) AS n, sum(b) AS sb FROM $cat.t.ce").head()
    assert(now.getLong(0) == 200 && now.getLong(1) == (0L until 200L).map(i => (i * 37) % 200).sum)
    val pre = spark.sql(
      s"SELECT count(*) AS n, sum(b) AS sb FROM $cat.t.ce VERSION AS OF $vPre").head()
    assert(pre.getLong(0) == now.getLong(0) && pre.getLong(1) == now.getLong(1),
      "evolution must rewrite the present, never history")
    assert(MemCatalog.liveEntries(dir, Some(vPre)).forall(_.sortedBy.contains("a")),
      "the pre-evolution snapshot keeps its old sort-order metadata")
    // idempotence: everything is in the new order now
    assert(MemCatalog.compact(dir, math.max(512L, total / 3)) == ((0, 0)),
      "a repeat OPTIMIZE after convergence must be a no-op")
  }

  test("the re-cluster's EXTERNAL sort (forced multi-chunk spills) matches the in-memory result") {
    // sort-order evolution must not assume the stale tail fits in
    // memory: force spill chunks of 37 rows so the 400-row re-sort runs
    // the full spill + k-way-merge path, and prove the output is
    // byte-equivalent to the stable in-memory sort (same invariants,
    // same content, same in-file ordering)
    val cat = freshCatalog("xsort")
    spark.sql(s"CREATE TABLE $cat.t.xs (a BIGINT, b BIGINT) TBLPROPERTIES ('clusterBy'='a')")
    spark.sql(s"INSERT INTO $cat.t.xs SELECT id, (id * 37) % 400 FROM range(0, 200, 1, 1)")
    spark.sql(s"INSERT INTO $cat.t.xs SELECT id, (id * 37) % 400 FROM range(200, 400, 1, 1)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__xs")
    spark.sql(s"ALTER TABLE $cat.t.xs SET TBLPROPERTIES ('clusterBy'='b')")
    val total = MemCatalog.liveFiles(dir).map(java.nio.file.Files.size).max * 2
    // spill size is a compact() PARAMETER (not a shared mutable knob):
    // this 37-row bound cannot race a concurrent compaction's memory
    // bound on another table
    val (retired, created) =
      MemCatalog.compact(dir, math.max(512L, total / 3), spillRows = 37)
    assert(retired == 2 && created >= 2)
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.forall(_.sortedBy.contains("b")))
    // in-file b order AND disjoint cross-file ranges — the merge must
    // interleave the 11+ spill chunks back into one global order
    val schema = MemCatalog.readSchema(dir)
    entries.foreach { e =>
      val in = MemCodec.open(dir.resolve(e.name), schema)
      val bs = try Iterator.continually(in.readRow()).takeWhile(_ != null)
        .map(_(1).asInstanceOf[java.lang.Long].longValue()).toSeq
      finally in.close()
      assert(bs == bs.sorted, s"${e.name} must be b-ordered after the external sort")
    }
    val ranges = entries.map(_.stats("b")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(lo2 >= hi1, s"disjoint ranges expected: $ranges")
      case _ => ()
    }
    // content identical to the declarative recompute
    val r = spark.sql(s"SELECT count(*) AS n, sum(b) AS sb, sum(a) AS sa FROM $cat.t.xs").head()
    assert(r.getLong(0) == 400 &&
      r.getLong(1) == (0L until 400L).map(i => (i * 37) % 400).sum &&
      r.getLong(2) == (0L until 400L).sum)
    // no spill files leaked into the TABLE dir (they live in system tmp
    // and drain-delete); manifest entries carry exact #rows
    assert(entries.map(_.stats("#rows")._1).sum == 400)
  }

  test("incremental re-cluster: bounded waves + a merge pass converge byte-identically to the global path") {
    val cat = freshCatalog("iwave")
    // three identical tables (global / incremental / parallel-merge),
    // deterministic single-partition inserts so the stale tails match
    Seq("g", "i", "p").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.t.$t (a BIGINT, b BIGINT) TBLPROPERTIES ('clusterBy'='a')")
      (0 until 4).foreach(w => spark.sql(
        s"INSERT INTO $cat.t.$t SELECT id, (id * 37) % 400 " +
          s"FROM range(${w * 100}, ${(w + 1) * 100}, 1, 1)"))
      spark.sql(s"ALTER TABLE $cat.t.$t SET TBLPROPERTIES ('clusterBy'='b')")
    }
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    val dirG = java.nio.file.Paths.get(root, "t__g")
    val dirI = java.nio.file.Paths.get(root, "t__i")
    val dirP = java.nio.file.Paths.get(root, "t__p")
    val schema = MemCatalog.readSchema(dirI)
    def fileRows(dir: java.nio.file.Path, name: String): Seq[(Long, Long)] = {
      val in = MemCodec.open(dir.resolve(name), schema)
      try Iterator.continually(in.readRow()).takeWhile(_ != null)
        .map(v => (v(0).asInstanceOf[java.lang.Long].longValue(),
          v(1).asInstanceOf[java.lang.Long].longValue())).toSeq
      finally in.close()
    }
    val total = MemCatalog.liveFiles(dirG).map(java.nio.file.Files.size).sum
    val target = math.max(512L, total / 5)
    val vPre = MemCatalog.currentVersion(dirI)
    // GLOBAL path: one unbounded wave — a single call converges
    val (rg, cg) = MemCatalog.compact(dirG, target, spillRows = 37)
    assert(rg == 4 && cg >= 2, s"global re-cluster: ($rg, $cg)")
    assert(MemCatalog.liveEntries(dirG).forall(e => !e.stats.contains("#run")))
    // INCREMENTAL path: waveBytes ≈ half the stale bytes → ≥2 bounded
    // waves, each published as one #run-marked sorted run
    val (ri, ci) = MemCatalog.compact(dirI, target, spillRows = 37,
      waveBytes = total / 2 + 1)
    assert(ri == 4 && ci >= 2, s"wave pass: ($ri, $ci)")
    val mid = MemCatalog.liveEntries(dirI)
    val runIds = mid.flatMap(_.stats.get("#run").map(_._1)).distinct
    assert(runIds.size >= 2, s"bounded waves must leave >=2 unmerged runs: $runIds")
    // MID-CONVERGENCE CONTRACTS: every run file genuinely sorted by the
    // new key with EXACT zone maps (skipping stats stay valid), scans
    // correct, pre-evolution history intact
    mid.foreach { e =>
      val bs = fileRows(dirI, e.name).map(_._2)
      assert(bs == bs.sorted, s"run file ${e.name} must be b-ordered")
      assert(e.stats("b") == ((bs.min, bs.max)),
        s"run file zone map must stay exact: ${e.stats("b")} vs (${bs.min}, ${bs.max})")
      assert(e.sortedBy.contains("b"))
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.i").head().getLong(0) == 400)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.i VERSION AS OF $vPre")
      .head().getLong(0) == 400, "waves must not rewrite history")
    // MERGE pass (fanout=1: one continuous roll) — the converged layout
    // must be BYTE-FOR-BYTE the global path's (stable in-wave sorts +
    // run-ordinal tie-break == the global stable sort)
    val (rm, cm) = MemCatalog.compact(dirI, target, spillRows = 37, mergeFanout = 1)
    assert(rm == ci && cm == cg, s"merge pass: ($rm, $cm) vs global ($rg, $cg)")
    val fin = MemCatalog.liveEntries(dirI)
    assert(fin.forall(e => !e.stats.contains("#run")), "merge must retire every run marker")
    def layout(dir: java.nio.file.Path): Seq[Seq[Byte]] =
      MemCatalog.liveEntries(dir).sortBy(e => (e.stats("b")._1, e.stats("b")._2, e.name))
        .map(e => java.nio.file.Files.readAllBytes(dir.resolve(e.name)).toSeq)
    assert(layout(dirI) == layout(dirG),
      "incremental convergence must reproduce the global layout byte-for-byte")
    assert(MemCatalog.compact(dirI, target) == ((0, 0)), "converged: repeat is a no-op")
    // PARALLEL merge (auto fanout over disjoint key ranges): same row
    // multiset and per-file order/disjointness; file boundaries may cut
    // at range edges instead of one continuous roll
    MemCatalog.compact(dirP, target, spillRows = 37, waveBytes = total / 2 + 1)
    MemCatalog.compact(dirP, target, spillRows = 37)
    val pfin = MemCatalog.liveEntries(dirP)
    assert(pfin.forall(e => !e.stats.contains("#run")))
    pfin.foreach { e =>
      val bs = fileRows(dirP, e.name).map(_._2)
      assert(bs == bs.sorted, s"parallel-merge file ${e.name} must be b-ordered")
    }
    val ranges = pfin.map(_.stats("b")).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(lo2 >= hi1, s"disjoint ranges expected: $ranges")
      case _ => ()
    }
    val rowsP = pfin.flatMap(e => fileRows(dirP, e.name)).sorted
    val rowsG = MemCatalog.liveEntries(dirG).flatMap(e => fileRows(dirG, e.name)).sorted
    assert(rowsP == rowsG, "parallel merge must preserve the row multiset exactly")
  }

  test("hidden partitioning: bucket transform prunes where zone maps cannot; evolution is rewrite-free") {
    val cat = freshCatalog("pevo")
    spark.sql(s"CREATE TABLE $cat.t.pe (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.partition'='bucket(4,k)')")
    // four bucket-PURE inserts: the Knuth hash interleaves keys, so every
    // file spans nearly the FULL k range — zone maps on k prune nothing
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.pe SELECT id, id FROM range(0, 400, 1, 1) " +
        s"WHERE pmod(id * 2654435761, 4) = $b"))
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__pe")
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.size == 4)
    assert(entries.forall(_.stats.keys.exists(_.startsWith("pt:bucket(4,k)"))),
      s"writers must stamp the transform range: ${entries.map(_.stats.keys)}")
    // median probe: inside every file's raw range (zone maps keep all 4),
    // so the observed prune is the transform tier's alone
    val pe4 = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.pe WHERE k = 200"))
    assert(pe4 == ((1, 4)),
      s"bucket(4,k) must keep exactly bucket(200)'s file: $pe4")
    // EVOLUTION: metadata-only — no file rewritten, old files keep
    // pruning under the spec they were written with (per-file spec_id)
    val namesPre = entries.map(_.name).toSet
    spark.sql(s"ALTER TABLE $cat.t.pe SET TBLPROPERTIES ('graft.partition'='bucket(2,k)')")
    (0 until 2).foreach(b => spark.sql(
      s"INSERT INTO $cat.t.pe SELECT id, id FROM range(0, 400, 1, 1) " +
        s"WHERE pmod(id * 2654435761, 2) = $b"))
    assert(namesPre.subsetOf(MemCatalog.liveEntries(dir).map(_.name).toSet),
      "partition evolution must not rewrite existing files")
    val pe6 = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.pe WHERE k = 200"))
    assert(pe6 == ((2, 6)),
      "old files prune under bucket(4,k), new files under bucket(2,k) — " +
        s"simultaneously: $pe6")
    // monotone transforms admit RANGE pruning through the transform —
    // proven at the unit level on entries carrying ONLY pt stats (in a
    // live table the source column's own zone map subsumes them; the pt
    // token is the layout metadata and the bucket case is where it earns
    // its keep)
    locally {
      import org.apache.spark.sql.sources._
      val ed = MemCatalog.FileEntry("f", Map("pt:days(ts)" -> ((100L, 200L))))
      assert(MemSkip.skipsByPartition(GreaterThanOrEqual("ts", 201L * 86400L), ed))
      assert(!MemSkip.skipsByPartition(GreaterThanOrEqual("ts", 200L * 86400L), ed))
      assert(MemSkip.skipsByPartition(LessThan("ts", 99L * 86400L), ed))
      assert(!MemSkip.skipsByPartition(EqualTo("ts", 150L * 86400L), ed))
      assert(MemSkip.skipsByPartition(EqualTo("ts", 50L), ed)) // day 0 < 100
      // bucket hash decorrelates order: range filters must NEVER prune
      val eb = MemCatalog.FileEntry("g", Map("pt:bucket(8,k)" -> ((3L, 3L))))
      assert(!MemSkip.skipsByPartition(GreaterThan("k", 1000000L), eb))
      assert(MemSkip.skipsByPartition(In("k", Array(1L, 2L)), eb) ==
        (Seq(1L, 2L).forall(v => java.lang.Math.floorMod(v * 2654435761L, 8L) != 3L)))
    }
    // ALTER to days(v) + one day-ranged insert: the new file stamps the
    // days spec and a v range probe keeps only it (v zone maps and the
    // days(v) range compose — both prove the old files out)
    spark.sql(s"ALTER TABLE $cat.t.pe SET TBLPROPERTIES ('graft.partition'='days(v)')")
    spark.sql(s"INSERT INTO $cat.t.pe SELECT id, id * 86400 FROM range(1000, 1010, 1, 1)")
    assert(MemCatalog.liveEntries(dir).exists(_.stats.contains("pt:days(v)")),
      "the post-evolution insert must stamp the days spec")
    val (kept, totalF) = prunedBy(spark.sql(s"SELECT count(*) FROM $cat.t.pe WHERE v >= ${900L * 86400}"))
    assert(kept == 1 && totalF == 7,
      s"the v range probe must keep only the new file: ($kept, $totalF)")
    // a bad spec is refused at DDL time, loudly
    val err = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t.pe SET TBLPROPERTIES ('graft.partition'='hour(v)')"))
    assert(err.getMessage.contains("unsupported partition spec"))
    val err2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t.pe SET TBLPROPERTIES ('graft.partition'='bucket(4,nope)')"))
    assert(err2.getMessage.contains("not in schema"))
  }

  test("OPTIMIZE materializes a deletion vector even when its file is ALONE in its bin") {
    // a singleton group used to be skipped (nothing to merge) — but the
    // OPTIMIZE contract is "every vector materializes", and a lone
    // DV-carrying file would keep its read tax forever
    val cat = freshCatalog("dvsingle")
    spark.sql(s"CREATE TABLE $cat.t.s TBLPROPERTIES ('graft.dml'='mor') " +
      "AS SELECT id, id AS v FROM range(0, 6, 1, 1)") // ONE part file
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__s")
    spark.sql(s"DELETE FROM $cat.t.s WHERE id IN (1, 4)")
    assert(MemCatalog.liveEntries(dir).count(_.dv.nonEmpty) == 1)
    val (retired, created) = MemCatalog.compact(dir, 1L << 20)
    assert(retired == 1 && created == 1,
      s"the singleton DV file must rewrite 1->1, got ($retired, $created)")
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.forall(_.dv.isEmpty),
      s"OPTIMIZE must materialize every vector: ${entries.filter(_.dv.nonEmpty)}")
    val got = spark.sql(s"SELECT id FROM $cat.t.s").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 2L, 3L, 5L), s"content after singleton rewrite: $got")
    // idempotence: the clean file has no dv and meets the target
    assert(MemCatalog.compact(dir, 1L << 20) == ((0, 0)),
      "a repeat OPTIMIZE must be a no-op once the vector is gone")
  }

  test("a FRESH publish marker blocks the stranded-.old restore; a STALE one permits it") {
    // the two-rename REPLACE window: target absent, .old- present, marker
    // fresh → a live publish is mid-flight and loadTable must NOT steal
    // the target slot (it reports NoSuchTable for the blink instead);
    // once the marker is stale the publisher is presumed crashed and the
    // previously-committed table is restored.
    val cat = freshCatalog("marker")
    val root = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"CREATE TABLE $cat.t.m AS SELECT id FROM range(5)")
    java.nio.file.Files.move(root.resolve("t__m"), root.resolve("t__m.old-cafebabe"))
    java.nio.file.Files.write(
      MemCatalog.publishMarkerPath(root, "t__m"), Array.emptyByteArray)
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $cat.t.m").collect())
    assert(java.nio.file.Files.exists(root.resolve("t__m.old-cafebabe")),
      "a fresh marker means a live publish — the restore must not have fired")
    // age the marker past the grace period and retry: now it's a crash
    java.nio.file.Files.setLastModifiedTime(MemCatalog.publishMarkerPath(root, "t__m"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * MemCatalog.PublishGraceMs))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.m").collect()(0).getLong(0) == 5,
      "a stale marker is a crashed publish — the stranded table must restore")
    assert(!java.nio.file.Files.exists(MemCatalog.publishMarkerPath(root, "t__m")),
      "the restore must clear the crashed publish's marker")
  }

  test("REPLACE TABLE completes while concurrent readers poll loadTable (no stolen restore)") {
    // the race the marker exists for: a reader thread hammering loadTable
    // throughout a REPLACE publish must never move the .old- dir back
    // into the target slot (which would fail the publisher's second
    // rename on a non-empty target). Readers may observe NoSuchTable in
    // the blink between renames — what they must never do is break the
    // commit or surface a raw filesystem error.
    val cat = freshCatalog("racepub")
    spark.sql(s"CREATE TABLE $cat.t.p AS SELECT id FROM range(4)")
    @volatile var stop = false
    @volatile var unexpected: Option[Throwable] = None
    val reader = new Thread(() => {
      def rootCause(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
      while (!stop && unexpected.isEmpty) {
        try spark.sql(s"SELECT count(*) FROM $cat.t.p").collect()
        catch {
          case _: AnalysisException => () // the documented blink
          case t: Throwable
            // a scan planned pre-publish can lose its part files to the
            // REPLACE's old-dir cleanup mid-read — also documented; what
            // must NEVER surface is a failed publish or a stolen restore
            if rootCause(t).isInstanceOf[java.nio.file.NoSuchFileException] => ()
          case t: Throwable => unexpected = Some(t)
        }
      }
    })
    reader.start()
    try {
      (1 to 5).foreach { i =>
        spark.sql(s"REPLACE TABLE $cat.t.p AS SELECT id FROM range(${4 + i})")
      }
    } finally { stop = true; reader.join(30000) }
    assert(unexpected.isEmpty, s"reader surfaced a non-AnalysisException: $unexpected")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.p").collect()(0).getLong(0) == 9,
      "all five REPLACEs must have committed despite the polling reader")
  }

  // ---- EQUALITY DELETES (Iceberg v2 equality delete files) ----

  test("an equality delete writes no data file; sequence scoping lets a reinserted key survive") {
    val cat = freshCatalog("eqd")
    spark.sql(s"CREATE TABLE $cat.t.e TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id * 10 AS v FROM range(0, 10, 1, 1)") // v0, one file
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__e")
    val pre = MemCatalog.liveEntries(dir).map(e => (e.name, e.dv))
    spark.sql(s"DELETE FROM $cat.t.e WHERE id IN (3, 7)") // v1: equality delete
    // the write-cheap contract: live set untouched (no rewrite, no dv),
    // one #eqdel line at sequence v1
    assert(MemCatalog.liveEntries(dir).map(e => (e.name, e.dv)) == pre,
      "an equality delete must not rewrite any file or compose a vector")
    val dels = MemCatalog.eqDeletes(dir)
    assert(dels.map(d => (d.seq, d.cols)) == Seq((1L, Seq("id"))), s"got $dels")
    assert(spark.sql(s"SELECT id FROM $cat.t.e").collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet -- Set(3L, 7L), "masked keys must not read back")
    // COUNT must come from the data path: a metadata-only count that
    // ignored the delete would report 10
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.e").collect()(0).getLong(0) == 8,
      "aggregates must see the equality delete (metadata shortcut must refuse)")
    // sequence scoping: a key REINSERTED after the delete has a newer
    // file sequence and survives — the CDC-upsert property
    spark.sql(s"INSERT INTO $cat.t.e VALUES (3, 999)") // v2
    val back = spark.sql(s"SELECT v FROM $cat.t.e WHERE id = 3").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(999L),
      "a key reinserted after the equality delete must survive it")
    // time travel: the pre-delete snapshot still shows both masked rows
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.e VERSION AS OF 0")
      .collect()(0).getLong(0) == 10, "v0 predates the delete")
  }

  test("OPTIMIZE materializes equality deletes, GCs their manifest lines, and vacuum reclaims the sidecar") {
    val cat = freshCatalog("eqgc")
    spark.sql(s"CREATE TABLE $cat.t.g TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id AS v FROM range(0, 12, 1, 1)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__g")
    spark.sql(s"DELETE FROM $cat.t.g WHERE id = 5")
    spark.sql(s"INSERT INTO $cat.t.g VALUES (5, 555)") // newer sequence: survives
    val expect = (0L until 12L).filterNot(_ == 5L).map(i => (i, i)).toSet + ((5L, 555L))
    assert(MemCatalog.eqDeletes(dir).nonEmpty)
    MemCatalog.compact(dir)
    // materialize + GC: no live file is subject to the delete any more,
    // so the snapshot drops the line; content is byte-identical
    assert(MemCatalog.eqDeletes(dir).isEmpty,
      "a fully-materialized equality delete must be GC'd from the snapshot")
    val got = spark.sql(s"SELECT id, v FROM $cat.t.g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"materialized content must equal merged-at-read content: $got")
    // retention passes → the `_eq-*` sidecar is unreferenced and reclaimed
    MemCatalog.vacuum(dir, keepVersions = 1)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(dir)
    val eqFiles = try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("_eq-")).toSeq finally ls.close()
    assert(eqFiles.isEmpty, s"vacuum must reclaim unreferenced eq sidecars: $eqFiles")
  }

  test("a COW statement conflicts when an equality delete commits after its scan — the (name, dv, eq) unit") {
    // third leg of the conflict unit: the winner (an equality delete)
    // retires NOTHING and composes NO vector — by name and dv alone the
    // loser's post-image would validate, commit with a FRESH #seq, and
    // thereby exempt its carried-over rows from the winner's delete
    // (silent resurrection). The eq leg makes the loser fail loudly.
    val cat = freshCatalog("eqrace")
    spark.sql(s"CREATE TABLE $cat.t.c TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id AS v FROM range(8)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__c")
    val schema = MemCatalog.readSchema(dir)
    val op = new MemRowLevelOperation(
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE, dir, schema)
    // the loser's scan plans against the pre-race snapshot (no eq deletes)
    op.scannedEntries.set(MemCatalog.liveEntries(dir).map(e => e.name -> e.dv))
    op.scannedEq.set(MemCatalog.eqDeletes(dir))
    // the winner: an equality delete — live set and vectors UNCHANGED
    spark.sql(s"DELETE FROM $cat.t.c WHERE id = 3")
    assert(MemCatalog.liveEntries(dir).forall(_.dv.isEmpty))
    val loser = new MemCowWrite(dir, schema, op, "eq-loser-query")
    val err = intercept[MemCatalog.CommitConflictException](loser.commit(Array.empty))
    assert(err.getMessage.contains("equality delete"), err.getMessage)
    assert(spark.sql(s"SELECT id FROM $cat.t.c").collect().map(_.getLong(0)).toSet ==
      (0L until 8L).toSet - 3L, "the winner's equality delete must survive the failed loser")
  }

  test("OPTIMIZE conflicts when an equality delete commits between its scan and its commit") {
    // compact's rewrites read rows under the scan-time delete set and are
    // stamped with a fresh #seq — a delete committed mid-flight would be
    // exempted by that stamp, resurrecting the rows it masks. The
    // onBeforeCommit seam injects the racing delete deterministically.
    val cat = freshCatalog("eqoptrace")
    spark.sql(s"CREATE TABLE $cat.t.o TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id AS v FROM range(10)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__o")
    val err = intercept[MemCatalog.CommitConflictException] {
      MemCatalog.compact(dir, onBeforeCommit =
        () => spark.sql(s"DELETE FROM $cat.t.o WHERE id = 4"))
    }
    assert(err.getMessage.contains("equality delete"), err.getMessage)
    // the winner's delete holds; a rerun OPTIMIZE materializes it too
    assert(spark.sql(s"SELECT id FROM $cat.t.o").collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet - 4L)
    MemCatalog.compact(dir)
    assert(MemCatalog.eqDeletes(dir).isEmpty, "the rerun must materialize + GC the delete")
    assert(spark.sql(s"SELECT id FROM $cat.t.o").collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet - 4L, "rerun OPTIMIZE must preserve the delete's effect")
  }

  test("non-equality shapes on an eq-keyed MoR table still route to the row-level delta path") {
    val cat = freshCatalog("eqfall")
    spark.sql(s"CREATE TABLE $cat.t.f TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id AS v FROM range(10)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__f")
    spark.sql(s"DELETE FROM $cat.t.f WHERE id >= 8") // range: not an eq shape
    assert(MemCatalog.eqDeletes(dir).isEmpty,
      "a range DELETE must not masquerade as an equality delete")
    assert(MemCatalog.liveEntries(dir).exists(_.dv.nonEmpty),
      "the range DELETE must take the positional MoR path")
    // a predicate on a NON-key column must also fall through
    spark.sql(s"DELETE FROM $cat.t.f WHERE v = 2")
    assert(MemCatalog.eqDeletes(dir).isEmpty)
    assert(spark.sql(s"SELECT id FROM $cat.t.f").collect().map(_.getLong(0)).toSet ==
      (0L until 8L).toSet - 2L)
  }

  test("the change-feed stream sees an equality-delete commit (delta unit includes the eq set)") {
    val cat = freshCatalog("eqcdf")
    spark.sql(s"CREATE TABLE $cat.t.s TBLPROPERTIES " +
      "('graft.dml'='mor', 'graft.eqDeleteKeys'='id') " +
      "AS SELECT id, id AS v FROM range(0, 6, 1, 1)") // v0, one file
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__s")
    spark.sql(s"DELETE FROM $cat.t.s WHERE id = 2") // v1: eq delete, same file set
    val schema = MemCatalog.readSchema(dir)
    val stream = new MemMicroBatchStream(dir, schema,
      schema.fieldNames ++ Array("_file", "_pos", "_change_type"), changeFeed = true)
    val parts = stream.planInputPartitions(MemVersionOffset(0), MemVersionOffset(1))
    // keyed by name alone the commit would plan ZERO partitions — the eq
    // leg of the delta unit makes the file replay as removed + re-added
    // under its new visibility
    val files = parts.collect { case p: MemFilePartition => (p.changeType, p.eq.size) }
    assert(files.sorted.toSeq == Seq(("delete", 0), ("insert", 1)),
      s"an eq-delete commit must replay the affected file: ${files.toSeq}")
  }

  // ---- COLUMN NDV STATISTICS (CBO) ----

  test("column NDV statistics flip the join build side at PLAN time — CBO, not AQE runtime size") {
    // the contract: a selective equality filter on an ndvFor column lets
    // Catalyst estimate rows/NDV BEFORE execution, shrinking the filtered
    // side under the broadcast threshold in the INITIAL physical plan —
    // the decision AQE could only make after a shuffle materializes. The
    // twin table without sketches must stay sort-merge in that same
    // initial plan (its filtered size estimate never shrinks).
    val cat = freshCatalog("ndv")
    spark.sql(s"CREATE TABLE $cat.t.fact AS SELECT id % 50 AS k, id AS v FROM range(50000)")
    spark.sql(s"CREATE TABLE $cat.t.dim TBLPROPERTIES ('ndvFor'='k') " +
      "AS SELECT id AS k, id AS w FROM range(20000)")
    spark.sql(s"CREATE TABLE $cat.t.dim0 " + // the no-stats control twin
      "AS SELECT id AS k, id AS w FROM range(20000)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__dim")
    // the sketch is in the manifest, and its merged estimate is honest
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.nonEmpty && entries.forall(_.ndvs.contains("k")))
    val est = MemNdv.estimate(MemNdv.merge(entries.map(_.ndvs("k"))))
    assert(est > 15000 && est < 25000, s"KMV estimate off: $est for 20000 distinct")
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "65536")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def initialPlan(dim: String): String = spark.sql(
        s"SELECT f.k, f.v, d.w FROM $cat.t.fact f JOIN $cat.t.$dim d ON f.k = d.k " +
          "WHERE d.k = 7").queryExecution.sparkPlan.toString
      // dim bytes (~20k rows) exceed the 64 KiB threshold unfiltered; the
      // NDV estimate (1 row matches k = 7) shrinks it at plan time
      val withNdv = initialPlan("dim")
      assert(withNdv.contains("BroadcastHashJoin"),
        s"NDV stats must broadcast the filtered dim in the initial plan:\n$withNdv")
      val without = initialPlan("dim0")
      assert(!without.contains("BroadcastHashJoin") && without.contains("SortMergeJoin"),
        s"the statless twin must stay sort-merge in the initial plan:\n$without")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("INSERT, OPTIMIZE and a metadata DELETE stamp the same entry for the same rows") {
    // one row set R over every stamped type, written three ways: one
    // INSERT; two INSERTs merged by OPTIMIZE; R plus extra rows that a
    // metadata DELETE removes again. Each way leaves one live file
    // holding exactly R, so its stats, partition stamps and sketches
    // must match whichever writer produced it.
    val cat = freshCatalog("onewriter")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    def rows(from: Int, until: Int): String =
      s"SELECT id AS k, CAST(id * 3 AS INT) AS i, " +
        "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d, " +
        "timestamp_seconds(1704067200 + id * 3600) AS ts, concat('s', id) AS s, " +
        s"CAST(id AS DOUBLE) * 1.5 AS x, 'grp' AS g FROM range($from, $until, 1, 1)"
    def entryOf(name: String)(write: String => Unit): MemCatalog.FileEntry = {
      spark.sql(s"CREATE TABLE $cat.t.$name (k BIGINT, i INT, d DATE, ts TIMESTAMP, " +
        "s STRING, x DOUBLE, g STRING) TBLPROPERTIES ('ndvFor'='k,i,d,ts,s,x', " +
        "'bloomFor'='k,i,s', 'histFor'='k,i', 'graft.partition'='identity(g),years(d)')")
      write(s"$cat.t.$name")
      val entries = MemCatalog.liveEntries(java.nio.file.Paths.get(root, s"t__$name"))
      assert(entries.size == 1, s"$name: expected one live file holding R, got ${entries.map(_.name)}")
      entries.head
    }
    val inserted = entryOf("ins")(t => spark.sql(s"INSERT INTO $t ${rows(0, 80)}"))
    val optimized = entryOf("opt") { t =>
      spark.sql(s"INSERT INTO $t ${rows(0, 40)}")
      spark.sql(s"INSERT INTO $t ${rows(40, 80)}")
      val (retired, created) = MemCatalog.compact(java.nio.file.Paths.get(root, "t__opt"))
      assert((retired, created) == (2, 1), s"expected one merge, got ($retired, $created)")
    }
    val deleted = entryOf("del") { t =>
      spark.sql(s"INSERT INTO $t ${rows(0, 100)}")
      spark.sql(s"DELETE FROM $t WHERE k IN (${(80 until 100).mkString(", ")})")
    }
    assert(deleted.name.startsWith("part-del-"),
      s"expected the deleteWhere rewrite path, got ${deleted.name}")
    def stamped(e: MemCatalog.FileEntry) =
      e.copy(name = "", sortedBy = None, stats = e.stats - "#seq")
    assert(inserted.ndvs.keySet == Set("k", "i", "d", "ts", "s", "x") &&
      inserted.blooms.keySet == Set("k", "i", "s") && inserted.hists.keySet == Set("k", "i") &&
      inserted.ptvs == Map("pt:identity(g)" -> "grp") && inserted.stats("#rows") == (80L, 80L))
    assert(stamped(optimized) == stamped(inserted),
      s"OPTIMIZE stamped\n${stamped(optimized).render}\nINSERT stamped\n${stamped(inserted).render}")
    assert(stamped(deleted) == stamped(inserted),
      s"DELETE stamped\n${stamped(deleted).render}\nINSERT stamped\n${stamped(inserted).render}")
    // 80 distinct doubles are not one value: the sketch hashed the row's own
    assert(MemNdv.estimate(MemNdv.decode(inserted.ndvs("x"))) >= MemNdv.K)
    // the survivor keeps the CBO's column statistics
    val key = "spark.sql.cbo.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val stats = spark.table(s"$cat.t.del").queryExecution.optimizedPlan.stats.attributeStats
      assert(stats.exists { case (a, c) => a.name == "k" && c.distinctCount.isDefined },
        s"k's distinct count must survive the metadata DELETE: $stats")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ---- BRANCHES + WRITE-AUDIT-PUBLISH ----

  test("branch writes are invisible to main; fast-forward publishes them in one commit") {
    val cat = freshCatalog("wap")
    spark.sql(s"CREATE TABLE $cat.t.w AS SELECT id, id AS v FROM range(10)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__w")
    assert(MemCatalog.createBranch(dir, "audit") == 0)
    spark.sql("SELECT id, id * 100 AS v FROM range(10, 15)")
      .writeTo(s"$cat.t.w").option("branch", "audit").append()
    // main readers see NOTHING of the staged write
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.w").collect()(0).getLong(0) == 10)
    assert(MemCatalog.currentVersion(dir) == 0, "a branch write must not advance main")
    // the audit read is branch-pinned
    val audited = spark.read.option("branch", "audit").table(s"$cat.t.w")
    assert(audited.count() == 15)
    // publish: one create-new main commit at base+1
    assert(MemCatalog.fastForward(dir, "audit") == 1)
    val got = spark.sql(s"SELECT id, v FROM $cat.t.w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ((0L until 10L).map(i => (i, i)) ++
      (10L until 15L).map(i => (i, i * 100))).toSet,
      s"fast-forwarded main must equal the audited branch head: $got")
    // published entries carry the publishing version as their sequence
    val fresh = MemCatalog.liveEntries(dir).filter(e => MemCatalog.seqOf(e) == 1L)
    assert(fresh.nonEmpty, "branch-born files must re-stamp #seq to the published version")
  }

  test("fast-forward fails deterministically when main advanced during the audit; vacuum reclaims the dropped branch") {
    val cat = freshCatalog("wapff")
    spark.sql(s"CREATE TABLE $cat.t.w2 AS SELECT id FROM range(5)")
    val dir = java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__w2")
    MemCatalog.createBranch(dir, "audit")
    spark.sql("SELECT id FROM range(100, 103)")
      .writeTo(s"$cat.t.w2").option("branch", "audit").append()
    spark.sql(s"INSERT INTO $cat.t.w2 VALUES (77)") // main advances mid-audit
    val err = intercept[MemCatalog.CommitConflictException](
      MemCatalog.fastForward(dir, "audit"))
    assert(err.getMessage.contains("fast-forward conflict"), err.getMessage)
    // the concurrent commit survives; the unaudited batch never lands
    assert(spark.sql(s"SELECT id FROM $cat.t.w2").collect().map(_.getLong(0)).toSet ==
      (0L until 5L).toSet + 77L)
    // the branch still leases its staged files against vacuum...
    val staged = MemCatalog.branchManifest(dir, "audit").files.map(_.name).toSet
    MemCatalog.vacuum(dir, keepVersions = 100)
    assert(staged.subsetOf(MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet),
      "a live branch is a retention root — vacuum must keep its staged files")
    // ...until it drops, after which they reclaim
    MemCatalog.dropBranch(dir, "audit")
    MemCatalog.vacuum(dir, keepVersions = 100)
    val left = MemCatalog.partFiles(dir).map(_.getFileName.toString).toSet
    assert(MemCatalog.liveEntries(dir).map(_.name).toSet == left,
      s"dropping the branch must release its staged files to vacuum: $left")
  }

  test("ARRAY<BIGINT> columns are native: round-trip, nulls, DML rewrite, compact") {
    val cat = freshCatalog("arr")
    spark.sql(s"CREATE TABLE $cat.t.vec (vec_id BIGINT, vec ARRAY<BIGINT>)")
    spark.sql(s"INSERT INTO $cat.t.vec " +
      "SELECT id, transform(sequence(0, 3), i -> id * 10 + CAST(i AS BIGINT)) FROM range(5)")
    // null array AND a null element inside an array both survive the codec
    spark.sql(s"INSERT INTO $cat.t.vec VALUES " +
      "(100, NULL), (101, array(1L, NULL, 3L))")
    val rows = spark.sql(s"SELECT vec_id, vec FROM $cat.t.vec ORDER BY vec_id").collect()
    assert(rows.length == 7)
    assert(rows(0).getSeq[Long](1) == Seq(0L, 1L, 2L, 3L))
    assert(rows(5).isNullAt(1), "null array must round-trip as null")
    assert(rows(6).getSeq[Any](1) == Seq(1L, null, 3L),
      "null elements inside an array must round-trip")
    // higher-order functions compute over the native column
    val tot = spark.sql(
      s"""SELECT sum(aggregate(vec, 0L, (a, x) -> a + coalesce(x, 0L))) AS t
         |FROM $cat.t.vec WHERE vec_id < 100""".stripMargin).head().getLong(0)
    assert(tot == 430L, s"expected 430, got $tot") // Σ_{id<5} (40·id + 6)
    // COW DML rewrites the carrying file with arrays intact
    spark.sql(s"UPDATE $cat.t.vec SET vec_id = vec_id + 1000 WHERE vec_id = 3")
    val moved = spark.sql(s"SELECT vec FROM $cat.t.vec WHERE vec_id = 1003").collect()
    assert(moved.length == 1 && moved(0).getSeq[Long](0) == Seq(30L, 31L, 32L, 33L))
    // OPTIMIZE merges array-carrying files losslessly
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "t__vec")
    val before = spark.sql(s"SELECT vec_id, vec FROM $cat.t.vec ORDER BY vec_id")
      .collect().map(_.toString).toSeq
    val (retired, created) = MemCatalog.compact(dir, targetBytes = 1L << 20)
    assert(retired >= 2 && created >= 1, s"expected a merge, got ($retired, $created)")
    val after = spark.sql(s"SELECT vec_id, vec FROM $cat.t.vec ORDER BY vec_id")
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction must preserve array contents byte-for-byte")
    // schema evolution: an APPENDED array column null-backfills old files
    spark.sql(s"ALTER TABLE $cat.t.vec ADD COLUMN extra ARRAY<BIGINT>")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.vec WHERE extra IS NULL")
      .head().getLong(0) == 7)
  }
}
