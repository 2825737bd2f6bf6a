package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The `table_changes(...)` TVF's contracts beyond the oracle-gated
  * equivalence query (`dsv2_table_changes_tvf`): argument validation,
  * bounded windows, the default end = current head, the loud
  * vacuumed-version failure inherited from the streaming feed, and the
  * gate's riders, which are subquery columns of its final action.
  */
class TableChangesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): (String, java.nio.file.Path) = {
    val name = s"grafttvfspec_$tag"
    val root = tempDir(s"graft-tvf-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("the gate's folded riders run in its final action and read false on a tampered input") {
    val gate = graft.sources.Formats.dsv2TableChangesTvf(spark, TestSpark.sf)
    // between the gate's return and its action, REPLACE the table with
    // versions 0..3 whose UPDATE adds 5 cents, not 1: the version-addressed
    // riders now read the new table, the drained change feed still holds
    // the old commits
    spark.sql("""CREATE OR REPLACE TABLE graftmem.tmp.tvf_t AS
      |SELECT * FROM graftmem.tmp.tvf_t VERSION AS OF 0""".stripMargin) // v0
    spark.sql("INSERT INTO graftmem.tmp.tvf_t VALUES (501, 1, 111)") // v1
    spark.sql("UPDATE graftmem.tmp.tvf_t SET cents = cents + 5 WHERE k % 6 = 2") // v2
    spark.sql("DELETE FROM graftmem.tmp.tvf_t WHERE k % 9 = 4") // v3
    def riders(df: org.apache.spark.sql.DataFrame) =
      df.select("tvf_equals_stream", "tvf_bounded_window", "tvf_net_window").distinct()
        .collect().map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(riders(gate) == Seq((false, false, true)))
    // untampered, the same riders read true
    assert(riders(graft.sources.Formats.dsv2TableChangesTvf(spark, TestSpark.sf)) ==
      Seq((true, true, true)))
  }

  test("windows: [0,0] is the initial snapshot; [1,1] one commit; end defaults to head") {
    val (cat, _) = fresh("win")
    spark.sql(s"CREATE TABLE $cat.t.w AS SELECT id AS k FROM range(5)") // v0
    spark.sql(s"INSERT INTO $cat.t.w VALUES (100), (101)") // v1
    spark.sql(s"INSERT INTO $cat.t.w VALUES (200)") // v2
    def rows(sql: String): Seq[(Long, String, Long)] =
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(rows(s"SELECT k, _change_type, _commit_version " +
      s"FROM table_changes('$cat.t.w', 0, 0)") ==
      (0L until 5L).map((_, "insert", 0L)),
      "start=0 must replay v0's full content as inserts")
    assert(rows(s"SELECT k, _change_type, _commit_version " +
      s"FROM table_changes('$cat.t.w', 1, 1)") ==
      Seq((100L, "insert", 1L), (101L, "insert", 1L)))
    // omitted end = current head
    assert(rows(s"SELECT k, _change_type, _commit_version " +
      s"FROM table_changes('$cat.t.w', 1)") ==
      Seq((100L, "insert", 1L), (101L, "insert", 1L), (200L, "insert", 2L)))
    // column pruning reaches the window scan
    val p = spark.sql(s"SELECT k FROM table_changes('$cat.t.w', 0)")
      .queryExecution.executedPlan.toString
    assert(p.contains("cols=k"), s"pruned TVF read expected:\n$p")
  }

  test("a COW delete replays as delete rows; net over the feed reconstructs the table") {
    val (cat, _) = fresh("del")
    spark.sql(s"CREATE TABLE $cat.t.d AS SELECT id AS k FROM range(10)") // v0
    spark.sql(s"DELETE FROM $cat.t.d WHERE k >= 7") // v1 (COW rewrite)
    val net = spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.d', 0, 1)
         |GROUP BY k
         |HAVING sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) > 0""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(net == (0L until 7L).toSet,
      "net(+insert, -delete) over the window must equal the final state")
  }

  test("net mode cancels untouched rows; timestamps ride the commit") {
    val (cat, _) = fresh("net")
    spark.sql(s"CREATE TABLE $cat.t.n AS SELECT id AS k, id * 10 AS v FROM range(8)") // v0
    spark.sql(s"UPDATE $cat.t.n SET v = v + 1 WHERE k = 3") // v1: COW rewrite
    // raw replay ships the whole rewritten file twice; NET mode cancels
    // the untouched rows inside the diff task
    val raw = spark.sql(
      s"SELECT count(*) FROM table_changes('$cat.t.n', 1, 1)").head().getLong(0)
    val net = spark.sql(
      s"SELECT k, v, _change_type FROM table_changes('$cat.t.n', 1, 1, true)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(raw > 2, s"raw replay should ship the rewritten group, got $raw rows")
    assert(net == Set((3L, 30L, "update_preimage"), (3L, 31L, "update_postimage")),
      s"net mode must emit exactly the changed row's pre/post images, got $net")
    // _commit_timestamp: one value per commit, non-decreasing in version
    val ts = spark.sql(
      s"""SELECT _commit_version, min(CAST(_commit_timestamp AS BIGINT)),
         |       max(CAST(_commit_timestamp AS BIGINT))
         |FROM table_changes('$cat.t.n', 0) GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ts.forall { case (_, lo, hi) => lo == hi && lo > 0 })
    assert(ts.sliding(2).forall {
      case Array(a, b) => a._2 <= b._2
      case _ => true
    }, s"commit timestamps must be non-decreasing: ${ts.mkString(",")}")
  }

  test("argument validation refuses loudly") {
    val (cat, _) = fresh("bad")
    spark.sql(s"CREATE TABLE $cat.t.v AS SELECT id FROM range(3)") // v0
    spark.sql(s"INSERT INTO $cat.t.v VALUES (7)") // v1
    spark.sql(s"INSERT INTO $cat.t.v VALUES (8)") // v2
    def fails(sql: String, want: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage != null && e.getMessage.contains(want),
        s"expected '$want' in: ${e.getMessage}")
    }
    fails(s"SELECT * FROM table_changes('$cat.t.missing', 0)", "does not exist")
    fails(s"SELECT * FROM table_changes('$cat.t.v', 5)",
      "start_version 5 is beyond the current head")
    fails(s"SELECT * FROM table_changes('$cat.t.v', 2, 1)", "end_version")
    fails(s"SELECT * FROM table_changes('unqualified', 0)", "fully qualified")
    fails(s"SELECT * FROM table_changes('$cat.t.v')", "arguments")
    // a BIGINT version beyond Int range must fail loudly, not truncate
    // to version 0 and silently replay the whole feed
    fails(s"SELECT * FROM table_changes('$cat.t.v', 4294967296)",
      "outside the valid version range")
    fails(s"SELECT * FROM table_changes('$cat.t.v', 0, 4294967297)",
      "outside the valid version range")
  }

  test("a vacuumed version in the window fails loudly with the retention hint") {
    val (cat, root) = fresh("vac")
    spark.sql(s"CREATE TABLE $cat.t.g AS SELECT id FROM range(4)") // v0
    spark.sql(s"INSERT INTO $cat.t.g VALUES (9)") // v1
    spark.sql(s"INSERT INTO $cat.t.g VALUES (10)") // v2
    // keep v1+v2 manifests: a window starting at v diffs against
    // manifest(v-1), so [1,2] needs the vacuumed v0 and must fail while
    // [2,2] (v1 vs v2) stays readable
    MemCatalog.vacuum(root.resolve("t__g"), keepVersions = 2)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM table_changes('$cat.t.g', 1, 2)").collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("vacuumed")),
      s"expected the vacuumed-version hint, got: ${messages(e).mkString(" | ")}")
    // the still-retained tail remains readable
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$cat.t.g', 2, 2)")
      .head().getLong(0) == 1)
  }

  test("_commit_version predicates narrow the planned window (pushdown)") {
    val (cat, _) = fresh("push")
    spark.sql(s"CREATE TABLE $cat.t.p AS SELECT id AS k FROM range(3)") // v0
    spark.sql(s"INSERT INTO $cat.t.p VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.p VALUES (20)") // v2
    spark.sql(s"INSERT INTO $cat.t.p VALUES (30)") // v3
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    def window(sql: String): String = {
      val m = """versions=\[(-?\d+), (-?\d+)\]""".r.findFirstIn(planOf(sql))
      m.getOrElse(s"NO WINDOW IN PLAN: ${planOf(sql)}")
    }
    val base = s"SELECT k FROM table_changes('$cat.t.p', 0, 3)"
    assert(window(s"$base WHERE _commit_version = 2") == "versions=[2, 2]")
    assert(window(s"$base WHERE _commit_version >= 2") == "versions=[2, 3]")
    assert(window(s"$base WHERE _commit_version < 2") == "versions=[0, 1]")
    assert(window(s"$base WHERE _commit_version IN (1, 3)") == "versions=[1, 3]")
    assert(window(
      s"$base WHERE _commit_version >= 1 AND _commit_version <= 2") ==
      "versions=[1, 2]")
    // results stay exact (the filters remain residual)
    assert(spark.sql(s"$base WHERE _commit_version = 2").collect()
      .map(_.getLong(0)).toSeq == Seq(20L))
    assert(spark.sql(s"$base WHERE _commit_version IN (1, 3)").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(10L, 30L))
  }

  test("_commit_timestamp bounds narrow through manifest times") {
    val (cat, root) = fresh("tspush")
    spark.sql(s"CREATE TABLE $cat.t.s AS SELECT id AS k FROM range(2)") // v0
    spark.sql(s"INSERT INTO $cat.t.s VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.s VALUES (20)") // v2
    val dir = root.resolve("t__s")
    val t1 = MemCatalog.readManifestFull(dir, 1).ts // epoch millis
    val df = spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.s', 0, 2)
         |WHERE _commit_timestamp >= CAST(timestamp_millis($t1) AS TIMESTAMP)"""
        .stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("versions=[1, 2]"), plan)
    assert(df.collect().map(_.getLong(0)).toSeq.sorted == Seq(10L, 20L))
  }

  test("a window handle reads batch AND streams; netChanges rides as a read option") {
    val (cat, _) = fresh("handle")
    spark.sql(s"CREATE TABLE $cat.t.h AS SELECT id AS k, id AS v FROM range(4)") // v0
    spark.sql(s"UPDATE $cat.t.h SET v = v + 100 WHERE k = 2") // v1
    // batch read of the handle == the TVF window
    val viaHandle = spark.read.table(s"$cat.t.h.changes_1_1")
      .selectExpr("k", "v", "_change_type").collect().map(_.toString).sorted
    val viaTvf = spark.sql(
      s"SELECT k, v, _change_type FROM table_changes('$cat.t.h', 1, 1)")
      .collect().map(_.toString).sorted
    assert(viaHandle.sameElements(viaTvf), viaHandle.mkString(" | "))
    // netChanges option: the update window classifies as pre/postimage
    val net = spark.read.option("netChanges", "true").table(s"$cat.t.h.changes_1_1")
      .selectExpr("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(net.toSeq == Seq((2L, 2L, "update_preimage"), (2L, 102L, "update_postimage")),
      net.mkString(" | "))
  }

  test("window stream restart resumes from the checkpointed version, no replay") {
    val (cat, _) = fresh("resume")
    spark.sql(s"CREATE TABLE $cat.t.r AS SELECT id AS k FROM range(3)") // v0
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO $cat.t.r VALUES (${i * 100})")) // v1..v4
    val ckpt = tempDir("graft-tvs-resume")
    // sink = a catalog table (the memory sink refuses checkpoint
    // recovery); its epoch-idempotent commits also make duplicates loud
    spark.sql(s"CREATE TABLE $cat.t.rout (k BIGINT, v BIGINT)")
    def drain(): Unit = {
      val q = spark.readStream.option("maxVersionsPerTrigger", "1")
        .table(s"$cat.t.r.changes_1_4")
        .selectExpr("k", "_commit_version AS v")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .toTable(s"$cat.t.rout")
      try q.processAllAvailable() finally q.stop()
    }
    // first drain reads the full window; the RESTARTED query must find
    // the committed offset at the window end and add NOTHING — the
    // restart-safety claim of version-currency offsets, observed
    drain()
    val first = spark.sql(s"SELECT k, v FROM $cat.t.rout")
      .collect().map(_.toString).sorted.toSeq
    assert(first.size == 4, first.mkString(" | "))
    drain()
    val second = spark.sql(s"SELECT k, v FROM $cat.t.rout")
      .collect().map(_.toString).sorted.toSeq
    assert(second == first,
      s"a restarted bounded drain must not duplicate rows: $second vs $first")
  }

  test("timestamp narrowing still fires over a vacuumed prefix (neighbor bounds)") {
    val (cat, root) = fresh("vacts")
    // distinct commit milliseconds: the assertions reason about strict
    // ts inequalities between versions
    spark.sql(s"CREATE TABLE $cat.t.v AS SELECT id AS k FROM range(2)") // v0
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.t.v VALUES (10)") // v1
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.t.v VALUES (20)") // v2
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.t.v VALUES (30)") // v3
    val dir = root.resolve("t__v")
    val t3 = MemCatalog.readManifestFull(dir, 3).ts
    MemCatalog.vacuum(dir, keepVersions = 3) // v0 gone, v1..v3 retained
    // v0's commit time is unknown, but the monotone commit clock bounds
    // it by ts(v1): ts(v0) ≤ ts(v1) < t3, so `_commit_timestamp ≥ t3`
    // provably excludes the vacuumed prefix and the query SUCCEEDS where
    // the un-narrowed [0, 3] window would fail loudly on v0
    val df = spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.v', 0, 3)
         |WHERE _commit_timestamp >= CAST(timestamp_millis($t3) AS TIMESTAMP)"""
        .stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("versions=[3, 3]"), plan)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(30L))
    // but a predicate that cannot exclude the vacuumed version keeps it
    // in the window and the read still fails loudly — narrowing must
    // never convert an unanswerable window into silent partial results
    val e = intercept[Exception](spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.v', 0, 3)
         |WHERE _commit_timestamp <= CAST(timestamp_millis($t3) AS TIMESTAMP)"""
        .stripMargin).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("vacuumed")), messages(e).mkString(" | "))
  }

  test("sub-millisecond `<` literal keeps the boundary commit (conservative widening)") {
    val (cat, root) = fresh("subms")
    spark.sql(s"CREATE TABLE $cat.t.m AS SELECT id AS k FROM range(2)") // v0
    Thread.sleep(5) // distinct commit milliseconds (strict-< reasoning)
    spark.sql(s"INSERT INTO $cat.t.m VALUES (10)") // v1
    val dir = root.resolve("t__m")
    val t1 = MemCatalog.readManifestFull(dir, 1).ts
    // literal = v1's commit millisecond + 500 µs: rows of v1 (stamped at
    // whole-ms µs) DO satisfy `< literal`, so the narrowed window must
    // still include v1 — strict ms-floor pruning would drop it at source
    // and the residual filter could never bring the commit back
    val df = spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.m', 0, 1)
         |WHERE _commit_timestamp < timestamp_micros(${t1 * 1000L + 500L})"""
        .stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("versions=[0, 1]"),
      df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L, 10L))
    // exact-ms strict `<` stays tight: v1 itself is excluded
    val tight = spark.sql(
      s"""SELECT k FROM table_changes('$cat.t.m', 0, 1)
         |WHERE _commit_timestamp < timestamp_micros(${t1 * 1000L})""".stripMargin)
    assert(tight.queryExecution.executedPlan.toString.contains("versions=[0, 0]"),
      tight.queryExecution.executedPlan.toString)
    assert(tight.collect().map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L))
  }

  test("commit timestamps never regress (monotone commit clock)") {
    val (cat, root) = fresh("clock")
    spark.sql(s"CREATE TABLE $cat.t.c AS SELECT id AS k FROM range(2)")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO $cat.t.c VALUES ($i)"))
    val dir = root.resolve("t__c")
    val ts = (0 to 5).map(v => MemCatalog.readManifestFull(dir, v).ts)
    assert(ts.sliding(2).forall(w => w(0) <= w(1)), ts.toString)
  }

  test("exact version narrowing steps OVER a vacuumed commit outside the window") {
    val (cat, root) = fresh("vacpush")
    spark.sql(s"CREATE TABLE $cat.t.o AS SELECT id AS k FROM range(2)") // v0
    spark.sql(s"INSERT INTO $cat.t.o VALUES (10)") // v1
    spark.sql(s"INSERT INTO $cat.t.o VALUES (20)") // v2
    MemCatalog.vacuum(root.resolve("t__o"), keepVersions = 2) // v0 gone
    // the full window would fail on vacuumed v0; the narrowed one plans
    // only v2's delta and succeeds — the pushdown's side benefit
    assert(spark.sql(
      s"SELECT k FROM table_changes('$cat.t.o', 0, 2) WHERE _commit_version = 2")
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
  }
}
