package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Read-surface governance contracts under the oracle-gated queries
  * (`dsv2_row_policy`, `dsv2_column_mask`): the policy and mask apply
  * uniformly to every QUERY reader (batch, streaming tail, change feed)
  * while maintenance reads raw — a policy hides data, it never destroys
  * it, and a masked value is never written back as data.
  */
class MemPolicySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tdir(name: String) = MemCatalog.tableDir(spark, s"graftmem.tmp.$name")

  test("maintenance preserves policy-hidden rows: compact + policy-drop round-trips") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.polc")
    spark.sql(
      """CREATE TABLE graftmem.tmp.polc AS
        |SELECT CAST(id % 5 AS BIGINT) AS nat, CAST(id AS BIGINT) AS v
        |FROM range(0, 100)""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.polc " +
      "SELECT CAST(id % 5 AS BIGINT), CAST(id AS BIGINT) FROM range(100, 200)")
    val rawSum = spark.sql("SELECT sum(v) FROM graftmem.tmp.polc").head().getLong(0)
    spark.sql("ALTER TABLE graftmem.tmp.polc SET TBLPROPERTIES('graft.policy' = 'nat <> 2')")
    val vis = spark.sql("SELECT sum(v) FROM graftmem.tmp.polc").head().getLong(0)
    assert(vis < rawSum)
    // OPTIMIZE reads raw: the rewrite must carry the hidden rows through
    MemCatalog.compact(tdir("polc"))
    assert(spark.sql("SELECT sum(v) FROM graftmem.tmp.polc").head().getLong(0) == vis,
      "the filtered view is unchanged by maintenance")
    spark.sql("ALTER TABLE graftmem.tmp.polc UNSET TBLPROPERTIES ('graft.policy')")
    assert(spark.sql("SELECT sum(v) FROM graftmem.tmp.polc").head().getLong(0) == rawSum,
      "dropping the policy restores every hidden row — nothing was destroyed")
  }

  test("the change feed is policy-filtered like every other read surface") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.polf")
    spark.sql(
      """CREATE TABLE graftmem.tmp.polf
        |TBLPROPERTIES('graft.policy' = 'nat <> 1') AS
        |SELECT CAST(id % 3 AS BIGINT) AS nat, CAST(id AS BIGINT) AS v
        |FROM range(0, 30)""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.polf " +
      "SELECT CAST(id % 3 AS BIGINT), CAST(id AS BIGINT) FROM range(30, 60)")
    val ckpt = tempDir("graft-polf-ckpt")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.option("changefeed", "true")
      .table("graftmem.tmp.polf")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized { got ++= b.collect().map(_.getAs[Long]("nat")) }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.nonEmpty && !got.contains(1L),
      s"policy-hidden rows must not reach the change feed: ${got.distinct.sorted}")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(ckpt)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
  }

  test("mask: deterministic tokens, null-preserving, raw restored on unset") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.mskr")
    spark.sql(
      """CREATE TABLE graftmem.tmp.mskr AS
        |SELECT CAST(id AS BIGINT) AS k,
        |       CASE WHEN id % 4 = 0 THEN CAST(NULL AS STRING)
        |            ELSE concat('p', CAST(id % 3 AS STRING)) END AS pii
        |FROM range(0, 24)""".stripMargin)
    spark.sql("ALTER TABLE graftmem.tmp.mskr SET TBLPROPERTIES('graft.mask' = 'pii')")
    val rows = spark.sql("SELECT k, pii FROM graftmem.tmp.mskr").collect()
    val nonNull = rows.flatMap(r => Option(r.getString(1)))
    assert(nonNull.forall(_.matches("[0-9a-f]{32}")), "tokens are md5 hex")
    assert(nonNull.distinct.length == 3, "3 distinct raw values -> 3 distinct tokens")
    assert(rows.count(_.isNullAt(1)) == 6, "nulls stay null")
    // equality on tokens == equality on raw values (determinism)
    assert(spark.sql(
      "SELECT count(DISTINCT pii) FROM graftmem.tmp.mskr WHERE pii IS NOT NULL")
      .head().getLong(0) == 3L)
    spark.sql("ALTER TABLE graftmem.tmp.mskr UNSET TBLPROPERTIES ('graft.mask')")
    assert(spark.sql("SELECT count(*) FROM graftmem.tmp.mskr WHERE pii LIKE 'p%'")
      .head().getLong(0) == 18L, "raw values restored — masking never rewrote data")
  }

  test("mask on a non-string column refuses loudly") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.mskx")
    spark.sql("CREATE TABLE graftmem.tmp.mskx AS SELECT CAST(id AS BIGINT) AS k FROM range(0, 5)")
    spark.sql("ALTER TABLE graftmem.tmp.mskx SET TBLPROPERTIES('graft.mask' = 'k')")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftmem.tmp.mskx").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must be STRING")), messages(e).mkString(" | "))
  }

  test("policy removes the planner row count and the metadata-only aggregate") {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.polm")
    spark.sql(
      """CREATE TABLE graftmem.tmp.polm AS
        |SELECT CAST(id % 4 AS BIGINT) AS nat, CAST(id AS BIGINT) AS v
        |FROM range(0, 40)""".stripMargin)
    val before = spark.sql("SELECT count(*) FROM graftmem.tmp.polm")
      .queryExecution.executedPlan.toString
    assert(before.contains("graft_mem_metaagg"), "without a policy the count is metadata-only")
    spark.sql("ALTER TABLE graftmem.tmp.polm SET TBLPROPERTIES('graft.policy' = 'nat <> 0')")
    val after = spark.sql("SELECT count(*) FROM graftmem.tmp.polm")
      .queryExecution.executedPlan.toString
    assert(!after.contains("graft_mem_metaagg"), "a policy makes the count a data question")
    assert(spark.sql("SELECT count(*) FROM graftmem.tmp.polm").head().getLong(0) == 30L)
  }
}
