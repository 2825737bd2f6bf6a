package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.MemCatalog

/** `Sessions.build` is the one place a session is wired: every clone made
  * with `newSession()` already has the graft catalogs, SQL functions and
  * the `table_changes` TVF before any query runs, and running gates on a
  * session leaves its conf untouched (the isolation `Verify`'s concurrent
  * pool relies on).
  */
class SessionWiringSpec extends AnyFunSuite {
  private def fresh(): SparkSession = TestSpark.spark.newSession()

  private def rows(rs: Array[Row]): Seq[String] = rs.map(_.toString).sorted.toSeq

  test("a fresh clone resolves both catalogs, the TVF and every SQL function") {
    val s = fresh()
    s.sql("SHOW NAMESPACES IN graftmem").collect()
    // SeqCatalog has no namespaces to SHOW; resolving one of its tables is
    // the same catalog lookup
    assert(s.sql("SELECT count(*) FROM graftcat.gen.seq_100_1").head().getLong(0) == 100)

    s.sql("CREATE OR REPLACE TABLE graftmem.tmp.wiring_tvf AS SELECT id AS k FROM range(3)")
    assert(s.sql("SELECT count(*) FROM table_changes('graftmem.tmp.wiring_tvf', 0)")
      .head().getLong(0) == 3)

    val r = s.sql(
      """SELECT cosine_sim(array(1d, 0d), array(1d, 0d)) AS cos,
        |       dot_i64(array(2L, 3L), array(4L, 5L)) AS dot,
        |       unicode_fold('résumé') AS folded""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) == 23L)
    assert(r.getString(2) == "resume")
    assert(s.sql("SELECT word_ngrams(array('a', 'b', 'c'), 2)").count() == 2)
    assert(s.sql("SELECT cms_sketch(id) FROM range(10)").count() == 1)
    assert(s.sql("SELECT loghist_sketch(id) FROM range(10)").count() == 1)
  }

  test("dsv2_mv_serve returns the oracle answer as the first query on a fresh session") {
    val s = fresh()
    val got = rows(SparkEntry.queries("dsv2_mv_serve")(s, TestSpark.sf).collect())
    val oracle = fresh()
    graft.sources.Tables.orders(oracle, TestSpark.sf).createOrReplaceTempView("orders")
    val want = rows(oracle.sql(SparkEntry.oracleSql("dsv2_mv_serve")).collect())
    assert(got == want)
  }

  test("stream, graftcat and graftmem gates leave the session conf unchanged") {
    val s = fresh()
    val before = s.conf.getAll
    def diff(m: Map[String, String]) = (m.toSet diff before.toSet) ++ (before.toSet diff m.toSet)
    // read the conf while each plan on `s` optimizes too, not only after the
    // gate returns: a set-then-restore in between is exactly what races
    // Verify's concurrent pool
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    s.experimental.extraOptimizations = Seq(new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { seen.add(s.conf.getAll); plan }
    })
    Seq("dsv2_tvf_stream", "dsv2_catalog_sql", "dsv2_catalog_ctas", "sql_scripting",
      "join_bloom_pruned").foreach { name =>
      assert(SparkEntry.queries(name)(s, TestSpark.sf).collect().nonEmpty, name)
    }
    val after = s.conf.getAll
    assert(after == before, s"conf changed: ${diff(after)}")
    assert(!seen.isEmpty)
    seen.forEach(m => assert(m == before, s"conf changed while planning: ${diff(m)}"))
  }

  test("the graftmem root is one per-JVM dir under java.io.tmpdir, shared by clones") {
    val mine = MemCatalog.tableDir(fresh(), "graftmem.tmp.wiring_root").getParent
    assert(mine == MemCatalog.tableDir(TestSpark.spark, "graftmem.tmp.wiring_root").getParent)
    assert(mine.getParent == java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    assert(mine.getFileName.toString.startsWith("graft-memcat-graftmem-"), mine)
  }
}
