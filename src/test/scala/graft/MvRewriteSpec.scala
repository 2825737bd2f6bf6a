package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MvRewrite
import graft.sources.v2.MemCatalog
import scala.jdk.CollectionConverters._

/** [[graft.plans.MvRewrite]] unit contracts under the oracle-gated query
  * (`dsv2_mv_rewrite`): the rewrite is plan-verified MV-only when it
  * fires, row-identical to the disarmed direct aggregate (including
  * null-bearing avg/count and the empty-filter edge), refuses every
  * unsupported shape by leaving the plan untouched, disarms on
  * staleness, and grafts fresh exprIds per match site (two aggregates
  * over one base in a single query).
  */
class MvRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the armed session: rule installed via extraOptimizations (the main
  // session is the disarmed control)
  private lazy val s2: SparkSession = {
    val s = spark.newSession()
    MvRewrite.install(s)
    s
  }

  private def scans(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.relation.table.name()
    }

  private def rows(q: DataFrame): Seq[String] =
    q.collect().map(_.toString).sorted.toSeq

  /** Build base (with NULL cents every 5th key) + MV, register, run. */
  private def withMv[A](tag: String)(body: (String, String, MvRewrite.MvDef) => A): A = {
    val base = s"graftmem.tmp.smvr_${tag}_base"
    val mv = s"graftmem.tmp.smvr_${tag}_mv"
    s2.sql(
      s"""CREATE OR REPLACE TABLE $base AS
         |SELECT CAST(id % 13 AS BIGINT) AS k, CAST(id % 4 AS BIGINT) AS cat,
         |       CASE WHEN id % 5 = 0 THEN CAST(NULL AS BIGINT)
         |            ELSE CAST(id * 3 AS BIGINT) END AS cents
         |FROM range(0, 400)""".stripMargin)
    s2.sql(
      s"""CREATE OR REPLACE TABLE $mv AS
         |SELECT k, cat, count(*) AS n_rows, count(cents) AS n_cents,
         |       sum(cents) AS sum_cents, min(cents) AS min_cents,
         |       max(cents) AS max_cents
         |FROM $base GROUP BY k, cat""".stripMargin)
    val baseDir = MemCatalog.tableDir(spark, s"graftmem.tmp.smvr_${tag}_base")
    val d = MvRewrite.register(s2, base, mv, baseDir, Seq("k", "cat"),
      Map(("count", "*") -> "n_rows", ("count", "cents") -> "n_cents",
        ("sum", "cents") -> "sum_cents", ("min", "cents") -> "min_cents",
        ("max", "cents") -> "max_cents"))
    try body(base, mv, d)
    finally MvRewrite.unregister(d.baseName)
  }

  test("rollup subset + filter rewrite: MV-only plan, row-identical to direct, nulls exact") {
    withMv("roll") { (base, _, d) =>
      // avg/count(cents) must ignore the NULL rows exactly like the base
      val sql = s"""SELECT cat, count(*) AS n, count(cents) AS nc,
                   |       sum(cents) AS s, min(cents) AS lo, max(cents) AS hi,
                   |       avg(cents) AS mean
                   |FROM $base WHERE k < 9 GROUP BY cat""".stripMargin
      val q = s2.sql(sql)
      assert(scans(q) == Seq(d.mvName), s"expected MV-only plan, got ${scans(q)}")
      assert(rows(q) == rows(spark.sql(sql)))
      // schema contract: names, types AND the count column's non-nullability
      val direct = spark.sql(sql)
      assert(q.schema.map(f => (f.name, f.dataType)) ==
        direct.schema.map(f => (f.name, f.dataType)))
      assert(!q.schema("n").nullable && !q.schema("nc").nullable)
    }
  }

  test("global aggregate (no GROUP BY) and empty-filter edge stay exact") {
    withMv("glob") { (base, _, d) =>
      val sql = s"SELECT count(*) AS n, sum(cents) AS s, min(cents) AS lo FROM $base"
      val q = s2.sql(sql)
      assert(scans(q) == Seq(d.mvName))
      assert(rows(q) == rows(spark.sql(sql)))
      // filter selecting nothing: count must come back 0 (not null), the
      // rest null — identical to the base-table answer
      val sqlEmpty = s"SELECT count(*) AS n, sum(cents) AS s FROM $base WHERE k > 999"
      val qe = s2.sql(sqlEmpty)
      assert(scans(qe) == Seq(d.mvName))
      assert(rows(qe) == rows(spark.sql(sqlEmpty)))
      assert(qe.collect()(0).getLong(0) == 0L)
    }
  }

  test("unsupported shapes leave the plan on the base table") {
    withMv("ref") { (base, _, d) =>
      // distinct aggregate: not derivable from sum/count partials
      val qDistinct = s2.sql(s"SELECT cat, count(DISTINCT cents) AS n FROM $base GROUP BY cat")
      assert(scans(qDistinct) == Seq(d.baseName))
      // filter on a NON-group column: the MV lost row-level cents
      val qRowFilter = s2.sql(
        s"SELECT cat, count(*) AS n FROM $base WHERE cents > 100 GROUP BY cat")
      assert(scans(qRowFilter) == Seq(d.baseName))
      // expression over a grouping column: not a bare MV group key
      val qExprGroup = s2.sql(
        s"SELECT k % 2 AS p, count(*) AS n FROM $base GROUP BY k % 2")
      assert(scans(qExprGroup) == Seq(d.baseName))
      // aggregate the MV doesn't carry
      val qNoCol = s2.sql(s"SELECT cat, sum(k) AS sk FROM $base GROUP BY cat")
      assert(scans(qNoCol) == Seq(d.baseName))
    }
  }

  test("a base commit disarms the rewrite until re-registration") {
    withMv("stale") { (base, mv, d) =>
      val sql = s"SELECT cat, count(*) AS n, sum(cents) AS s FROM $base GROUP BY cat"
      assert(scans(s2.sql(sql)) == Seq(d.mvName))
      s2.sql(s"INSERT INTO $base SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(7777 AS BIGINT)")
      val q = s2.sql(sql)
      assert(scans(q) == Seq(d.baseName), "stale MV must not answer")
      // and the answer is the NEW base truth
      assert(rows(q) == rows(spark.sql(sql)))
    }
  }

  test("maintained registration: freshness follows the persisted watermark, not re-registration") {
    withMv("wm") { (base, mv, d0) =>
      MvRewrite.unregister(d0.baseName) // replace the pinned registration
      val baseDir = MemCatalog.tableDir(spark, "graftmem.tmp.smvr_wm_base")
      val mvDir = MemCatalog.tableDir(spark, "graftmem.tmp.smvr_wm_mv")
      s2.sql(s"ALTER TABLE $mv UNSET TBLPROPERTIES IF EXISTS ('graft.mv.basedOn')")
      val d = MvRewrite.registerMaintained(s2, base, mv, baseDir, mvDir,
        Seq("k", "cat"), Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
      try {
        val sql = s"SELECT cat, count(*) AS n, sum(cents) AS s FROM $base GROUP BY cat"
        // no watermark yet: never fresh
        assert(scans(s2.sql(sql)) == Seq(d.baseName))
        // stamping the CURRENT base version arms the rewrite
        val v = graft.sources.v2.MemCatalog.currentVersion(baseDir)
        s2.sql(s"ALTER TABLE $mv SET TBLPROPERTIES('graft.mv.basedOn' = '$v')")
        assert(scans(s2.sql(sql)) == Seq(d.mvName))
        // a base commit the watermark has not caught up to disarms it...
        s2.sql(s"INSERT INTO $base SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(5 AS BIGINT)")
        assert(scans(s2.sql(sql)) == Seq(d.baseName))
        // ...and the maintenance stamp re-arms it with NO re-registration
        // (the MV content is refreshed out-of-band here; the unit under
        // test is the watermark gate, the fold is dsv2MvIncremental's)
        s2.sql(s"""INSERT OVERWRITE $mv
                  |SELECT k, cat, count(*), count(cents), sum(cents), min(cents), max(cents)
                  |FROM $base GROUP BY k, cat""".stripMargin)
        s2.sql(s"ALTER TABLE $mv SET TBLPROPERTIES('graft.mv.basedOn' = '${v + 1}')")
        val q = s2.sql(sql)
        assert(scans(q) == Seq(d.mvName))
        assert(rows(q) == rows(spark.sql(sql)))
      } finally MvRewrite.unregister(d.baseName)
    }
  }

  test("pre-pushdown matcher arm (the GraftExtensions injection point) rewrites too") {
    withMv("pre") { (base, _, d) =>
      // at injectOptimizerRule's position (operator-optimization batch)
      // the base is still a DataSourceV2Relation — simulate by applying
      // the rule to the analyzed plan after alias elimination, exactly
      // the state that batch sees
      val analyzed = s2.sql(
        s"SELECT cat, count(*) AS n, sum(cents) AS s FROM $base WHERE k < 4 GROUP BY cat")
        .queryExecution.analyzed
      val pre = org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(analyzed)
      assert(pre.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
      }.nonEmpty, "precondition: pre-pushdown relation shape")
      val rewritten = MvRewrite(pre)
      val scanNames = rewritten.collect {
        case s: DataSourceV2ScanRelation => s.relation.table.name()
      }
      val relNames = rewritten.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
      }
      assert(scanNames == Seq(d.mvName) && relNames.isEmpty,
        s"expected MV graft, got scans=$scanNames rels=$relNames")
    }
  }

  test("star-schema MV: aggregates over the registered join rewrite; others refuse") {
    s2.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.smvr_star_f AS
        |SELECT CAST(id % 50 AS BIGINT) AS ck, CAST(id * 3 AS BIGINT) AS cents
        |FROM range(0, 500)""".stripMargin)
    s2.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.smvr_star_d AS
        |SELECT CAST(id AS BIGINT) AS dk, CAST(id % 4 AS BIGINT) AS seg,
        |       CAST(id % 3 AS BIGINT) AS nat, CAST(id AS BIGINT) AS dk2
        |FROM range(0, 40)""".stripMargin) // keys 40..49 dangle: inner join drops them
    s2.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.smvr_star_mv AS
        |SELECT seg, nat, count(*) AS n_rows, sum(cents) AS sum_cents
        |FROM graftmem.tmp.smvr_star_f f JOIN graftmem.tmp.smvr_star_d d
        |ON f.ck = d.dk GROUP BY seg, nat""".stripMargin)
    val dirs = Seq("smvr_star_f", "smvr_star_d")
      .map(n => MemCatalog.tableDir(spark, s"graftmem.tmp.$n"))
    val d = MvRewrite.registerJoin(s2, "graftmem.tmp.smvr_star_mv",
      "graftmem.tmp.smvr_star_f", "graftmem.tmp.smvr_star_d", "ck", "dk",
      dirs, Seq("seg", "nat"),
      Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
    try {
      val sql = """SELECT seg, count(*) AS n, sum(cents) AS s
                  |FROM graftmem.tmp.smvr_star_f f JOIN graftmem.tmp.smvr_star_d d
                  |ON f.ck = d.dk WHERE d.nat = 2 GROUP BY seg""".stripMargin
      val q = s2.sql(sql)
      assert(scans(q) == Seq(d.mvName), s"expected MV-only star plan, got ${scans(q)}")
      assert(rows(q) == rows(spark.sql(sql)))
      // sides swapped: same join, still rewrites
      val qSwap = s2.sql(
        """SELECT nat, sum(cents) AS s FROM graftmem.tmp.smvr_star_d d
          |JOIN graftmem.tmp.smvr_star_f f ON d.dk = f.ck GROUP BY nat""".stripMargin)
      assert(scans(qSwap) == Seq(d.mvName), s"swap: ${scans(qSwap)}")
      assert(rows(qSwap) == rows(spark.sql(
        """SELECT nat, sum(cents) AS s FROM graftmem.tmp.smvr_star_d d
          |JOIN graftmem.tmp.smvr_star_f f ON d.dk = f.ck GROUP BY nat""".stripMargin)))
      // a DIFFERENT join key is a different join: refuse
      val qKey = s2.sql(
        """SELECT seg, count(*) AS n FROM graftmem.tmp.smvr_star_f f
          |JOIN graftmem.tmp.smvr_star_d d ON f.ck = d.dk2 GROUP BY seg""".stripMargin)
      assert(!scans(qKey).contains(d.mvName))
      // a filter on a pre-aggregation measure: refuse
      val qMeasure = s2.sql(
        """SELECT seg, count(*) AS n FROM graftmem.tmp.smvr_star_f f
          |JOIN graftmem.tmp.smvr_star_d d ON f.ck = d.dk
          |WHERE cents > 30 GROUP BY seg""".stripMargin)
      assert(!scans(qMeasure).contains(d.mvName))
      // an outer join keeps dangling keys the MV never saw: refuse
      val qOuter = s2.sql(
        """SELECT seg, count(*) AS n FROM graftmem.tmp.smvr_star_f f
          |LEFT JOIN graftmem.tmp.smvr_star_d d ON f.ck = d.dk GROUP BY seg""".stripMargin)
      assert(!scans(qOuter).contains(d.mvName))
      // a commit to EITHER side disarms
      s2.sql("INSERT INTO graftmem.tmp.smvr_star_d " +
        "SELECT CAST(40 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(40 AS BIGINT)")
      val qStale = s2.sql(sql)
      assert(!scans(qStale).contains(d.mvName))
      assert(rows(qStale) == rows(spark.sql(sql)))
    } finally MvRewrite.unregister(d.baseName)
  }

  test("a governance flip disarms the rewrite — no policy bypass through the MV") {
    withMv("gov") { (base, _, d) =>
      val sql = s"SELECT cat, count(*) AS n FROM $base GROUP BY cat"
      assert(scans(s2.sql(sql)) == Seq(d.mvName))
      // attaching a row policy is a props-only ALTER: no manifest commit,
      // no version bump — version-pinned freshness alone would keep
      // serving the MV built from RAW data
      s2.sql(s"ALTER TABLE $base SET TBLPROPERTIES('graft.policy' = 'k <> 1')")
      try {
        val q = s2.sql(sql)
        assert(scans(q) == Seq(d.baseName),
          "an MV built from raw data must not answer under a row policy")
        assert(rows(q) == rows(spark.sql(sql)), "the answer is the policy-filtered truth")
      } finally s2.sql(s"ALTER TABLE $base UNSET TBLPROPERTIES ('graft.policy')")
    }
  }

  test("two aggregates over one base in a single query graft independent exprIds") {
    withMv("twin") { (base, _, d) =>
      val q = s2.sql(
        s"""SELECT a.cat, a.n, b.n AS n_small FROM
           |  (SELECT cat, count(*) AS n FROM $base GROUP BY cat) a
           |JOIN
           |  (SELECT cat, count(*) AS n FROM $base WHERE k < 3 GROUP BY cat) b
           |ON a.cat = b.cat""".stripMargin)
      assert(scans(q) == Seq(d.mvName, d.mvName), s"got ${scans(q)}")
      assert(rows(q) == rows(spark.sql(
        s"""SELECT a.cat, a.n, b.n AS n_small FROM
           |  (SELECT cat, count(*) AS n FROM $base GROUP BY cat) a
           |JOIN
           |  (SELECT cat, count(*) AS n FROM $base WHERE k < 3 GROUP BY cat) b
           |ON a.cat = b.cat""".stripMargin)))
    }
  }

  test("dsv2_mv_serve and dsv2_mv_autorefresh leave no checkpoint directory behind") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def ckptDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-ckpt") || n.startsWith("graft-mvauto-ckpt"))
        .toSet
      finally ls.close()
    }
    val before = ckptDirs()
    Seq("dsv2_mv_serve", "dsv2_mv_autorefresh").foreach { name =>
      assert(SparkEntry.queries(name)(spark, TestSpark.sf).collect().nonEmpty, name)
    }
    val left = ckptDirs() diff before
    assert(left.isEmpty, s"checkpoint directories left behind: $left")
  }
}
