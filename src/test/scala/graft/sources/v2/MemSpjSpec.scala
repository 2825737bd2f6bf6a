package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Storage-partitioned-join contracts on catalog tables beyond the
  * oracle-gated `dsv2_spj_catalog`: multi-key tuple SPJ, mismatched
  * partition sets (pushPartValues), the mixed-layout fallback, and
  * filter-pruned sides — each pinned for BOTH plan shape and result
  * correctness, because a wrong SPJ silently drops rows (the one
  * failure mode worse than a shuffle).
  */
class MemSpjSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftspjspec_$tag"
    val root = tempDir(s"graft-spj-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  /** Force SMJ (no broadcast) so zero-Exchange is attributable to the
    * reported partitioning, then restore.
    */
  private def noBroadcast[A](body: => A): A = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  private def grouped(table: String) =
    spark.read.option("groupByPartition", "true").table(table)

  test("multi-key tuple SPJ: (days, bucket) join plans zero exchanges") {
    val (cat, _) = fresh("multi")
    Seq("a", "b").foreach { t =>
      spark.sql(
        s"""CREATE TABLE $cat.t.$t (ts BIGINT, k BIGINT, v BIGINT)
           |TBLPROPERTIES ('graft.partition'='days(ts),bucket(2,k)',
           |               'graft.partitionRoute'='true', 'clusterParts'='6')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.t.$t " +
        s"SELECT (id % 3) * 86400 + id % 100, id, id * ${if (t == "a") 1 else 2} " +
        "FROM range(0, 120)")
    }
    noBroadcast {
      val a = grouped(s"$cat.t.a")
      val b = grouped(s"$cat.t.b").selectExpr("ts AS bts", "k AS bk", "v AS bv")
      import org.apache.spark.sql.functions.col
      val j = a.join(b, col("ts") === col("bts") && col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"(days, bucket) tuple SPJ must plan with zero exchanges:\n$plan")
      // 1:1 on (ts, k): every a-row matches exactly its b twin
      assert(j.count() == 120)
      assert(j.selectExpr("sum(bv - 2 * v)").head().getLong(0) == 0L)
    }
  }

  test("mismatched partition sets: pushPartValues keeps the SPJ, rows exact") {
    val (cat, _) = fresh("miss")
    spark.sql(
      s"""CREATE TABLE $cat.t.full (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.full SELECT id, id FROM range(0, 80)")
    spark.sql(
      s"""CREATE TABLE $cat.t.part (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    // bucket(id) = id mod 4 (Knuth constant ≡ 1 mod 4): keep 0..2 only —
    // the partial side has THREE partition values, the full side four
    spark.sql(s"INSERT INTO $cat.t.part SELECT id, id * 10 FROM range(0, 80) " +
      "WHERE id % 4 < 3")
    val pushKey = "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
    val old = spark.conf.get(pushKey, "false")
    spark.conf.set(pushKey, "true")
    try noBroadcast {
      import org.apache.spark.sql.functions.col
      val a = grouped(s"$cat.t.full")
      val b = grouped(s"$cat.t.part").selectExpr("k AS bk", "v AS bv")
      val j = a.join(b, col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"pushPartValues must reconcile the missing bucket without a shuffle:\n$plan")
      assert(j.count() == 60) // ids with id%4 < 3
      assert(j.selectExpr("sum(bv - 10 * v)").head().getLong(0) == 0L)
    } finally spark.conf.set(pushKey, old)
  }

  test("mixed layout falls back: correct rows, shuffles like any join") {
    val (cat, _) = fresh("mixed")
    spark.sql(
      s"""CREATE TABLE $cat.t.pure (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='2')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.pure SELECT id, id FROM range(0, 40)")
    spark.sql(
      s"""CREATE TABLE $cat.t.mix (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)')""".stripMargin)
    // UNROUTED single-task insert: one file spanning both buckets — no
    // tuple, so groupByPartition must refuse to group THIS side
    spark.sql(s"INSERT INTO $cat.t.mix SELECT /*+ COALESCE(1) */ id, id * 5 FROM range(0, 40)")
    noBroadcast {
      import org.apache.spark.sql.functions.col
      val j = grouped(s"$cat.t.pure").join(
        grouped(s"$cat.t.mix").selectExpr("k AS bk", "v AS bv"),
        col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        s"a mixed side cannot report KeyGroupedPartitioning — the join must shuffle:\n$plan")
      assert(j.count() == 40)
      assert(j.selectExpr("sum(bv - 5 * v)").head().getLong(0) == 0L)
    }
  }

  test("grouped layout serves aggregation too: GROUP BY k plans zero exchanges") {
    val (cat, _) = fresh("agg")
    spark.sql(
      s"""CREATE TABLE $cat.t.g (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='identity(k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.g SELECT id % 8, id FROM range(0, 80)")
    import org.apache.spark.sql.functions.{col, sum}
    val agg = grouped(s"$cat.t.g").groupBy(col("k")).agg(sum(col("v")).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"identity(k) tuple grouping must satisfy the GROUP BY k distribution:\n$plan")
    assert(agg.count() == 8)
    // ids ≡ j (mod 8), 10 each: sum = 10j + 8·(0+..+9) = 10j + 360
    assert(agg.filter(col("k") === 3L).head().getLong(1) == 390L)
  }

  test("storage-partitioned shuffle: only the un-grouped side exchanges") {
    val (cat, _) = fresh("oneside")
    spark.sql(
      s"""CREATE TABLE $cat.t.fact (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.fact SELECT id, id FROM range(0, 80)")
    val shufKey = "spark.sql.sources.v2.bucketing.shuffle.enabled"
    val old = spark.conf.get(shufKey, "false")
    spark.conf.set(shufKey, "true")
    try noBroadcast {
      import org.apache.spark.sql.functions.col
      // the other side is an arbitrary in-memory frame — at 100 TB this
      // is "shuffle the dim to the fact's layout, never the fact"
      val dim = spark.range(0, 80).selectExpr("id AS bk", "id * 3 AS bv")
      val j = grouped(s"$cat.t.fact").join(dim, col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      val exchanges = """Exchange""".r.findAllIn(plan).length
      assert(plan.contains("SortMergeJoin"), plan)
      assert(exchanges == 1,
        s"exactly ONE side (the un-grouped dim) may exchange, found $exchanges:\n$plan")
      assert(j.count() == 80)
      assert(j.selectExpr("sum(bv - 3 * v)").head().getLong(0) == 0L)
    } finally spark.conf.set(shufKey, old)
  }

  test("string identity SPJ: raw ptv values join zero-exchange, rows identical to shuffled plan") {
    val (cat, _) = fresh("str")
    Seq("a", "b").foreach { t =>
      spark.sql(
        s"""CREATE TABLE $cat.t.$t (lang STRING, v BIGINT)
           |TBLPROPERTIES ('graft.partition'='identity(lang)',
           |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.t.$t SELECT " +
        s"element_at(array('en','de','fr','ja'), cast(id % 4 AS INT) + 1), " +
        s"id * ${if (t == "a") 1 else 3} FROM range(0, 120)")
    }
    import org.apache.spark.sql.functions.col
    noBroadcast {
      val a = grouped(s"$cat.t.a")
      val b = grouped(s"$cat.t.b").selectExpr("lang AS blang", "v AS bv")
      val j = a.join(b, col("lang") === col("blang") && col("v") * 3 === col("bv"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"identity(lang) over STRING must SPJ on the raw ptv values:\n$plan")
      assert(j.count() == 120)
      // row identity with the shuffled (ungrouped) plan
      val shuffled = spark.table(s"$cat.t.a").join(
        spark.table(s"$cat.t.b").selectExpr("lang AS blang", "v AS bv"),
        col("lang") === col("blang") && col("v") * 3 === col("bv"))
      assert(j.select("lang", "v", "bv").except(
        shuffled.select("lang", "v", "bv")).isEmpty)
      assert(shuffled.select("lang", "v", "bv").except(
        j.select("lang", "v", "bv")).isEmpty)
    }
    // the aggregation leg: GROUP BY lang rides the tuple grouping
    import org.apache.spark.sql.functions.sum
    val agg = grouped(s"$cat.t.a").groupBy(col("lang")).agg(sum(col("v")).as("s"))
    val aplan = agg.queryExecution.executedPlan.toString
    assert(!aplan.contains("Exchange"),
      s"identity(lang) tuple grouping must satisfy GROUP BY lang:\n$aplan")
    assert(agg.count() == 4)
    // ids ≡ 1 (mod 4), 30 of them: 1 + 5 + ... + 117 = 30·59
    assert(agg.filter(col("lang") === "de").head().getLong(1) == 1770L)
  }

  test("null-bearing files refuse to group: no duplicate NULL groups, plan shuffles") {
    val (cat, _) = fresh("nulls")
    // UNROUTED table, two single-task inserts: each file holds ONE
    // distinct key PLUS null-key rows — the pt: stamp (nulls invisible)
    // is a point range, so only the ptn: null count proves impurity.
    // Grouping these files would scatter the NULL rows across tuple
    // partitions and a shuffle-eliminated GROUP BY would emit TWO null
    // groups — silent wrong results, the exact hazard under test.
    spark.sql(
      s"""CREATE TABLE $cat.t.n (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='identity(k)')""".stripMargin)
    Seq(1L, 2L).foreach { key =>
      spark.sql(s"INSERT INTO $cat.t.n SELECT /*+ COALESCE(1) */ " +
        s"IF(id < 10, $key, NULL), id + 100 * $key FROM range(0, 14)")
    }
    import org.apache.spark.sql.functions.{col, count => cnt}
    val agg = grouped(s"$cat.t.n").groupBy(col("k")).agg(cnt(col("v")).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"a null-bearing file has no partition tuple — the GROUP BY must shuffle:\n$plan")
    val rows = agg.collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 10L, 2L -> 10L, -1L -> 8L),
      s"exactly ONE null group with all 8 null-key rows, got $rows")
  }

  test("prefix-code collisions refuse to group: distinct raw strings sharing 8 bytes shuffle") {
    val (cat, _) = fresh("prefix")
    // 'database-en' and 'database-de' share their first 8 UTF-8 bytes —
    // the SAME prefix code — and the UNROUTED single-task insert lands
    // both in ONE file: its `pt:` code range is a POINT (code equality
    // is not value equality), so grouping on the code would have merged
    // two distinct partition keys into one tuple; only the absent `ptv:`
    // raw-value stamp (the writer saw two distinct raws) blocks it.
    spark.sql(
      s"""CREATE TABLE $cat.t.p (lang STRING, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='identity(lang)')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.p SELECT /*+ COALESCE(1) */ " +
      s"IF(id % 2 = 0, 'database-en', 'database-de'), id FROM range(0, 40)")
    import org.apache.spark.sql.functions.{col, count => cnt}
    val agg = grouped(s"$cat.t.p").groupBy(col("lang")).agg(cnt(col("v")).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"prefix-colliding raw values cannot certify purity — must shuffle:\n$plan")
    val rows = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("database-en" -> 20L, "database-de" -> 20L), rows.toString)
  }

  test("partition skew: partiallyClusteredDistribution splits the hot tuple, rows exact") {
    val (cat, _) = fresh("skew")
    // LEFT is heavily skewed into bucket 1 (Knuth constant ≡ 1 mod 4 ⇒
    // bucket(id) = id mod 4), written as SEVERAL files via separate
    // commits — the planning units a partially-clustered read can
    // spread across tasks instead of serializing into one straggler
    spark.sql(
      s"""CREATE TABLE $cat.t.hot (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    // the hot side is also the LARGER side: partially-clustered keeps
    // the larger side's per-file splits and replicates the smaller
    // side's groups onto them
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO $cat.t.hot SELECT (id + ${i * 800}) * 4 + 1, (id + ${i * 800}) * 4 + 1 " +
        "FROM range(0, 800)")) // 3200 rows, ALL bucket 1, 4 files
    spark.sql(s"INSERT INTO $cat.t.hot SELECT id, id FROM range(0, 8)") // a few elsewhere
    spark.sql(
      s"""CREATE TABLE $cat.t.uni (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.uni SELECT id, id * 7 FROM range(0, 810)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    val olds = confs.map(k => k -> spark.conf.get(k, "false"))
    confs.foreach(spark.conf.set(_, "true"))
    try noBroadcast {
      import org.apache.spark.sql.functions.col
      val j = grouped(s"$cat.t.hot").join(
        grouped(s"$cat.t.uni").selectExpr("k AS bk", "v AS bv"),
        col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"partially-clustered SPJ must still plan with zero exchanges:\n$plan")
      // hot ids 4m+1 ≤ 809 (m = 0..202 → 203 rows) and the 8 spread ids
      // each match exactly one uni row
      assert(j.count() == 203L + 8L)
      assert(j.selectExpr("sum(bv - 7 * v)").head().getLong(0) == 0L)
      // the hot tuple must NOT serialize into one task: more output
      // partitions than distinct tuples proves the split happened
      assert(j.rdd.getNumPartitions > 4,
        s"expected the hot tuple's files spread over >4 partitions, " +
          s"got ${j.rdd.getNumPartitions}")
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("conf interplay pinned: partiallyClustered DISABLES the one-sided storage shuffle") {
    val (cat, _) = fresh("compose")
    // a grouped fact vs a plain in-memory dim with ALL THREE v2
    // bucketing confs on: Spark refuses to create a KeyGrouped
    // partitioning for the dim side when partial clustering may split
    // the fact's groups, so the join falls back to shuffling BOTH sides
    // — correct rows, ordinary plan. Operational rule (SCALING.md):
    // partiallyClustered is the skewed fact⋈fact setting; for
    // fact⋈arbitrary-frame keep it OFF so the one-sided storage
    // shuffle (dim moves, fact never does) stays available.
    spark.sql(
      s"""CREATE TABLE $cat.t.fact (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO $cat.t.fact SELECT id + ${i * 100}, id + ${i * 100} FROM range(0, 100)"))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.shuffle.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    val olds = confs.map(k => k -> spark.conf.get(k, "false"))
    confs.foreach(spark.conf.set(_, "true"))
    try noBroadcast {
      import org.apache.spark.sql.functions.col
      val dim = spark.range(0, 300).selectExpr("id AS bk", "id * 3 AS bv")
      val j = grouped(s"$cat.t.fact").join(dim, col("k") === col("bk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // BOTH sides exchange: the one-sided storage shuffle is off the
      // table under partial clustering (pinned so a Spark behavior
      // change shows up as a test diff, not a silent plan change)
      assert("""Exchange""".r.findAllIn(plan).length == 2, plan)
      assert(j.count() == 300)
      assert(j.selectExpr("sum(bv - 3 * v)").head().getLong(0) == 0L)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a filter pruning whole buckets keeps the SPJ sound (pushPartValues)") {
    val (cat, _) = fresh("prune")
    Seq("x", "y").foreach { t =>
      spark.sql(
        s"""CREATE TABLE $cat.t.$t (k BIGINT, v BIGINT)
           |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
           |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.t.$t SELECT id, id FROM range(0, 80)")
    }
    val pushKey = "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
    val old = spark.conf.get(pushKey, "false")
    spark.conf.set(pushKey, "true")
    try noBroadcast {
      import org.apache.spark.sql.functions.col
      // k = 6 lives in bucket 2: the filter's transform pruning drops
      // three of x's four tuple groups at plan time
      val a = grouped(s"$cat.t.x").filter(col("k") === 6L)
      val b = grouped(s"$cat.t.y").selectExpr("k AS bk", "v AS bv")
      val j = a.join(b, col("k") === col("bk"))
      assert(j.count() == 1)
      assert(j.head().getLong(3) == 6L) // bv = v = k = 6
    } finally spark.conf.set(pushKey, old)
  }
}
