package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, Skew}
import graft.sources.Tables

class RelationalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("approx_count_distinct within 5% of exact") {
    // the query itself carries the gate: exact counts + the bound boolean
    val rows = Relational.aggApproxDistinct(spark, TestSpark.sf)
      .select("l_returnflag", "approx_within_5pct").as[(String, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, ok) => assert(ok, s"$k: approx outside 5% bound") }
  }

  test("salted join is row-identical to the plain join") {
    val l = Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val o = Tables.orders(spark, TestSpark.sf).select("o_orderkey", "o_orderpriority")
    val plain = l.join(o, "o_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .as[(String, Long, Double)].collect().toSet
    val salted = Skew.saltedJoin(l, o, "o_orderkey", 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .as[(String, Long, Double)].collect().toSet
    assert(plain == salted)
  }

  test("salting spreads the hot key's rows across all saltFactor buckets") {
    // l_returnflag 'N' holds ~half of lineitem — the hot key. Its rows must
    // land in every one of the 8 (key, salt) buckets, i.e. 8 shuffle tasks
    // instead of 1.
    val large = Tables.lineitem(spark, TestSpark.sf)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    val hotSalts = large
      .withColumn("__salt", Skew.saltCol(large, 8))
      .filter(col("l_returnflag") === "N")
      .select("__salt").distinct().as[Int].collect().toSet
    assert(hotSalts == (0 until 8).toSet, s"hot key covers only salts $hotSalts")
  }

  test("broadcast join plan actually broadcasts the dims") {
    val plan = Relational.joinBroadcast(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("filter and projection push into the parquet scan") {
    val plan = Relational.filterProject(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"expected pushed filters in:\n$plan")
    // scan must not read the full 11-column lineitem schema
    assert(!plan.contains("l_returnflag"), "projection pruning failed: scan reads unused column")
  }

  test("Q5 plan: dims broadcast, date filter pushed to the orders scan") {
    val plan = Relational.q5SupplierVolume(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dims in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"expected pushed date filter in:\n$plan")
  }

  test("topk plans as TakeOrderedAndProject, not a full sort") {
    val plan = Relational.topkOrders(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K plan in:\n$plan")
  }

  test("Q10 plan: returnflag filter pushed to the lineitem scan, top-20 via heap") {
    val plan = Relational.q10ReturnedItems(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"expected pushed returnflag filter in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K plan in:\n$plan")
  }

  test("Q18 aggregates before joining: the quantity agg sits below both joins") {
    // the per-order aggregate must be a child of the join, not above it —
    // the ~1000x input reduction is the point of the agg-then-join shape
    val plan = Relational.q18LargeOrders(spark, TestSpark.sf)
      .queryExecution.optimizedPlan.toString
    val aggIdx = plan.indexOf("Aggregate")
    val joinIdx = plan.indexOf("Join")
    assert(aggIdx > joinIdx && joinIdx >= 0,
      s"expected Aggregate nested under Join in optimized plan:\n$plan")
  }

  test("full outer join covers outer-only and matched nations") {
    // sf0.01: the tiny sf0.001 fixture has no rows passing the sparse
    // acctbal filters on either side (the correctness gate also runs 0.01)
    val rows = Relational.joinOuter(spark, "/root/testdata/sf0.01")
      .as[(Int, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, c, s) => c > 0 || s > 0 })
    assert(rows.exists { case (_, c, s) => c == 0 || s == 0 },
      "expected at least one outer-only row")
  }

  test("runtime bloom-filter join reduction fires once scan sizes warrant it") {
    // Dormant at fixture scale only because of the 10 GB application-side
    // scan threshold; drop the thresholds and the optimizer injects the
    // bloom semi-join filter on the fact side — the row-level shuffle
    // reduction a selective dim filter buys on a 100 TB join.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // the injection targets probable SHUFFLE joins; at fixture scale the
    // dim side auto-broadcasts (at 100 TB it would not), so pin that off
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = Tables.lineitem(spark, TestSpark.sf)
      val o = Tables.orders(spark, TestSpark.sf).filter(col("o_totalprice") > 400000)
      val plan = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected a runtime bloom filter in:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // the automatic defense every SCALING row cites: one hot key holding
    // most of the left side must be split across tasks by
    // OptimizeSkewedJoin once the (lowered) skew thresholds trip
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val hot = spark.range(200000).select(lit(1L).as("k"), col("id").as("payload"))
        .union(spark.range(64).select((col("id") + 2).as("k"), col("id").as("payload")))
      val dim = spark.range(256).select(col("id").as("k"), (col("id") * 7).as("v"))
      // no distribution-demanding operator above the join: skew splitting
      // may break the join output's hash clustering, so AQE only applies
      // it when nothing upstream requires that clustering
      val joined = hot.join(dim, "k")
      // execute THIS queryExecution (count()/as[] would build a fresh one
      // whose plan is the one AQE finalizes)
      assert(joined.collect().length == 200000 + 64)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split join in:\n$plan")
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled").foreach(spark.conf.unset)
    }
  }

  test("AQE skew-splits the registry query join_salted's unsalted twin") {
    // the registry-level skew story: join_salted's own inputs (lineitem's
    // 3-value l_returnflag, hottest flag ~50% of rows) joined PLAIN — AQE
    // must skew-split the hot partition at runtime, proving the automatic
    // defense works on the registered query's data, with salting as the
    // explicit fallback the registry query itself verifies.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
    // factor 1: the hot flag holds ~2x the median partition, right at the
    // default factor boundary at fixture scale — any above-median partition
    // over the byte threshold counts as skewed here
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // 16 partitions for 3 keys: most are empty, so the median partition
    // size is ~0 and the hot flag's partition is unambiguously skewed
    // (with 4 partitions the 3 flags fill most slots and median ≈ max)
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      // sf0.01: enough bytes behind the hot flag for a real split. The dim
      // side must be MATERIALIZED first (as a production pipeline persists
      // its dim tables): OptimizeSkewedJoin only rewrites a join whose
      // children are bare Sort+ShuffleQueryStage, so an aggregate directly
      // feeding the join blocks the split — the deep reason the registry
      // query salts instead of relying on AQE (see Skew scaladoc).
      val dir = "/root/testdata/sf0.01"
      val li = Tables.lineitem(spark, dir)
      val dimPath = tempDir("graft-skew-dim").toString + "/dim"
      li.groupBy("l_returnflag")
        .agg(round(avg("l_discount"), 4).as("flag_avg_disc"))
        .write.mode("overwrite").parquet(dimPath)
      // widen the probe side first: AQE splits a skewed partition at MAP
      // task boundaries, and the single-split fixture scan has one mapper
      // (nothing to split); at production scale thousands of mappers feed
      // the join exchange — repartition(16) restores that shape
      val joined = li
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
        .repartition(16)
        .join(spark.read.parquet(dimPath), "l_returnflag")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "flag_avg_disc")
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split join in:\n$plan")
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.shuffle.partitions").foreach(spark.conf.unset)
    }
  }

  test("merge upsert: op classes partition the key space correctly") {
    val base = Tables.customer(spark, TestSpark.sf)
    val nBase = base.count()
    val nNew = base.filter(col("c_custkey") % 97 === 0).count()
    val ops = Relational.mergeUpsert(spark, TestSpark.sf)
      .groupBy("op").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(ops.getOrElse("insert", 0L) == nNew, s"inserts: $ops")
    assert(ops.getOrElse("keep", 0L) + ops.getOrElse("update", 0L) == nBase,
      s"keep+update must cover the base table: $ops")
  }

  test("edit-distance join: length banding is lossless vs driver-side brute force") {
    val out = Relational.editDistanceJoin(spark, TestSpark.sf)
      .as[(String, String, Long)].collect().toSet
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, d) => a < b && d >= 1 && d <= 2 })
    // brute force over the identical vocabulary, computed on the driver
    val vocab = graft.operators.TextPipeline.tokenize(Tables.documents(spark, TestSpark.sf))
      .select(col("word").as("w"))
      .union(Tables.part(spark, TestSpark.sf).select(explode(split(col("p_name"), " ")).as("w")))
      .filter(col("w") =!= "").distinct().as[String].collect().sorted
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cost = if (a(i - 1) == b(j - 1)) diag else diag + 1
          diag = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1), cost)
        }
      }
      prev(b.length)
    }
    val brute = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(out == brute, "banded candidates must equal the unbanded pair set")
  }

  test("sliding window doubles the tumbling row mass: every event is in exactly 2 windows") {
    val ev = Tables.events(spark, TestSpark.sf).count()
    val windowed = graft.operators.Events.sliding(spark, TestSpark.sf)
      .agg(sum("n_events")).as[Long].head()
    assert(windowed == 2 * ev, s"expected ${2 * ev} window-event assignments, got $windowed")
  }
}
