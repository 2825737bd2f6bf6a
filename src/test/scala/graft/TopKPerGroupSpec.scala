package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopKPerGroup
import graft.sources.Tables

class TopKPerGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def viaWindow(k: Int) = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, TestSpark.sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .as[(Long, Long, Double)].collect().toSet
  }

  test("custom operator result sets match the window formulation (price-distinct groups)") {
    // o_totalprice ties across a customer's orders are broken by orderkey in
    // the window variant; the heap keeps ANY k top rows under order-value
    // ties, so compare on customers without price ties
    val custom = TopKPerGroup(
      Tables.orders(spark, TestSpark.sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val win = viaWindow(3)
    val tied = Tables.orders(spark, TestSpark.sf)
      .groupBy("o_custkey", "o_totalprice").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("o_custkey").distinct()
      .as[Long].collect().toSet
    def untied(s: Set[(Long, Long, Double)]) = s.filterNot(r => tied.contains(r._1))
    assert(untied(custom) == untied(win))
  }

  test("per-group cardinality never exceeds k and extremes are retained") {
    val k = 2
    val custom = TopKPerGroup(
      Tables.orders(spark, TestSpark.sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", k)
      .as[(Long, Long, Double)].collect().toSeq
    val byGroup = custom.groupBy(_._1)
    byGroup.foreach { case (cust, rows) => assert(rows.size <= k, s"cust $cust") }
    // the global max order per customer must always be present
    val maxes = Tables.orders(spark, TestSpark.sf)
      .groupBy("o_custkey").agg(max("o_totalprice").as("m"))
      .as[(Long, Double)].collect().toMap
    byGroup.foreach { case (cust, rows) =>
      assert(rows.map(_._3).max == maxes(cust), s"cust $cust lost its max")
    }
  }

  test("physical plan uses TopKPerGroupExec with a single hash exchange, no sort") {
    val df = TopKPerGroup(
      Tables.orders(spark, TestSpark.sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected sort in:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), s"expected clustering exchange:\n$plan")
  }

  test("sort-based mode: spill-safe plan (SortExec below), identical results on a high-cardinality key") {
    // group by o_orderkey (15k groups at sf0.01 — the heap-map OOM regime
    // at scale); sort mode keeps O(1) operator state, SortExec spills
    val src = Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val sorted = TopKPerGroup(src, Seq("o_orderkey"), "o_totalprice", 1, sortBased = true)
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"custom exec missing:\n$plan")
    assert(plan.contains("Sort "), s"expected spill-capable SortExec in:\n$plan")
    val viaHeap = TopKPerGroup(src, Seq("o_orderkey"), "o_totalprice", 1)
      .as[(Long, String, Double)].collect().toSet
    assert(sorted.as[(Long, String, Double)].collect().toSet == viaHeap)
  }

  test("sort mode under memory pressure: SortExec SPILLS on a 100k-group key, results exact") {
    // the regime heap mode is NOT for: group cardinality so high the
    // per-partition heap map would be the OOM risk. Sort mode keeps O(1)
    // operator state and inherits SortExec's spill machinery — the forced
    // spill threshold (TestSpark) makes the spill actually happen here.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // static plan so the SortExec node (and its metrics) is inspectable
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val n = 400000L
      val groups = 100000L
      val src = spark.range(n).select((col("id") % groups).as("g"), col("id").as("v"))
      val df = TopKPerGroup(src, Seq("g"), "v", 1, sortBased = true)
      // collect on df ITSELF (an .as[] view would execute a separate
      // queryExecution and leave these metrics untouched)
      val rows = df.collect()
      assert(rows.length == groups)
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(0) + (n - groups), s"group ${r.getLong(0)} kept ${r.getLong(1)}")
      }
      val sortNodes = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sortNodes.nonEmpty, "expected a SortExec below TopKPerGroupExec")
      val spilled = sortNodes.map(_.metrics("spillSize").value).sum
      assert(spilled > 0, "SortExec never spilled — the stress did not stress")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("optimizer rule rewrites row_number<=k windows to TopKPerGroupPlan, results identical") {
    import graft.plans.RewriteRankFilterToTopK
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc)
    val df = Tables.orders(spark, TestSpark.sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = RewriteRankFilterToTopK(optimized)
    assert(rewritten.collect { case p: graft.plans.TopKPerGroupPlan => p }.nonEmpty,
      s"rule did not fire on:\n$optimized")
    val viaRule = graft.sparkutil.DatasetFactory.ofRows(spark, rewritten)
      .as[(Long, Long, Double)].collect().toSet
    val viaWindowPlan = df.as[(Long, Long, Double)].collect().toSet
    // compare modulo order-value ties (heap may keep a different tied row)
    val tied = Tables.orders(spark, TestSpark.sf)
      .groupBy("o_custkey", "o_totalprice").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("o_custkey").distinct().as[Long].collect().toSet
    def untied(s: Set[(Long, Long, Double)]) = s.filterNot(r => tied.contains(r._1))
    assert(untied(viaRule) == untied(viaWindowPlan))
  }

  test("optimizer rule leaves windows alone when the rank column is kept") {
    import graft.plans.RewriteRankFilterToTopK
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val df = Tables.orders(spark, TestSpark.sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3) // rn stays in the output
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = RewriteRankFilterToTopK(optimized)
    assert(rewritten.collect { case p: graft.plans.TopKPerGroupPlan => p }.isEmpty,
      "rule must not fire when the rank column survives")
  }

  test("ascending order works (bottom-k)") {
    val custom = TopKPerGroup(
      Tables.orders(spark, TestSpark.sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", 1, desc = false)
      .as[(Long, Long, Double)].collect().toSeq
    val mins = Tables.orders(spark, TestSpark.sf)
      .groupBy("o_custkey").agg(min("o_totalprice").as("m"))
      .as[(Long, Double)].collect().toMap
    custom.foreach { case (cust, _, price) => assert(price == mins(cust)) }
  }
}
