package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Relational extension surface (SURVEY §2.2): the operator categories the
  * reference lacks entirely, expressed as declarative Catalyst plans over the
  * TPC-H-ish fixtures.
  *
  * Scale posture (100 TB / 1000 executors):
  *  - Dimension joins (`region`, `nation`, small `customer` slices) are
  *    explicitly `broadcast()` — no shuffle of the fact table.
  *  - Fact-fact joins (`orders ⋈ lineitem`) shuffle both sides on the join
  *    key once; AQE re-plans to shuffled-hash / handles skew at runtime.
  *  - All aggregates are partial/final split by Catalyst (map-side combine),
  *    so the exchange carries one row per (partition × group), not per row.
  *  - Top-K uses `TakeOrderedAndProject` (bounded heap per partition +
  *    driver merge of K×partitions rows), never a full sort.
  *  - Doubles in verified outputs are rounded to 2dp so the DuckDB oracle
  *    hash-compare is stable across summation orders.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: multi-aggregate, multi-key groupBy with
    * a pushed-down timestamp filter.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Predicate + projection pushdown showcase: both reach the parquet scan
    * (`PushedFilters`/`ReadSchema` in explain).
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate").between(lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
          && col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** Star-schema rollup: fact joined to two broadcast dims — zero fact-side
    * shuffle before the aggregate.
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("total_acctbal"))
  }

  /** Fact-fact equi-join (shuffle on the join key) + aggregate. */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** RUNTIME BLOOM-FILTER pruned join — the shuffle-reduction twin of
    * `join_dpp`: when a selective filter sits on one side of a shuffle
    * join, Catalyst's `InjectRuntimeFilter` builds a Bloom filter of the
    * surviving join keys (a subquery on the creation side) and applies
    * `might_contain` on the OTHER side BEFORE its shuffle — at 100 TB the
    * fact rows that cannot match are dropped at the scan instead of
    * shuffling. The default thresholds assume production sizes
    * (application side ≥ 10 GB), so this query plans itself under
    * scaled-down thresholds, set on a `newSession()` clone: the returned
    * frame plans and runs under them while the caller's conf is never
    * touched (`Verify` runs 8 queries at once on one session).
    * `autoBroadcastJoinThreshold=-1` forces the shuffle-join shape the
    * filter exists for — at real scale neither side broadcasts on its own.
    * The filter only PRUNES (false positives shuffle and fail the join
    * predicate); results are identical, which is what the oracle checks.
    * PlanShapeSpec asserts the bloom subtree.
    */
  def joinBloomPruned(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10KB")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val urgent = Tables.orders(ss, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
    Tables.lineitem(ss, dir)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct("o_orderkey").as("n_orders"),
        round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** Left-semi join (EXISTS): customers that placed at least one order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_active_customers"))
  }

  /** Left-anti join (NOT EXISTS): customers with no high-value order,
    * per nation. The filter on the right side is pushed below the join.
    */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_inactive_customers"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match NULL keys instead of dropping out — the semantics exact-dedup
    * and SCD-style joins need when keys are nullable. Null keys are
    * manufactured from the data (priority of low-value orders → NULL).
    */
  def joinNullsafe(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val a = orders.select(
      col("o_orderkey"),
      when(col("o_totalprice") > 50000, col("o_orderpriority")).as("k"))
    val b = orders
      .select(when(col("o_totalprice") > 400000, col("o_orderpriority")).as("k"))
      .distinct()
      .select(col("k").as("bk"))
    a.join(b, col("k") <=> col("bk"))
      .groupBy(coalesce(col("k"), lit("NULL_KEY")).as("key"))
      .agg(count(lit(1)).as("n_matched"))
  }

  /** TPC-H Q5 shape — local supplier volume: 6-table star join (two fact
    * tables + supplier + three dims) with a region filter and a date-range
    * filter pushed to the orders scan. Plan at scale: region/nation/supplier
    * broadcast (supplier is small relative to facts; at real TPC-H scale
    * supplier joins via shuffle on l_suppkey — drop the hint and AQE picks),
    * customer⋈orders and orders⋈lineitem shuffle on their keys once each.
    */
  def q5SupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    // snowflake → star: fold region+nation into the supplier dim BEFORE it
    // meets the facts. The ASIA filter then prunes the dim to 1/5 of
    // suppliers ON THE DIM SIDE (semi-join-style reduction the fact stream
    // gets for free), and the fact pipeline probes ONE broadcast instead
    // of three — at 100 TB that is 2 fewer hash-table probes per fact row
    // and the earliest possible region pruning.
    val sAsia = s
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(sAsia),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** TPC-H Q10 shape — returned-item revenue per customer: two fact joins
    * (custkey, orderkey) with the quarter filter pushed to the orders scan
    * and the returnflag filter pushed to the lineitem scan, nation
    * broadcast, top-20 via TakeOrderedAndProject (never a full sort).
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val n = Tables.nation(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      // exact decimal arithmetic: this sum lands on .xx5 rounding
      // boundaries where double summation order flips the 2dp round —
      // decimal(18,4) terms make the sum order-independent on both engines
      // round INSIDE the decimal domain (exact half-up), THEN widen to
      // double — rounding after a decimal→double cast re-introduces the
      // representation error the decimals exist to avoid
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")
        * (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q14 shape — promotion revenue share: one fact-dim equi-join on
    * partkey (shuffle at real scale where part outgrows the broadcast
    * threshold; AQE re-plans to broadcast when the filtered lineitem side
    * turns out small) + a conditional-sum ratio. The month filter reaches
    * the lineitem scan.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type").startsWith("PROMO"),
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("promo_revenue_pct"))
  }

  /** TPC-H Q18 shape — large-volume orders: aggregate-then-join (the
    * HAVING-subquery pattern): per-order quantity totals filtered to the
    * big-order tail, then joined back to orders + customer. The aggregate
    * runs BEFORE the joins, so the join input is already reduced ~1000× —
    * the right order of operations at any scale (sums of integral
    * quantities are exact in doubles, so the > 250 gate is deterministic).
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > 250)
    Tables.orders(spark, dir).join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
  }

  /** TPC-H Q4 shape — priority counts over an EXISTS subquery: orders in a
    * quarter with at least one line shipped >60 days after the order date
    * (the fixture has no commitdate/receiptdate, so "late" is
    * ship-vs-order lag; the plan shape — LeftSemi against the fact table,
    * then a small-key aggregate — is Q4's). The semi-join dedups
    * multi-line matches INSIDE the join, so no distinct is needed.
    */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(l,
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q12 shape — conditional split counts per category: lines shipped
    * in 1996 joined to orders, counting high- vs low-priority orders per
    * linestatus (the fixture's stand-in for shipmode). One shuffle join +
    * one small-key aggregate with two map-side CASE counters.
    */
  def q12PrioritySplit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q13 shape — customer order-count distribution: LEFT OUTER join
    * so order-less customers count as 0, then a second aggregate over the
    * first's output (the distribution-of-a-distribution shape). `count`
    * over the nullable right-side key does the 0-vs-n split for free.
    */
  def q13OrderHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q19 shape — disjunctive (OR-of-ANDs) predicate across a join:
    * three brand/size/quantity brackets. Catalyst pushes the common
    * `p_size >= 1` + brand IN-list conjuncts below the join and keeps the
    * residual disjunction as the join filter — the pushdown pattern this
    * query exists to exercise; revenue in the exact decimal domain.
    */
  def q19Brackets(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val bracket =
      (col("p_brand") === "Brand#11" && col("p_size").between(1, 15)
        && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#22" && col("p_size").between(1, 25)
        && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#33" && col("p_size").between(1, 35)
        && col("l_quantity").between(20, 30))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")
        * (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape — idle rich customers: scalar AVG subquery as the
    * wealth threshold (1-row broadcast, stays in-plan), anti-join for
    * "no urgent order in H2 1996" (every fixture customer has SOME order,
    * so the qualified subset keeps the NOT-EXISTS leg non-vacuous — the
    * plan shape is Q22's), aggregate by nation (the fixture's stand-in
    * for the phone country code). Decimal-domain balance sums.
    */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val threshold = c.filter(col("c_acctbal") > 0)
      .agg(avg("c_acctbal").as("avg_bal"))
    val urgentRecent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderdate") >= lit("1996-06-01").cast("timestamp"))
      .select("o_custkey")
    c.crossJoin(broadcast(threshold))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgentRecent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal").cast("decimal(18,4)")), 2)
          .cast("double").as("totacctbal"))
  }

  /** TPC-H Q2 shape — minimum-cost supplier: the correlated-MIN-subquery
    * pattern (decorrelated to an aggregate + equality join back on the
    * correlation key + the min value). The fixture has no `partsupp`, so
    * the supply relation is derived from lineitem: a supplier "offers" a
    * part at its minimum observed unit price (`l_extendedprice /
    * l_quantity` — per-row IEEE division, deterministic on both engines).
    * Plan at scale: the supply aggregate shuffles lineitem once on
    * (partkey, suppkey); part/supplier/nation/region dims and the
    * per-part-min table (≤ filtered part count rows) all broadcast.
    * Cf. reference `greeter_client.cc:362-390` (static splits) — here the
    * optimizer derives the distribution, nothing is hand-wired.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val supply = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val eu = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = Tables.part(spark, dir)
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
      .select("p_partkey")
    val cand = supply
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
    val minCost = cand.groupBy(col("p_partkey").as("mk")).agg(min("unit_cost").as("mcost"))
    // min_cost as floor-of-micros: floor is a pure function of the (identical)
    // IEEE quotient on both engines, where a 4dp ROUND of a price/qty quotient
    // can land exactly on the half-grid and round differently per engine.
    cand.join(broadcast(minCost), col("p_partkey") === col("mk") && col("unit_cost") === col("mcost"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), floor(col("unit_cost") * lit(1000000.0)).cast("long").as("min_cost_micros"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q8 shape — national market share: a conditional-share ratio over
    * an 8-table join with TWO nation roles (customer's region gates the
    * market, supplier's nation is the share numerator). All dims fold into
    * broadcasts; the orders date filter is pushed to the scan; volume
    * terms are exact decimals so the yearly share is summation-order-free.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(18,4)")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val n1 = Tables.nation(spark, dir)
    val custAmerica = Tables.customer(spark, dir)
      .join(broadcast(n1), col("c_nationkey") === n1("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AMERICA")),
        n1("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val p = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY").select("p_partkey")
    Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(custAmerica, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .withColumn("volume", dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
      .groupBy("yr")
      .agg(round(
        sum(when(col("supp_nation") === "NATION_7", col("volume"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
          / sum(col("volume")).cast("double"), 4).as("mkt_share"))
  }

  /** TPC-H Q9 shape — product-line profit by nation and year. No
    * `ps_supplycost` in the fixture, so cost is modeled as 80% of retail
    * price × quantity; the profit term is computed per-row in doubles
    * (deterministic IEEE ops) and cast to decimal(18,4) BEFORE the sum, so
    * the group total is summation-order-exact on both engines.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains("gear"))
      .select("p_partkey", "p_retailprice")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val profitTerm =
      (col("l_extendedprice") * (lit(1) - col("l_discount"))
        - lit(0.8) * col("p_retailprice") * col("l_quantity")).cast("decimal(18,4)")
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(round(sum(profitTerm), 2).cast("double").as("profit"))
  }

  /** TPC-H Q11 shape — important inventory values: per-key totals kept only
    * when they exceed a MULTIPLE OF THE MEAN part value (scalar-subquery
    * threshold; Q11's absolute `sum × fraction` gate empties as the part
    * count grows, so the mean-relative form is the scale-stable one). The
    * comparison is `part_total × n_parts > 2 × global_total` in exact
    * decimal × integer arithmetic — identical on both engines. The global
    * (total, n_parts) pair is a 1-row broadcast; the per-part aggregate
    * shuffles the filtered lines once.
    */
  def q11ImportantValues(spark: SparkSession, dir: String): DataFrame = {
    val suppN3 = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables.lineitem(spark, dir)
      .join(broadcast(suppN3), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .select(col("l_partkey"), col("l_extendedprice").cast("decimal(18,4)").as("val"))
    val total = v.agg(sum("val").as("total_val"), countDistinct("l_partkey").as("n_parts"))
    v.groupBy("l_partkey").agg(sum("val").as("sval"))
      .crossJoin(broadcast(total))
      .filter(col("sval") * col("n_parts") > lit(2) * col("total_val"))
      .select(col("l_partkey"), round(col("sval"), 2).cast("double").as("value"))
  }

  /** TPC-H Q15 shape — top supplier: an aggregated revenue view consumed
    * twice (scalar MAX subquery + equality join back). The revenue view is
    * one shuffle on suppkey; the max is a 1-row broadcast — ties would
    * surface as extra rows on both engines identically (exact decimal
    * revenue), which is Q15's own semantics.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")
        * (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))), 2)
        .cast("double").as("total_revenue"))
    val maxRev = rev.agg(max("total_revenue").as("max_rev"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q16 shape — supplier counts per part attribute triple with a
    * NOT-IN exclusion: the (part, supplier) relation is the distinct pair
    * projection of lineitem (the fixture's partsupp), "complaint"
    * suppliers (negative balance) drop out via a broadcast anti-join, and
    * the count is DISTINCT suppliers per (brand, type, size). Shape at
    * scale: one distinct-pair shuffle + one count-distinct shuffle; the
    * exclusion list never shuffles.
    */
  def q16PartSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey").distinct()
    val badSupp = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO"
        && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    ps.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q17 shape — small-quantity revenue: the correlated-AVG-subquery
    * pattern (per-part mean quantity, decorrelated to an aggregate +
    * join). Quantities are integral doubles, so per-part averages are
    * exact and the `qty < 0.2 × avg` gate is deterministic. Both the
    * filtered part dim and the per-part average table broadcast — the
    * fact table never shuffles.
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val pavg = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("ap"))
      .agg(avg("l_quantity").as("avg_qty"))
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#13" && col("p_type") === "SMALL")
      .select("p_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(pavg), col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double").as("total_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q20 shape — the nested-IN chain: suppliers who shipped a large
    * volume of a name-filtered part family in a year, restricted to one
    * region. Inner IN = broadcast semi-join of lineitem against the part
    * list; middle IN = the HAVING-gated per-supplier aggregate semi-joined
    * into the supplier dim. Quantity sums are integral-exact.
    */
  def q20VolumeSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("small")).select("p_partkey")
    val shipped = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey").agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > 100)
      .select("l_suppkey")
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting: the famous
    * EXISTS + NOT-EXISTS double correlation. Recast over distinct
    * (order, supplier) pairs with a per-pair late flag (one aggregate over
    * the F-order lines), then: semi-join "some OTHER supplier on the
    * order" and anti-join "no OTHER supplier was late" — both non-equi on
    * the supplier inside an orderkey equi-join. The pair table is cached:
    * it is ~|orders| rows (far smaller than lineitem) and feeds three
    * consumers with different projections, the measured case where cache
    * beats exchange reuse.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val pairs = Tables.lineitem(spark, dir)
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1)
        .otherwise(0)).as("late"))
      .cache()
    val latePairs = pairs.filter(col("late") === 1).select("ok", "sk")
    val others = pairs.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val lateOthers = latePairs.select(col("ok").as("ok3"), col("sk").as("sk3"))
    latePairs
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(lateOthers, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .join(broadcast(Tables.supplier(spark, dir)), col("sk") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** FUZZY (approximate-string) join via the SymSpell deletion
    * neighborhood — entity resolution on near-identical identifiers:
    * two strings are within Levenshtein distance 1 iff they share a key
    * in {word} ∪ {single-deletions(word)}, so banding on those keys gives
    * EXACT recall for distance ≤ 1 with a bounded equi-join (never the
    * all-pairs edit-distance cross product — the same candidates-then-
    * verify shape as MinHash-LSH, applied to strings). The verify step is
    * the built-in `levenshtein`. Key generation is a per-row transform of
    * the (small) name dimension, not corpus-scale; at 100 TB the key table
    * is ∝ Σ name lengths and the join shuffles (key, name) pairs only.
    */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame = {
    // cache: both join sides consume the SAME generated key table but
    // prune/rename differently, so ReusedExchange never fires and the
    // interpreted deletion-neighborhood lambda would run twice.
    // MEASURED (warm, sf0.1, single-JVM alternating A/B ×3): 4.5-5.0 s
    // uncached vs 1.5-2.1 s cached, identical 262 500-row result.
    val keys = Tables.customer(spark, dir)
      .select(col("c_name").as("word"))
      .select(col("word"), explode(expr(
        "concat(array(word), transform(sequence(1, length(word)), " +
          "i -> concat(substring(word, 1, i-1), substring(word, i+1, length(word)))))"))
        .as("key"))
      .distinct().cache()
    val b = keys.select(col("word").as("wb"), col("key").as("key_b"))
    keys.select(col("word").as("wa"), col("key"))
      .join(b, col("key") === col("key_b") && col("wa") < col("wb"))
      .filter(levenshtein(col("wa"), col("wb")) <= 1)
      .select("wa", "wb").distinct()
  }

  /** Edit-distance similarity join at threshold 2 — [[fuzzyNameJoin]]'s
    * generalization past distance 1 (the deletion neighborhood's limit):
    * candidates come from LENGTH BANDING — |len(a)−len(b)| ≤ d is a
    * necessary condition, so each word replicates to the 2d+1 target
    * lengths it can match and the pair space becomes a bounded equi-join
    * on length, verified by the built-in `levenshtein`. The oracle is the
    * UNBANDED brute-force join, so the gate proves the banding lossless.
    * Vocabulary = distinct tokens of documents ∪ part names (two-source
    * normalization, the entity-resolution shape). At 100 TB the band key
    * widens to (length, first char / q-gram prefix) — same shape, finer
    * blocks; replication stays O(d) per word.
    */
  def editDistanceJoin(spark: SparkSession, dir: String): DataFrame = {
    val docWords = TextPipeline.tokenize(Tables.documents(spark, dir)).select(col("word").as("w"))
    val partWords = Tables.part(spark, dir).select(explode(split(col("p_name"), " ")).as("w"))
    // both join sides prune/rename the vocabulary differently — cache,
    // not ReusedExchange, is the reuse mechanism (fuzzy_name_join lesson)
    val words = docWords.union(partWords).filter(col("w") =!= "").distinct().cache()
    val lhs = words.select(col("w").as("w1"),
      explode(sequence(length(col("w")) - 2, length(col("w")) + 2)).as("tl"))
    words.select(col("w").as("w2"), length(col("w")).as("len2"))
      .join(lhs, col("tl") === col("len2") && col("w1") < col("w2"))
      .filter(levenshtein(col("w1"), col("w2")) <= 2)
      .select(col("w1"), col("w2"),
        levenshtein(col("w1"), col("w2")).cast("long").as("dist"))
  }

  /** The SQL ENTRY PATH: the same engine driven through `spark.sql` over
    * temp views registered from DataFrame readers — proving the mixed-API
    * surface (a view created from a DataFrame, queried by SQL text,
    * composing a subquery + window + aggregate) plans through the
    * identical Catalyst pipeline as the DataFrame queries. Money sums use
    * the decimal-domain discipline inside the SQL text.
    */
  def sqlApiMix(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, n_lines,
        | round(avg_qty, 4) AS avg_qty, revenue,
        | rank() OVER (ORDER BY revenue DESC, l_returnflag, l_linestatus) AS revenue_rank
        |FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        |   avg(l_quantity) AS avg_qty,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |     * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |  FROM lineitem_v
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY l_returnflag, l_linestatus)""".stripMargin)
  }

  /** MERGEABLE distinct-count sketches (Apache DataSketches HLL, built into
    * Spark 4): per-priority customer sketches UNIONED into a global
    * estimate — the re-aggregation property exact `countDistinct` lacks
    * and the reason production rollup tables persist sketch BYTES, not
    * counts: shard/day-level sketches re-aggregate to any coarser grain
    * without touching raw data. Oracle-gated by the sketch pattern: exact
    * global distinct (the verified surface) + a deterministic 5% bound on
    * the merged estimate (HLL lgK=12 ⇒ ~1.6% standard error; hashing is
    * deterministic and HLL union is commutative, so the boolean is stable).
    */
  def hllMergeable(spark: SparkSession, dir: String): DataFrame = {
    val sketches = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
    val merged = sketches.agg(
      count(lit(1)).as("n_groups"),
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    Tables.orders(spark, dir)
      .agg(countDistinct("o_custkey").as("n_distinct_exact"))
      .crossJoin(broadcast(merged))
      .select(col("n_distinct_exact"), col("n_groups"),
        (abs(col("est") - col("n_distinct_exact"))
          <= col("n_distinct_exact") * 0.05).as("merged_within_5pct"))
  }

  /** NATIVE frequent-items sketch (Spark 4.1 `approx_top_k` family): the
    * shardable accumulate→combine→estimate pipeline — per-status sketches
    * merged into one global top-5, the same persist-sketch-bytes rollup
    * contract as [[hllMergeable]] but for heavy hitters. Run in the EXACT
    * regime (5 distinct priorities ≪ the sketch's default 10 000 tracked
    * items ⇒ the DataSketches frequent-items guarantee degenerates to
    * exact counts), so the gate is a full hash match against the exact
    * per-item counts — the repo's CMS (`cms_word_freq`) and exact
    * (`heavy_hitters`) anchors cover the estimate regime. Output order
    * inside the sketch is irrelevant: rows are exploded and the compare
    * sorts.
    */
  def approxTopKNative(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(expr("approx_top_k_accumulate(o_orderpriority)").as("sk"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 5)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("priority"), col("e.count").as("cnt"))

  /** NATIVE KLL quantile sketches (Spark 4.1 DataSketches KLL): per-flag
    * sketches over exact cents, merged with `kll_merge_agg_bigint`, then
    * quantile extraction from the merged sketch — the randomized
    * industry-standard counterpart to the repo's DETERMINISTIC
    * [[graft.plans.LogHistQuantiles]] (kept deliberately, BACKLOG r7:
    * KLL's internal sampling is order/seed-dependent, so no bit-exact
    * cross-engine gate exists). The honest gate is KLL's own contract —
    * RANK error, not value error: the exact rank of each estimated
    * quantile (counted against the full column with one broadcast of the
    * 1-row estimate frame) must sit within ±5% of the target rank
    * (k=200 ⇒ ~1.65% normalized rank error; 5% is the loose determinism
    * margin). Booleans + n are the gated surface, like
    * `agg_percentiles_approx`.
    */
  def quantileKllNative(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val li = Tables.lineitem(spark, dir).select(cents.as("cents"))
    val merged = li
      .withColumn("shard", pmod(crc32(col("cents").cast("string")), lit(8)))
      .groupBy("shard")
      .agg(expr("kll_sketch_agg_bigint(cents, 200)").as("sk"))
      .agg(expr("kll_merge_agg_bigint(sk)").as("msk"))
      .select(
        expr("kll_sketch_get_quantile_bigint(msk, 0.5d)").as("p50_est"),
        expr("kll_sketch_get_quantile_bigint(msk, 0.9d)").as("p90_est"),
        expr("kll_sketch_get_quantile_bigint(msk, 0.99d)").as("p99_est"))
    li.crossJoin(broadcast(merged))
      .agg(
        count(lit(1)).as("n"),
        (abs(sum(when(col("cents") <= col("p50_est"), 1L).otherwise(0L)) / count(lit(1)) - 0.5) <= 0.05)
          .as("p50_rank_ok"),
        (abs(sum(when(col("cents") <= col("p90_est"), 1L).otherwise(0L)) / count(lit(1)) - 0.9) <= 0.05)
          .as("p90_rank_ok"),
        (abs(sum(when(col("cents") <= col("p99_est"), 1L).otherwise(0L)) / count(lit(1)) - 0.99) <= 0.05)
          .as("p99_rank_ok"))
  }

  /** EXACT mergeable distinct-count via BITMAPS (Spark 4 `bitmap_*`): keys
    * bucket into 32k-bit bitmaps (`bitmap_bucket_number`/`bit_position`),
    * per-(group, bucket) bitmaps OR-merge to any coarser grain, and
    * `bitmap_count` reads exact cardinalities off the merged bitmaps —
    * the ClickHouse/Databricks exact-distinct rollup contract that sits
    * BETWEEN `countDistinct` (exact, not re-aggregatable) and HLL
    * (re-aggregatable, approximate): exact AND re-aggregatable, at
    * O(domain/8) bytes per group. Per-priority counts come off the
    * priority-grain bitmaps; the global count comes off OR-merging the
    * SAME bitmaps — one construction, every rollup grain. The oracle is
    * plain exact distinct on both grains, so a single lost or duplicated
    * bit anywhere in construct/merge/count fails the hash.
    */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val perBucket = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy("pri", "bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    val perPri = perBucket.groupBy("pri")
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_custs"))
    val global = perBucket.groupBy("bkt")
      .agg(expr("bitmap_or_agg(bm)").as("obm"))
      .agg(sum(expr("bitmap_count(obm)")).as("global_distinct"))
    perPri.crossJoin(broadcast(global))
  }

  /** NATIVE theta sketches (Spark 4.1 DataSketches theta): the full SET
    * ALGEBRA — union, intersection, AND difference estimates over
    * per-priority customer sketches — next to the repo's hand-built KMV
    * (`theta_sketch_setops`), which keeps the from-first-principles
    * anchor. Theta is the one sketch family where intersection/difference
    * are first-class (HLL can't; bitmaps can but at exact-bitmap cost).
    * Gate: exact values for all three set sizes plus deterministic 5%
    * bound booleans on the estimates (sketches here hold far fewer than
    * k=4096 retained hashes, so estimates are exact-regime in practice).
    */
  def thetaSketchNative(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val sk = o.filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy("o_orderpriority")
      .agg(expr("theta_sketch_agg(o_custkey)").as("sk"))
    val est = sk.agg(
      expr("theta_sketch_estimate(theta_union_agg(sk))").as("est_union"),
      expr("theta_sketch_estimate(theta_intersection_agg(sk))").as("est_inter"))
    val exact = o.agg(
      countDistinct(when(col("o_orderpriority").isin("1-URGENT", "5-LOW"), col("o_custkey")))
        .as("exact_union"),
      countDistinct(when(col("o_orderpriority") === "1-URGENT", col("o_custkey")))
        .as("exact_urgent"))
    val inter = o.filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy("o_custkey")
      .agg(countDistinct("o_orderpriority").as("np"))
      .agg(count(when(col("np") === 2, 1)).as("exact_inter"))
    exact.crossJoin(broadcast(est)).crossJoin(broadcast(inter))
      .select(col("exact_union"), col("exact_inter"), col("exact_urgent"),
        (abs(col("est_union") - col("exact_union")) <= col("exact_union") * 0.05)
          .as("union_within_5pct"),
        (abs(col("est_inter") - col("exact_inter")) <= col("exact_inter") * 0.05 + lit(5.0))
          .as("inter_within_5pct"))
  }

  /** SQL:2023 `LISTAGG ... WITHIN GROUP` (Spark 4.1): ordered string
    * aggregation — the report/export shape (`status list per priority`)
    * that previously forced `concat_ws(sort_array(collect_list(...)))`
    * gymnastics. The WITHIN GROUP order makes the output deterministic,
    * which is what lets it carry a hash gate at all; DISTINCT bounds the
    * payload by domain cardinality (at 100 TB: fine for enum-like
    * columns, NOT a substitute for collect-all on unbounded ones).
    */
  def aggListagg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)")
          .as("statuses"),
        count(lit(1)).as("n_orders"))

  /** ANSI-mode `try_*` arithmetic (Spark 4 defaults to ANSI — overflow
    * and division errors THROW): `try_sum` turns an int64 overflow into
    * NULL instead of a job-killing exception ('O' rows are scaled so the
    * group total provably exceeds int64; the other groups stay exact),
    * and `try_divide` yields NULL on the zero denominator. This is the
    * error-contract surface a 100 TB batch needs — one poisoned group
    * must not fail the whole job, and the NULL is auditable downstream.
    * The oracle replays the overflow decision in HUGEINT.
    */
  def aggAnsiTry(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        expr("try_sum(CAST(round(o_totalprice * 100) AS BIGINT) * " +
          "(CASE WHEN o_orderstatus = 'O' THEN 10000000000L ELSE 1L END))").as("maybe_cents"),
        expr("try_divide(sum(CAST(round(o_totalprice * 100) AS BIGINT)), count(*) - count(*))")
          .as("div_by_zero"),
        count(lit(1)).as("n_orders"))

  /** FULL OUTER join over two sparse per-nation aggregates (rich customers
    * vs deep-debt suppliers): nations appear on either side alone, so all
    * three outer-join row classes (left-only, right-only, matched) are
    * exercised; counts are coalesced to 0 for engine-portable output.
    */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_acctbal") > 9700)
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_rich_customers"))
    val s = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_poor_suppliers"))
    c.join(s, col("nk_c") === col("nk_s"), "full_outer")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_rich_customers"), lit(0L)).as("n_rich_customers"),
        coalesce(col("n_poor_suppliers"), lit(0L)).as("n_poor_suppliers"))
  }

  /** TPC-H Q7 shape — cross-nation trade volume: the self-joined-dimension
    * pattern (nation joined twice under different roles, supplier side vs
    * customer side), aggregated per (supp_nation, cust_nation, year) for
    * all cross-border pairs. TPC-H's 2-nation restriction would be a
    * pre-filter on the two broadcast dimension sides (pushing ~(1 − 2/25)
    * of fact rows out inside the join probes); the all-pairs form keeps
    * the query meaningful at every fixture SF. Revenue in the decimal
    * domain (see [[q10ReturnedItems]]).
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("yr"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")
        * (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))), 2)
        .cast("double").as("revenue"))
  }

  /** MERGE INTO semantics (SCD type-1 upsert) composed from a full-outer
    * join + coalesce — the warehouse upsert primitive expressed engine-
    * neutrally: matched keys take the incoming value ('update'), unmatched
    * incoming keys append ('insert'), untouched base rows survive ('keep').
    * The incoming batch is derived deterministically from the base (balance
    * bump for rich customers + a synthesized new-key slice) so the query is
    * self-contained and oracle-verifiable. At scale this is ONE shuffle on
    * the merge key — and zero shuffles on the base side when the base table
    * is bucket-laid-out by key (`Sinks.writeBucketedTable`), which is how a
    * nightly 100 TB dimension merge should be stored.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val base = cust.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    val updates = cust.filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("uk"), round(col("c_acctbal") + 100, 2).as("ubal"))
      .unionByName(cust.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000).as("uk"), round(col("c_acctbal"), 2).as("ubal")))
    base.join(updates, col("k") === col("uk"), "full_outer")
      .select(
        coalesce(col("k"), col("uk")).as("custkey"),
        round(coalesce(col("ubal"), col("bal")), 2).as("acctbal"),
        when(col("k").isNull, "insert")
          .when(col("uk").isNull, "keep")
          .otherwise("update").as("op"))
  }

  /** Null-handling surface (`DataFrameNaFunctions`): nulls are manufactured
    * deterministically (low-value orders lose their priority, mid-band
    * orders their status), then repaired with `na.fill` defaults and
    * audited — the missing-data cleaning pass of any ingest pipeline,
    * all map-side (fill/replace are projections; only the audit
    * aggregate shuffles).
    */
  def nullHandling(spark: SparkSession, dir: String): DataFrame = {
    val withNulls = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      when(col("o_totalprice") >= 100000, col("o_orderpriority")).as("prio"),
      when(col("o_totalprice") < 300000, col("o_orderstatus")).as("status"),
      col("o_totalprice"))
    withNulls
      .na.fill(Map("prio" -> "UNKNOWN", "status" -> "U"))
      .groupBy("prio", "status")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
  }

  /** Contingency table (`stat.crosstab`): status × priority counts as a
    * wide table — one pass, plans like an enumerated pivot. Column order
    * follows the distinct values; rows/columns are deterministic for the
    * fixture's closed domains.
    */
  def statCrosstab(spark: SparkSession, dir: String): DataFrame = {
    val ct = Tables.orders(spark, dir).stat.crosstab("o_orderstatus", "o_orderpriority")
    // crosstab column names are the raw priority values; select a stable
    // sorted column order so the output schema is deterministic
    val valueCols = ct.columns.filter(_ != "o_orderstatus_o_orderpriority").sorted
    ct.select((col("o_orderstatus_o_orderpriority").as("status") +:
      valueCols.toIndexedSeq
        .map(c => col(s"`$c`").as(c.replace("-", "_").replace(" ", "_")))): _*)
  }

  /** Exact distinct aggregation (Catalyst plans the expand + two-phase agg). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n_lines"))

  /** HLL++ approximate distinct — the 100 TB path for cardinality (fixed
    * sketch memory per group vs the exact expand+two-phase plan). The sketch
    * estimate itself is engine-specific, so the verified output carries the
    * exact count plus a deterministic `approx_within_5pct` gate: the oracle
    * checks rows+schema+hash on the exact column and asserts the bound held
    * (Spark's HLL++ hashing is deterministic, so the boolean is stable).
    */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts_raw"),
        count(lit(1)).as("n_lines"))
      .select(
        col("l_returnflag"), col("exact_parts"), col("n_lines"),
        (abs(col("approx_parts_raw") - col("exact_parts"))
          <= col("exact_parts") * 0.05).as("approx_within_5pct"))

  /** Statistical aggregates per group. */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        round(avg("p_retailprice"), 2).as("avg_price"),
        round(stddev_samp(col("p_retailprice")), 2).as("sd_price"),
        round(min(col("p_retailprice")), 2).as("min_price"),
        round(max(col("p_retailprice")), 2).as("max_price"))

  /** ROLLUP over the region→nation hierarchy (grouping-set nulls coalesced
    * to 'ALL' for a deterministic, oracle-comparable shape).
    *
    * Expressed through the `spark.sql` entry point: Spark 4's
    * ambiguous-self-join check misfires on a DataFrame-API rollup whose
    * grouping columns resolve through a multi-join's tagged attributes; the
    * SQL path analyzes clean and plans identically (dims auto-broadcast
    * under `spark.sql.autoBroadcastJoinThreshold`).
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("rollup_customer")
    Tables.nation(spark, dir).createOrReplaceTempView("rollup_nation")
    Tables.region(spark, dir).createOrReplaceTempView("rollup_region")
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
        |FROM rollup_customer
        |JOIN rollup_nation ON c_nationkey = n_nationkey
        |JOIN rollup_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
  }

  /** CUBE over two independent order dimensions. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))

  /** Pivot (long→wide): order counts per priority, one column per status.
    * Values are enumerated explicitly so the plan is a single pass (no
    * distinct-values pre-query) — the right call at scale.
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))

  /** Top-K per group through the custom whole-operator extension stack
    * ([[graft.plans.TopKPerGroupPlan]] → strategy → bounded-heap exec):
    * one hash exchange, no per-group sort. Fixture prices are tie-free per
    * customer at every SF, so output is deterministic and oracle-safe.
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerGroup(
      Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", k = 3)

  /** The same top-K through the operator's spill-safe sorted mode
    * (SortExec below, O(1) operator state) — the high-cardinality-group
    * regime; must produce identical results to the heap mode.
    */
  def topkPerGroupSorted(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerGroup(
      Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", k = 3, sortBased = true)

  /** Top-K (TakeOrderedAndProject — bounded heap, not a full sort). */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(50)

  /** Full distributed sort, made hash-visible by materializing the rank.
    * (Global `row_number` is single-partition; at 100 TB the equivalent is
    * `zipWithIndex` over a range-partitioned sort — documented, and fine at
    * fixture scale for the verification query.)
    */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("p_size").desc, col("p_retailprice").asc, col("p_partkey").asc))
        .cast("long"))

  /** TPC-H Q6 shape — forecasting revenue change: the pure-pushdown query
    * (every predicate reaches the parquet scan; the whole plan is scan →
    * partial agg → final agg, zero joins, zero wide shuffles — at 100 TB
    * this runs at storage bandwidth).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** TPC-H Q3 shape — shipping priority: two fact joins + aggregate +
    * top-10 (TakeOrderedAndProject over the aggregate, never a full sort).
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Z-order (Morton) curve value over two bounded int dimensions —
    * the multi-dimensional clustering key for data skipping: writing files
    * sorted by z-value makes BOTH dimensions' per-file min/max ranges
    * narrow, so selective filters on EITHER column prune row groups at
    * scan time (see `Sinks.writeZOrdered` + `SinksSpec`). Bit-interleave
    * is plain integer arithmetic, generated once for both dialects.
    */
  def zValueExpr(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map(b =>
      s"(((($x) >> $b) & 1) << ${2 * b}) + (((($y) >> $b) & 1) << ${2 * b + 1})")
      .mkString("(", " + ", ")")

  /** Both dimensions quantized to the SAME bit width (6) before
    * interleaving — unbalanced widths let the wider dimension's high bits
    * dominate the curve and destroy clustering on the narrow one (measured:
    * 16-bit partkey vs 6-bit size gave per-file size spreads ≈ global).
    */
  def zorderValues(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .selectExpr("p_partkey", "p_size",
        s"CAST(${zValueExpr("p_size & 63", "(p_partkey >> 5) & 63", bits = 6)} AS BIGINT) AS zval")

  /** Correlated LATERAL join (top-2 orders per customer): the SQL-level
    * twin of [[topkPerGroup]] — Catalyst decorrelates the correlated
    * ORDER BY+LIMIT subquery into a ranked join, so the user-facing
    * "for each row, query something" idiom stays declarative and
    * distributed (no per-row execution anywhere).
    */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("lat_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("lat_orders")
    spark.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM lat_customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM lat_orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin)
  }

  /** Scalable GLOBAL ranking: range-partitioned distributed sort +
    * `zipWithIndex` — the 100 TB answer to [[sortMulti]]'s single-partition
    * `row_number` caveat. `orderBy` alone plans a range-partitioned
    * (fully distributed) sort; `zipWithIndex` then assigns contiguous
    * global indices with one lightweight pass (it only counts rows per
    * partition — no data movement, no single-partition bottleneck). This is
    * the one deliberate RDD use in the engine: per-partition imperative
    * logic Spark SQL has no operator for. Total order is fully tiebroken,
    * so ranks are deterministic and oracle-verifiable.
    */
  def globalRank(spark: SparkSession, dir: String): DataFrame = {
    val sorted = Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_retailprice")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    val schema = sorted.schema.add("global_rank", org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Sketch percentile with a hard gate, same design as
    * [[aggApproxDistinct]]: emit the exact interpolated median alongside a
    * deterministic bound check of the `approx_percentile` sketch (rank
    * error ≤ accuracy⁻¹). The sketch is the 100 TB path — fixed memory per
    * group vs a full sort; the exact column is the verified surface.
    */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 2).as("exact_median"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_raw"),
        round(expr("percentile(l_extendedprice, 0.45)"), 2).as("p45"),
        round(expr("percentile(l_extendedprice, 0.55)"), 2).as("p55"))
      .select(
        col("l_returnflag"), col("exact_median"),
        // rank-error bound: the sketch's 0.5-quantile estimate must land
        // within the exact [p45, p55] value band (accuracy 1000 ⇒ ±0.001
        // rank error; ±0.05 is a 50× safety margin, deterministic)
        (col("approx_raw") >= col("p45") && col("approx_raw") <= col("p55"))
          .as("approx_within_band"))
      .drop("p45", "p55")

  /** Set ops (distinct semantics, matching SQL UNION/INTERSECT/EXCEPT) over
    * two customer cohorts: big spenders (any order > 400k) vs urgent-order
    * customers — both sides non-trivial at every scale factor.
    */
  private def bigSpenders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey")).distinct()
  private def urgentCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey")).distinct()

  def setUnion(spark: SparkSession, dir: String): DataFrame =
    bigSpenders(spark, dir).union(urgentCustomers(spark, dir)).distinct()

  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    bigSpenders(spark, dir).intersect(urgentCustomers(spark, dir))

  def setExcept(spark: SparkSession, dir: String): DataFrame =
    bigSpenders(spark, dir).except(urgentCustomers(spark, dir))

  /** Multiset (bag) variants: INTERSECT ALL / EXCEPT ALL keep multiplicity
    * — one custkey row per qualifying order, not per distinct customer.
    */
  private def bigSpenderOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey"))
  private def urgentOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))

  def setIntersectAll(spark: SparkSession, dir: String): DataFrame =
    bigSpenderOrders(spark, dir).intersectAll(urgentOrders(spark, dir))

  def setExceptAll(spark: SparkSession, dir: String): DataFrame =
    bigSpenderOrders(spark, dir).exceptAll(urgentOrders(spark, dir))

  /** Collect aggregates with deterministic string-stable output: the
    * distinct market segments per nation, sorted and joined.
    */
  def aggCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"))

  /** Conditional / boolean aggregates. */
  def aggConditional(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        expr("count_if(value > 400)").as("n_big"),
        expr("bool_or(value > 480)").as("any_huge"),
        expr("bool_and(value > 0)").as("all_positive"),
        count(lit(1)).as("n"))

  /** Linear-regression aggregates (slope/intercept/R²) per group. */
  def aggRegression(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n"))

  /** Wide→long unpivot (melt) + aggregate over the melted metric column. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_brand")), Array(col("size"), col("retailprice")), "metric", "value")
      .groupBy("p_brand", "metric")
      .agg(round(sum("value"), 2).as("total"), round(avg("value"), 4).as("mean"))

  /** Bivariate statistics per group (Pearson corr + sample covariance). */
  def aggCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"),
        count(lit(1)).as("n"))

  /** Deterministic hash sampling — the reproducible alternative to
    * `TABLESAMPLE` (whose RNG differs per engine/run): keep rows whose
    * content hash lands in a fixed residue class. Stable across engines,
    * runs, and partitionings — the right sampling primitive for a
    * data-pipeline at any scale.
    */
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long") % 10 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Deterministic fixed-SIZE sample (the distributed reservoir-sample
    * equivalent): rank every row by a salted content hash and keep the
    * top K — exactly K rows, uniform-like, reproducible across engines,
    * runs and partitionings, and the plan is TakeOrderedAndProject
    * (bounded heap per partition + driver merge of K×partitions), never a
    * full sort.
    */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("rs:"), col("doc_id"))).as("pri"))
      .orderBy(col("pri").asc)
      .limit(100)
      .select("doc_id", "lang")

  /** Equi-depth decile binning — the feature-engineering bucketizer:
    * interpolated decile cutpoints (one aggregate; `percentile` and
    * DuckDB's `quantile_cont` share the linear-interpolation definition,
    * hash-verified in `agg_percentiles`) broadcast as a 1-row frame, then
    * bucket assignment is a map-side count-of-cutoffs-below. Scales as
    * one aggregate + one scan — no global sort, no ntile window.
    *
    * FIXTURE-SCALE BASELINE: the cutpoint aggregate is exact `percentile`
    * over ONE global group — its aggregation buffer is the whole column on
    * one task, an OOM at 100 TB. The production path is
    * [[valueDecilesApprox]] (fixed-memory sketch cutpoints); this exact
    * form is its verification anchor (SCALING.md).
    */
  def valueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val cuts = Tables.orders(spark, dir)
      .agg(expr(s"percentile(o_totalprice, array(${(1 to 9).map(_ / 10.0).mkString(", ")}))")
        .as("cuts"))
    Tables.orders(spark, dir)
      .crossJoin(broadcast(cuts))
      .select(col("o_orderkey"),
        (expr("size(filter(cuts, c -> o_totalprice > c))") + 1).cast("long").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Scale-safe decile binning: cutpoints from the `approx_percentile`
    * sketch (fixed memory regardless of column size — the 100 TB path for
    * [[valueDeciles]]'s single-group exact buffer), gated by the sketch
    * oracle pattern: accuracy 10000 bounds rank error at 1e-4, so every
    * decile bucket's row count must land within ±2% rank of N/10 (200×
    * margin) — deterministically true for a conforming sketch, false for a
    * broken one. `n_total` is the exact engine-portable anchor.
    */
  def valueDecilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val cuts = Tables.orders(spark, dir)
      .agg(
        expr(s"approx_percentile(o_totalprice, array(${(1 to 9).map(_ / 10.0).mkString(", ")}), 10000)")
          .as("cuts"),
        count(lit(1)).as("n_total"))
    Tables.orders(spark, dir)
      .crossJoin(broadcast(cuts))
      .select(col("o_orderkey"),
        (expr("size(filter(cuts, c -> o_totalprice > c))") + 1).cast("long").as("decile"),
        col("n_total"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), first("n_total").as("n_total"))
      .select(col("decile"), col("n_total"),
        (abs(col("n") - col("n_total") / 10.0) <= col("n_total") * 0.02).as("within_band"))
  }

  /** Correlated scalar subquery (Catalyst decorrelates to an aggregate +
    * join): orders priced above their customer's average.
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("ssq_orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM ssq_orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM ssq_orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  /** Remaining analytic window functions: ntile, percent_rank, cume_dist,
    * first/last value over a deterministic total order.
    */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("top_custkey", first("c_custkey").over(wf))
      .withColumn("bottom_custkey", last("c_custkey").over(wf))
      .drop("c_acctbal")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_hash" -> sampleHash _,
    "scalar_subquery" -> scalarSubquery _,
    "window_analytics" -> windowAnalytics _,
    "q1_pricing_summary" -> pricingSummary _,
    "filter_project" -> filterProject _,
    "join_broadcast" -> joinBroadcast _,
    "join_shuffle" -> joinShuffle _,
    "join_bloom_pruned" -> joinBloomPruned _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_nullsafe" -> joinNullsafe _,
    "q5_supplier_volume" -> q5SupplierVolume _,
    "q7_nation_volume" -> q7NationVolume _,
    "null_handling" -> nullHandling _,
    "stat_crosstab" -> statCrosstab _,
    "q10_returned_items" -> q10ReturnedItems _,
    "q14_promo_revenue" -> q14PromoRevenue _,
    "q18_large_orders" -> q18LargeOrders _,
    "q4_late_orders" -> q4LateOrders _,
    "q12_priority_split" -> q12PrioritySplit _,
    "q13_order_histogram" -> q13OrderHistogram _,
    "q19_brackets" -> q19Brackets _,
    "q22_idle_customers" -> q22IdleCustomers _,
    "q2_min_cost_supplier" -> q2MinCostSupplier _,
    "q8_market_share" -> q8MarketShare _,
    "q9_product_profit" -> q9ProductProfit _,
    "q11_important_values" -> q11ImportantValues _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q16_part_supplier_counts" -> q16PartSupplierCounts _,
    "q17_small_qty_revenue" -> q17SmallQtyRevenue _,
    "q20_volume_suppliers" -> q20VolumeSuppliers _,
    "q21_waiting_suppliers" -> q21WaitingSuppliers _,
    "fuzzy_name_join" -> fuzzyNameJoin _,
    "edit_distance_join" -> editDistanceJoin _,
    "agg_hll_mergeable" -> hllMergeable _,
    "agg_topk_sketch" -> approxTopKNative _,
    "agg_quantile_kll" -> quantileKllNative _,
    "agg_listagg" -> aggListagg _,
    "agg_ansi_try" -> aggAnsiTry _,
    "agg_bitmap_distinct" -> aggBitmapDistinct _,
    "theta_sketch_native" -> thetaSketchNative _,
    "sql_api_mix" -> sqlApiMix _,
    "join_outer" -> joinOuter _,
    "merge_upsert" -> mergeUpsert _,
    "agg_distinct" -> aggDistinct _,
    "agg_approx_distinct" -> aggApproxDistinct _,
    "agg_stats" -> aggStats _,
    "rollup_agg" -> rollupAgg _,
    "cube_agg" -> cubeAgg _,
    "pivot_agg" -> pivotAgg _,
    "topk_orders" -> topkOrders _,
    "topk_per_group" -> topkPerGroup _,
    "topk_per_group_sorted" -> topkPerGroupSorted _,
    "sort_multi" -> sortMulti _,
    "global_rank" -> globalRank _,
    "agg_approx_percentile" -> aggApproxPercentile _,
    "lateral_top_orders" -> lateralTopOrders _,
    "zorder_values" -> zorderValues _,
    "q6_forecast_revenue" -> q6ForecastRevenue _,
    "q3_shipping_priority" -> q3ShippingPriority _,
    "reservoir_sample" -> reservoirSample _,
    "value_deciles" -> valueDeciles _,
    "value_deciles_approx" -> valueDecilesApprox _,
    "set_union" -> setUnion _,
    "set_intersect" -> setIntersect _,
    "set_except" -> setExcept _,
    "set_intersect_all" -> setIntersectAll _,
    "set_except_all" -> setExceptAll _,
    "agg_collect" -> aggCollect _,
    "agg_corr" -> aggCorr _,
    "agg_conditional" -> aggConditional _,
    "agg_regression" -> aggRegression _,
    "unpivot_metrics" -> unpivotMetrics _,
  )

  def oracle: Map[String, String] = Map(
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 10 = 0""".stripMargin,
    "scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    "window_analytics" ->
      """SELECT c_custkey, c_mktsegment,
        | (ntile(4) OVER w)::BIGINT AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume,
        | first_value(c_custkey) OVER wf AS top_custkey,
        | last_value(c_custkey) OVER wf AS bottom_custkey
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC),
        |       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),2) AS avg_qty,
        | round(avg(l_discount),2) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_quantity > 45""".stripMargin,
    "join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal),2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // the bloom filter only PRUNES — the answer is the plain join
    "join_bloom_pruned" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | count(DISTINCT o_orderkey) AS n_orders,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY o_orderpriority""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_active_customers
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "join_anti" ->
      """SELECT c_nationkey, count(*) AS n_inactive_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_nationkey""".stripMargin,
    "join_nullsafe" ->
      """WITH a AS (
        |  SELECT o_orderkey,
        |   CASE WHEN o_totalprice > 50000 THEN o_orderpriority END AS k
        |  FROM orders),
        |b AS (
        |  SELECT DISTINCT CASE WHEN o_totalprice > 400000 THEN o_orderpriority END AS bk
        |  FROM orders)
        |SELECT coalesce(a.k, 'NULL_KEY') AS key, count(*) AS n_matched
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.bk
        |GROUP BY 1""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        | count(*) AS n_lines, true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q5_supplier_volume" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "null_handling" ->
      """SELECT
        | coalesce(CASE WHEN o_totalprice >= 100000 THEN o_orderpriority END, 'UNKNOWN') AS prio,
        | coalesce(CASE WHEN o_totalprice < 300000 THEN o_orderstatus END, 'U') AS status,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "stat_crosstab" ->
      """SELECT o_orderstatus AS status,
        | sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS "1_URGENT",
        | sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS "2_HIGH",
        | sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS "3_MEDIUM",
        | sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS "4_NOT_SPECIFIED",
        | sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS "5_LOW"
        |FROM orders GROUP BY 1""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate)::BIGINT AS yr,
        | round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |   * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,
    "sql_api_mix" ->
      """SELECT l_returnflag, l_linestatus, n_lines,
        | round(avg_qty, 4) AS avg_qty, revenue,
        | rank() OVER (ORDER BY revenue DESC, l_returnflag, l_linestatus) AS revenue_rank
        |FROM (
        |  SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_lines,
        |   avg(l_quantity) AS avg_qty,
        |   round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |     * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY l_returnflag, l_linestatus)""".stripMargin,
    "agg_hll_mergeable" ->
      """SELECT count(DISTINCT o_custkey)::BIGINT AS n_distinct_exact,
        | count(DISTINCT o_orderpriority)::BIGINT AS n_groups,
        | true AS merged_within_5pct
        |FROM orders""".stripMargin,
    // exact distinct on both grains — any lost/dup bit fails the hash
    "agg_bitmap_distinct" ->
      """SELECT o_orderpriority AS pri,
        | count(DISTINCT o_custkey)::BIGINT AS n_distinct_custs,
        | (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS global_distinct
        |FROM orders GROUP BY 1""".stripMargin,
    // exact set sizes; estimate bounds are deterministic booleans
    "theta_sketch_native" ->
      """SELECT
        | count(DISTINCT CASE WHEN o_orderpriority IN ('1-URGENT','5-LOW')
        |       THEN o_custkey END)::BIGINT AS exact_union,
        | (SELECT count(*) FROM (
        |    SELECT o_custkey FROM orders
        |    WHERE o_orderpriority IN ('1-URGENT','5-LOW')
        |    GROUP BY 1 HAVING count(DISTINCT o_orderpriority) = 2))::BIGINT AS exact_inter,
        | count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |       THEN o_custkey END)::BIGINT AS exact_urgent,
        | true AS union_within_5pct, true AS inter_within_5pct
        |FROM orders""".stripMargin,
    // ordered DISTINCT string_agg is DuckDB's LISTAGG WITHIN GROUP
    "agg_listagg" ->
      """SELECT o_orderpriority,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    // overflow decision replayed in HUGEINT; zero denominator is NULL
    "agg_ansi_try" ->
      """WITH s AS (
        |  SELECT o_orderstatus,
        |    sum((round(o_totalprice * 100)::BIGINT)::HUGEINT *
        |        (CASE WHEN o_orderstatus = 'O' THEN 10000000000 ELSE 1 END)::HUGEINT) AS hsum,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1
        |)
        |SELECT o_orderstatus,
        |  CASE WHEN abs(hsum) <= 9223372036854775807::HUGEINT
        |       THEN hsum::BIGINT END AS maybe_cents,
        |  NULL::DOUBLE AS div_by_zero,
        |  n_orders
        |FROM s""".stripMargin,
    // exact regime: 5 distinct items << sketch capacity => exact counts
    "agg_topk_sketch" ->
      """SELECT o_orderpriority AS priority, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,
    // KLL's contract is rank error; the booleans are the gated surface
    "agg_quantile_kll" ->
      """SELECT count(*)::BIGINT AS n,
        | true AS p50_rank_ok, true AS p90_rank_ok, true AS p99_rank_ok
        |FROM lineitem""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q12_priority_split" ->
      """SELECT l_linestatus,
        | sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        | sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin,
    "q13_order_histogram" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q19_brackets" ->
      """SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |   * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue,
        | count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*)::BIGINT AS numcust,
        | round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)::DOUBLE AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT'
        |    AND o.o_orderdate >= TIMESTAMP '1996-06-01')
        |GROUP BY c_nationkey""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |cand AS (
        |  SELECT p_partkey, s_name, s_acctbal, n_name, unit_cost
        |  FROM part JOIN supply ON p_partkey = l_partkey
        |  JOIN eu ON l_suppkey = s_suppkey
        |  WHERE p_size <= 10 AND p_type = 'LARGE')
        |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
        | floor(unit_cost * 1000000.0)::BIGINT AS min_cost_micros
        |FROM cand c
        |WHERE unit_cost = (SELECT min(unit_cost) FROM cand c2 WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q8_market_share" ->
      """WITH vol AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr,
        |   CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
        |   n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT yr,
        | round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
        |FROM vol GROUP BY yr""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate)::BIGINT AS yr,
        | round(sum(CAST(l_extendedprice * (1 - l_discount)
        |   - 0.8 * p_retailprice * l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin,
    "q11_important_values" ->
      """WITH v AS (
        |  SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,4)) AS val
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')
        |SELECT l_partkey, round(sum(val), 2)::DOUBLE AS value
        |FROM v GROUP BY l_partkey
        |HAVING sum(val) * (SELECT count(DISTINCT l_partkey) FROM v)
        |     > 2 * (SELECT sum(val) FROM v)""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q16_part_supplier_counts" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pavg AS (
        |  SELECT l_partkey AS ap, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY 1)
        |SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS total_revenue,
        | count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN pavg ON l_partkey = ap
        |WHERE p_brand = 'Brand#13' AND p_type = 'SMALL' AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "q20_volume_suppliers" ->
      """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AFRICA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey HAVING sum(l_quantity) > 100)""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH pairs AS (
        |  SELECT o_orderkey AS ok, l_suppkey AS sk,
        |   max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |lp AS (SELECT ok, sk FROM pairs WHERE late = 1)
        |SELECT s_name, count(*)::BIGINT AS numwait
        |FROM lp l1 JOIN supplier ON l1.sk = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM pairs p2 WHERE p2.ok = l1.ok AND p2.sk <> l1.sk)
        |  AND NOT EXISTS (SELECT 1 FROM lp p3 WHERE p3.ok = l1.ok AND p3.sk <> l1.sk)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "fuzzy_name_join" ->
      """WITH keys AS (
        |  SELECT DISTINCT c_name AS word, unnest(list_prepend(c_name,
        |    list_transform(generate_series(1, length(c_name)),
        |      i -> substr(c_name, 1, i-1) || substr(c_name, i+1)))) AS key
        |  FROM customer)
        |SELECT DISTINCT a.word AS wa, b.word AS wb
        |FROM keys a JOIN keys b ON a.key = b.key AND a.word < b.word
        |WHERE levenshtein(a.word, b.word) <= 1""".stripMargin,
    "edit_distance_join" ->
      s"""WITH dw AS (
        |  SELECT unnest(${Oracle.tokens("text")}) AS w
        |  FROM documents),
        |pw AS (SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
        |words AS (
        |  SELECT DISTINCT w FROM (SELECT w FROM dw UNION ALL SELECT w FROM pw)
        |  WHERE w <> '')
        |SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w)::BIGINT AS dist
        |FROM words a JOIN words b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |   * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(
        |  100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "join_outer" ->
      """WITH rich AS (
        |  SELECT c_nationkey AS nk_c, count(*) AS n_rich_customers
        |  FROM customer WHERE c_acctbal > 9700 GROUP BY 1),
        |poor AS (
        |  SELECT s_nationkey AS nk_s, count(*) AS n_poor_suppliers
        |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT coalesce(nk_c, nk_s) AS nationkey,
        | coalesce(n_rich_customers, 0) AS n_rich_customers,
        | coalesce(n_poor_suppliers, 0) AS n_poor_suppliers
        |FROM rich FULL OUTER JOIN poor ON nk_c = nk_s""".stripMargin,
    "merge_upsert" ->
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
        |updates AS (
        |  SELECT c_custkey AS uk, round(c_acctbal + 100, 2) AS ubal
        |  FROM customer WHERE c_acctbal > 5000
        |  UNION ALL
        |  SELECT c_custkey + 1000000, round(c_acctbal, 2)
        |  FROM customer WHERE c_custkey % 97 = 0)
        |SELECT coalesce(k, uk) AS custkey,
        | round(coalesce(ubal, bal), 2) AS acctbal,
        | CASE WHEN k IS NULL THEN 'insert'
        |      WHEN uk IS NULL THEN 'keep'
        |      ELSE 'update' END AS op
        |FROM base FULL OUTER JOIN updates ON k = uk""".stripMargin,
    "agg_stats" ->
      """SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice),2) AS avg_price,
        | round(stddev_samp(p_retailprice),2) AS sd_price,
        | round(min(p_retailprice),2) AS min_price, round(max(p_retailprice),2) AS max_price
        |FROM part GROUP BY p_brand""".stripMargin,
    "rollup_agg" ->
      """SELECT coalesce(r_name,'ALL') AS region, coalesce(n_name,'ALL') AS nation,
        | count(*) AS n_customers, round(sum(c_acctbal),2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "cube_agg" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "pivot_agg" ->
      """SELECT o_orderpriority,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "topk_per_group_sorted" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "sort_multi" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice,
        | row_number() OVER (ORDER BY p_size DESC, p_retailprice ASC, p_partkey ASC) AS rn
        |FROM part""".stripMargin,
    "global_rank" ->
      """SELECT p_partkey, p_brand, p_retailprice,
        | row_number() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS global_rank
        |FROM part""".stripMargin,
    "agg_approx_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_median,
        | true AS approx_within_band
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "lateral_top_orders" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin,
    "zorder_values" ->
      s"""SELECT p_partkey, p_size,
         | CAST(${zValueExpr("p_size & 63", "(p_partkey >> 5) & 63", bits = 6)} AS BIGINT) AS zval
         |FROM part""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "reservoir_sample" ->
      """SELECT doc_id, lang FROM documents
        |ORDER BY md5('rs:' || doc_id) ASC LIMIT 100""".stripMargin,
    "value_deciles" ->
      s"""WITH cuts AS (
         |  SELECT quantile_cont(o_totalprice, [${(1 to 9).map(_ / 10.0).mkString(", ")}]) AS cuts
         |  FROM orders)
         |SELECT (len(list_filter(cuts.cuts, c -> o.o_totalprice > c)) + 1)::BIGINT AS decile,
         | count(*) AS n_orders
         |FROM orders o CROSS JOIN cuts
         |GROUP BY 1""".stripMargin,
    "value_deciles_approx" ->
      """SELECT r AS decile, (SELECT count(*) FROM orders) AS n_total,
        | true AS within_band
        |FROM range(1, 11) t(r)""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "set_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "set_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "set_intersect_all" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |INTERSECT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "set_except_all" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |EXCEPT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "agg_collect" ->
      """SELECT c_nationkey, count(*) AS n_customers,
        | array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "agg_corr" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_conditional" ->
      """SELECT event_type,
        | count(*) FILTER (WHERE value > 400) AS n_big,
        | bool_or(value > 480) AS any_huge,
        | bool_and(value > 0) AS all_positive,
        | count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "agg_regression" ->
      """SELECT l_returnflag,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        | regr_count(l_extendedprice, l_quantity)::BIGINT AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "unpivot_metrics" ->
      """SELECT p_brand, metric, round(sum(value), 2) AS total, round(avg(value), 4) AS mean
        |FROM (
        |  SELECT p_brand, 'size' AS metric, p_size::DOUBLE AS value FROM part
        |  UNION ALL
        |  SELECT p_brand, 'retailprice' AS metric, p_retailprice AS value FROM part)
        |GROUP BY p_brand, metric""".stripMargin,
  )
}
