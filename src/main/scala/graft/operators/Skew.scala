package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Skew-mitigation utilities.
  *
  * First line of defense at scale is AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default with our
  * sessions). Salting is the explicit fallback for pathologically hot keys
  * (e.g. a null-ish default key holding 10% of 100 TB) or for engines/modes
  * where AQE can't rewrite the join (e.g. streaming-static joins).
  */
object Skew {

  /** Deterministic salt in [0, saltFactor) for the skewed side: a hash of
    * the row's whole content (`xxhash64` over all columns), not `rand()`,
    * so the plan stays deterministic and retry-safe (a recomputed task
    * re-salts identically).
    */
  def saltCol(df: DataFrame, saltFactor: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(saltFactor)).cast("int")

  /** Salted inner equi-join: the skewed (large) side gets a random-but-
    * deterministic salt in [0, saltFactor); the small side is exploded
    * `saltFactor`× so every (key, salt) bucket finds its match. Result is
    * row-identical to `large.join(small, keys)` with the hot key's rows
    * spread over `saltFactor` tasks instead of one.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    val saltedLarge = large.withColumn("__salt", saltCol(large, saltFactor))
    val explodedSmall = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${saltFactor - 1})")))
    saltedLarge.join(explodedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Oracle-verified salted join on a GENUINELY skewed key: `l_returnflag`
    * has 3 distinct values over the whole lineitem table (the hottest holds
    * ~50% of all rows — exactly the hot-key regime where an unsalted
    * shuffle join puts half the table in one task). The dimension side is a
    * per-flag aggregate; the salted join must be row-identical to the plain
    * equi-join the oracle runs. saltFactor 8 spreads each flag over 8
    * (key, salt) buckets — `RelationalSpec` ("AQE splits the skewed join" /
    * "salted join spreads the hot key", RelationalSpec.scala:20-44) asserts
    * the spread on the hot key.
    */
  def saltedFlagJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val large = li
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    val dim = li.groupBy("l_returnflag")
      .agg(round(avg("l_discount"), 4).as("flag_avg_disc"))
    saltedJoin(large, dim, "l_returnflag", 8)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "flag_avg_disc")
  }

  /** Two-phase DISTINCT aggregation on a skewed group key — the skew
    * defense for `count(DISTINCT x)` where salting a join can't help:
    * `l_returnflag` has 3 groups, so a naive distinct-per-group puts ~half
    * the table's (flag, partkey) pairs through 3 reducers. Phase 1
    * de-duplicates on the FULL (flag, partkey) pair — hash-partitioned by
    * both columns, thousands of buckets, no hot reducer; phase 2 counts
    * the now-tiny distinct pairs per flag. Spark plans exactly this
    * rewrite for a single `countDistinct` (the two-level HashAggregate
    * Expand), so the explicit form here is written with plain groupBys to
    * PIN the shape — and to carry an extra exact `sum` through phase 1
    * via first-level pre-aggregation, the mixed case (distinct + plain
    * agg) where the automatic rewrite degrades to Expand's k× row blowup.
    */
  def skewDistinctTwoPhase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // phase 1: one row per (flag, partkey), carrying partial quantity sums
    // — the shuffle key is the PAIR, so no group hot-spots a reducer
    val perPair = li.groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("qty"))
    // phase 2: groups-per-flag is now |distinct pairs|, thousands of rows
    perPair.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_distinct_parts"),
        sum("n_lines").as("n_lines"),
        round(sum("qty"), 2).as("sum_qty"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_salted" -> saltedFlagJoin _,
    "skew_distinct_twophase" -> skewDistinctTwoPhase _,
  )

  /** The PLAIN equi-join — identical results prove salting is a pure
    * execution-layout change, not a semantic one.
    */
  def oracle: Map[String, String] = Map(
    "join_salted" ->
      """WITH dim AS (
        |  SELECT l_returnflag, round(avg(l_discount), 4) AS flag_avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, d.flag_avg_disc
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |WHERE l.l_quantity >= 45""".stripMargin,
    // the one-shot form the two-phase plan must agree with exactly
    "skew_distinct_twophase" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct_parts,
        | count(*) AS n_lines, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
  )
}
