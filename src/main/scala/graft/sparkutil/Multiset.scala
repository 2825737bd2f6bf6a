package graft.sparkutil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, sum}

object Multiset {
  private val Sign = "__graft_multiset_sign"

  /** A Boolean column, true when `a` and `b` hold the same rows with the
    * same multiplicities (columns matched by position, NULLs equal to each
    * other) — what `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`
    * decides, in one aggregation instead of two: tag `a`'s rows +1 and
    * `b`'s −1, group by every column, and count the groups whose tags do
    * not cancel. The count is a scalar subquery, so the check runs inside
    * the action of whatever frame the column is added to.
    */
  def equal(a: DataFrame, b: DataFrame): Column = {
    val keys = a.columns.indices.map(i => s"c$i")
    def tagged(df: DataFrame, sign: Long) = df.toDF(keys: _*).withColumn(Sign, lit(sign))
    tagged(a, 1L).union(tagged(b, -1L))
      .groupBy(keys.map(col): _*)
      .agg(sum(Sign).as(Sign))
      .filter(col(Sign) =!= 0)
      .selectExpr("count(*)").scalar() === 0
  }
}
