package graft.sparkutil

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Multiset.equal]] decides `a EXCEPT ALL b` and `b EXCEPT ALL a` both
  * empty: multiplicities count, NULLs match NULLs, columns match by
  * position. It is a column, read here as a gate attaches it: a rider on
  * every row of a result, computed in the result's own action.
  */
class MultisetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(rows: (Option[Int], Option[String])*): DataFrame = rows.toDF("k", "v")

  private val base = Seq((Some(1), Some("x")), (Some(1), Some("x")), (Some(2), None),
    (None, None), (None, Some("y")))

  private def equal(a: DataFrame, b: DataFrame): Boolean = {
    val rider = spark.range(3).withColumn("rider", Multiset.equal(a, b))
      .select("rider").collect().map(_.getBoolean(0)).distinct.toSeq
    assert(rider.size == 1, rider)
    rider.head
  }

  test("equal multisets with duplicates and NULLs, in any order and column names") {
    assert(equal(df(base: _*), df(base.reverse: _*)))
    assert(equal(df(base: _*), df(base: _*).toDF("a", "b")))
    assert(equal(df(), df()))
  }

  test("an extra duplicate, a missing row or one changed value is unequal") {
    val extraDup = base :+ ((Some(1), Some("x")))
    val oneDupLess = base.tail
    val missing = base.filterNot(_ == ((Some(2), None)))
    val changed = base.map { case (Some(2), None) => (Some(2), Some("z")); case r => r }
    val valueForNull = base.map { case (None, Some("y")) => (Some(3), Some("y")); case r => r }
    Seq(extraDup, oneDupLess, missing, changed, valueForNull).foreach { other =>
      assert(!equal(df(base: _*), df(other: _*)), other)
      assert(!equal(df(other: _*), df(base: _*)), other)
    }
  }
}
