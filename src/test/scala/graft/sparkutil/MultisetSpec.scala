package graft.sparkutil

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Multiset.equal]] decides `a EXCEPT ALL b` and `b EXCEPT ALL a` both
  * empty: multiplicities count, NULLs match NULLs, columns match by
  * position.
  */
class MultisetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(rows: (Option[Int], Option[String])*): DataFrame = rows.toDF("k", "v")

  private val base = Seq((Some(1), Some("x")), (Some(1), Some("x")), (Some(2), None),
    (None, None), (None, Some("y")))

  test("equal multisets with duplicates and NULLs, in any order and column names") {
    assert(Multiset.equal(df(base: _*), df(base.reverse: _*)))
    assert(Multiset.equal(df(base: _*), df(base: _*).toDF("a", "b")))
    assert(Multiset.equal(df(), df()))
  }

  test("an extra duplicate, a missing row or one changed value is unequal") {
    val extraDup = base :+ ((Some(1), Some("x")))
    val missing = base.filterNot(_ == ((Some(2), None)))
    val changed = base.map { case (Some(2), None) => (Some(2), Some("z")); case r => r }
    Seq(extraDup, missing, changed).foreach { other =>
      assert(!Multiset.equal(df(base: _*), df(other: _*)), other)
      assert(!Multiset.equal(df(other: _*), df(base: _*)), other)
    }
  }
}
