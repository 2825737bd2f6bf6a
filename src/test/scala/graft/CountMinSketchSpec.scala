package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TextPipeline, TextQueries}
import graft.plans.CountMinSketchAgg
import graft.sources.Tables

class CountMinSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sketchOf(parts: Int): Array[Long] = {
    TextPipeline.tokenize(Tables.documents(spark, TestSpark.sf))
      .repartition(parts)
      .agg(expr("cms_sketch(word)"))
      .head().getSeq[Long](0).toArray
  }

  test("sketch is layout-invariant: merge order and partition count don't matter") {
    assert(sketchOf(1).sameElements(sketchOf(7)))
  }

  test("grand total of every hash row equals the token count") {
    val n = TextPipeline.tokenize(Tables.documents(spark, TestSpark.sf)).count()
    val sk = sketchOf(4)
    val w = CountMinSketchAgg.Width
    (0 until CountMinSketchAgg.Depth).foreach { d =>
      assert(sk.slice(d * w, (d + 1) * w).sum == n, s"row $d mass mismatch")
    }
  }

  test("count-min guarantee: estimate never below the exact count") {
    val rows = TextQueries.queries("cms_word_freq")(spark, TestSpark.sf).collect()
    assert(rows.length == TextQueries.CmsProbes.length)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        s"${r.getString(0)}: est ${r.getLong(1)} < exact ${r.getLong(2)}")
    }
  }
}
