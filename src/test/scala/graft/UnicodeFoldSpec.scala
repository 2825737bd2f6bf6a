package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.UnicodeFold

/** Semantics of the native unicode_fold expression beyond the oracle gate. */
class UnicodeFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def foldStr(s: String): String =
    UnicodeFold.fold(UTF8String.fromString(s)).toString

  test("strips accents and combining marks, keeps base letters and case") {
    assert(foldStr("résumé") == "resume")
    assert(foldStr("Ñandú") == "Nandu")
    assert(foldStr("über-naïve façade") == "uber-naive facade")
    // pre-combined and combining-mark forms fold identically
    assert(foldStr("éclair") == foldStr("éclair"))
  }

  test("NFKD compatibility mappings decompose (ligatures, full-width)") {
    assert(foldStr("ﬁle") == "file") // ﬁ ligature
    assert(foldStr("ａｂｃ") == "abc") // full-width abc
  }

  test("ASCII fast path returns the input buffer unchanged") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(UnicodeFold.fold(in) eq in, "no allocation on the ASCII path")
  }

  test("interpreted eval, codegen, and SQL registration agree") {
    import spark.implicits._
    val rows = Seq("résumé", "Ñandú 42", "plain", "ﬁne über").toDF("s")
      .select(expr("unicode_fold(s)").as("f")).as[String].collect().toSeq
    assert(rows == Seq("resume", "Nandu 42", "plain", "fine uber"))
    // null propagates
    val n = Seq[Option[String]](None).toDF("s")
      .select(expr("unicode_fold(s)")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("the expression stays inside whole-stage codegen") {
    // a local relation constant-folds at the driver (LocalTableScan), so
    // drive the expression over a real file scan to see the codegen span
    val df = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(expr("unicode_fold(text)").as("f"))
    val p = df.queryExecution.executedPlan.toString
    // the `*(N)` prefix is the WholeStageCodegen marker in the tree string
    assert("\\*\\(\\d+\\) Project \\[unicode_fold".r.findFirstIn(p).isDefined,
      s"unicode_fold must not break the codegen span (no *(N) on its Project):\n$p")
    assert(df.where(col("f").isNotNull).count() > 0)
  }
}
