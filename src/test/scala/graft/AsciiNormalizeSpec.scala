package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPipeline

/** The byte-level normalize expression gives exactly the values of the
  * regex form it replaced, in generated code and interpreted alike. */
class AsciiNormalizeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def regexNormalize(c: Column): Column =
    lower(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** Every char U+0000..U+02FF alone and all together, the edge cases of
    * Java's `\s` set and of case mapping, a surrogate pair, "" and null. */
  private val inputs: Seq[String] = {
    val chars = (0 to 0x2ff).map(_.toChar.toString)
    chars ++ Seq(
      chars.mkString,
      "\u000b", "\u001c", "\u001d", "\u001e", "\u001f", "\u00a0", "\u2028",
      "\u0130", "\u212a", // İ and the Kelvin sign, which lowercase to ASCII
      "a\ud83d\ude00b", // U+1F600 as a surrogate pair
      "Don't STOP: 10,000 \u0130\u212a x\u00a0y\tz",
      "",
      null)
  }

  /** Runs both forms over a parquet scan (a local relation would be
    * evaluated at the driver) and returns the plan and any mismatches. */
  private def compare(s: SparkSession): (String, Seq[(Long, String, String)]) = {
    import s.implicits._
    val path = tempDir("graft-asciinorm").resolve("in").toString
    inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .write.parquet(path)
    val df = s.read.parquet(path).select(col("id"),
      TextPipeline.normalize(col("text")).as("got"), regexNormalize(col("text")).as("want"))
    val rows = df.as[(Long, String, String)].collect().toSeq
    assert(rows.size == inputs.size)
    (df.queryExecution.executedPlan.toString, rows.filter(r => r._2 != r._3))
  }

  test("matches lower(regexp_replace(c, '[^a-zA-Z0-9\\s]', '')) under whole-stage codegen") {
    val (plan, bad) = compare(spark)
    assert("\\*\\(\\d+\\) Project \\[.*ascii_normalize".r.findFirstIn(plan).isDefined,
      s"normalize must run inside a codegen span:\n$plan")
    assert(bad.isEmpty, s"mismatches (id, got, want): ${bad.take(10)}")
  }

  test("matches the regex form interpreted (NO_CODEGEN)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (plan, bad) = compare(s)
    assert(!plan.contains("*("), s"expected no codegen span:\n$plan")
    assert(bad.isEmpty, s"mismatches (id, got, want): ${bad.take(10)}")
  }
}
