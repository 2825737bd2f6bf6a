package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPipeline
import graft.sources.{Sinks, Tables}

class SinksSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir(s"graft-$name").resolve("out").toString

  test("word-count text sink roundtrips (reference format: 'word count' lines)") {
    val wc = TextPipeline.wordCount(Tables.documents(spark, TestSpark.sf))
    val path = tmp("wc-text")
    Sinks.writeWordCountText(wc, path)
    val back = spark.read.text(path)
      .select(split(col("value"), " ").as("kv"))
      .select(col("kv").getItem(0).as("word"), col("kv").getItem(1).cast("long").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(back == wc.as[(String, Long)].collect().toMap)
  }

  test("overwrite semantics: second write replaces, not appends") {
    val path = tmp("overwrite")
    val df1 = Seq(("a", 1L), ("b", 2L)).toDF("word", "cnt")
    val df2 = Seq(("z", 9L)).toDF("word", "cnt")
    Sinks.writeWordCountText(df1, path)
    Sinks.writeWordCountText(df2, path)
    assert(spark.read.text(path).count() == 1)
  }

  test("parquet roundtrip preserves schema and rows") {
    val src = Tables.orders(spark, TestSpark.sf)
    val path = tmp("parquet")
    Sinks.writeParquet(src, path)
    val back = spark.read.parquet(path)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("partitioned parquet enables partition pruning on re-read") {
    val src = Tables.orders(spark, TestSpark.sf)
    val path = tmp("partitioned")
    Sinks.writePartitionedParquet(src, path, "o_orderpriority")
    val pruned = spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"expected partition pruning in:\n$plan")
    val expected = src.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(pruned.count() == expected)
  }

  test("orc roundtrip preserves schema and rows, pushes filters") {
    val src = Tables.orders(spark, TestSpark.sf)
    val path = tmp("orc")
    Sinks.writeOrc(src, path)
    val back = spark.read.orc(path)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    val filtered = back.filter(col("o_totalprice") > 300000)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"expected ORC filter pushdown in:\n$plan")
    assert(filtered.count() ==
      src.filter(col("o_totalprice") > 300000).count())
  }

  test("bucketed table write via Sinks: co-located join plans without shuffle") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Sinks.writeBucketedTable(
        Tables.supplier(spark, TestSpark.sf), "supplier_bkt", "s_suppkey")
      Sinks.writeBucketedTable(
        Tables.lineitem(spark, TestSpark.sf).select("l_suppkey", "l_quantity")
          .withColumnRenamed("l_suppkey", "s_suppkey"), "lines_bkt", "s_suppkey")
      val joined = spark.table("lines_bkt").join(spark.table("supplier_bkt"), "s_suppkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, TestSpark.sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS supplier_bkt")
      spark.sql("DROP TABLE IF EXISTS lines_bkt")
    }
  }

  test("z-ordered layout clusters BOTH interleaved dimensions per file") {
    val src = graft.operators.Relational.zorderValues(spark, TestSpark.sf)
    val path = tmp("zorder")
    Sinks.writeZOrdered(src, path, "zval")
    // per-file spread of p_size must collapse vs the global spread —
    // that's what lets row-group stats prune filters on p_size even
    // though the file sort key is zval
    val spreads = spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("p_size") - min("p_size")).as("spread"))
      .as[(String, Long)].collect()
    assert(spreads.length > 1)
    val globalSpread = src.agg(max("p_size") - min("p_size")).as[Long].head()
    val avgSpread = spreads.map(_._2).sum.toDouble / spreads.length
    assert(avgSpread < globalSpread * 0.75,
      s"expected clustering: avg per-file p_size spread $avgSpread vs global $globalSpread")
  }

  test("csv roundtrip with header") {
    val src = Tables.region(spark, TestSpark.sf)
    val path = tmp("csv")
    Sinks.writeCsv(src, path)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    assert(back.count() == src.count())
    assert(back.columns.toSeq == src.columns.toSeq)
  }

  test("DSv2 SeqSource: pushdown boundaries, residual filters, equality, empty range") {
    import org.apache.spark.sql.functions._
    def seq(n: Long) = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", n.toString).option("parts", "3").load()
    // inclusive/exclusive boundary semantics survive the pushdown
    assert(seq(100).filter(col("id") >= 10 && col("id") <= 20).count() == 11)
    assert(seq(100).filter(col("id") > 10 && col("id") < 20).count() == 9)
    // equality collapses to one generated row with the right value
    val one = seq(100).filter(col("id") === 42).select("id", "val")
      .as[(Long, Long)].collect().toSeq
    assert(one == Seq((42L, (42L * 2654435761L) % 1000003L)))
    // a non-id predicate is NOT pushed: it must still filter post-scan
    val odds = seq(100).filter(col("id") < 10 && col("val") % 2 === 1).count()
    assert(odds == (0L until 10L).count(i => (i * 2654435761L) % 1000003L % 2 == 1))
    // contradictory range generates nothing (no negative-length partitions)
    assert(seq(100).filter(col("id") > 90 && col("id") < 10).isEmpty)
    // partition planning covers the full range exactly once
    assert(seq(1000).count() == 1000)
    assert(seq(1000).agg(countDistinct("id")).as[Long].head() == 1000L)
  }

  test("DSv2 AuditSink: commit publishes parts + manifest, overwrite replaces, staging drains") {
    import graft.sources.v2.AuditSink
    val path = tmp("audit")
    def write(rows: Seq[(Long, String)], parts: Int): Unit =
      rows.toDF("k", "tag").repartition(parts)
        .write.format("graft.sources.v2.AuditSink")
        .option("path", path).mode("overwrite").save()
    def readAudit(): (Long, Long) =
      spark.read.schema("n_rows LONG, checksum LONG")
        .option("pathGlobFilter", "audit.json").json(path).as[(Long, Long)].head()
    def readData(): Set[(Long, String)] =
      spark.read.schema("k LONG, tag STRING")
        .option("pathGlobFilter", "part-*").json(path).as[(Long, String)].collect().toSet
    // 4 partitions for 2 rows: empty tasks must commit O(1) messages, no files
    write(Seq(1L -> "a", 2L -> "b"), parts = 4)
    assert(readData() == Set(1L -> "a", 2L -> "b"))
    assert(readAudit() ==
      ((2L, AuditSink.rowHash(1L, "a") + AuditSink.rowHash(2L, "b"))))
    // sum checksum is duplicate-sensitive where XOR cancels: two identical
    // rows must NOT checksum to zero
    write(Seq(5L -> "dup", 5L -> "dup"), parts = 2)
    assert(readAudit() == ((2L, 2 * AuditSink.rowHash(5L, "dup"))))
    // tags with JSON metacharacters survive the JSONL round-trip
    val hostile = Seq(1L -> "a\"b\\c", 2L -> "line1\nline2", 3L -> "tab\there")
    write(hostile, parts = 2)
    assert(readData() == hostile.toSet)
    assert(readAudit() ==
      ((3L, hostile.map { case (k, t) => AuditSink.rowHash(k, t) }.sum)))
    // overwrite truncates published state but never this batch's staging
    write(Seq(9L -> "z"), parts = 2)
    assert(readData() == Set(9L -> "z"))
    assert(readAudit() == ((1L, AuditSink.rowHash(9L, "z"))))
    val staging = java.nio.file.Paths.get(path, "_staging")
    val left = java.nio.file.Files.list(staging)
    try assert(!left.iterator().hasNext, "staging must drain on commit")
    finally left.close()
  }

  test("small-file compaction: 4 output files, content checksum identical to the source table") {
    val (nFiles, nRows, checksum) = graft.sources.Formats
      .compactSmallFiles(spark, TestSpark.sf)
      .as[(Long, Long, Long)].head()
    assert(nFiles == 4L, "round-robin repartition(4) must yield exactly 4 files")
    val docs = Tables.documents(spark, TestSpark.sf)
    val row = concat_ws("|",
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c => col(c).cast("string")): _*)
    val (expRows, expSum) = docs
      .select(conv(substring(md5(row), 1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)), sum(col("h"))).as[(Long, Long)].head()
    assert(nRows == expRows && checksum == expSum,
      "compaction must move bytes, never change data")
  }
}
