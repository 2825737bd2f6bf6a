package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPipeline
import graft.sources.Tables

class TextPipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  test("normalize deletes punctuation (not blanked), lowercases, keeps digits") {
    val out = df(Seq((1L, "Don't co/xyz A-B 10,000!")))
      .select(TextPipeline.normalize($"text")).as[String].head()
    // reference semantics greeter_client.cc:316-321: punctuation removed
    assert(out == "dont coxyz ab 10000")
  }

  test("tokenize never emits empty tokens (C++ operator>> parity)") {
    val words = TextPipeline.tokenize(df(Seq((1L, "  hello   world  "), (2L, "!!!"), (3L, ""))))
      .select("word").as[String].collect().toSeq
    assert(words.sorted == Seq("hello", "world"))
  }

  test("wordCount on a hand-computed corpus") {
    val wc = TextPipeline.wordCount(df(Seq((1L, "a b a"), (2L, "b c... c! C"))))
      .as[(String, Long)].collect().toMap
    assert(wc == Map("a" -> 2L, "b" -> 2L, "c" -> 3L))
  }

  test("topN is deterministic under ties: count DESC then word ASC") {
    val top = TextPipeline.topN(
      TextPipeline.wordCount(df(Seq((1L, "b a c b a z z")))), 3)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("a", 2L), ("b", 2L), ("z", 2L)))
  }

  test("sum of word counts equals total token count (mass conservation)") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val totalTokens = TextPipeline.tokenize(docs).count()
    val sumCounts = TextPipeline.wordCount(docs).agg(sum("cnt")).as[Long].head()
    assert(totalTokens == sumCounts)
  }

  test("wordCount is partition-count invariant (the reference's global-counts bug violated this)") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val base = TextPipeline.wordCount(docs).as[(String, Long)].collect().toMap
    val rep = TextPipeline.wordCount(docs.repartition(7)).as[(String, Long)].collect().toMap
    assert(base == rep)
  }

  test("RDD twin agrees with the DataFrame plan") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val dfCounts = TextPipeline.wordCount(docs).as[(String, Long)].collect().toMap
    val rddCounts = TextPipeline.wordCountRdd(spark, docs).collect().toMap
    assert(dfCounts == rddCounts)
  }

  test("RDD twin, DataFrame plan and hand counts agree on non-ASCII text, in any locale") {
    // é ï İ NBSP and the Kelvin sign are dropped (not letters, not
    // whitespace); U+001C is not in Java's \s set, so "x\u001cy" is one token
    val docs = df(Seq(
      (1L, "Caf\u00e9 na\u00efve \u0130stanbul a\u00a0b x\u001cy \u212a"),
      (2L, "CAF nave TITLE")))
    val want = Map("caf" -> 2L, "nave" -> 2L, "stanbul" -> 1L, "ab" -> 1L, "xy" -> 1L,
      "title" -> 1L)
    val dfCounts = TextPipeline.wordCount(docs).as[(String, Long)].collect().toMap
    val saved = java.util.Locale.getDefault
    // Turkish lowercases I to dotless ı: a locale-dependent lower would miss "title"
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    val rddCounts =
      try TextPipeline.wordCountRdd(spark, docs).collect().toMap
      finally java.util.Locale.setDefault(saved)
    assert(dfCounts == want)
    assert(rddCounts == want)
  }

  test("a word-count op scans the documents once: wordCount, then the sink and topN") {
    import org.apache.spark.scheduler._
    val docs = Tables.documents(spark, TestSpark.sf)
    val rowCount = docs.count()
    val sc = spark.sparkContext
    val group = s"scan-once-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    def jobGroup(js: SparkListenerJobStart) =
      Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (jobGroup(js) == group) js.stageInfos.foreach(si => groupStages.add(si.stageId))
        if (jobGroup(js) == sentinel) sentinelSeen.countDown()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(te.stageId) && te.taskMetrics != null)
          recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    val out = tempDir("graft-scan-once")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "wordcount_corpus op")
      val wc = TextPipeline.wordCount(docs)
      TextPipeline.writeWordCounts(wc, out.resolve("sink").toString)
      assert(TextPipeline.topN(wc, 20).collect().length == 20)
      // listener events arrive in order: once the sentinel job's start is
      // delivered, every task of the op before it has been counted
      sc.setJobGroup(sentinel, "listener sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(recordsRead.get == rowCount, s"documents rows read: ${recordsRead.get}, rows: $rowCount")
  }

  test("RDD takeOrdered agrees with topN under the same total order") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val viaDf = TextPipeline.topN(TextPipeline.wordCount(docs), 10)
      .as[(String, Long)].collect().toSeq
    val viaRdd = TextPipeline.wordCountRdd(spark, docs)
      .takeOrdered(10)(Ordering.by { case (w, c) => (-c, w) }).toSeq
    assert(viaDf == viaRdd)
  }

  test("normalization is idempotent") {
    val docs = Tables.documents(spark, TestSpark.sf).select($"text")
    val once = docs.select(TextPipeline.normalize($"text").as("t"))
    val twice = once.select(TextPipeline.normalize($"t").as("t"))
    assert(once.except(twice).isEmpty && twice.except(once).isEmpty)
  }

  test("decontamination flags planted benchmark overlap, spares clean docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // benchmark
      // contaminated: contains the 5-gram "quick brown fox jumps over"
      (10L, "she said quick brown fox jumps over and left"),
      // clean: same words, different order — no shared 5-gram
      (11L, "fox brown quick the jumps dog lazy the over again"),
      (12L, "completely unrelated text with many plain words here")
    ).toDF("doc_id", "text")
    val flagged = graft.functions.TextAnalysis
      .decontaminateOn(docs, col("doc_id") < 10)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(10L), s"flagged: $flagged")
    assert(flagged(10L) >= 1L)
  }

  test("shard packing: per-stratum shard ids start at 0 and never decrease") {
    val shards = graft.functions.TextAnalysis.shardPacking(spark, TestSpark.sf)
      .orderBy("lang", "doc_id")
      .as[(Long, String, Long)].collect()
    assert(shards.nonEmpty)
    shards.groupBy(_._2).foreach { case (lang, rows) =>
      val ids = rows.sortBy(_._1).map(_._3)
      assert(ids.head == 0L, s"$lang first shard ${ids.head}")
      assert(ids.zip(ids.tail).forall { case (a, b) => b >= a && b <= a + 1 },
        s"$lang shard ids must be non-decreasing without gaps")
    }
  }
}
