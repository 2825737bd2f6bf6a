package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextAnalysis

/** Semantic invariants for the corpus-curation operators that the DuckDB
  * oracle gate can't express directly (it proves equality, not the
  * properties below).
  */
class TextAnalysisSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("an empty and a whitespace-only document give NULL ratios, not DIVIDE_BY_ZERO") {
    // three fixture docs plus doc -1 (empty text) and doc -2 (whitespace
    // only); DuckDB answers x / 0 with NULL, so the gates must too
    val src = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val blanks = Seq(-1L -> "", -2L -> " \t\n ").map { case (id, text) =>
      src.limit(1)
        .withColumn("doc_id", lit(id).cast(src.schema("doc_id").dataType))
        .withColumn("text", lit(text))
        .withColumn("n_chars", lit(text.length).cast(src.schema("n_chars").dataType))
    }
    val dir = tempDir("graft-blank-docs")
    blanks.foldLeft(src.orderBy("doc_id").limit(3))(_ unionByName _)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Seq("text_quality", "training_corpus_funnel", "pipeline_clean_corpus", "dedup_lsh_recall")
      .foreach(q => SparkEntry.queries(q)(spark, dir.toString).collect())
    val empty = TextAnalysis.qualityScore(spark, dir.toString).filter(col("doc_id") === -1L)
      .select("digit_ratio", "symbol_ratio").head()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    // three distinct docs: no near-dup truth pair, so recall is 0 / 0
    val lsh = graft.operators.Dedup.lshRecall(spark, dir.toString).head()
    assert(lsh.getAs[Long]("n_truth") == 0L && lsh.isNullAt(lsh.fieldIndex("recall_frac")))
  }

  test("quality_buckets: per-language terciles are balanced and score-ordered") {
    val rows = TextAnalysis.qualityBuckets(spark, TestSpark.sf)
      .as[(String, String, Long, Double, Double)].collect()
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, bs) =>
      assert(bs.length == 3, s"$lang should have head/middle/tail")
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes differ by > 1")
      val m = bs.map(b => b._2 -> b).toMap
      // score DESC ranking: every head score >= every middle score >= tail
      assert(m("head")._4 >= m("middle")._5, s"$lang head/middle overlap")
      assert(m("middle")._4 >= m("tail")._5, s"$lang middle/tail overlap")
    }
  }

  test("persisted BPE tokenizer: trains once, load-run encodes identically to the in-plan trainer") {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-bpe-merges")
    graft.sources.v2.MemCatalog.deleteRecursively(root)
    // cold cache: first call TRAINS and publishes the artifact
    val first = TextAnalysis.queries("bpe_encode_persisted")(spark, TestSpark.sf)
      .as[(String, Long, String, Long)].collect().toSet
    assert(java.nio.file.Files.exists(root) &&
      java.nio.file.Files.list(root).count() >= 1,
      "the first run must persist the merge table")
    import scala.jdk.CollectionConverters._
    def artifactMtimes(): Map[String, Long] = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally w.close()
    }
    val mt = artifactMtimes()
    // warm cache: the second call must LOAD (artifact untouched) and match
    val second = TextAnalysis.queries("bpe_encode_persisted")(spark, TestSpark.sf)
      .as[(String, Long, String, Long)].collect().toSet
    assert(artifactMtimes() == mt, "a warm run must not retrain or rewrite")
    assert(first == second)
    // the artifact encoder reproduces the in-plan trainer bit-for-bit
    val trained = TextAnalysis.queries("bpe_encode")(spark, TestSpark.sf)
      .as[(String, Long, String, Long)].collect().toSet
    assert(first == trained,
      "artifact-encode must equal train-encode on every vocabulary word")
  }

  test("domain_caps: kept count is min(cap, total) and kept chars are the largest docs") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select("source", "n_chars", "doc_id")
      .as[(String, Long, Long)].collect().groupBy(_._1)
    val rows = TextAnalysis.domainCaps(spark, TestSpark.sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet == docs.keySet)
    rows.foreach { case (source, total, kept, charsKept) =>
      val all = docs(source)
      assert(total == all.length.toLong)
      assert(kept == math.min(TextAnalysis.CapPerDomain.toLong, total))
      val expected = all.sortBy { case (_, ch, id) => (-ch, id) }
        .take(TextAnalysis.CapPerDomain).map(_._2).sum
      assert(charsKept == expected, s"$source kept-chars should be the top-$kept docs by size")
    }
  }

  test("doc_chunking: every token covered, stride/overlap exact, short docs one chunk") {
    val n = 157 // > 2 strides past ChunkSize: 3 chunks (starts 0, 48, 96)
    val words = (0 until n).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, "a b c"),                         // n <= ChunkSize: single chunk
      (3L, (0 until 64).map(i => s"v$i").mkString(" ")) // exactly ChunkSize
    ).toDF("doc_id", "text")
    val out = TextAnalysis.docChunksOn(docs)
      .as[(Long, Long, Long, Long, String)].collect()
    val byDoc = out.groupBy(_._1)
    assert(byDoc(2L).map(c => (c._2, c._3, c._4, c._5)).toSeq == Seq((0L, 0L, 3L, "a b c")))
    assert(byDoc(3L).length == 1 && byDoc(3L).head._4 == 64L)
    val chunks1 = byDoc(1L).sortBy(_._2)
    assert(chunks1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 64L), (1L, 48L, 64L), (2L, 96L, 61L)))
    // chunk text is exactly words[start, start+len) — so consecutive chunks
    // share ChunkSize - ChunkStride = 16 tokens and the union covers [0, n)
    chunks1.foreach { case (_, _, start, len, text) =>
      assert(text == words.slice(start.toInt, start.toInt + len.toInt).mkString(" "))
    }
    val covered = chunks1.flatMap { case (_, _, start, len, _) =>
      start.toInt until (start.toInt + len.toInt) }.toSet
    assert(covered == (0 until n).toSet)
  }
}
