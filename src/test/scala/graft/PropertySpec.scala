package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPipeline
import graft.functions.TopKAggregator

/** Property-based invariants (SURVEY §5.2) over ScalaCheck-generated
  * corpora, driven with explicit seeds (each case spins Spark jobs, so a
  * bounded deterministic sample beats the default 100-case loop).
  */
class PropertySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val wordGen = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf("the", "a", "Don't", "co/xyz", "10,000", "...", "", "  "))
  private val docGen: Gen[String] =
    Gen.listOfN(12, wordGen).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] = Gen.listOfN(8, docGen)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("mass conservation: sum of counts == token count, for random corpora") {
    samples(corpusGen, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val tokens = TextPipeline.tokenize(df).count()
      val counted = TextPipeline.wordCount(df).agg(coalesce(sum("cnt"), lit(0L))).as[Long].head()
      assert(tokens == counted, s"corpus=$docs")
    }
  }

  test("partition invariance: identical counts under any repartitioning") {
    samples(corpusGen.flatMap(c => Gen.choose(1, 9).map(c -> _)), 5).foreach {
      case (docs, parts) =>
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val a = TextPipeline.wordCount(df).as[(String, Long)].collect().toMap
        val b = TextPipeline.wordCount(df.repartition(parts)).as[(String, Long)].collect().toMap
        assert(a == b, s"parts=$parts corpus=$docs")
    }
  }

  test("normalize is idempotent and emits only [a-z0-9 whitespace]") {
    val strs = samples(Gen.asciiPrintableStr, 20) :+ "Don't co/xyz 10,000 ÅÉ" :+ ""
    val out = strs.toDF("text")
      .select(TextPipeline.normalize(col("text")).as("t"))
      .select(col("t"), TextPipeline.normalize(col("t")).as("t2"))
      .as[(String, String)].collect()
    out.foreach { case (once, twice) =>
      assert(once == twice)
      assert(once.forall(c => c.isDigit || (c >= 'a' && c <= 'z') || c.isWhitespace), s"'$once'")
    }
  }

  test("approx profile agrees with the exact profile on random frames (bound always holds)") {
    // profileTableApproxOn's verified columns must MATCH profileTableOn's
    // exactly (nulls / distinct / min / max), and the HLL certification
    // boolean must hold, for arbitrary data incl. nulls, dup-heavy and
    // all-null columns — the gate design only works if the bound is a
    // property of the operator, not of the orders fixture.
    val cellGen: Gen[Option[Int]] = Gen.frequency(
      3 -> Gen.choose(0, 40).map(Some(_)), 1 -> Gen.const(None))
    val rowsGen = Gen.listOfN(60, Gen.zip(cellGen, cellGen))
    samples(rowsGen, 4).foreach { rows =>
      val df = rows.map { case (a, b) => (a.map(_.toLong), b.map(v => s"v$v")) }
        .toDF("num_col", "str_col")
      val cols = Seq("num_col", "str_col")
      val approx = graft.operators.Mining.profileTableApproxOn(df, cols)
        .as[(String, Long, Long, String, String, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      val exact = graft.operators.Mining.profileTableOn(df, cols)
        .as[(String, Long, Long, String, String)].collect()
        .map(r => r._1 -> r).toMap
      cols.foreach { c =>
        val (_, aNulls, aDist, aMin, aMax, within) = approx(c)
        val (_, eNulls, eDist, eMin, eMax) = exact(c)
        assert((aNulls, aDist, aMin, aMax) == ((eNulls, eDist, eMin, eMax)), s"col=$c")
        assert(within, s"col=$c approx distinct outside 5% of $eDist")
      }
    }
  }

  test("typed TopKAggregator agrees with TakeOrderedAndProject for all k") {
    val wc = TextPipeline.wordCount(
      graft.sources.Tables.documents(spark, TestSpark.sf)).as[(String, Long)].cache()
    Seq(1, 5, 20).foreach { k =>
      val viaLimit = TextPipeline.topN(wc.toDF(), k).as[(String, Long)].collect().toSeq
      val viaAgg = TopKAggregator.topK(wc, k)
      assert(viaAgg == viaLimit, s"k=$k")
    }
  }

  test("deterministic operators are partition-layout invariant (inputs repartitioned)") {
    // the 100 TB claim behind hash sampling, splits, packing and upsert:
    // results depend only on DATA, never on physical partitioning. The
    // second run reads a copy of the fixture in which every table is a
    // directory of 7 parquet part files (round-robin rows; region's 5
    // rows make 5), so every scan, and every upstream aggregate, window
    // and join stage, sees a genuinely different partition layout. The
    // layout lives in the data, so it reaches the session clones the
    // queries make (repartitioning the OUTPUT would only test run-to-run
    // determinism).
    val copy = tempDir("graft-prop-parts").toString
    graft.sources.Tables.names.foreach { t =>
      spark.read.parquet(s"${TestSpark.sf}/$t.parquet").repartition(7)
        .write.parquet(s"$copy/$t.parquet")
    }
    // the copy really scans as several splits: one file would plan one.
    // (Spark packs small files into splits by size, so at this session's
    // files.minPartitionNum = 4 the 7 files plan 4 splits, not 7.)
    val orders = graft.sources.Tables.orders(spark, copy)
    assert(orders.inputFiles.length == 7 && orders.rdd.getNumPartitions > 1,
      s"${orders.inputFiles.length} files, ${orders.rdd.getNumPartitions} input partitions")
    val names = Seq("merge_upsert", "shard_packing", "train_test_split",
      "sample_hash", "text_repetition", "q13_order_histogram",
      "q12_priority_split",
      // round-4 continuation-2 additions: co-occurrence counts, binned
      // interval join, survivorship window, prefix-filter setsim join,
      // gaps-and-islands, multiset checksum, weighted top-K sample
      "skipgram_pairs", "interval_overlap_join", "golden_record",
      "dedup_setsim_prefix", "longest_streak", "table_checksum",
      "weighted_sample",
      // round-4 continuation-3 additions: basket self-join + bounded
      // top-K, tombstone CDC window, bin-decomposed skyline, histogram
      // median, secondary-sort scan, 2-round LPA, chunk checksums
      "copurchase_pairs", "cdc_latest", "skyline_2d",
      "exact_median_histogram", "secondary_sort_runs",
      "graph_communities", "merkle_chunks", "zonemap_prune_stats",
      // continuation-4: substring-dedup coverage union, map-side chunker,
      // span excise (collect_set order never observed — only membership)
      "dedup_span_coverage", "doc_chunking", "dedup_span_excise",
      "mixture_sample", "training_corpus_funnel", "gdpr_erasure",
      // round-5/6 families: KMV sketch (top-k-by-hash is a pure data
      // property), seeded DP noise, frontier BFS, rank-window SNM
      // blocking, neighbor-cell spatial join, count-min sums (cell
      // increments commute exactly), typed cogroup
      "theta_sketch_setops", "dp_noisy_counts", "graph_bfs_levels",
      "dedup_sorted_neighborhood", "geo_distance_join", "cms_word_freq",
      "typed_cogroup",
      // round-7 continuation: rule mining ratios, hash-probe negatives,
      // length-banded levenshtein, log-histogram sketch merge (counter
      // adds commute exactly), cell-restricted semantic dedup, prefix-
      // truncation recall counts
      "assoc_rules", "negative_sampling", "edit_distance_join",
      "quantile_sketch_merge", "semdedup_cells", "matryoshka_recall",
      // round-7 continuation-3: collated grouping, parameterized SQL,
      // covariance sufficient statistics (int64 sums commute exactly),
      // observe()-audited funnel (accumulator merge is orderless)
      "collation_group", "sql_parameterized", "embedding_covariance",
      "observed_metrics", "session_window_dynamic", "dsv2_runtime_filter",
      // native sketches: topk runs in the exact regime (counts are data
      // properties); KLL gates booleans on rank-error, stable under any
      // layout despite the sketch's randomized internals
      "agg_topk_sketch", "agg_quantile_kll",
      // ordered listagg, HUGEINT-replayed try_sum overflow, partitioned
      // partial-rewrite, accent-fold round-trip
      "agg_listagg", "agg_ansi_try", "sink_dynamic_overwrite",
      "text_accent_fold",
      // mirrored-window linear resampling: pure data property in exact µs
      "events_interpolate",
      // bitmap distinct (exact, orderless OR-merge), native theta bounds,
      // haversine bands (per-row trig + small agg)
      "agg_bitmap_distinct", "theta_sketch_native", "geo_haversine",
      // atomic CTAS round-trip (CREATE OR REPLACE resets per run)
      "dsv2_catalog_ctas", "dsv2_catalog_delete", "dsv2_catalog_function",
      "dsv2_topn_pushdown", "dsv2_sample_pushdown",
      // round-8: exact-int64 greedy MMR (trajectory is a pure data
      // property), scripting loop fixpoint (threshold depends on counts
      // only), union-window PIT join (exact-microsecond boundaries),
      // sequence packing (the distributed two-level prefix sum must be
      // partition-layout invariant BY CONSTRUCTION — this is the test)
      "mmr_rerank", "sql_scripting", "scd2_pit_join", "sequence_packing",
      "shingle_novelty", "embedding_outliers")
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      val a = q(spark, TestSpark.sf)
      val cols = a.columns.map(col).toIndexedSeq
      val once = a.orderBy(cols: _*).collect().toSeq
      val again = q(spark, copy).orderBy(cols: _*).collect().toSeq
      assert(once == again, s"$name result changed under a 7-file input layout")
    }
  }
}
