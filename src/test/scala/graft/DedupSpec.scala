package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("word_ngrams generator is row-identical to the HOF shingle formulation") {
    val docs = Seq(
      (1L, "a b c d e f g"),          // 3 shingles
      (2L, "a b c d"),                // too short: none
      (3L, "x x x x x x"),            // duplicates preserved
      (4L, "")                        // empty
    ).toDF("doc_id", "text")
    val base = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 5)
    val viaHof = base.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(words) - 5), i -> array_join(slice(words, i + 1, 5), ' '))")))
      .toDF("doc_id", "pos", "shingle")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val viaGen = base.selectExpr("doc_id", "word_ngrams(words, 5)")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(viaGen == viaHof)
    assert(viaGen.exists { case (id, _, s) => id == 3L && s == "x x x x x" })
    assert(!viaGen.exists(_._1 == 2L) && !viaGen.exists(_._1 == 4L))
  }

  test("shingles: word 5-grams, distinct, short docs excluded") {
    val sh = Dedup.shingles(Seq((1L, "a b c d e f"), (2L, "too short")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c d e"), (1L, "b c d e f")))
  }

  test("adaptiveParts: parallelism floor at fixture bytes, 32 MB scale term, hard cap") {
    // fixture-sized source (~KBs): the 256 KB-per-partition floor gives a
    // few real partitions, never the serial 1 and never the core count
    val tiny = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val pTiny = Dedup.adaptiveParts(tiny)
    assert(pTiny >= 1 && pTiny <= spark.sparkContext.defaultParallelism)
    // scale term: bytesPerPart=1 makes every estimated byte its own
    // partition, overriding the core-count floor
    val bytes = tiny.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(Dedup.adaptiveParts(tiny, bytesPerPart = 1L) == bytes + 1)
    // runaway cap: a wide source at bytesPerPart=1 pins to 2^16
    assert(Dedup.adaptiveParts(spark.range(100000L).toDF("doc_id"),
      bytesPerPart = 1L) == (1 << 16))
  }

  test("golden record: richest survivor, min-id tie-break, dup counts") {
    // docs 1/2 share a fingerprint ("A b." and "a B!" normalize identically);
    // doc 3 is its own group. n_chars decides the survivor; doc_id breaks ties.
    val docs = Seq(
      (1L, "A b.", 4L), (2L, "a B!", 4L), (3L, "c d", 3L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.goldenRecordOn(docs)
      .select("survivor_id", "n_chars", "n_dups").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 4L, 2L), (3L, 3L, 1L)))
    // richer copy wins regardless of id order
    val richer = Dedup.goldenRecordOn(
      Seq((1L, "x y", 3L), (2L, "x y!", 4L)).toDF("doc_id", "text", "n_chars"))
      .select("survivor_id").as[Long].collect().toSeq
    assert(richer == Seq(2L))
  }

  test("prefix-filter set-similarity join == brute-force Jaccard, fixture") {
    val viaPrefix = Dedup.setSimJoinPrefix(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val bruteForce = Dedup.ngramJaccard(spark, TestSpark.sf)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(viaPrefix == bruteForce)
    assert(viaPrefix.nonEmpty)
  }

  test("exact dedup groups identical normalized docs") {
    val out = Dedup.exact(spark, TestSpark.sf)
    val total = out.agg(org.apache.spark.sql.functions.sum("n_copies")).as[Long].head()
    assert(total == 500L) // every doc lands in exactly one fingerprint group
  }

  test("minhash LSH finds the same high-jaccard pairs as brute force on fixtures") {
    // LSH candidates ⊆ all pairs, both verified at >= 0.8 — LSH may only MISS
    // pairs (no false positives after verification).
    val brute = Dedup.ngramJaccard(spark, TestSpark.sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, TestSpark.sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    // with 4 bands x 4 rows at jaccard >= 0.8, expected recall is >90%;
    // require we at least find most of them on the fixture corpus
    if (brute.nonEmpty) assert(lsh.size * 10 >= brute.size * 5)
  }

  test("near-dup clusters: every LSH pair co-clustered, keeper is the cluster min") {
    import spark.implicits._
    val pairs = Dedup.minhashLsh(spark, TestSpark.sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val clusters = Dedup.nearDupClusters(spark, TestSpark.sf)
      .as[(Long, Long, Boolean)].collect()
    val label = clusters.map(c => c._1 -> c._2).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._1).min == cl, s"cluster $cl label is not its min doc_id")
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == cl)
    }
  }

  test("connected components converge past diameter 3: diameter-6 chain is ONE cluster") {
    // chain 1-2-3-4-5-6-7: min label (1) needs 6 propagation rounds to reach
    // node 7 — the fixed-3-round form would leave the tail in a second cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (1L to 7L))
    assert(out.forall(_._2 == 1L), s"expected one cluster, got ${out.mkString(",")}")
    assert(out.count(_._3) == 1 && out.find(_._3).get._1 == 1L)
  }

  test("bfs levels: cycle distances from the mod-10 seed; unseeded component unreachable") {
    // 7-cycle 0-1-2-3-4-5-6-0: seed 0 (≡0 mod 10), level = min(i, 7−i);
    // the cycle also proves the frontier loop terminates on cyclic graphs.
    // Component {101,102} has no seed and must not appear at all.
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 0L),
      (101L, 102L)).toDF("doc_a", "doc_b")
    val out = Dedup.graphBfsLevelsOn(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 2L, 6L -> 1L))
  }

  test("connected components handle two disjoint components independently") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val label = Dedup.connectedComponents(pairs)
      .as[(Long, Long, Boolean)].collect().map(c => c._1 -> c._2).toMap
    assert(label == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("ngram jaccard computes the hand-derived values on crafted docs") {
    // doc1 shingles: {a b c d e, b c d e f, c d e f g}  (3)
    // doc2 shingles: {a b c d e, b c d e f, c d e f X}  (3), common = 2
    //   → jaccard = 2/(3+3-2) = 0.5 — below the 0.8 threshold, excluded
    // doc3 == doc1 → jaccard 1.0 → pair (1,3) kept
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f X"),
      (3L, "a b c d e f g")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardOn(docs)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 3L, 1.0)))
  }

  test("containment flags a short doc fully contained in a longer one") {
    // doc1: 6 shingles; doc2: 2 shingles, both inside doc1 → containment
    // of doc2 in doc1 is 1.0 while Jaccard is only 2/6 — the case this
    // operator exists for. doc3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f"),
      (3L, "z y x w v u t")).toDF("doc_id", "text")
    val rows = Dedup.containmentOn(docs).as[(Long, Long, Double, Double)].collect().toSeq
    assert(rows == Seq((1L, 2L, 0.3333, 1.0)))
  }

  test("triangleCount: K4 has 4 triangles, C4 has none, K4-minus-an-edge has 2") {
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    assert(Dedup.triangleCount(k4).as[Long].head() == 4L)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    assert(Dedup.triangleCount(c4).as[Long].head() == 0L)
    val k4MinusEdge = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .filterNot(_ == (1L, 2L)).toDF("src", "dst")
    assert(Dedup.triangleCount(k4MinusEdge).as[Long].head() == 2L)
  }

  test("graphKhop: path graph reach counts, components stay separate") {
    // path 1-2-3-4-5: within 2 hops of 3 -> {1,2,4,5}; of 1 -> {2,3};
    // isolated component 10-11: each reaches only the other
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val reach = Dedup.graphKhopOn(pairs).as[(Long, Long)].collect().toMap
    assert(reach == Map(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 5L -> 2L,
      10L -> 1L, 11L -> 1L))
  }

  test("identical docs have identical simhash; disjoint docs differ") {
    val df = Seq(
      (1L, "spark query engine fast"),
      (2L, "spark query engine fast"),
      (3L, "zebra yak xylophone walrus")).toDF("doc_id", "text")
    val rows = Dedup.simhash(spark, TestSpark.sf).as[(Long, Long)].collect()
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    // identical token sets hash identically through the same pipeline pieces
    import org.apache.spark.sql.functions._
    val tiny = graft.operators.TextPipeline.tokenize(df).distinct()
      .withColumn("h", conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
    val h1 = tiny.filter($"doc_id" === 1).select("h").as[Long].collect().toSet
    val h2 = tiny.filter($"doc_id" === 2).select("h").as[Long].collect().toSet
    assert(h1 == h2)
  }

  test("minhash estimator table: est = agree/16, error consistent, exact pairs agree fully") {
    val rows = Dedup.minhashJaccardEst(spark, TestSpark.sf)
      .as[(Long, Long, Int, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nAgree, est, exact, err) =>
      assert(a < b)
      assert(nAgree >= 1 && nAgree <= 16, "candidates share a band, so >= 4 components agree")
      assert(est == nAgree / 16.0)
      assert(exact >= 0.0 && exact <= 1.0)
      assert(err == math.abs(est - exact))
      if (exact == 1.0) assert(nAgree == 16, "identical sets must agree on every component")
    }
  }

  test("span coverage: cross-doc spans count, within-doc repeats don't, positions union") {
    // docs 1/2 share the 5-word span "p q r s t" (plus doc 1's extension
    // "q r s t u" is NOT in doc 2, so doc 1 covers 6 words via the union
    // of ONE matching window); doc 3 repeats a 5-gram only within itself;
    // doc 4 shares nothing; doc 5 is too short to shingle.
    val docs = Seq(
      (1L, "p q r s t u x1 x2 x3 x4"),     // 10 words, [0,5) covered
      (2L, "y1 y2 p q r s t y3 y4 y5"),    // 10 words, [2,7) covered
      (3L, "a b c d e a b c d e"),         // within-doc repeat only
      (4L, "z1 z2 z3 z4 z5 z6"),           // unique
      (5L, "w1 w2")                        // too short
    ).toDF("doc_id", "text")
    val out = Dedup.spanCoverageOn(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 10L, 5L, 0.5),
      (2L, 10L, 5L, 0.5),
      (3L, 10L, 0L, 0.0),
      (4L, 6L, 0L, 0.0),
      (5L, 2L, 0L, 0.0)))
    // overlapping duplicated windows union, not double-count: doc 6 shares
    // two overlapping windows with doc 7 => 6 covered positions, not 10
    val overlapping = Seq(
      (6L, "m1 m2 m3 m4 m5 m6 t1 t2"),
      (7L, "m1 m2 m3 m4 m5 m6 u1 u2")
    ).toDF("doc_id", "text")
    val cov6 = Dedup.spanCoverageOn(overlapping)
      .filter($"doc_id" === 6L).as[(Long, Long, Long, Double)].head()
    assert(cov6 == ((6L, 8L, 6L, 0.75)))
  }

  test("span excise removes exactly the covered words, keeps the remainder in order") {
    val docs = Seq(
      (1L, "p q r s t u x1 x2 x3 x4"),  // [0,5) excised
      (2L, "y1 y2 p q r s t y3 y4 y5"), // [2,7) excised
      (3L, "a b c d e"),                 // fully duplicated in doc 4
      (4L, "a b c d e"),
      (5L, "z1 z2 z3")                   // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanExciseOn(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 10L, 5L, "u x1 x2 x3 x4"),
      (2L, 10L, 5L, "y1 y2 y3 y4 y5"),
      (3L, 5L, 0L, ""),
      (4L, 5L, 0L, ""),
      (5L, 3L, 3L, "z1 z2 z3")))
  }
}
