package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("knn excludes self and returns exactly k ranks per query") {
    val knn = Similarity.knnBruteForce(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect()
    assert(knn.forall { case (q, n, _) => q != n })
    val byQuery = knn.groupBy(_._1)
    assert(byQuery.keySet == (0L until 10L).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to 10L))
    }
  }

  test("persisted IVF-PQ index: training run and loaded-index run are byte-identical") {
    // first call with a cold cache TRAINS and persists the index; the
    // second call LOADS it — exact-integer training makes both identical,
    // which is the entire safety argument of the offline-index seam
    val idxRoot = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-ivfpq-index")
    graft.sources.v2.MemCatalog.deleteRecursively(idxRoot)
    val trained = Similarity.queries("knn_ivfpq_rerank")(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(java.nio.file.Files.exists(idxRoot) &&
      java.nio.file.Files.list(idxRoot).count() >= 1,
      "the first run must persist the trained index")
    val loaded = Similarity.queries("knn_ivfpq_rerank")(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(trained == loaded,
      "the loaded index must reproduce the training run exactly")
    val res1 = Similarity.queries("knn_ivfpq_residual")(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    val res2 = Similarity.queries("knn_ivfpq_residual")(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(res1 == res2)
  }

  test("ivf-pq codes artifact: serve equals the embedded path; append encodes only new vectors with frozen codebooks") {
    val codesRoot = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-ivfpq-codes")
    graft.sources.v2.MemCatalog.deleteRecursively(codesRoot)
    val served = Similarity.queries("knn_ivf_pq_serve")(spark, TestSpark.sf)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val embedded = Similarity.queries("knn_ivf_pq")(spark, TestSpark.sf)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(served == embedded,
      "codes-served IVF-PQ must reproduce the embedded-encode ranking")
    // incremental maintenance on a CLONE (the fingerprinted artifact
    // stays pristine for the oracle sweep): append 3 synthetic vectors,
    // prove O(new) — existing segment files untouched — and that the
    // appended codes equal a frozen-codebook encode of the same vectors
    import scala.jdk.CollectionConverters._
    val canon = java.nio.file.Files.list(codesRoot).iterator().asScala.toSeq.head
    val clone = tempDir("graft-ivfpq-clone")
    val w = java.nio.file.Files.walk(canon)
    try w.iterator().asScala.foreach { p =>
      val t = clone.resolve(canon.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally w.close()
    def files(root: java.nio.file.Path): Map[String, Long] = {
      val w2 = java.nio.file.Files.walk(root)
      // data segments only: the job-commit `_SUCCESS` marker is expected
      // to refresh on every append — the O(new) claim is about segments
      try w2.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally w2.close()
    }
    val before = files(clone)
    val index = {
      // load the persisted codebook table directly
      val idxRoot = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-ivfpq-index")
      val key = java.nio.file.Files.list(idxRoot).iterator().asScala.toSeq.head
      spark.read.parquet(key.toString)
    }
    val newVecs = spark.range(900000, 900003)
      .selectExpr("id AS vec_id",
        "transform(sequence(1, 64), i -> CAST(id % 97 + i AS BIGINT)) AS qv")
    Similarity.ivfPqAppendSegment(index, clone, newVecs)
    val after = files(clone)
    assert(before.forall { case (p, mt) => after.get(p).contains(mt) },
      "an append must not rewrite or touch existing segment files")
    assert(after.size > before.size, "the append must add new segment files")
    val appended = spark.read.parquet(clone.toString)
      .filter($"vec_id" >= 900000L)
    val recoded = Similarity.encodeWith(index, newVecs)
    val a = appended.select("vec_id", "cell", "code_0", "code_1", "code_2", "code_3")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val r = recoded.select("vec_id", "cell", "code_0", "code_1", "code_2", "code_3")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(a == r, "appended codes must equal a frozen-codebook encode")
  }

  test("persisted inverted index: builds once, prunes to query-term shards, matches the rescan path") {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-token-index")
    graft.sources.v2.MemCatalog.deleteRecursively(root)
    val served = Similarity.queries("search_index_served")(spark, TestSpark.sf)
      .as[(Long, Long)].collect().toSet
    assert(java.nio.file.Files.exists(root) &&
      java.nio.file.Files.list(root).count() >= 1,
      "the first search must build and persist the index")
    import scala.jdk.CollectionConverters._
    def mtimes(): Map[String, Long] = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally w.close()
    }
    val mt = mtimes()
    val again = Similarity.queries("search_index_served")(spark, TestSpark.sf)
      .as[(Long, Long)].collect().toSet
    assert(mtimes() == mt, "a warm search must not rebuild the index")
    assert(served == again)
    val rescan = Similarity.queries("search_boolean_and")(spark, TestSpark.sf)
      .as[(Long, Long)].collect().toSet
    assert(served == rescan,
      "index-served retrieval must equal the corpus-rescan result")
    // the scan prunes to the query terms' shard directories
    val plan = Similarity.queries("search_index_served")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"expected a shard partition filter in the scan, got:\n$plan")
  }

  test("top-1 brute-force neighbor is symmetric-consistent with cosine definition") {
    // rank 1 for query q must have cosine >= rank 2's cosine: implied by
    // row_number ordering; spot-check determinism by running twice
    val a = Similarity.knnBruteForce(spark, TestSpark.sf).as[(Long, Long, Long)].collect().toSet
    val b = Similarity.knnBruteForce(spark, TestSpark.sf).as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("native CosineSimilarity expression agrees with the HOF formulation and hand math") {
    import org.apache.spark.sql.functions._
    val pairs = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),   // identical → 1.0
      (Array(1.0, 0.0), Array(0.0, 1.0)),             // orthogonal → 0.0
      (Array(1.0, 2.0), Array(2.0, 3.0))
    ).toDF("a", "b")
    val rows = pairs.select(
      expr("cosine_sim(a, b)").as("native"),
      graft.operators.Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native=$n hof=$h") }
    assert(math.abs(rows(0)._1 - 1.0) < 1e-12)
    assert(math.abs(rows(1)._1) < 1e-12)
    assert(math.abs(rows(2)._1 - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
  }

  test("native cosine works from SQL text and inside codegen'd plans") {
    val r = spark.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("native dot_i64 agrees with the HOF formulation and hand math") {
    import org.apache.spark.sql.functions._
    val pairs = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),       // 4+10+18 = 32
      (Array(-7L, 1000L), Array(3L, -2L)),          // -21-2000 = -2021
      (Array.empty[Long], Array.empty[Long])        // 0
    ).toDF("a", "b")
    val rows = pairs.select(
      expr("dot_i64(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("hof"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native=$n hof=$h") }
    assert(rows.map(_._1).toSeq == Seq(32L, -2021L, 0L))
  }

  test("k-means IVF: fixed k cells, queries probe own cell, exact ranks") {
    val knn = Similarity.knnIvfKmeans(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect()
    assert(knn.nonEmpty)
    assert(knn.forall { case (q, n, r) => q != n && r >= 1 && r <= 10 })
    // deterministic across runs (exact integer training trajectory)
    val again = Similarity.knnIvfKmeans(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect()
    assert(knn.toSet == again.toSet)
  }

  test("GraftExtensions wires into SparkSessionExtensions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // injectFunction + injectPlannerStrategy
  }

  test("LSH bucket neighbors are a subset of the vector universe, self-free") {
    val lsh = Similarity.knnLsh(spark, TestSpark.sf).as[(Long, Long, Long)].collect()
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, n, r) => q != n && r >= 1 && r <= 3 })
  }

  test("PQ codes: one code word per vector, every code a live centroid id") {
    val codes = Similarity.pqCodes(spark, TestSpark.sf).collect()
    assert(codes.length == 500)
    codes.foreach { r =>
      (0 until Similarity.PqM).foreach { m =>
        val c = r.getAs[Long](s"code_$m")
        assert(c >= 0 && c < Similarity.PqK, s"code_$m=$c out of [0, ${Similarity.PqK})")
      }
    }
  }

  test("PQ ADC: exact-integer distances, correctly ranked per query") {
    val rows = Similarity.knnPqAdc(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to byRank.length).toSeq, s"query $q ranks not dense")
      // adc_d2 must be non-decreasing with rank (ties broken by id)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._3, s"query $q: ADC order violated")
        case _ => ()
      }
    }
  }

  test("filtered KNN: every neighbor carries the query's own label") {
    val labels = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val out = Similarity.knnFiltered(spark, TestSpark.sf)
      .select("query_id", "neighbor_id", "label").as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, n, l) =>
      assert(l == labels(q), s"query $q (label ${labels(q)}) got a label-$l neighbor")
      assert(labels(n) == l)
    }
  }

  test("RRF fusion: descending scores, ids drawn from the source rankings") {
    val out = Similarity.rrfFusion(spark, TestSpark.sf)
      .select("id", "rrf").as[(Long, Double)].collect().toSeq
    assert(out.nonEmpty && out.size <= 10)
    assert(out.map(_._2) == out.map(_._2).sorted.reverse)
    // a doc ranked in BOTH top-20s always beats rank-20 in a single list
    val best = out.head._2
    assert(best >= 1.0 / 80 && best <= 2.0 / 61)
  }

  test("semdedup: one verdict per vector, cells bounded by k, threshold non-vacuous") {
    // sf0.01: sf0.001's 150 vectors yield too few in-cell pairs above tau
    // (the GeoSpec lesson — calibrate non-vacuity at the right scale)
    val verdicts = Similarity.semdedupCells(spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Boolean)].collect()
    assert(verdicts.map(_._1).distinct.length == verdicts.length,
      "every vector gets exactly one verdict")
    assert(verdicts.map(_._2).distinct.length <= 8, "cells come from the k=8 quantizer")
    val dropped = verdicts.filter(_._3).map(_._1).toSet
    assert(dropped.nonEmpty, "the dedup threshold must actually fire at sf0.01")
    assert(verdicts.length > dropped.size, "dedup must never drop everything")
  }

  test("nprobe=2 candidates dominate single-probe: per-query result never shrinks") {
    val single = Similarity.knnIvf(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect().groupBy(_._1).view.mapValues(_.length).toMap
    val probed = Similarity.knnIvfNprobe(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect().groupBy(_._1).view.mapValues(_.length).toMap
    assert(probed.nonEmpty)
    // the probe set is a superset of the own cell, so every query sees at
    // least as many candidates (both outputs cap at rank 10)
    single.foreach { case (q, n) =>
      assert(probed.getOrElse(q, 0) >= n, s"query $q: nprobe=2 returned fewer rows")
    }
  }

  test("MMR re-rank reproduces an independent driver-side greedy over the same pool") {
    import org.apache.spark.sql.functions._
    // independent pipeline: pull quantized vectors to the driver, rebuild
    // the candidate pool and greedy trajectory in plain Scala collections
    val qv = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT))").as("qv"))
      .as[(Long, Seq[Long])].collect().toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val expected = (0L until 5L).flatMap { qid =>
      val pool = qv.keysIterator.filter(_ != qid).map { cid => (cid, dot(qv(qid), qv(cid))) }
        .toSeq.sortBy { case (cid, rel) => (-rel, cid) }.take(Similarity.MmrCands)
      var picked = Vector.empty[Long]
      var out = Vector.empty[(Long, Long, Long, Long)]
      for (rank <- 1 to Similarity.MmrK) {
        val scored = pool.filterNot(c => picked.contains(c._1)).map { case (cid, rel) =>
          val pen = if (picked.isEmpty) 0L else picked.map(s => dot(qv(cid), qv(s))).max
          (cid, 7L * rel - 3L * pen)
        }
        val (cid, score) = scored.minBy { case (c, s) => (-s, c) }
        picked :+= cid
        out :+= ((qid, cid, rank.toLong, score))
      }
      out
    }.toSet
    val got = Similarity.mmrRerank(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "distributed MMR must match the reference greedy exactly")
  }

  test("one-pass frozen-codebook encoder equals an independent argmin over the codebooks") {
    // ensure the persisted index exists, then load the codebook table raw
    Similarity.queries("knn_ivf_pq_serve")(spark, TestSpark.sf).count()
    import scala.jdk.CollectionConverters._
    val idxRoot = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-ivfpq-index")
    val key = java.nio.file.Files.list(idxRoot).iterator().asScala.toSeq.head
    val idx = spark.read.parquet(key.toString)
    val cents = idx.filter($"space".isin("coarse", "raw"))
      .select($"space", $"m", $"cent_id", $"cv")
      .as[(String, Int, Long, Seq[Long])].collect()
    // synthetic vectors NOT in the corpus: the encoder must be a pure
    // function of (codebooks, vector), so any input exercises it
    val vecs = spark.range(7770, 7790).selectExpr("id AS vec_id",
      "transform(sequence(1, 64), i -> CAST((id * 31 + i * 7) % 1999 - 999 AS BIGINT)) AS qv")
    val got = Similarity.encodeWith(idx, vecs)
      .select("vec_id", "cell", "code_0", "code_1", "code_2", "code_3")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // independent reference: plain-Scala argmin of Σ(x−c)² with ties to
    // the lowest cent_id — the rn=1-by-(d2 asc, cent_id asc) contract
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val raw = vecs.as[(Long, Seq[Long])].collect()
    val expected = raw.map { case (id, qv) =>
      val cell = cents.collect { case ("coarse", _, cid, cv) => (d2(qv, cv), cid) }
        .min._2
      val codes = (0 until Similarity.PqM).map { m =>
        val sub = qv.slice(m * Similarity.PqSubDim, (m + 1) * Similarity.PqSubDim)
        cents.collect { case ("raw", mm, cid, cv) if mm == m => (d2(sub, cv), cid) }
          .min._2
      }
      (id, cell, codes(0), codes(1), codes(2), codes(3))
    }.toSet
    assert(got == expected,
      "one-pass encode must equal the per-centroid argmin reference")
  }
}
