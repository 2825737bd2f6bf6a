package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Parameterized sign-LSH: n deterministic integer hyperplanes over the FULL
  * vector (not a coordinate-sign shortcut). Weights come from an LCG over
  * the flat (plane, coord) index and are inlined as literals into BOTH the
  * Spark plan and the DuckDB oracle, so bucket assignment is exactly
  * mirrorable. Vectors are first quantized to integers (`floor(x·1000)`),
  * making every dot product EXACT int64 arithmetic — no floating-point
  * summation-order hazard can flip a sign between engines.
  *
  * Scale rule: pick `bits ≈ log₂(N / target_bucket_size)` so per-bucket pair
  * work stays constant as N grows (the round-1 design fixed bits=8 ⇒
  * O((N/256)²) per bucket — the scale-killer this parameterization removes).
  * Recall knobs: more bands (multi-probe) rather than fewer bits.
  */
object SignLsh {
  val Dim = 64 // embeddings fixture dimension (TESTDATA.md)

  /** Integer hyperplane weights in [-1000, 1000], LCG over the flat index. */
  def weights(bits: Int): Seq[Seq[Long]] =
    (0 until bits).map(j => (0 until Dim).map { i =>
      (1103515245L * (j * Dim + i) + 12345L) % 2001L - 1000L
    })

  /** Spark SQL fragment: quantized int vector from a double-array column. */
  def quantExpr(vcol: String): String =
    s"transform($vcol, x -> CAST(floor(x * 1000) AS BIGINT))"

  /** Spark SQL fragment: n-bit bucket id over int-vector column `qv`.
    * Uses the native codegen'd `dot_i64` kernel — the HOF formulation
    * evaluates interpreted and was measured 15-25× slower.
    */
  def bucketExpr(bits: Int): String =
    weights(bits).zipWithIndex.map { case (w, j) =>
      s"(CASE WHEN dot_i64(qv, array(${w.mkString("L, ")}L)) >= 0 THEN ${1L << j}L ELSE 0L END)"
    }.mkString("(", " + ", ")")

  /** DuckDB mirror of [[bucketExpr]] over `qv` (integer-valued DOUBLE list). */
  def bucketSql(bits: Int): String =
    weights(bits).zipWithIndex.map { case (w, j) =>
      s"(CASE WHEN list_dot_product(qv, [${w.mkString(", ")}]::DOUBLE[]) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Spark fragment: one 8-bit band (band `b`) of a `bits`-plane signature. */
  def bandExpr(bits: Int, b: Int): String =
    weights(bits).zipWithIndex.slice(b * 8, b * 8 + 8).map { case (w, j) =>
      s"(CASE WHEN dot_i64(qv, array(${w.mkString("L, ")}L)) >= 0 THEN ${1L << (j - b * 8)}L ELSE 0L END)"
    }.mkString("(", " + ", ")")

  /** DuckDB mirror of [[bandExpr]]. */
  def bandSql(bits: Int, b: Int): String =
    weights(bits).zipWithIndex.slice(b * 8, b * 8 + 8).map { case (w, j) =>
      s"(CASE WHEN list_dot_product(qv, [${w.mkString(", ")}]::DOUBLE[]) >= 0 THEN ${1L << (j - b * 8)} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB fragment: quantized vector CTE column. */
  val quantSql: String = "list_transform(embedding::DOUBLE[], x -> floor(x * 1000))"
}

/** Approximate-nearest-neighbor / similarity search over the embedding
  * column (`embeddings.embedding: array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline (O(Q·N) — fine for
  * a bounded query set, never for all-pairs at scale). Scale paths:
  * [[SignLsh]]-bucketed candidate generation (equi-join on an n-bit
  * signature, n chosen per corpus size) and IVF with offline k-means
  * centroids (fixed k ⇒ O(N·k) assignment, one shuffle on cell id).
  *
  * The cosine kernel is the native codegen'd
  * [[graft.plans.CosineSimilarity]] expression (one fused loop, zero
  * allocation — see `SimilaritySpec` for its equivalence test against the
  * composable higher-order-function formulation). Ranking outputs carry ids
  * + ranks only — no floating-point columns — and candidate *thresholds* are
  * evaluated on exact-integer quantized dot products, so verification is
  * immune to last-bit summation differences.
  */
object Similarity {

  /** Embedding widened to double (cosine math must be f64 on both engines). */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
  }

  /** Vectors + integer quantization (exact cross-engine arithmetic). */
  private def qvecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).withColumn("qv", expr(SignLsh.quantExpr("v")))

  /** Composable (non-native) dot product — kept as the reference
    * formulation the custom expression is verified against.
    */
  def dotColsHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine via the composable path (spec/benchmark comparison only). */
  def cosineHof(a: Column, b: Column): Column =
    dotColsHof(a, b) / (sqrt(dotColsHof(a, a)) * sqrt(dotColsHof(b, b)))

  /** Brute-force cosine top-10 for a bounded query set (vec_id < 10).
    * The 10-row query side is explicitly broadcast: the join is a
    * BroadcastNestedLoopJoin streaming the corpus once — never a cartesian
    * task grid.
    */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val ranked = broadcast(q).join(all, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qv, v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
    ranked.filter(col("rank") <= 10).select("query_id", "neighbor_id", "rank")
  }

  /** FILTERED vector search — the production ANN feature every metadata-
    * aware index needs: nearest neighbors restricted to a predicate (here,
    * the query's own label class). The filter prunes the corpus BEFORE any
    * distance is computed — at scale this is label-partitioned storage +
    * partition pruning, so candidate volume is the class size, not N.
    */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"), col("v").as("qv"))
    val ranked = broadcast(q)
      .join(all, col("qlabel") === col("label") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        expr("cosine_sim(qv, v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
    ranked.filter(col("rank") <= 10).select("query_id", "neighbor_id", "label", "rank")
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval primitive: fuse a
    * KEYWORD ranking (term frequency of 'spark' over documents) with a
    * VECTOR ranking (cosine to query vector 0) via
    * RRF(d) = Σ_r 1/(60 + rank_r(d)). Each source ranking is a bounded
    * top-20 (TakeOrderedAndProject), so the rank windows run over ≤20
    * rows; the fusion is a full-outer join of two 20-row frames. The two
    * RRF terms are added in one fixed expression — no float aggregation.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val kwWin = Window.orderBy(col("tf").desc, col("doc_id").asc)
    val kwTop = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
      .filter(col("word") === "spark")
      .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("doc_id").asc).limit(20)
      .withColumn("r_kw", row_number().over(kwWin).cast("long"))
    val q = vecs(spark, dir).filter(col("vec_id") === 0).select(col("v").as("qv"))
    val vecWin = Window.orderBy(col("cos").desc, col("doc_id").asc)
    val vecTop = vecs(spark, dir).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"), expr("cosine_sim(qv, v)").as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
      .withColumn("r_vec", row_number().over(vecWin).cast("long"))
    kwTop.select(col("doc_id").as("id"), col("r_kw"))
      .join(vecTop.select(col("doc_id").as("id"), col("r_vec")), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0) / (lit(60) + col("r_kw")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0))).as("rrf"),
        col("r_kw"), col("r_vec"))
      .orderBy(col("rrf").desc, col("id").asc).limit(10)
  }

  /** BM25 keyword ranking (Robertson/Walker, the Lucene default scorer) —
    * the retrieval primitive [[rrfFusion]]'s keyword leg approximates with
    * raw TF: per document, Σ over query terms of
    * IDF(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with the Lucene
    * +1-smoothed IDF in log2 (the `log(2.0,·)` ↔ DuckDB `log2` pair is
    * the repo's proven cross-engine log idiom). Shape: one tokenize pass
    * feeds both the doc-length table and the term TFs; `df`, `N`, `avgdl`
    * ride 1-row broadcast frames; the per-term components sum in ONE
    * fixed expression (no float aggregation), rounded 4dp, bounded top-20
    * ranking ordered by the ROUNDED score (both engines sort identical
    * values). At 100 TB: TFs shuffle only rows containing a query term;
    * everything else is the corpus-stream + broadcast-scalar shape.
    */
  val Bm25Terms = Seq("hash", "table", "merge")
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  def bm25Ranking(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
      .filter(col("word") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).cast("long").as("n"))
    val tf = toks.filter(col("word").isin(Bm25Terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val piv = tf.groupBy("doc_id").pivot("word", Bm25Terms).agg(first("tf"))
    val dfCols = Bm25Terms.map(t =>
      max(when(col("word") === t, col("df"))).as(s"df_$t"))
    val dfs = tf.groupBy("word").agg(countDistinct("doc_id").as("df"))
      .agg(dfCols.head, dfCols.tail: _*)
    def comp(t: String): Column = {
      val tfv = coalesce(col(t).cast("double"), lit(0.0))
      val idf = log(2.0,
        (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)) + lit(1.0))
      // literals pinned (not computed: double(1.2)+1 can differ from
      // double(2.2) in the last ulp; the oracle parses the literal)
      idf * (tfv * lit(2.2)) /
        (tfv + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }
    val outCols = col("doc_id") +:
      Bm25Terms.map(t => coalesce(col(t), lit(0L)).as(s"tf_$t")) :+
      round(Bm25Terms.map(comp).reduce(_ + _), 4).as("bm25")
    piv.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfs))
      .select(outCols: _*)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Sign-LSH bucketed KNN: top-3 neighbors within each vector's 16-bit
    * signature bucket — the scale path (equi-join on bucket, no cross
    * product; bits parameterized via [[SignLsh]]).
    */
  val KnnLshBits = 16

  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = qvecs(spark, dir)
      .withColumn("bucket", expr(SignLsh.bucketExpr(KnnLshBits)))
      .select("vec_id", "v", "bucket")
    val ranked = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        expr("cosine_sim(a.v, b.v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
    ranked.filter(col("rank") <= 3).select("query_id", "neighbor_id", "rank")
  }

  /** Multi-probe sign-LSH KNN: each query additionally probes the 16
    * Hamming-distance-1 buckets (one flipped signature bit) — the standard
    * recall knob that trades a bits× candidate-volume factor for recall
    * WITHOUT rebucketing the corpus or changing the equi-join plan shape.
    * The probe fan-out rides the (small) query side; the corpus stays
    * bucketed exactly once.
    */
  def knnLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = qvecs(spark, dir)
      .withColumn("bucket", expr(SignLsh.bucketExpr(KnnLshBits)))
      .select("vec_id", "v", "bucket")
    val probes = (0 until KnnLshBits).map(j => s"bucket ^ ${1L << j}L")
    val probing = bucketed
      .select(col("vec_id"), col("v"),
        explode(expr(s"array(bucket, ${probes.mkString(", ")})")).as("probe"))
    val ranked = probing.as("a")
      .join(bucketed.as("b"),
        col("a.probe") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        expr("cosine_sim(a.v, b.v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
    ranked.filter(col("rank") <= 3).select("query_id", "neighbor_id", "rank")
  }

  /** IVF (inverted-file) ANN, nprobe=1: vectors are assigned to the cell of
    * their nearest centroid; queries probe only their own cell.
    *
    * Centroids here are a FIXED-SIZE deterministic sample (`vec_id <
    * IvfCentroids`, independent of corpus size) so the oracle can mirror
    * the assignment exactly; [[knnIvfKmeans]] is the production path
    * (fixed k learned offline). The shape is the 100 TB layout: a bounded
    * O(K) centroid table broadcast to every task (assignment is map-side,
    * O(N·K) total), then ONE shuffle on cell id — probe cost scales with
    * cell size, not corpus size, and nprobe trades recall for cost without
    * changing the plan. (A corpus-proportional subsample here would grow
    * the broadcast O(N) and the assignment O(N²) — the scale-killer this
    * constant removes.)
    */
  val IvfCentroids = 32

  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cents = all.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assigned = all.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        expr("cosine_sim(v, cv)").as("cs"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cent_id").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    q.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qv, v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "rank")
  }

  /** IVF with nprobe=2 — the recall knob of the inverted-file index: each
    * QUERY probes its two nearest centroid cells while the corpus stays
    * assigned to exactly one cell, so candidate volume (and recall) doubles
    * without rebucketing anything — the probe fan-out rides the bounded
    * query side only, exactly like [[knnLshMultiprobe]]. Pairs stay unique
    * (one corpus cell each, two distinct probe cells), so no dedup shuffle
    * is needed on the candidate stream.
    */
  def knnIvfNprobe(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val cents = all.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val scored = all.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        expr("cosine_sim(v, cv)").as("cs"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cent_id").asc)))
    val assigned = scored.filter(col("crn") === 1)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    val q = scored.filter(col("crn") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cent_id").as("cell"))
    q.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qv, v)").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Offline k-means IVF: FIXED k centroids (k=8, independent of corpus
    * size) trained by [[KmeansIters]] unrolled Lloyd iterations, then
    * nprobe=1 probing as in [[knnIvf]].
    *
    * All training arithmetic is EXACT: vectors quantized to int64
    * (`floor(x·1000)`), distances are integer squared-L2, centroid updates
    * are `floor(avg)` back onto the integer grid — so both engines walk
    * bit-identical centroid trajectories and the oracle mirrors the whole
    * training loop as unrolled CTEs. Per iteration the plan is: broadcast k
    * centroids → map-side assign → one (cell, coord) aggregate — O(N·k)
    * work, O(k·Dim) state, the textbook scalable k-means layout (ref.
    * semantics: nearest-centroid partitioning; cf. greeter_client.cc:316-321
    * for the reference's per-record map stage shape).
    */
  val KmeansK = 8
  val KmeansIters = 2

  private def assignCells(qvs: DataFrame, cents: DataFrame): DataFrame =
    qvs.crossJoin(broadcast(cents))
      // Σ(x−y)² = ⟨q,q⟩ − 2⟨q,c⟩ + ⟨c,c⟩ — identical exact-int64 value,
      // but each term is the native codegen'd kernel
      .withColumn("d2", expr(
        "dot_i64(qv, qv) - 2L * dot_i64(qv, cv) + dot_i64(cv, cv)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cent_id").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("qv"), col("cent_id").as("cell"))

  /** PRODUCT QUANTIZATION (Jégou et al., TPAMI'11) codebook training +
    * encoding: the 64-dim vector splits into [[PqM]]=4 independent 16-dim
    * subspaces, each with its own [[PqK]]=4-centroid codebook trained by
    * the same exact-int64 Lloyd loop as [[knnIvfKmeans]] (deterministic:
    * first-K init, floor(avg) updates, distance ties → lowest centroid
    * id). Every vector is then encoded as its per-subspace nearest-centroid
    * code word — 4 small ints replacing 64 floats (~32× compression), the
    * memory layout that makes billion-vector ANN indexes fit in RAM:
    * queries scan CODES with per-subspace lookup tables (ADC), touching
    * raw vectors only for the final re-rank.
    *
    * Scale shape: codebooks are M·k subvectors (broadcast, O(M·k·d/M) =
    * O(k·d) state); training and encoding are O(N·k) map-side passes per
    * subspace; nothing shuffles but the tiny per-cell coordinate
    * aggregates. Output (vec_id, code_0..code_3) is exact integers —
    * hash-verified against the oracle's unrolled per-subspace CTEs.
    */
  val PqM = 4
  val PqK = 4
  val PqIters = 2
  val PqSubDim: Int = SignLsh.Dim / PqM

  private def assignSub(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.crossJoin(broadcast(cents))
      .withColumn("d2", expr(
        "dot_i64(sv, sv) - 2L * dot_i64(sv, cv) + dot_i64(cv, cv)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cent_id").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("sv"), col("cent_id").as("cell"))

  /** The m-th 16-dim subvector frame of a quantized vector frame. */
  private def subOf(qvs: DataFrame, m: Int): DataFrame =
    qvs.select(col("vec_id"),
      expr(s"slice(qv, ${m * PqSubDim + 1}, $PqSubDim)").as("sv"))

  /** Per-subspace trained codebook + subvector frame for subspace `m`. */
  private def pqSubspace(qvs: DataFrame, m: Int,
      eager: Boolean = false): (DataFrame, DataFrame) = {
    val sub = subOf(qvs, m)
    var cents = sub.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cent_id"), col("sv").as("cv"))
    for (_ <- 1 to PqIters) {
      cents = assignSub(sub, cents)
        .select(col("cell"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(floor(avg("x")).cast("long").as("cx"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)").as("cv"))
        .select(col("cell").as("cent_id"), col("cv"))
      // eager per-iteration checkpoint of the ≤k-row centroid frame: CUTS
      // the lazily-chained training lineage so iteration N's plan no
      // longer embeds (and AQE no longer re-plans) iterations 1..N−1.
      // OPT-IN because it is a measured TRADEOFF, not a free win: the
      // standalone residual query (whose PQ training chains EMBED the
      // k-means chains — multiplicative depth) halves, 14.7 → 6.4 s at
      // sf0.1, but composite consumers like knn_recall DOUBLE if forced
      // eager — their one lazy mega-plan shares training subtrees via
      // exchange reuse, which eager materialization defeats.
      if (eager) cents = cents.localCheckpoint(true)
    }
    (sub, cents)
  }

  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val qvs = qvecs(spark, dir).select("vec_id", "qv")
    (0 until PqM).map { m =>
      val (sub, cents) = pqSubspace(qvs, m)
      assignSub(sub, cents).select(col("vec_id"), col("cell").as(s"code_$m"))
    }.reduce(_.join(_, "vec_id"))
  }

  /** PQ search by ASYMMETRIC DISTANCE COMPUTATION — the scan that makes
    * the codes useful: each of the 10 queries precomputes a tiny
    * per-subspace lookup table (exact d² from its RAW subvector to every
    * codebook centroid — M·k = 16 entries per query), then the corpus is
    * scanned as CODES ONLY: per row, the approx distance is 4 table
    * lookups + 3 adds, never touching the 64-dim vectors. Top-10 per
    * query by (adc_d2 asc, id asc) — exact integers end-to-end, so the
    * whole ranking hash-verifies.
    *
    * Scale shape: LUTs are query-side and broadcast; the corpus side
    * streams the 4-int code table (the ~32×-compressed index) through
    * map-side lookups; the only exchange is the per-query rank window.
    */
  /** The per-(corpus code row × query) ADC frame: codes joined to each
    * query's per-subspace LUT — pd2_0..pd2_3 columns, pre-ranking. Shared
    * by [[knnPqAdc]] (full-corpus scan) and [[knnIvfPq]] (cell-restricted
    * scan).
    */
  private def adcScored(spark: SparkSession, dir: String): DataFrame =
    adcScoredOn(qvecs(spark, dir).select("vec_id", "qv"))

  /** [[adcScored]] over an arbitrary `(vec_id, qv)` frame — the seam the
    * residual-PQ encoder reuses: train the codebooks and build the query
    * LUTs from whatever vector space the caller hands in (raw quantized
    * vectors for [[knnPqAdc]]/[[knnIvfPq]], per-cell residuals for
    * [[knnIvfPqResidual]]).
    */
  private def adcScoredOn(qvs: DataFrame, eager: Boolean = false,
      centsOf: Option[Int => DataFrame] = None): DataFrame = {
    // train each subspace codebook ONCE and derive BOTH the corpus codes
    // and the query LUT from the same centroid frame — or, when `centsOf`
    // is given, skip training entirely and use the PERSISTED per-subspace
    // codebooks (the production offline-index path). MEASURED: AQE stage
    // reuse was already deduping the duplicated training subplans of the
    // previous two-pass form (63 steady-state jobs either way) — the fold
    // is kept for the smaller analyzed plan, not a job-count win
    var scored: DataFrame = null
    (0 until PqM).foreach { m =>
      val (sub, cents) = centsOf match {
        case Some(f) => (subOf(qvs, m), f(m))
        case None => pqSubspace(qvs, m, eager)
      }
      val codes = assignSub(sub, cents).select(col("vec_id"), col("cell").as(s"code_$m"))
      scored = if (scored == null) codes else scored.join(codes, "vec_id")
      val lut = sub.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("sv"))
        .crossJoin(broadcast(cents))
        .select(col("query_id"), col("cent_id"),
          expr("dot_i64(sv, sv) - 2L * dot_i64(sv, cv) + dot_i64(cv, cv)").as(s"pd2_$m"))
      val keys =
        if (m == 0) col(s"code_$m") === col("cent_id")
        else col(s"code_$m") === col("cent_id") && col("query_id") === col("q2")
      scored = scored.join(
        broadcast(if (m == 0) lut else lut.withColumnRenamed("query_id", "q2")), keys)
        .drop("cent_id", "q2")
    }
    scored
  }

  private def rankAdc(scored: DataFrame): DataFrame =
    scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_d2",
        (0 until PqM).map(m => col(s"pd2_$m")).reduce(_ + _))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc_d2").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_d2"), col("rank"))

  def knnPqAdc(spark: SparkSession, dir: String): DataFrame =
    rankAdc(adcScored(spark, dir))

  /** The coarse quantizer of [[knnIvfKmeans]] as a reusable piece: train
    * [[KmeansK]] exact-int64 centroids by [[KmeansIters]] Lloyd rounds,
    * return every vector's cell assignment.
    */
  private def kmeansCells(qvs: DataFrame): DataFrame =
    assignCells(qvs, kmeansCentroids(qvs))

  /** The trained centroid table itself ([[KmeansIters]] Lloyd rounds) —
    * split out of [[kmeansCells]] so the residual-PQ encoder can subtract
    * each vector's own centroid.
    */
  private def kmeansCentroids(qvs: DataFrame, eager: Boolean = false): DataFrame = {
    var cents = qvs.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"))
    for (_ <- 1 to KmeansIters) {
      cents = assignCells(qvs, cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(floor(avg("x")).cast("long").as("cx"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)").as("cv"))
        .select(col("cell").as("cent_id"), col("cv"))
      // opt-in eager checkpoint — see pqSubspace for the measured tradeoff
      if (eager) cents = cents.localCheckpoint(true)
    }
    cents
  }

  // ---- persisted IVF-PQ index ----
  // Production ANN training is OFFLINE: centroids and codebooks are
  // trained once, persisted, and every query LOADS them — the serving
  // path never pays the ~110 serialized Lloyd/PQ training jobs the
  // embedded-training form costs per query. The index is one tiny
  // parquet table (coarse centroids + 4 raw-space + 4 residual-space
  // codebooks, ≤ 8 + 16 + 16 rows), keyed by a fingerprint of the
  // embeddings fixture (path + bytes + mtime + a code-version tag), so a
  // changed corpus or changed training recipe retrains instead of
  // serving a stale index. Training is exact-integer deterministic
  // (first-K init, floor(avg) updates), so the loaded index is
  // BYTE-IDENTICAL to what inline training would produce — the oracle
  // gate proves it: knn_ivf_pq replays the full training in DuckDB and
  // hash-compares against the persisted-index ranking.

  private val IndexCodeVersion = "v1"

  private def embeddingsSrc(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "embeddings.parquet")

  /** Load the persisted index for `dir`, training and persisting it
    * first if absent. One parquet table: (space: coarse|raw|res,
    * m, cent_id, cv). The publish is write-to-staging + directory move,
    * so a concurrent trainer either wins the move or reads the winner's
    * index — never a torn one.
    */
  private def ivfPqIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sparkutil.CorpusKey.buildOnce(
        "graft-ivfpq-index", embeddingsSrc(dir), IndexCodeVersion) { staging =>
      val qvs = qvecs(spark, dir).select("vec_id", "qv")
      // standalone training chains: eager per-iteration checkpoints cut
      // the multiplicative lineage (see pqSubspace) — the right mode for
      // a one-off offline build
      val coarse = kmeansCentroids(qvs, eager = true)
      val raw = (0 until PqM).map(m => pqSubspace(qvs, m, eager = true)._2
        .select(lit("raw").as("space"), lit(m).as("m"), col("cent_id"), col("cv")))
      val res0 = assignCells(qvs, coarse)
        .join(broadcast(coarse), col("cell") === col("cent_id"))
        .select(col("vec_id"), expr("zip_with(qv, cv, (x, y) -> x - y)").as("qv"))
      val res = (0 until PqM).map(m => pqSubspace(res0, m, eager = true)._2
        .select(lit("res").as("space"), lit(m).as("m"), col("cent_id"), col("cv")))
      val all = (coarse.select(
        lit("coarse").as("space"), lit(-1).as("m"), col("cent_id"), col("cv")) +:
        (raw ++ res)).reduce(_ unionAll _)
      all.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    }
    spark.read.parquet(path.toString)
  }

  private def indexCentroids(idx: DataFrame, space: String, m: Int): DataFrame =
    idx.filter(col("space") === space && col("m") === m).select("cent_id", "cv")

  /** IVF-PQ (Jégou et al.'s full recipe) — the PRODUCTION billion-vector
    * index: a coarse k-means quantizer routes each query to one cell
    * (nprobe=1), and the ADC scan runs over the CODES of that cell's
    * residents only — candidate volume drops ~k× vs the flat
    * [[knnPqAdc]] scan while the per-candidate cost stays 4 lookups.
    * Composition of two already-verified structures: [[kmeansCells]]
    * (exact-int64 Lloyd coarse quantizer, as `knn_ivf_kmeans`) and the
    * [[adcScored]] code/LUT frame (as `knn_pq_adc`) — everything stays in
    * exact integers, so the cell-restricted ranking hash-verifies
    * end-to-end. (Production also PQ-encodes RESIDUALS q − centroid and
    * re-ranks the short-list exactly; both are parameter choices on this
    * same plan shape, not new operators.)
    *
    * Scale shape: cells and query cells are map-side assignments against
    * a broadcast k-row centroid table; the candidate restriction is a
    * hash join of the code stream against the ≤10-row broadcast query-cell
    * list — the corpus side still never shuffles before the rank window.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    // serve from the PERSISTED index: assignment and ADC are map-side
    // joins against the loaded (broadcast) centroid/codebook tables —
    // zero training jobs on the query path
    val idx = ivfPqIndex(spark, dir)
    val qvs = qvecs(spark, dir).select("vec_id", "qv")
    val cells = assignCells(qvs, indexCentroids(idx, "coarse", -1))
      .select(col("vec_id").as("cell_vec"), col("cell"))
    val qcells = cells.filter(col("cell_vec") < 10)
      .select(col("cell_vec").as("qc_query"), col("cell").as("qcell"))
    rankAdc(
      adcScoredOn(qvs, centsOf = Some(m => indexCentroids(idx, "raw", m)))
        .join(cells, col("vec_id") === col("cell_vec"))
        .join(broadcast(qcells),
          col("query_id") === col("qc_query") && col("cell") === col("qcell"))
        .drop("cell_vec", "qc_query", "qcell", "cell"))
  }

  /** The persisted CODES table's location — keyed by the SAME corpus
    * fingerprint as the codebook index, so both go stale together.
    */
  private def codesDirOf(dir: String): java.nio.file.Path =
    graft.sparkutil.CorpusKey.dir("graft-ivfpq-codes", embeddingsSrc(dir), IndexCodeVersion)

  /** FROZEN-CODEBOOK ENCODER — the one function that turns vectors into
    * index entries: coarse-cell assignment + per-subspace code words,
    * all map-side joins against the loaded (broadcast) codebooks. Both
    * the initial codes build and every incremental segment append run
    * THIS, so appended entries are bit-identical to what a full rebuild
    * with the same codebooks would produce.
    */
  private[graft] def encodeWith(idx: DataFrame, vecsQv: DataFrame): DataFrame = {
    // ONE pass (r14): the previous shape ran FIVE argmin chains — coarse
    // assignCells plus one assignSub per subspace, each a crossJoin +
    // rank window + rn=1 filter — then joined the five frames back on
    // vec_id (5 exchanges, 5 broadcast barriers). The rn=1-by-(d2 asc,
    // cent_id asc) pick is exactly min(struct(d2, cent_id)), so all five
    // codes now come out of ONE crossJoin against the unioned coarse+raw
    // codebook rows and ONE aggregation keyed vec_id — a map-side
    // partial-agg shape: the 1+PqM×PqK fan-out collapses back to one row
    // per vector BEFORE the exchange, so shuffle volume equals the input
    // row count at any scale, and no window sort exists at all.
    // Measured (knn_ivf_pq_append_serve, which encodes per run): 35 → 15
    // jobs, 2.02 → 1.54 s; knn_ivf_pq_live 22 → 14 jobs.
    val cellAgg =
      min(when(col("space") === "coarse", struct(col("d2"), col("cent_id"))))
        .getField("cent_id").as("cell")
    val codeAggs = (0 until PqM).map(m =>
      min(when(col("space") === "raw" && col("m") === m,
        struct(col("d2"), col("cent_id"))))
        .getField("cent_id").as(s"code_$m"))
    vecsQv
      .crossJoin(broadcast(idx.filter(col("space").isin("coarse", "raw"))
        .select("space", "m", "cent_id", "cv")))
      .select(col("vec_id"), col("space"), col("m"), col("cent_id"),
        expr(s"CASE WHEN space = 'coarse' THEN qv " +
          s"ELSE slice(qv, m * $PqSubDim + 1, $PqSubDim) END").as("sv"), col("cv"))
      .select(col("vec_id"), col("space"), col("m"), col("cent_id"),
        expr("dot_i64(sv, sv) - 2L * dot_i64(sv, cv) + dot_i64(cv, cv)").as("d2"))
      .groupBy("vec_id")
      .agg(cellAgg, codeAggs: _*)
  }

  /** Build-once PERSISTED CODES table (vec_id, code_0..3), hive-partitioned
    * by coarse `cell` — the inverted lists themselves, which is what an
    * IVF-PQ index actually IS at serving time (the codebooks alone are
    * just its dictionary). [[knnIvfPq]] re-encodes the corpus map-side on
    * every query (cheap arithmetic but O(corpus) work per query);
    * [[knnIvfPqServe]] reads these lists instead, so the per-query cost
    * drops to O(probed cells' codes) I/O with zero vector arithmetic over
    * the corpus. Same staging-move publish discipline as the codebook
    * artifact; the shared fingerprint retires both on any corpus change.
    */
  private[graft] def ivfPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sparkutil.CorpusKey.buildOnce(
        "graft-ivfpq-codes", embeddingsSrc(dir), IndexCodeVersion) { staging =>
      encodeWith(ivfPqIndex(spark, dir), qvecs(spark, dir).select("vec_id", "qv"))
        .write.partitionBy("cell").mode("overwrite").parquet(staging.toString)
    }
    spark.read.parquet(path.toString)
  }

  /** INCREMENTAL INDEX MAINTENANCE — the operation a billion-vector
    * deployment runs on every ingest batch: encode ONLY the new vectors
    * with the FROZEN codebooks ([[encodeWith]] — identical math to the
    * initial build) and append them as a new segment into the partitioned
    * codes table. O(new vectors) compute and I/O at any index size;
    * existing segment files are never touched (SimilaritySpec pins both).
    * Codebooks do NOT retrain on append — that is the production contract
    * (FAISS `add` vs `train`): drift is handled by the fingerprint
    * retiring the whole artifact when the corpus changes enough to merit
    * a rebuild. Path-parameterized so callers maintain clones/forks of an
    * index without disturbing the canonical fingerprinted artifact.
    */
  def ivfPqAppendSegment(idx: DataFrame, codesPath: java.nio.file.Path,
      newVecsQv: DataFrame): Unit =
    encodeWith(idx, newVecsQv)
      .write.partitionBy("cell").mode("append").parquet(codesPath.toString)

  /** IVF-PQ SERVED FROM THE PERSISTED INVERTED LISTS — [[knnIvfPq]]'s
    * exact result ([[ivfPqOracleSql]] gates both) with the query-path
    * corpus work removed: queries route to their cell and build their
    * 4×[[PqK]] LUTs map-side (10-row × 16-row broadcasts), and the scan
    * side is the partitioned CODES table — the broadcast cell join lets
    * Spark prune to the probed cells' partitions, and the ADC sum is 4
    * joined lookups per code row. At 100 TB of embeddings this is the
    * serving plan: the index is ~32× smaller than the vectors, reads are
    * restricted to probed inverted lists, and ingest keeps the lists
    * current via [[ivfPqAppendSegment]] without a single training job.
    */
  /** The serve plan over an EXPLICIT codes relation — shared by
    * [[knnIvfPqServe]] (canonical lists) and [[knnIvfPqAppendServe]]
    * (canonical + appended segments): route queries, broadcast LUTs,
    * 4-lookup ADC over the code stream, rank.
    */
  private def serveAdcFromCodes(spark: SparkSession, dir: String,
      idx: DataFrame, codes: DataFrame): DataFrame = {
    val queries = qvecs(spark, dir).select("vec_id", "qv").filter(col("vec_id") < 10)
    // ONE broadcast instead of five (r14): the previous shape joined the
    // code stream against qcells plus four per-subspace LUT broadcasts —
    // five broadcast builds, each its own scheduler job chain re-scanning
    // the (tiny) index parquet and the query vectors. Both per-query
    // artifacts — the coarse cell (argmin d² over the coarse centroids,
    // ties to the lowest cent_id, exactly assignCells' row_number order)
    // and the 4×PqK ADC lookup table — now come out of ONE crossJoin of
    // the queries against the unioned coarse+raw codebook rows and ONE
    // aggregation: min(struct(d2, cent_id)) picks the cell, and the LUT
    // entries flatten into a per-query MAP keyed (m·PqK + cent_id) — a
    // map, not a positional array, because a Lloyd iteration can abandon
    // a centroid id and leave the id space sparse. Per-row d² uses the
    // full vector for coarse rows and the m-th subvector for raw rows
    // (CASE-selected, so dot_i64's operands always agree in length).
    // The per-code-row ADC becomes 4 codegen'd element_at lookups, the
    // pd2 values (exact int64) identical to the per-subspace join form,
    // so the oracle hash is unchanged. Measured: 16 → 8 steady-state
    // jobs, 1.35 → 0.80 s (7-run medians); corpus side still never
    // shuffles before the rank window.
    val qinfo = queries
      .crossJoin(broadcast(idx.filter(col("space").isin("coarse", "raw"))
        .select("space", "m", "cent_id", "cv")))
      .select(col("vec_id"), col("space"), col("m"), col("cent_id"),
        expr(s"CASE WHEN space = 'coarse' THEN qv " +
          s"ELSE slice(qv, m * $PqSubDim + 1, $PqSubDim) END").as("sv"), col("cv"))
      .select(col("vec_id"), col("space"), col("m"), col("cent_id"),
        expr("dot_i64(sv, sv) - 2L * dot_i64(sv, cv) + dot_i64(cv, cv)").as("d2"))
      .groupBy(col("vec_id").as("query_id"))
      .agg(
        min(when(col("space") === "coarse", struct(col("d2"), col("cent_id"))))
          .getField("cent_id").as("qcell"),
        map_from_entries(collect_list(when(col("space") === "raw", struct(
          (col("m").cast("long") * lit(PqK.toLong) + col("cent_id")).as("k"),
          col("d2").as("v"))))).as("lut"))
    var scored = codes.join(broadcast(qinfo), col("cell") === col("qcell"))
    (0 until PqM).foreach { m =>
      scored = scored.withColumn(s"pd2_$m",
        expr(s"element_at(lut, ${m.toLong * PqK}L + CAST(code_$m AS BIGINT))"))
    }
    rankAdc(scored.drop("qcell", "cell", "lut"))
  }

  def knnIvfPqServe(spark: SparkSession, dir: String): DataFrame =
    serveAdcFromCodes(spark, dir, ivfPqIndex(spark, dir), ivfPqCodes(spark, dir))

  /** THE LIVING INDEX — ingest-to-serving without a training job:
    * [[ivfPqAppendSegment]] encodes 5 fresh vectors with the FROZEN
    * codebooks into a session-local copy of the inverted lists, and the
    * very next query serves over base + segment with the appended
    * vectors ranked exactly as frozen-codebook arithmetic dictates. The
    * output carries both halves of the claim: the served top-10 per
    * query over the augmented lists, and (under `query_id = -1`) each
    * appended vector's coarse cell + packed PQ code word — the oracle
    * recomputes ALL of it declaratively, training the codebooks on the
    * FIXTURE corpus only (frozen semantics: appends never perturb the
    * dictionary) and assigning fixture ∪ synthetic against them. At
    * 100 TB this is FAISS `add` in SQL-engine form: the one-time trained
    * artifact absorbs ingest at O(new vectors) and serves at O(probed
    * lists), measured scale-invariant at 100× in BENCH_SF1_r11.
    */
  /** Session-local clone of a codes directory. Parquet segments are
    * HARD-LINKED, not byte-copied (r14): an append only ADDS uniquely
    * named part files — existing segments are immutable (SimilaritySpec
    * pins that an append touches no existing file) — so sharing their
    * inodes is safe, and the per-run clone cost drops from O(index bytes)
    * to O(file count). Non-parquet entries (_SUCCESS) are still copied:
    * Hadoop's commit re-creates _SUCCESS with overwrite=true, which on a
    * local FS truncates IN PLACE and would reach through a hard link to
    * the canonical marker. Cross-device/unsupported links fall back to a
    * plain copy.
    */
  private def cloneCodesDir(canonical: java.nio.file.Path,
      prefix: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val live = java.nio.file.Files.createTempDirectory(prefix)
    val w = java.nio.file.Files.walk(canonical)
    try w.iterator().asScala.foreach { p =>
      val t = live.resolve(canonical.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else if (p.getFileName.toString.endsWith(".parquet"))
        try java.nio.file.Files.createLink(t, p)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally w.close()
    live
  }

  def knnIvfPqAppendServe(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfPqIndex(spark, dir)
    ivfPqCodes(spark, dir).count() // ensure the canonical lists exist
    val canonical = codesDirOf(dir)
    // session-local copy: the canonical fingerprinted artifact must stay
    // pristine for every other gate reading it
    val live = cloneCodesDir(canonical, "graft-ivfpq-live")
    val newVecs = spark.range(0, 5).selectExpr(
      "1000000000000000 + id AS vec_id", // reserved id space: far above any
      // key-shifted synthesis copy (copy * 100M), so scale probes never collide
      "transform(sequence(1, 64), i -> " +
        "CAST(((1000000000000000 + id) * 7 + i * 3) % 4001 - 2000 AS BIGINT)) AS qv")
    try {
      ivfPqAppendSegment(idx, live, newVecs)
      val codes = spark.read.parquet(live.toString)
      val served = serveAdcFromCodes(spark, dir, idx, codes)
      val appended = codes.filter(col("vec_id") >= 1000000000000000L)
        .select(lit(-1L).as("query_id"), col("vec_id").as("neighbor_id"),
          (col("code_0") * 64 + col("code_1") * 16 + col("code_2") * 4 + col("code_3"))
            .cast("long").as("adc_d2"),
          col("cell").cast("long").as("rank"))
      // eager checkpoint so the session-local index copy can be reclaimed
      // NOW — repeated bench/verify sweeps must not leak one full index
      // copy per invocation (the result is ≤ top-k·queries + 5 rows)
      served.unionByName(appended).localCheckpoint(true)
    } finally graft.sources.v2.MemCatalog.deleteRecursively(live)
  }

  /** THE LIVE ANN PIPELINE — [[knnIvfPqAppendServe]]'s one-shot append
    * replaced by EVENT-DRIVEN ingestion through the catalog: vectors
    * land in a `MemCatalog` table by ordinary INSERT (as a NATIVE
    * `ARRAY<BIGINT>` column — [[graft.sources.v2]]'s MemCodec carries
    * long arrays first-class, so the drain pays no string parse), and
    * the table's COMMIT HOOK
    * ([[graft.sources.v2.MemCatalog.onCommit]]) encodes each batch's
    * NEW rows with the frozen codebooks and appends them as index
    * segments — FAISS `add` wired to a table's write path, with nobody
    * calling the indexer. The hook keeps a vec_id watermark and reads
    * only `vec_id > watermark` (zone maps prune the old files, so each
    * maintenance run is O(new rows) scan + encode). The proof is
    * CONVERGENCE: after two separate ingest commits drain, the
    * served-rankings-plus-appended-codes output is gated by the SAME
    * oracle as the one-shot [[knnIvfPqAppendServe]] — the incremental
    * pipeline must land the byte-identical index state, or the hash
    * gate fails. At 100 TB: embeddings stream into a table, the index
    * absorbs them per commit at O(new), queries serve O(probed lists) —
    * ingestion-to-search freshness without a single training job or
    * scheduled rebuild.
    */
  def knnIvfPqLivePipeline(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.v2.MemCatalog
    val idx = ivfPqIndex(spark, dir)
    ivfPqCodes(spark, dir).count() // ensure the canonical lists exist
    val canonical = codesDirOf(dir)
    val live = cloneCodesDir(canonical, "graft-ivfpq-livepipe")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.annliv")
    spark.sql("CREATE TABLE graftmem.tmp.annliv (vec_id BIGINT, vec ARRAY<BIGINT>)")
    val tdir = graft.sources.v2.MemCatalog.tableDir(spark, "graftmem.tmp.annliv")
    val watermark = new java.util.concurrent.atomic.AtomicLong(-1L)
    cat.onCommit(tdir) { () =>
      val from = watermark.get()
      // PIN the snapshot: the watermark probe and the encode are two
      // separate scans, and a commit landing between them would make the
      // second scan see rows the probe didn't — the next drain would
      // then re-encode them (duplicate segment rows, caught by the
      // concurrent-sweep hash gate). Reading VERSION AS OF the current
      // head makes both scans byte-consistent; the commit that races us
      // re-queues the hook, which drains it against ITS version.
      val v = cat.currentVersion(tdir)
      val fresh = spark.sql(
        s"""SELECT vec_id, vec AS qv
           |FROM graftmem.tmp.annliv VERSION AS OF $v
           |WHERE vec_id > $from""".stripMargin) // zone maps prune absorbed files
      val mx = fresh.agg(max("vec_id")).head()
      if (!mx.isNullAt(0)) {
        ivfPqAppendSegment(idx, live, fresh)
        watermark.set(mx.getLong(0))
      }
    }
    try {
      // two ordinary ingest commits; the hook indexes each batch
      Seq((0, 2), (2, 5)).foreach { case (lo, hi) =>
        spark.sql(
          s"""INSERT INTO graftmem.tmp.annliv
             |SELECT 1000000000000000 + id,
             |       transform(sequence(1, 64), i ->
             |         CAST(((1000000000000000 + id) * 7 + i * 3) % 4001 - 2000 AS BIGINT))
             |FROM range($lo, $hi)""".stripMargin)
      }
      cat.awaitCommitHooks()
      val codes = spark.read.parquet(live.toString)
      val served = serveAdcFromCodes(spark, dir, idx, codes)
      val appended = codes.filter(col("vec_id") >= 1000000000000000L)
        .select(lit(-1L).as("query_id"), col("vec_id").as("neighbor_id"),
          (col("code_0") * 64 + col("code_1") * 16 + col("code_2") * 4 + col("code_3"))
            .cast("long").as("adc_d2"),
          col("cell").cast("long").as("rank"))
      served.unionByName(appended).localCheckpoint(true)
    } finally {
      cat.dropCommitHook(tdir)
      // the checkpoint above is eager, so the session-local index copy is
      // reclaimable immediately — no per-invocation leak across sweeps
      graft.sources.v2.MemCatalog.deleteRecursively(live)
    }
  }

  /** EXACT SHORT-LIST RE-RANK on top of [[knnIvfPq]] — the second half of
    * Jégou et al.'s production recipe: the ADC scan's job is only to
    * produce a small candidate short-list cheaply; the top-m (=10)
    * candidates are then GATHER-JOINED back to their full quantized
    * vectors and re-scored with the exact integer cosine, and the final
    * answer is the top-k (=3) of the re-ranked list. This removes the
    * quantization error of the 4-lookup ADC distances from the final
    * ranking — `knn_recall` measures the gain as `ivf_pq_rerank` vs
    * `ivf_pq` on the same ground truth.
    *
    * Scale shape: the short-list is ≤ queries × m rows and BROADCASTS
    * onto the corpus vector stream (the gather), so the corpus still
    * never shuffles — the only exchange is the per-query rank window
    * over ≤ m rows per query.
    */
  def knnIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val qvs = qvecs(spark, dir).select("vec_id", "qv")
    val shortlist = knnIvfPq(spark, dir).select("query_id", "neighbor_id")
    qvs
      .join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv").as("nv"))
      .join(broadcast(qvs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q2"), col("qv").as("qa"))), col("query_id") === col("q2"))
      .withColumn("qcos",
        expr("dot_i64(qa, nv)").cast("double")
          / (sqrt(expr("dot_i64(qa, qa)").cast("double"))
            * sqrt(expr("dot_i64(nv, nv)").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("qcos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "rank")
  }

  /** RESIDUAL-ENCODED IVF-PQ — [[knnIvfPq]] with the PQ codebooks trained
    * on q − centroid instead of q (the actual IVFADC formulation in
    * Jégou et al.): same coarse quantizer, same 4×4-bit code budget, same
    * cell-gated ADC plan shape — only the encoded SPACE changes. Because
    * query and candidate share the cell (nprobe=1), residual distances
    * equal true distances exactly, so all remaining error is residual
    * quantization error — strictly less signal lost than quantizing raw
    * vectors at equal budget. `knn_recall` reports it as
    * `ivf_pq_residual` next to plain `ivf_pq`.
    */
  def knnIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    // served from the PERSISTED index (coarse centroids + residual-space
    // codebooks): the residual subtraction is a map-side zip_with against
    // the broadcast centroid table, and the ADC scan uses the loaded
    // codebooks — the ~110 serialized training jobs this query used to
    // pay per run now happen once, offline, in ivfPqIndex. (MEASURED
    // NEGATIVE kept for the record: caching the residual frame in the
    // embedded-training form did NOT help — 11.9 s uncached vs 12.3 s
    // cached at sf0.1, tasks 116 → 3258 — because AQE stage reuse already
    // deduped the training subtrees; persistence, not caching, was the
    // right fix.)
    val idx = ivfPqIndex(spark, dir)
    val qvs = qvecs(spark, dir).select("vec_id", "qv")
    val cents = indexCentroids(idx, "coarse", -1)
    val res = assignCells(qvs, cents)
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), expr("zip_with(qv, cv, (x, y) -> x - y)").as("qv"), col("cell"))
    val cells = res.select(col("vec_id").as("cell_vec"), col("cell"))
    val qcells = cells.filter(col("cell_vec") < 10)
      .select(col("cell_vec").as("qc_query"), col("cell").as("qcell"))
    rankAdc(
      adcScoredOn(res.select("vec_id", "qv"),
          centsOf = Some(m => indexCentroids(idx, "res", m)))
        .join(cells, col("vec_id") === col("cell_vec"))
        .join(broadcast(qcells),
          col("query_id") === col("qc_query") && col("cell") === col("qcell"))
        .drop("cell_vec", "qc_query", "qcell", "cell"))
  }

  def knnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val qvs = qvecs(spark, dir).select("vec_id", "qv")
    val assigned = kmeansCells(qvs)
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("cell"))
    q.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("dot_i64(qa, qv)").cast("double")
          / (sqrt(expr("dot_i64(qa, qa)").cast("double"))
            * sqrt(expr("dot_i64(qv, qv)").cast("double")))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "rank")
  }

  /** ANN quality evaluation: recall@3 against the brute-force ground truth
    * for each index configuration — the measurement loop a production ANN
    * deployment runs after every index/parameter change. Candidate volume
    * (and recall) rises single-probe → Hamming-1 multi-probe (17 buckets)
    * → 4×8-bit banded (the `embedding_neardup` configuration).
    *
    * MEASURED FINDING the query exists to surface: on the near-isotropic
    * fixture embeddings, absolute recall@3 is ≈0 for all three sign-LSH
    * configs (0.000/0.000/0.033 at sf0.01) while IVF nprobe=1 on the SAME
    * truth scores 0.867 — random hyperplane signs can't isolate the exact
    * top-3 cosine neighbors of random vectors, but nearest-centroid cells
    * can. That is the correct production takeaway: sign-LSH is the
    * near-DUPLICATE candidate filter (it does find the cosine ≥ 0.4 pairs —
    * `embedding_neardup`); exact-KNN workloads take the IVF (`knn_ivf`,
    * `knn_ivf_kmeans`) or brute-force path. The PQ-ADC variant measures
    * 0.033 — at this deliberately tiny codebook (k=4/subspace ⇒ 256
    * effective cells) quantization error swamps the already-small cosine
    * gaps of isotropic vectors; production PQ uses k=256 per subspace and
    * an exact re-rank of the ADC short-list (IVF-PQ), trading the same
    * axes this harness makes measurable. Output is exact integers +
    * fixed ratios, so the whole evaluation hash-verifies.
    */
  def knnRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = knnBruteForce(spark, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    def recallOf(approx: DataFrame, name: String): DataFrame =
      truth.join(
          approx.select(col("query_id").as("l_query"), col("neighbor_id").as("l_neighbor")),
          col("query_id") === col("l_query") && col("neighbor_id") === col("l_neighbor"),
          "left")
        .groupBy("query_id")
        .agg(count(col("l_neighbor")).as("n_match"))
        .select(lit(name).as("variant"), col("query_id"), col("n_match"),
          round(col("n_match") / 3.0, 4).as("recall_at_3"))
    // banded candidates (4×8-bit bands of the 32-plane signature), directed
    val bandCols = (0 until 4).map(b => s"$b, ${SignLsh.bandExpr(NearDupBits, b)}")
    val banded = qvecs(spark, dir)
      .selectExpr("vec_id", "v", s"stack(4, ${bandCols.mkString(", ")}) AS (band, band_key)")
    val bandedTop3 = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.vec_id") =!= col("b.vec_id"))
      .filter(col("a.vec_id") < 10)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        expr("cosine_sim(a.v, b.v)").as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
    recallOf(knnLsh(spark, dir).filter(col("query_id") < 10), "single_16bit")
      .unionByName(recallOf(knnLshMultiprobe(spark, dir).filter(col("query_id") < 10), "multiprobe_h1"))
      .unionByName(recallOf(bandedTop3, "banded_4x8"))
      // the exact-KNN path measured on the same truth: IVF recall is an
      // order of magnitude above every sign-LSH config on isotropic data
      .unionByName(recallOf(knnIvf(spark, dir).filter(col("rank") <= 3), "ivf_nprobe1"))
      // the compressed-index path: how much of the exact top-3 survives
      // 32× compression + 4-lookup ADC distances
      .unionByName(recallOf(knnPqAdc(spark, dir).filter(col("rank") <= 3), "pq_adc"))
      // the full production recipe: cell restriction ON TOP of the codes —
      // measures what the coarse quantizer's candidate pruning costs
      .unionByName(recallOf(knnIvfPq(spark, dir).filter(col("rank") <= 3), "ivf_pq"))
      // exact short-list re-rank: what recovering the ADC's quantization
      // error at the last step buys (top-10 ADC → exact cosine top-3)
      .unionByName(recallOf(knnIvfPqRerank(spark, dir), "ivf_pq_rerank"))
      // residual encoding at the same code budget: the IVFADC formulation
      .unionByName(recallOf(knnIvfPqResidual(spark, dir).filter(col("rank") <= 3),
        "ivf_pq_residual"))
  }

  /** Per-label embedding CENTROIDS — the columnar vector-aggregate shape
    * behind classifier prototypes, cluster summaries, and IVF codebook
    * seeding: posexplode to (label, dim, value) and aggregate per cell.
    * Arithmetic is exact int64 over the quantized grid (float vector sums
    * are summation-order-dependent; integer sums are not), with the mean
    * as floor of an exact-quotient double — deterministic on both
    * engines. Scale: the exchange carries one row per (label × dim), the
    * sums are partial/final split, and the wide vectors never shuffle.
    */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("label"),
        expr(SignLsh.quantExpr("transform(embedding, x -> CAST(x AS double))")).as("qv"))
      .select(col("label"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(count(lit(1)).as("n_vecs"), sum("x").as("sum_q"))
      .select(col("label"), col("i").cast("long").as("i"), col("n_vecs"), col("sum_q"),
        floor(col("sum_q").cast("double") / col("n_vecs")).cast("long").as("mean_q"))
  }

  /** Embedding near-dup pairs via banded multi-probe sign-LSH: 32 planes as
    * 4 bands of 8 bits; candidates share ANY band (recall grows with band
    * count, the MinHash-LSH recall curve applied to hyperplane signatures),
    * then the exact-integer quantized cosine ≥ 0.4 verifies inline — same
    * single-shuffle shape as [[Dedup.minhashLsh]].
    */
  val NearDupBits = 32

  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val bandCols = (0 until 4).map(b => s"$b, ${SignLsh.bandExpr(NearDupBits, b)}")
    val banded = qvecs(spark, dir)
      .selectExpr("vec_id", "qv",
        s"stack(4, ${bandCols.mkString(", ")}) AS (band, band_key)")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (expr("dot_i64(a.qv, b.qv)").cast("double")
          / (sqrt(expr("dot_i64(a.qv, a.qv)").cast("double"))
            * sqrt(expr("dot_i64(b.qv, b.qv)").cast("double")))).as("qcos"))
      .filter(col("qcos") >= 0.4)
      .select("vec_a", "vec_b")
      .distinct()
  }

  /** Int8 symmetric quantization audit: quantize each embedding to int8
    * (scale = 127 / max|x| per vector), dequantize, report the max absolute
    * reconstruction error. The 4×-storage-compression path for 100 TB
    * vector corpora; all arithmetic is exact-integer + one deterministic
    * double division per element, so the oracle mirrors it bit-for-bit.
    */
  def quantizeAudit(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .withColumn("mx", expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))"))
      .filter(col("mx") > 0)
      .withColumn("err", expr(
        "aggregate(transform(v, x -> abs(x - round(x * 127.0 / mx) * mx / 127.0)), 0D, (acc, e) -> greatest(acc, e))"))
      .select(col("vec_id"), round(col("err") / col("mx"), 6).as("rel_err"))

  /** Boolean AND retrieval over the inverted-index shape: documents
    * containing EVERY query term, with their total matched term frequency.
    * The postings are built map-side — the token stream is filtered by the
    * (tiny, broadcast-literal) term set BEFORE any shuffle, so only rows
    * for query terms ever exchange; the AND is `countDistinct == |terms|`
    * on the per-doc aggregate, never an N-way self-join. The conjunctive
    * cousin of [[bm25Ranking]]'s ranked retrieval.
    */
  def searchBooleanAnd(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
    toks.filter(col("word").isin(Bm25Terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("word").as("nt"), count(lit(1)).as("total_tf"))
      .filter(col("nt") === Bm25Terms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Phrase terms, in order. */
  val PhraseTerms: (String, String) = ("table", "hash")

  /** Positional phrase search — exact adjacency via the positional index:
    * postings for the two phrase words equi-join on (doc_id, pos+1), the
    * classic phrase-query plan. Candidate volume is bounded by the SMALLER
    * posting list (the join is on position, not a cross of occurrences);
    * the corpus never self-joins. Emits per-doc occurrence count and first
    * match position.
    */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.operators.TextPipeline.tokens(col("text"))))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    val a = pos.filter(col("word") === PhraseTerms._1)
      .select(col("doc_id"), col("pos").as("pos_a"))
    val b = pos.filter(col("word") === PhraseTerms._2)
      .select(col("doc_id"), col("pos").as("pos_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("pos_b") === col("pos_a") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"),
        (min("pos_a") + 1).cast("long").as("first_pos"))
  }

  /** Token-hash shard count of the persisted inverted index — the unit of
    * search-time pruning: a query touches |query terms| shards, never the
    * index (let alone the corpus).
    */
  val IndexShards = 64
  val TokenIndexVersion = 1

  /** Shard of a token — md5-prefix mod [[IndexShards]], chosen because
    * BOTH sides can compute it: the writer in-plan (`md5()` is codegen'd)
    * and the query DRIVER-side (to enumerate which shard directories to
    * prune to before any job runs).
    */
  private[graft] def tokenShard(word: String): Int =
    Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
      .digest(word.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16) %
      IndexShards

  /** Build-once PERSISTED INVERTED INDEX: (word, doc_id, tf) postings,
    * hive-partitioned by token-hash shard, fingerprinted to the corpus
    * (bytes + mtime + layout + version) with the staging-move publish
    * discipline of the IVF-PQ index. The ONE corpus tokenization pass
    * amortizes across every subsequent search.
    */
  private[graft] def tokenIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sparkutil.CorpusKey.buildOnce("graft-token-index",
        java.nio.file.Paths.get(dir, "documents.parquet"),
        s"$IndexShards|$TokenIndexVersion") { staging =>
      graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
        .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("shard", expr(
          s"CAST(conv(substring(md5(word), 1, 4), 16, 10) AS INT) % $IndexShards"))
        .write.partitionBy("shard").mode("overwrite").parquet(staging.toString)
    }
    spark.read.parquet(path.toString)
  }

  /** INDEX-SERVED boolean retrieval — [[searchBooleanAnd]] answered from
    * the persisted inverted index instead of re-tokenizing the corpus:
    * the driver computes the query terms' shards ([[tokenShard]] — the
    * same function the writer partitioned by), the scan PRUNES to those
    * shard directories (a PartitionFilters entry, spec-pinned), and the
    * AND evaluates over |postings of the query terms| rows. This is the
    * structural difference between grep and Lucene: [[searchBooleanAnd]]
    * streams the whole corpus through the tokenizer per query (fine for
    * one-off analytics), while this path costs O(matched postings) per
    * query after a build-once O(corpus) index pass — at 100 TB, the only
    * viable interactive-search shape. Results are identical by
    * construction (same tokenizer, same terms, tf re-aggregated from the
    * per-(word, doc) postings), so both queries share one oracle.
    */
  def searchIndexServed(spark: SparkSession, dir: String): DataFrame = {
    val shards = Bm25Terms.map(tokenShard).distinct
    tokenIndex(spark, dir)
      .filter(col("shard").isin(shards: _*) && col("word").isin(Bm25Terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("word").as("nt"), sum("tf").as("total_tf"))
      .filter(col("nt") === Bm25Terms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** One-pass distributed COVARIANCE (Gram) matrix over the first 8
    * embedding dimensions — the sufficient-statistics building block
    * behind PCA / whitening / OPQ rotation training on embedding corpora:
    * cov(i,j) ∝ n·Σxᵢxⱼ − Σxᵢ·Σxⱼ, so one aggregation pass yields every
    * entry. Shape: each row map-side expands to the 36 upper-triangle
    * (i,j) scalar products (bounded 36× fan-out of 4-long tuples, never
    * the vectors themselves), and partial aggregation collapses each task
    * to ≤36 partial rows before the single 36-group shuffle — sufficient
    * statistics is exactly the mergeable-partial-agg shape, so the plan
    * is one scan + one tiny exchange at any corpus size. Arithmetic is
    * exact int64 over the `floor(x·1000)` quantized grid (the module's
    * standard cross-engine gate trick), and the oracle recomputes every
    * entry relationally in DuckDB — gating the scaled covariance
    * numerator `cov_num = n·Σxy − Σx·Σy` bit-for-bit.
    */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(expr(
        "transform(slice(embedding, 1, 8), x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("qv"))
      .select(explode(expr(
        """flatten(transform(sequence(0, 7), i ->
          |  transform(sequence(i, 7), j ->
          |    struct(i AS i, j AS j, qv[i] AS xi, qv[j] AS xj))))""".stripMargin)).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.xi").as("xi"), col("p.xj").as("xj"))
      .groupBy("i", "j")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xi") * col("xj")).as("sxy"),
        sum("xi").as("sx"),
        sum("xj").as("sy"))
      .withColumn("cov_num", col("n") * col("sxy") - col("sx") * col("sy"))

  /** Candidate-pool size and picks for [[mmrRerank]]. */
  val MmrCands = 8
  val MmrK = 4

  /** MAXIMAL MARGINAL RELEVANCE re-ranking — the diversity pass every
    * retrieval stack (RAG context assembly, dedup-aware search, training
    * example selection) runs AFTER candidate generation: greedily pick k
    * results maximizing `λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so each
    * pick is relevant to the query but far from what's already selected
    * (Carbonell & Goldstein 1998). All scores live in the module's
    * exact-integer domain: relevance and pairwise similarity are
    * quantized int64 dot products and λ=0.7 becomes integer weights
    * (7·rel − 3·pen), so the greedy trajectory is bit-identical on any
    * engine — the oracle replays it as k unrolled argmax steps.
    *
    * Scale shape: candidate generation is the indexed ANN path (brute
    * force here only because the fixture query set is 5 rows — at 100 TB
    * the pool comes from `knn_lsh`/`knn_ivf` buckets); the re-rank
    * itself touches m=8 candidates per query inside ONE `flatMapGroups`
    * over the per-query group — O(k·m²) integer ops on ≤m rows of state,
    * embarrassingly parallel across queries, zero cross-query traffic.
    * The greedy loop is inherently sequential in k, which is why it runs
    * per-group on the executor and never as k driver-side passes.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = qvecs(spark, dir).select(col("vec_id"), col("qv"))
    val q = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
    val cand = broadcast(q).join(all, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        expr("dot_i64(qqv, qv)").as("rel_dot"), col("qv"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rel_dot").desc, col("cand_id").asc)))
      .filter(col("rn") <= MmrCands)
      .select(col("query_id"), col("cand_id"), col("rel_dot"), col("qv"))
    cand.as[(Long, Long, Long, Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Long])]) =>
        val cs = it.toArray.sortBy(c => (-c._3, c._2))
        def dot(a: Seq[Long], b: Seq[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var rank = 1L
        while (rank <= MmrK && picked.length < cs.length) {
          var bestI = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < cs.length) {
            if (!picked.contains(i)) {
              val pen = if (picked.isEmpty) 0L
                        else picked.iterator.map(j => dot(cs(i)._4, cs(j)._4)).max
              val score = 7L * cs(i)._3 - 3L * pen
              // strict > with ascending scan = smaller cand_id wins ties
              // (cs is sorted rel desc, id asc; equal scores keep scan order
              // only when rel order equals id order — compare ids explicitly)
              if (bestI < 0 || score > bestScore || (score == bestScore && cs(i)._2 < cs(bestI)._2)) {
                bestScore = score; bestI = i
              }
            }
            i += 1
          }
          picked += bestI
          out += ((qid, cs(bestI)._2, rank, bestScore))
          rank += 1
        }
        out.iterator
      }
      .toDF("query_id", "selected_id", "mmr_rank", "mmr_score")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_boolean_and" -> searchBooleanAnd _,
    "search_index_served" -> searchIndexServed _,
    "search_phrase" -> searchPhrase _,
    "embedding_quantize" -> quantizeAudit _,
    "embedding_covariance" -> embeddingCovariance _,
    "knn_bruteforce" -> knnBruteForce _,
    "knn_filtered" -> knnFiltered _,
    "rrf_fusion" -> rrfFusion _,
    "bm25_ranking" -> bm25Ranking _,
    "knn_lsh" -> knnLsh _,
    "knn_lsh_multiprobe" -> knnLshMultiprobe _,
    "knn_recall" -> knnRecall _,
    "knn_ivf" -> knnIvf _,
    "knn_ivf_nprobe" -> knnIvfNprobe _,
    "knn_ivf_kmeans" -> knnIvfKmeans _,
    "embedding_pq" -> pqCodes _,
    "knn_pq_adc" -> knnPqAdc _,
    "knn_ivf_pq" -> knnIvfPq _,
    "knn_ivf_pq_serve" -> knnIvfPqServe _,
    "knn_ivf_pq_append_serve" -> knnIvfPqAppendServe _,
    "knn_ivf_pq_live" -> knnIvfPqLivePipeline _,
    "knn_ivfpq_rerank" -> knnIvfPqRerank _,
    "knn_ivfpq_residual" -> knnIvfPqResidual _,
    "embedding_neardup" -> embeddingNearDup _,
    "embedding_centroids" -> embeddingCentroids _,
    "semdedup_cells" -> semdedupCells _,
    "embedding_outliers" -> embeddingOutliers _,
    "matryoshka_recall" -> matryoshkaRecall _,
    "mmr_rerank" -> mmrRerank _,
  )

  /** Matryoshka-truncation quality harness: top-10 by cosine over the
    * FIRST 16 of 64 dims, scored against the full-dim top-10 as
    * hits@10 per query. This is the measurement behind every
    * matryoshka-embedding deployment decision — how much recall does the
    * 4× cheaper prefix buy back — run exactly like [[knnRecall]] runs the
    * index configs. Both rankings stream the corpus once against the
    * broadcast 10-query table through the codegen'd `cosine_sim`
    * (`slice` keeps the truncated path inside the same kernel); the
    * overlap count is an equi-join of two bounded top-10 lists. Scale:
    * linear corpus scans, no index state; the truncated scan reads 4×
    * fewer vector bytes — the actual production win being measured.
    */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def top10(ve: String, qe: String): DataFrame =
      broadcast(q).join(all, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr(s"cosine_sim($qe, $ve)").as("cos"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)))
        .filter(col("rank") <= 10).select("query_id", "neighbor_id")
    val overlap = top10("v", "qv")
      .join(top10("slice(v, 1, 16)", "slice(qv, 1, 16)"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    q.select("query_id").join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n"), lit(0L)).as("hits_at_10"))
  }

  /** SEMANTIC dedup, cluster-restricted (the SemDeDup recipe, Abbas et
    * al. 2023): k-means cells first, cosine pairs only WITHIN a cell,
    * drop every vector with a smaller-id in-cell neighbor above the
    * threshold. The cell restriction is what survives 100 TB — candidate
    * volume falls from N²/2 to Σ|cell|²/2, each cell's pair join is an
    * equi-join on the cell id, and skewed mega-cells split under AQE
    * exactly like any hot join key. Composes two verified structures:
    * [[kmeansCells]] (exact-int64 Lloyd quantizer — `knn_ivf_kmeans`)
    * and the quantized-cosine verify of `embedding_neardup`, so the
    * whole pipeline hash-verifies end-to-end: the oracle replays the
    * Lloyd trajectory and the in-cell pair filter analytically.
    * Output is the full per-vector verdict table (vec_id, cell,
    * dropped) — the audit a curation pipeline persists, not just the
    * survivor list.
    */
  /** EMBEDDING OUTLIER ranking — the mislabeled/corrupt-vector gate a
    * feature store runs before training: each vector's squared distance
    * to its OWN label's centroid, top-3 farthest per label. Exact
    * integer arithmetic end to end on the established `floor(x·1000)`
    * grid: the per-(label, dim) centroid is kept as sufficient
    * statistics (s = Σq, n), and the per-vector distance is
    * Σ_dim (n·q − s)² = n²·‖x − c‖² — no division, no float sums, so
    * ranking is bit-stable and oracle-replayable (n is constant within a
    * label, so ranking by the n²-scaled distance IS ranking by
    * distance). Scale shape: posexplode is map-side; the ≤(labels×dims)-
    * row centroid frame BROADCASTS back onto the exploded stream (the
    * big side never shuffles for the join); ONE exchange on vec_id for
    * the distance aggregate and a per-label window on the per-vector
    * frame. Ties break on vec_id.
    */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT))")))
      .select(col("vec_id"), col("label"), col("pos").as("dim"), col("col").as("q"))
    val cent = e.groupBy("label", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
    val d2 = e.join(broadcast(cent), Seq("label", "dim"))
      .select(col("vec_id"), col("label"),
        ((col("n") * col("q") - col("s")) * (col("n") * col("q") - col("s"))).as("term"))
      .groupBy("vec_id", "label")
      .agg(sum("term").as("d2n2"))
    val w = Window.partitionBy("label").orderBy(col("d2n2").desc, col("vec_id").asc)
    d2.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("label").cast("long").as("label"), col("rnk"), col("vec_id"), col("d2n2"))
  }

  def semdedupCells(spark: SparkSession, dir: String): DataFrame = {
    val assigned = kmeansCells(qvecs(spark, dir).select("vec_id", "qv"))
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter((expr("dot_i64(a.qv, b.qv)").cast("double")
        / (sqrt(expr("dot_i64(a.qv, a.qv)").cast("double"))
          * sqrt(expr("dot_i64(b.qv, b.qv)").cast("double")))) >= SemdedupTau)
    val dropped = pairs.select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
  }

  /** SemDeDup cosine threshold — the `embedding_neardup` operating point
    * (the fixture embeddings are near-isotropic; production prunes at
    * 0.95+ on real embedding geometry — a parameter, not a shape change).
    */
  val SemdedupTau = 0.4

  /** DuckDB mirror of the exact-integer quantized cosine between `a.qv` and
    * `b.qv` (integer-valued DOUBLE lists ⇒ bit-identical across engines).
    */
  private val qcosSql =
    """(list_dot_product(a.qv, b.qv)
      |   / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))))""".stripMargin

  /** DuckDB mirror of one k-means assignment pass: `src` (vec_id, qv) ×
    * `cents` (cent_id, cv) → (vec_id, qv, cell).
    */
  private def kmAssignSql(src: String, cents: String): String =
    s"""SELECT vec_id, qv, cent_id AS cell FROM (
       |  SELECT q.vec_id, q.qv, c.cent_id,
       |   row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |     list_sum(list_transform(generate_series(1, ${SignLsh.Dim}),
       |       i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) ASC, c.cent_id ASC) AS crn
       |  FROM $src q CROSS JOIN $cents c)
       |WHERE crn = 1""".stripMargin

  /** DuckDB mirror of one centroid update: assignments `asn` → per-cell
    * elementwise floor(avg) centroid list.
    */
  private def kmUpdateSql(asn: String): String =
    s"""SELECT cell AS cent_id, list(cx ORDER BY i) AS cv FROM (
       |  SELECT a.cell, g.i, floor(avg(a.qv[g.i])) AS cx
       |  FROM $asn a, generate_series(1, ${SignLsh.Dim}) g(i)
       |  GROUP BY a.cell, g.i)
       |GROUP BY cell""".stripMargin

  /** DuckDB mirror of one PQ assignment pass on subspace `m` (dim
    * [[PqSubDim]]).
    */
  private def pqAssignSql(src: String, cents: String): String =
    s"""SELECT vec_id, sv, cent_id AS cell FROM (
       |  SELECT q.vec_id, q.sv, c.cent_id,
       |   row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |     list_sum(list_transform(generate_series(1, $PqSubDim),
       |       i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) ASC, c.cent_id ASC) AS crn
       |  FROM $src q CROSS JOIN $cents c)
       |WHERE crn = 1""".stripMargin

  private def pqUpdateSql(asn: String): String =
    s"""SELECT cell AS cent_id, list(cx ORDER BY i) AS cv FROM (
       |  SELECT a.cell, g.i, floor(avg(a.sv[g.i])) AS cx
       |  FROM $asn a, generate_series(1, $PqSubDim) g(i)
       |  GROUP BY a.cell, g.i)
       |GROUP BY cell""".stripMargin

  private lazy val pqOracleSql: String = {
    val subs = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""sub$m AS (SELECT vec_id, qv[$lo:$hi] AS sv FROM qv0),
         |c0_$m AS (SELECT vec_id AS cent_id, sv AS cv FROM sub$m WHERE vec_id < $PqK),
         |a1_$m AS (${pqAssignSql(s"sub$m", s"c0_$m")}),
         |c1_$m AS (${pqUpdateSql(s"a1_$m")}),
         |a2_$m AS (${pqAssignSql(s"sub$m", s"c1_$m")}),
         |c2_$m AS (${pqUpdateSql(s"a2_$m")}),
         |asn$m AS (${pqAssignSql(s"sub$m", s"c2_$m")})""".stripMargin
    }.mkString(",\n")
    val joins = (1 until PqM).map(m => s"JOIN asn$m s$m USING (vec_id)").mkString(" ")
    val codeCols = (0 until PqM).map(m => s"s$m.cell AS code_$m").mkString(", ")
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |$subs
       |SELECT vec_id, $codeCols
       |FROM (SELECT vec_id, cell FROM asn0) s0 $joins""".stripMargin
  }

  /** The PQ train/encode/LUT CTE chain (assumes a `qv0(vec_id, qv)` CTE is
    * in scope) — shared by the standalone ADC oracle and the recall
    * harness's embedded variant.
    */
  /** The PQ train/encode/LUT CTE chain over source CTE `src` (vec_id, qv).
    * `p` prefixes every generated CTE name so two instances (raw +
    * residual space) can coexist in one WITH.
    */
  private def pqAdcCtes(src: String = "qv0", p: String = ""): String = {
    val subs = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""${p}sub$m AS (SELECT vec_id, qv[$lo:$hi] AS sv FROM $src),
         |${p}c0_$m AS (SELECT vec_id AS cent_id, sv AS cv FROM ${p}sub$m WHERE vec_id < $PqK),
         |${p}a1_$m AS (${pqAssignSql(s"${p}sub$m", s"${p}c0_$m")}),
         |${p}c1_$m AS (${pqUpdateSql(s"${p}a1_$m")}),
         |${p}a2_$m AS (${pqAssignSql(s"${p}sub$m", s"${p}c1_$m")}),
         |${p}c2_$m AS (${pqUpdateSql(s"${p}a2_$m")}),
         |${p}asn$m AS (${pqAssignSql(s"${p}sub$m", s"${p}c2_$m")}),
         |${p}lut$m AS (SELECT q.vec_id AS query_id, c.cent_id,
         |    list_sum(list_transform(generate_series(1, $PqSubDim),
         |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))::BIGINT AS pd2_$m
         |  FROM ${p}sub$m q CROSS JOIN ${p}c2_$m c WHERE q.vec_id < 10)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN ${p}asn$m s$m USING (vec_id)").mkString(" ")
    val codeCols = (0 until PqM).map(m => s"s$m.cell AS code_$m").mkString(", ")
    s"""$subs,
       |${p}codes AS (SELECT vec_id, $codeCols
       |  FROM (SELECT vec_id, cell FROM ${p}asn0) s0 $codeJoins),
       |${p}pqq AS (SELECT DISTINCT query_id FROM ${p}lut0)""".stripMargin
  }

  /** Ranked ADC scan over the [[pqAdcCtes]] CTEs (same `p` prefix):
    * (query_id, neighbor_id, adc_d2, rank). `extraJoins` restricts the
    * candidate stream (the IVF-PQ cell gate); empty for the flat scan.
    */
  private def pqAdcRankSqlWith(extraJoins: String, p: String = ""): String = {
    val lutJoins = (0 until PqM)
      .map(m => s"JOIN ${p}lut$m ON ${p}lut$m.query_id = ${p}pqq.query_id " +
        s"AND ${p}lut$m.cent_id = ${p}codes.code_$m")
      .mkString(" ")
    val dsum = (0 until PqM).map(m => s"pd2_$m").mkString(" + ")
    s"""SELECT ${p}pqq.query_id, ${p}codes.vec_id AS neighbor_id,
       | ($dsum)::BIGINT AS adc_d2,
       | row_number() OVER (PARTITION BY ${p}pqq.query_id
       |   ORDER BY ($dsum) ASC, ${p}codes.vec_id ASC) AS rank
       |FROM ${p}codes CROSS JOIN ${p}pqq $lutJoins $extraJoins
       |WHERE ${p}codes.vec_id <> ${p}pqq.query_id""".stripMargin
  }

  private lazy val pqAdcRankSql: String = pqAdcRankSqlWith("")

  /** Unrolled coarse-quantizer CTE chain (assumes `qv0` in scope):
    * [[KmeansIters]]=2 Lloyd rounds then the final assignment `kasn` —
    * the same trajectory [[kmeansCells]] walks in exact int64.
    */
  private lazy val kmCellsCtes: String =
    s"""kc0 AS (SELECT vec_id AS cent_id, qv AS cv FROM qv0 WHERE vec_id < $KmeansK),
       |ka1 AS (${kmAssignSql("qv0", "kc0")}),
       |kc1 AS (${kmUpdateSql("ka1")}),
       |ka2 AS (${kmAssignSql("qv0", "kc1")}),
       |kc2 AS (${kmUpdateSql("ka2")}),
       |kasn AS (${kmAssignSql("qv0", "kc2")})""".stripMargin

  private lazy val ivfPqOracleSql: String =
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |${pqAdcCtes()},
       |$kmCellsCtes,
       |cells AS (SELECT vec_id, cell FROM kasn),
       |qcells AS (SELECT vec_id AS query_id, cell AS qcell FROM kasn WHERE vec_id < 10)
       |SELECT query_id, neighbor_id, adc_d2, rank
       |FROM (${pqAdcRankSqlWith(
      "JOIN cells ON cells.vec_id = codes.vec_id " +
        "JOIN qcells ON qcells.query_id = pqq.query_id AND qcells.qcell = cells.cell")})
       |WHERE rank <= 10""".stripMargin

  /** [[knnIvfPqAppendServe]]'s oracle: codebooks train on the FIXTURE
    * corpus only (`qv0` — frozen semantics), fixture ∪ synthetic assign
    * against them (`qvall`), the serve ranks over the augmented code
    * stream, and the appended rows replay each synthetic vector's cell +
    * packed code word under `query_id = -1`.
    */
  private lazy val ivfPqAppendServeOracleSql: String = {
    val suballs = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""suba$m AS (SELECT vec_id, qv[$lo:$hi] AS sv FROM qvall),
         |asna$m AS (${pqAssignSql(s"suba$m", s"c2_$m")})""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN asna$m t$m USING (vec_id)").mkString(" ")
    val codeCols = (0 until PqM).map(m => s"t$m.cell AS code_$m").mkString(", ")
    val lutJoins = (0 until PqM)
      .map(m => s"JOIN lut$m ON lut$m.query_id = pqq.query_id " +
        s"AND lut$m.cent_id = codesall.code_$m")
      .mkString(" ")
    val dsum = (0 until PqM).map(m => s"pd2_$m").mkString(" + ")
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |qvnew AS (SELECT 1000000000000000 + id AS vec_id,
       |  list_transform(generate_series(1, ${SignLsh.Dim}),
       |    i -> ((1000000000000000 + id) * 7 + i * 3) % 4001 - 2000) AS qv
       |  FROM range(0, 5) t(id)),
       |qvall AS (SELECT * FROM qv0 UNION ALL SELECT * FROM qvnew),
       |${pqAdcCtes()},
       |$kmCellsCtes,
       |$suballs,
       |codesall AS (SELECT vec_id, $codeCols
       |  FROM (SELECT vec_id, cell FROM asna0) t0 $codeJoins),
       |kasnall AS (${kmAssignSql("qvall", "kc2")}),
       |cellsall AS (SELECT vec_id, cell FROM kasnall),
       |qcells AS (SELECT vec_id AS query_id, cell AS qcell FROM kasn WHERE vec_id < 10),
       |serve AS (
       |  SELECT pqq.query_id, codesall.vec_id AS neighbor_id,
       |   ($dsum)::BIGINT AS adc_d2,
       |   row_number() OVER (PARTITION BY pqq.query_id
       |     ORDER BY ($dsum) ASC, codesall.vec_id ASC) AS rank
       |  FROM codesall CROSS JOIN pqq $lutJoins
       |  JOIN cellsall ON cellsall.vec_id = codesall.vec_id
       |  JOIN qcells ON qcells.query_id = pqq.query_id AND qcells.qcell = cellsall.cell
       |  WHERE codesall.vec_id <> pqq.query_id)
       |SELECT query_id, neighbor_id, adc_d2, rank::BIGINT AS rank
       |FROM serve WHERE rank <= 10
       |UNION ALL
       |SELECT (-1)::BIGINT, c.vec_id,
       |  (c.code_0 * 64 + c.code_1 * 16 + c.code_2 * 4 + c.code_3)::BIGINT,
       |  ka.cell::BIGINT
       |FROM codesall c JOIN kasnall ka USING (vec_id) WHERE c.vec_id >= 1000000000000000""".stripMargin
  }

  /** The ivf_pq top-10 short-list, exact-cosine re-ranked to top-3 —
    * mirrors [[knnIvfPqRerank]] CTE for CTE.
    */
  private lazy val ivfPqRerankOracleSql: String =
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |${pqAdcCtes()},
       |$kmCellsCtes,
       |cells AS (SELECT vec_id, cell FROM kasn),
       |qcells AS (SELECT vec_id AS query_id, cell AS qcell FROM kasn WHERE vec_id < 10),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM (${pqAdcRankSqlWith(
      "JOIN cells ON cells.vec_id = codes.vec_id " +
        "JOIN qcells ON qcells.query_id = pqq.query_id AND qcells.qcell = cells.cell")})
       |  WHERE rank <= 10)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |   row_number() OVER (PARTITION BY s.query_id
       |     ORDER BY $qcosSql DESC, s.neighbor_id ASC) AS rank
       |  FROM shortlist s
       |  JOIN qv0 a ON a.vec_id = s.query_id
       |  JOIN qv0 b ON b.vec_id = s.neighbor_id)
       |WHERE rank <= 3""".stripMargin

  /** Residual-encoded IVF-PQ — the whole PQ chain re-instantiated (prefix
    * `r`) over the per-cell residual frame; mirrors [[knnIvfPqResidual]].
    */
  private lazy val ivfPqResidualOracleSql: String =
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |$kmCellsCtes,
       |rqv AS (SELECT a.vec_id,
       |   list_transform(generate_series(1, ${SignLsh.Dim}), i -> a.qv[i] - c.cv[i]) AS qv,
       |   a.cell
       |  FROM kasn a JOIN kc2 c ON a.cell = c.cent_id),
       |${pqAdcCtes("rqv", "r")},
       |rcells AS (SELECT vec_id, cell FROM rqv),
       |rqcells AS (SELECT vec_id AS query_id, cell AS qcell FROM rqv WHERE vec_id < 10)
       |SELECT query_id, neighbor_id, adc_d2, rank
       |FROM (${pqAdcRankSqlWith(
      "JOIN rcells ON rcells.vec_id = rcodes.vec_id " +
        "JOIN rqcells ON rqcells.query_id = rpqq.query_id AND rqcells.qcell = rcells.cell",
      "r")})
       |WHERE rank <= 10""".stripMargin

  private lazy val pqAdcOracleSql: String =
    s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
       |${pqAdcCtes()}
       |SELECT query_id, neighbor_id, adc_d2, rank
       |FROM ($pqAdcRankSql)
       |WHERE rank <= 10""".stripMargin

  /** Shared by the corpus-rescan and index-served boolean retrievals. */
  private val searchBooleanAndOracle: String =
    s"""${Oracle.tokensCte}
      |SELECT doc_id, count(*)::BIGINT AS total_tf
      |FROM toks WHERE word IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
      |GROUP BY doc_id
      |HAVING count(DISTINCT word) = ${Bm25Terms.size}""".stripMargin

  def oracle: Map[String, String] = Map(
    "embedding_centroids" ->
      s"""WITH qv0 AS (SELECT label, ${SignLsh.quantSql} AS qv FROM embeddings)
         |SELECT label, g.i - 1 AS i, count(*)::BIGINT AS n_vecs,
         | sum(qv[g.i])::BIGINT AS sum_q,
         | floor(sum(qv[g.i])::DOUBLE / count(*))::BIGINT AS mean_q
         |FROM qv0, generate_series(1, ${SignLsh.Dim}) g(i)
         |GROUP BY label, g.i""".stripMargin,
    "embedding_pq" -> pqOracleSql,
    "knn_pq_adc" -> pqAdcOracleSql,
    "knn_ivf_pq" -> ivfPqOracleSql,
    // identical ranking served from the persisted inverted lists
    "knn_ivf_pq_serve" -> ivfPqOracleSql,
    "knn_ivf_pq_append_serve" -> ivfPqAppendServeOracleSql,
    // CONVERGENCE gate: the hook-driven incremental pipeline must land
    // the byte-identical index state as the one-shot append
    "knn_ivf_pq_live" -> ivfPqAppendServeOracleSql,
    "knn_ivfpq_rerank" -> ivfPqRerankOracleSql,
    "knn_ivfpq_residual" -> ivfPqResidualOracleSql,
    "embedding_quantize" ->
      """WITH vv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM vv),
        |ee AS (SELECT vec_id, mx,
        |  list_aggregate(list_transform(v, x -> abs(x - round(x * 127.0 / mx) * mx / 127.0)), 'max') AS err
        |  FROM mm WHERE mx > 0)
        |SELECT vec_id, round(err / mx, 6) AS rel_err FROM ee""".stripMargin,
    // every covariance sufficient statistic recomputed relationally over
    // the same floor(x*1000) quantized grid (exact int64 both engines)
    "embedding_covariance" ->
      """WITH q AS (
        |  SELECT list_transform(embedding[1:8]::DOUBLE[], x -> floor(x * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |)
        |SELECT ti.i::INT AS i, tj.j::INT AS j, count(*)::BIGINT AS n,
        |  sum(qv[ti.i + 1] * qv[tj.j + 1])::BIGINT AS sxy,
        |  sum(qv[ti.i + 1])::BIGINT AS sx,
        |  sum(qv[tj.j + 1])::BIGINT AS sy,
        |  (count(*) * sum(qv[ti.i + 1] * qv[tj.j + 1]) -
        |   sum(qv[ti.i + 1]) * sum(qv[tj.j + 1]))::BIGINT AS cov_num
        |FROM q, range(0, 8) ti(i), range(0, 8) tj(j)
        |WHERE tj.j >= ti.i
        |GROUP BY 1, 2""".stripMargin,
    "knn_filtered" ->
      """SELECT query_id, neighbor_id, label, rank FROM (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.label,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
        |              n.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings n
        |    ON q.label = n.label AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 10""".stripMargin,
    "search_boolean_and" -> searchBooleanAndOracle,
    // identical semantics served from the persisted index — one oracle
    "search_index_served" -> searchBooleanAndOracle,
    "search_phrase" ->
      s"""WITH w AS (
        |  SELECT doc_id, ${Oracle.tokens("text")} AS words
        |  FROM documents),
        |p AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS pos FROM w),
        |tok AS (SELECT doc_id, pos, words[pos] AS word FROM p WHERE words[pos] <> '')
        |SELECT a.doc_id, count(*)::BIGINT AS n_occurrences,
        | min(a.pos)::BIGINT AS first_pos
        |FROM tok a JOIN tok b
        |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.word = '${PhraseTerms._1}' AND b.word = '${PhraseTerms._2}'
        |GROUP BY a.doc_id""".stripMargin,
    "bm25_ranking" ->
      s"""${Oracle.tokensCte},
        |tk AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
        |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk
        |       WHERE word IN ('hash', 'table', 'merge') GROUP BY 1, 2),
        |piv AS (SELECT doc_id,
        |    max(CASE WHEN word = 'hash' THEN tf END) AS tf_hash,
        |    max(CASE WHEN word = 'table' THEN tf END) AS tf_table,
        |    max(CASE WHEN word = 'merge' THEN tf END) AS tf_merge
        |  FROM tf GROUP BY doc_id),
        |dfs AS (SELECT
        |    max(CASE WHEN word = 'hash' THEN df END) AS df_hash,
        |    max(CASE WHEN word = 'table' THEN df END) AS df_table,
        |    max(CASE WHEN word = 'merge' THEN df END) AS df_merge
        |  FROM (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word))
        |SELECT doc_id, coalesce(tf_hash, 0)::BIGINT AS tf_hash,
        | coalesce(tf_table, 0)::BIGINT AS tf_table,
        | coalesce(tf_merge, 0)::BIGINT AS tf_merge,
        | round(
        |   log2((n - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
        |     * (coalesce(tf_hash, 0) * 2.2)
        |     / (coalesce(tf_hash, 0) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        | + log2((n - df_table + 0.5) / (df_table + 0.5) + 1.0)
        |     * (coalesce(tf_table, 0) * 2.2)
        |     / (coalesce(tf_table, 0) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        | + log2((n - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
        |     * (coalesce(tf_merge, 0) * 2.2)
        |     / (coalesce(tf_merge, 0) + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
        |FROM piv JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfs
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,
    "rrf_fusion" ->
      s"""${Oracle.tokensCte},
        |kw0 AS (SELECT doc_id, count(*) AS tf FROM toks WHERE word = 'spark'
        |        GROUP BY 1 ORDER BY tf DESC, doc_id ASC LIMIT 20),
        |kw AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS r_kw FROM kw0),
        |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |v0 AS (SELECT n.vec_id AS doc_id,
        |        list_cosine_similarity(qv.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cos
        |       FROM embeddings n, qv WHERE n.vec_id <> 0
        |       ORDER BY cos DESC, doc_id ASC LIMIT 20),
        |v AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_vec FROM v0)
        |SELECT coalesce(kw.doc_id, v.doc_id) AS id,
        | coalesce(1.0::DOUBLE / (60 + kw.r_kw), 0.0::DOUBLE)
        |   + coalesce(1.0::DOUBLE / (60 + v.r_vec), 0.0::DOUBLE) AS rrf,
        | kw.r_kw, v.r_vec
        |FROM kw FULL OUTER JOIN v ON kw.doc_id = v.doc_id
        |ORDER BY rrf DESC, id ASC LIMIT 10""".stripMargin,
    "knn_bruteforce" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
        |              n.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 10""".stripMargin,
    "knn_lsh" ->
      s"""WITH qq AS (SELECT vec_id, embedding, ${SignLsh.quantSql} AS qv FROM embeddings),
        |b AS (SELECT vec_id, embedding, ${SignLsh.bucketSql(KnnLshBits)} AS bucket FROM qq)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]) DESC,
        |              b2.vec_id ASC) AS rank
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "knn_lsh_multiprobe" -> {
      val probes = (0 until KnnLshBits).map(j => s"xor(bucket, ${1L << j})").mkString(", ")
      s"""WITH qq AS (SELECT vec_id, embedding, ${SignLsh.quantSql} AS qv FROM embeddings),
        |b AS (SELECT vec_id, embedding, ${SignLsh.bucketSql(KnnLshBits)} AS bucket FROM qq),
        |p AS (SELECT vec_id, embedding, unnest([bucket, $probes]) AS probe FROM b)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY a.vec_id
        |     ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]) DESC,
        |              b2.vec_id ASC) AS rank
        |  FROM p a JOIN b b2 ON a.probe = b2.bucket AND a.vec_id <> b2.vec_id)
        |WHERE rank <= 3""".stripMargin
    },
    "knn_recall" -> {
      val probes = (0 until KnnLshBits).map(j => s"xor(bucket, ${1L << j})").mkString(", ")
      val bandSelects = (0 until 4).map(b =>
        s"SELECT vec_id, embedding, $b AS band, ${SignLsh.bandSql(NearDupBits, b)} AS band_key FROM qq")
        .mkString(" UNION ALL ")
      def recallSql(approx: String, name: String): String =
        s"""SELECT '$name' AS variant, query_id, count(l_neighbor) AS n_match,
           | round(count(l_neighbor) / 3.0, 4) AS recall_at_3
           |FROM truth LEFT JOIN $approx
           |  ON query_id = l_query AND neighbor_id = l_neighbor
           |GROUP BY query_id""".stripMargin
      s"""WITH qq AS (SELECT vec_id, embedding, ${SignLsh.quantSql} AS qv FROM embeddings),
        |b AS (SELECT vec_id, embedding, ${SignLsh.bucketSql(KnnLshBits)} AS bucket FROM qq),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY q.vec_id
        |       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
        |                n.vec_id ASC) AS rank
        |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 3),
        |single AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor FROM (
        |    SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]) DESC,
        |                b2.vec_id ASC) AS rank
        |    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
        |    WHERE a.vec_id < 10)
        |  WHERE rank <= 3),
        |pr AS (SELECT vec_id, embedding, unnest([bucket, $probes]) AS probe FROM b),
        |multi AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor FROM (
        |    SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]) DESC,
        |                b2.vec_id ASC) AS rank
        |    FROM pr a JOIN b b2 ON a.probe = b2.bucket AND a.vec_id <> b2.vec_id
        |    WHERE a.vec_id < 10)
        |  WHERE rank <= 3),
        |bnd AS ($bandSelects),
        |banded AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor FROM (
        |    SELECT query_id, neighbor_id,
        |     row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos DESC, neighbor_id ASC) AS rank
        |    FROM (
        |      SELECT DISTINCT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
        |       list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]) AS cos
        |      FROM bnd a JOIN bnd b2
        |        ON a.band = b2.band AND a.band_key = b2.band_key AND a.vec_id <> b2.vec_id
        |      WHERE a.vec_id < 10))
        |  WHERE rank <= 3),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < $IvfCentroids),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
        |              c.cent_id ASC) AS crn
        |  FROM embeddings e CROSS JOIN cents c),
        |ivfassigned AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM scored WHERE crn = 1),
        |ivf AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor FROM (
        |    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY q.vec_id
        |       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], a.embedding::DOUBLE[]) DESC,
        |                a.vec_id ASC) AS rank
        |    FROM ivfassigned q JOIN ivfassigned a ON q.cell = a.cell AND q.vec_id <> a.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 3),
        |qv0 AS (SELECT vec_id, qv FROM qq),
        |${pqAdcCtes()},
        |pqadc AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor
        |  FROM ($pqAdcRankSql)
        |  WHERE rank <= 3),
        |$kmCellsCtes,
        |ivfpqcells AS (SELECT vec_id, cell FROM kasn),
        |ivfpqq AS (SELECT vec_id AS query_id, cell AS qcell FROM kasn WHERE vec_id < 10),
        |ivfpq AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor
        |  FROM (${pqAdcRankSqlWith(
      "JOIN ivfpqcells ON ivfpqcells.vec_id = codes.vec_id " +
        "JOIN ivfpqq ON ivfpqq.query_id = pqq.query_id AND ivfpqq.qcell = ivfpqcells.cell")})
        |  WHERE rank <= 3),
        |ivfpqsl AS (
        |  SELECT query_id, neighbor_id
        |  FROM (${pqAdcRankSqlWith(
      "JOIN ivfpqcells ON ivfpqcells.vec_id = codes.vec_id " +
        "JOIN ivfpqq ON ivfpqq.query_id = pqq.query_id AND ivfpqq.qcell = ivfpqcells.cell")})
        |  WHERE rank <= 10),
        |ivfpqrr AS (
        |  SELECT l_query, l_neighbor FROM (
        |    SELECT s.query_id AS l_query, s.neighbor_id AS l_neighbor,
        |     row_number() OVER (PARTITION BY s.query_id
        |       ORDER BY $qcosSql DESC, s.neighbor_id ASC) AS rank
        |    FROM ivfpqsl s
        |    JOIN qv0 a ON a.vec_id = s.query_id
        |    JOIN qv0 b ON b.vec_id = s.neighbor_id)
        |  WHERE rank <= 3),
        |rqv AS (SELECT a.vec_id,
        |   list_transform(generate_series(1, ${SignLsh.Dim}), i -> a.qv[i] - c.cv[i]) AS qv,
        |   a.cell
        |  FROM kasn a JOIN kc2 c ON a.cell = c.cent_id),
        |${pqAdcCtes("rqv", "r")},
        |rcells AS (SELECT vec_id, cell FROM rqv),
        |rqcells AS (SELECT vec_id AS query_id, cell AS qcell FROM rqv WHERE vec_id < 10),
        |ivfpqres AS (
        |  SELECT query_id AS l_query, neighbor_id AS l_neighbor
        |  FROM (${pqAdcRankSqlWith(
      "JOIN rcells ON rcells.vec_id = rcodes.vec_id " +
        "JOIN rqcells ON rqcells.query_id = rpqq.query_id AND rqcells.qcell = rcells.cell",
      "r")})
        |  WHERE rank <= 3)
        |${recallSql("single", "single_16bit")}
        |UNION ALL
        |${recallSql("multi", "multiprobe_h1")}
        |UNION ALL
        |${recallSql("banded", "banded_4x8")}
        |UNION ALL
        |${recallSql("ivf", "ivf_nprobe1")}
        |UNION ALL
        |${recallSql("pqadc", "pq_adc")}
        |UNION ALL
        |${recallSql("ivfpq", "ivf_pq")}
        |UNION ALL
        |${recallSql("ivfpqrr", "ivf_pq_rerank")}
        |UNION ALL
        |${recallSql("ivfpqres", "ivf_pq_residual")}""".stripMargin
    },
    "knn_ivf" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < $IvfCentroids),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
        |              c.cent_id ASC) AS crn
        |  FROM embeddings e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM scored WHERE crn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM assigned WHERE vec_id < 10)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.query_id, a.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY list_cosine_similarity(q.qv::DOUBLE[], a.embedding::DOUBLE[]) DESC,
        |              a.vec_id ASC) AS rank
        |  FROM q JOIN assigned a ON q.cell = a.cell AND q.query_id <> a.vec_id)
        |WHERE rank <= 10""".stripMargin,
    "knn_ivf_nprobe" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < $IvfCentroids),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
        |              c.cent_id ASC) AS crn
        |  FROM embeddings e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM scored WHERE crn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, cent_id AS cell
        |      FROM scored WHERE crn <= 2 AND vec_id < 10)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.query_id, a.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY list_cosine_similarity(q.qv::DOUBLE[], a.embedding::DOUBLE[]) DESC,
        |              a.vec_id ASC) AS rank
        |  FROM q JOIN assigned a ON q.cell = a.cell AND q.query_id <> a.vec_id)
        |WHERE rank <= 10""".stripMargin,
    "knn_ivf_kmeans" ->
      s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
        |c0 AS (SELECT vec_id AS cent_id, qv AS cv FROM qv0 WHERE vec_id < $KmeansK),
        |a1 AS (${kmAssignSql("qv0", "c0")}),
        |c1 AS (${kmUpdateSql("a1")}),
        |a2 AS (${kmAssignSql("qv0", "c1")}),
        |c2 AS (${kmUpdateSql("a2")}),
        |assigned AS (${kmAssignSql("qv0", "c2")}),
        |q AS (SELECT vec_id AS query_id, qv, cell FROM assigned WHERE vec_id < 10)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT a.query_id, b.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY a.query_id
        |     ORDER BY $qcosSql DESC, b.vec_id ASC) AS rank
        |  FROM (SELECT query_id, qv, cell FROM q) a
        |  JOIN assigned b ON a.cell = b.cell AND a.query_id <> b.vec_id)
        |WHERE rank <= 10""".stripMargin,
    "embedding_neardup" -> {
      val bandSelects = (0 until 4).map(b =>
        s"SELECT vec_id, qv, $b AS band, ${SignLsh.bandSql(NearDupBits, b)} AS band_key FROM qq")
        .mkString(" UNION ALL ")
      s"""WITH qq AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
        |banded AS ($bandSelects)
        |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
        |WHERE $qcosSql >= 0.4""".stripMargin
    },
    "matryoshka_recall" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        |full10 AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, a.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY list_cosine_similarity(q.qv, a.v) DESC, a.vec_id ASC) AS rank
        |  FROM q JOIN v a ON q.query_id <> a.vec_id) WHERE rank <= 10),
        |tr10 AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, a.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY list_cosine_similarity(q.qv[1:16], a.v[1:16]) DESC, a.vec_id ASC) AS rank
        |  FROM q JOIN v a ON q.query_id <> a.vec_id) WHERE rank <= 10),
        |o AS (SELECT f.query_id, count(*) AS n
        |      FROM full10 f JOIN tr10 t
        |        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        |      GROUP BY 1)
        |SELECT q.query_id, coalesce(o.n, 0)::BIGINT AS hits_at_10
        |FROM q LEFT JOIN o ON q.query_id = o.query_id""".stripMargin,
    // exact-integer replay: per-(label, dim) sufficient statistics, the
    // n²-scaled squared distance, top-3 per label with vec_id ties
    "embedding_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding::DOUBLE[], x -> floor(x * 1000)::BIGINT) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, qv, unnest(generate_series(1, len(qv))) AS dim FROM q),
        |x AS (SELECT vec_id, label, dim, qv[dim] AS qx FROM e),
        |c AS (SELECT label, dim, sum(qx)::BIGINT AS s, count(*)::BIGINT AS n
        |      FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label,
        |       sum((c.n * x.qx - c.s) * (c.n * x.qx - c.s))::BIGINT AS d2n2
        |      FROM x JOIN c USING (label, dim) GROUP BY 1, 2),
        |r AS (SELECT label::BIGINT AS label,
        |       row_number() OVER (PARTITION BY label ORDER BY d2n2 DESC, vec_id ASC)::BIGINT AS rnk,
        |       vec_id, d2n2
        |      FROM d)
        |SELECT label, rnk, vec_id, d2n2 FROM r WHERE rnk <= 3""".stripMargin,
    "semdedup_cells" ->
s"""WITH qv0 AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
        |$kmCellsCtes,
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM kasn a JOIN kasn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE $qcosSql >= $SemdedupTau)
        |SELECT k.vec_id, k.cell, coalesce(d.vec_id IS NOT NULL, false) AS dropped
        |FROM kasn k LEFT JOIN dups d ON k.vec_id = d.vec_id""".stripMargin,
    // the greedy MMR trajectory unrolled: step 1 is pure relevance, each
    // later step re-scores the unpicked pool against the selected set's
    // max pairwise dot (all exact int64 — the trajectory can't diverge)
    "mmr_rerank" ->
      s"""WITH v AS (SELECT vec_id, ${SignLsh.quantSql} AS qv FROM embeddings),
        |q AS (SELECT vec_id AS qid, qv AS qqv FROM v WHERE vec_id < 5),
        |rel AS (SELECT q.qid, a.vec_id AS cid,
        |         CAST(list_dot_product(q.qqv, a.qv) AS BIGINT) AS rel, a.qv
        |        FROM q JOIN v a ON q.qid <> a.vec_id),
        |c AS (SELECT qid, cid, rel, qv FROM (
        |       SELECT *, row_number() OVER (PARTITION BY qid
        |         ORDER BY rel DESC, cid ASC) AS rn FROM rel) WHERE rn <= $MmrCands),
        |pair AS (SELECT x.qid, x.cid AS ai, y.cid AS bi,
        |          CAST(list_dot_product(x.qv, y.qv) AS BIGINT) AS s
        |         FROM c x JOIN c y ON x.qid = y.qid AND x.cid <> y.cid),
        |s1 AS (SELECT qid, cid, 7*rel AS score FROM (
        |        SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
        |          ORDER BY 7*rel DESC, cid ASC) AS rn FROM c) WHERE rn = 1),
        |p2 AS (SELECT p.qid, p.ai AS cid, max(p.s) AS pen
        |       FROM pair p JOIN s1 ON p.qid = s1.qid AND p.bi = s1.cid GROUP BY 1, 2),
        |s2 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 7*c.rel - 3*p2.pen AS score,
        |         row_number() OVER (PARTITION BY c.qid
        |           ORDER BY 7*c.rel - 3*p2.pen DESC, c.cid ASC) AS rn
        |        FROM c JOIN p2 ON c.qid = p2.qid AND c.cid = p2.cid) WHERE rn = 1),
        |sel2 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM s2),
        |p3 AS (SELECT p.qid, p.ai AS cid, max(p.s) AS pen
        |       FROM pair p JOIN sel2 t ON p.qid = t.qid AND p.bi = t.cid
        |       WHERE NOT EXISTS (SELECT 1 FROM sel2 z WHERE z.qid = p.qid AND z.cid = p.ai)
        |       GROUP BY 1, 2),
        |s3 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 7*c.rel - 3*p3.pen AS score,
        |         row_number() OVER (PARTITION BY c.qid
        |           ORDER BY 7*c.rel - 3*p3.pen DESC, c.cid ASC) AS rn
        |        FROM c JOIN p3 ON c.qid = p3.qid AND c.cid = p3.cid) WHERE rn = 1),
        |sel3 AS (SELECT qid, cid FROM sel2 UNION ALL SELECT qid, cid FROM s3),
        |p4 AS (SELECT p.qid, p.ai AS cid, max(p.s) AS pen
        |       FROM pair p JOIN sel3 t ON p.qid = t.qid AND p.bi = t.cid
        |       WHERE NOT EXISTS (SELECT 1 FROM sel3 z WHERE z.qid = p.qid AND z.cid = p.ai)
        |       GROUP BY 1, 2),
        |s4 AS (SELECT qid, cid, score FROM (
        |        SELECT c.qid, c.cid, 7*c.rel - 3*p4.pen AS score,
        |         row_number() OVER (PARTITION BY c.qid
        |           ORDER BY 7*c.rel - 3*p4.pen DESC, c.cid ASC) AS rn
        |        FROM c JOIN p4 ON c.qid = p4.qid AND c.cid = p4.cid) WHERE rn = 1)
        |SELECT qid AS query_id, cid AS selected_id, CAST(1 AS BIGINT) AS mmr_rank, score AS mmr_score FROM s1
        |UNION ALL SELECT qid, cid, 2, score FROM s2
        |UNION ALL SELECT qid, cid, 3, score FROM s3
        |UNION ALL SELECT qid, cid, 4, score FROM s4""".stripMargin,
  )
}
