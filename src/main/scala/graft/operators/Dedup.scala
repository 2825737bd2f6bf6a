package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Deduplication suite for a training-data pipeline: exact (content hash),
  * n-gram Jaccard, MinHash+LSH banding, and SimHash with banded Hamming
  * search.
  *
  * All hash functions are md5-derived (a primitive DuckDB shares), so every
  * stage — including the LSH band keys — is oracle-verifiable, not just
  * rows-counted.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-groupBy: shuffle carries (fp, doc_id) pairs
  *    only, never document bodies.
  *  - Brute-force Jaccard over all pairs is O(n²) and exists as the
  *    verification baseline; MinHash+LSH is the scale path — candidate
  *    generation is an equi-join on (band, band_signature), so the shuffle
  *    key-space is bounded by the signature space and only near-identical
  *    docs ever meet. Skewed bands (e.g. boilerplate-heavy corpora) are
  *    handled by AQE skew-join splitting.
  *  - SimHash pair search joins on 16-bit signature chunks (pigeonhole:
  *    any pair within Hamming distance 3 of a 64-bit signature shares at
  *    least one of 4 chunks) — again an equi-join, no cross product.
  */
object Dedup {

  /** Ensure a row-explosive stage has cluster-wide parallelism: a small
    * source file (one row-group, unsplittable — byte-range splits can't
    * help) would otherwise pin the entire explode+hash expansion onto one
    * task. No-op when the scan is already wide (the 100 TB case — real
    * inputs are many files and split into thousands of tasks).
    *
    * The probe is `inputFiles` (served from the relation's cached
    * FileIndex listing) — NOT `df.rdd.getNumPartitions`, which would force
    * RDD-lineage construction on every query build.
    *
    * The spread is HASH(doc_id), not round-robin: every downstream
    * consumer aggregates or windows per doc_id, and HashPartitioning on a
    * subset of the grouping keys satisfies their ClusteredDistribution —
    * so the explode/hash stage AND its per-doc aggregate run in the same
    * partitioning with no further exchange (measured: 3 exchanges → 1 on
    * the simhash signature pipeline).
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length * 2 < target) df.repartition(target, col("doc_id")) else df
  }

  /** Input-derived partition count for frames that are CACHED and then fed
    * to several downstream stages: a cached plan keeps its static partition
    * count (AQE may not change a cached plan's output partitioning), so
    * without this every consumer stage inherits `spark.sql.shuffle.
    * partitions` splinter partitions regardless of data volume. One
    * partition per ~32 MB of SOURCE bytes (the optimizer's relation size —
    * the cached derivative is the same order), floor 1: a fixture-scale
    * cache collapses to a handful of real partitions, a 100 TB input gets
    * thousands — the same sizing AQE coalescing would pick for an uncached
    * exchange (guide §2.2: 100 MB-1 GB post-compression partitions).
    */
  def adaptiveParts(src: DataFrame, bytesPerPart: Long = 32L << 20): Int = {
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
    // scale term: ~32 MB of source bytes per partition. Parallelism floor:
    // below one core-count of scale-term partitions, still spread the work
    // over the cores the data can keep busy (~256 KB each) rather than
    // serializing a CPU-heavy join onto one task.
    val scale = bytes / bytesPerPart + 1
    val floor = (bytes / (256L << 10) + 1)
      .min(BigInt(src.sparkSession.sparkContext.defaultParallelism))
    scale.max(floor).min(BigInt(1 << 16)).toInt
  }

  /** Word 5-gram shingles per document, WITH duplicates (docs with <5 words
    * have no shingles and drop out of near-dup detection on both engines).
    * Pure map-side: no shuffle. Generation runs through the native
    * [[graft.plans.WordNgrams]] generator — the HOF formulation
    * (`explode(transform(sequence(...), i -> array_join(slice(...))))`)
    * evaluates its lambda interpreted per shingle and materializes the
    * whole shingle array per doc before exploding (the measured 15-25×
    * HOF pitfall); the generator streams shingles row-at-a-time.
    */
  def shinglesRaw(docs: DataFrame): DataFrame = {
    widen(docs)
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .filter(size(col("words")) >= 5)
      .selectExpr("doc_id", "word_ngrams(words, 5)")
      .select(col("doc_id"), col("shingle"))
  }

  /** Distinct shingle sets (one shuffle) — what Jaccard is defined over. */
  def shingles(docs: DataFrame): DataFrame =
    shinglesRaw(docs).distinct()

  /** Exact dedup via normalized-content md5: groups of identical docs, the
    * surviving id (min), and multiplicity.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(TextPipeline.normalize(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** EXACT set-similarity join via prefix filtering (the PPJoin family,
    * Chaudhuri/Xiao et al.) — same answer as brute-force [[ngramJaccardOn]]
    * with far fewer candidates, and NO false negatives (unlike LSH):
    * order each doc's shingles by ascending document frequency (rarest
    * first) under one global total order; if J(A,B) ≥ t, the first
    * n - ⌈t·n⌉ + 1 shingles of A and of B must share an element, so the
    * equi-join on PREFIX shingles alone generates every qualifying pair.
    * The prefix is computed for t' = 0.7999 (just under the reported 0.8)
    * so pairs whose 4-decimal ROUNDED Jaccard reaches 0.8 are also covered.
    *
    * Oracle = the brute-force `dedup_ngram_jaccard` SQL verbatim: the gate
    * proves algorithm equivalence, not just value agreement. Shape: one
    * df-count agg + one shingle⋈df join + per-doc rank window + prefix
    * equi-join — candidate volume ∝ docs sharing a RARE shingle, never
    * all-pairs; the frequent (boilerplate) shingles that explode a naive
    * token join are exactly the ones the prefix excludes.
    */
  def setSimJoinPrefix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = shingles(docs).cache()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // CACHED (r14): the prefix pipeline (df join + rank/size windows) fed
    // BOTH sides of the self-join and was computed twice — AQE exchange
    // reuse dedupes only the exchange below the windows, not the
    // sort+window+filter above it. One cached computation halves the
    // heaviest stage chain (measured: the duplicated Window/Sort pair
    // disappears from the plan). `n` (the doc's shingle-set size) rides
    // along so the pair sizes arrive WITH the candidate — the separate
    // `sizes` aggregate and its two post-aggregation joins are gone.
    //
    // REPARTITIONED BEFORE THE WINDOWS (r15): cached plans keep their
    // static partition count — AQE may not change a cached plan's output
    // partitioning — so the r14 cache pinned `spark.sql.shuffle.partitions`
    // splinter partitions into every downstream stage (10 × 32-task stages
    // at fixture scale). The explicit repartition is keyed `doc_id` and
    // placed UNDER the windows, so it REPLACES the window exchange
    // (HashPartitioning(doc_id, N) satisfies both windows' required
    // distribution) instead of adding one — same exchange count as r14 at
    // every scale, input-derived width (guide §2.1/§2.4).
    val prefix = sh.join(dfreq, "shingle")
      .repartition(adaptiveParts(docs), col("doc_id"))
      .withColumn("r", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(perDoc))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(0.7999)) + 1)
      .select("doc_id", "shingle", "n")
      .cache()
    // PPJoin LENGTH filter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair
    // the final predicate keeps (round(J,4) ≥ 0.8 ⇔ J ≥ 0.79995) satisfies
    // min/max ≥ 0.79995 > 0.7999 — filtering candidates at 0.7999 can never
    // drop a qualifying pair. IN THE JOIN CONDITION (r15): an inner join's
    // residual condition is evaluated at probe time, so size-mismatched
    // candidates die before the joined row is ever materialized (§3.2).
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.n"), col("b.n")).cast("double")
             >= greatest(col("a.n"), col("b.n")) * lit(0.7999))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    val common = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("common"))
    common
      .select(col("doc_a"), col("doc_b"),
        round(col("common") / (col("na") + col("nb") - col("common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Threshold sensitivity curve — how many near-dup pairs each Jaccard
    * cutoff admits (0.7 / 0.8 / 0.9), from ONE intersection pass: the
    * tuning table you build before committing a dedup threshold. Same
    * plan as the brute-force pairs plus a 3-row unpivot of conditional
    * sums — the thresholds share every join.
    */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir)).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val j = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(round(col("common") / (col("sa.n") + col("sb.n") - col("common")).cast("double"), 4)
        .as("jaccard"))
    j.agg(
        sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)).as("t70"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("t80"),
        sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("t90"))
      .selectExpr("stack(3, CAST(0.7 AS DOUBLE), t70, CAST(0.8 AS DOUBLE), t80, CAST(0.9 AS DOUBLE), t90) AS (threshold, n_pairs)")
  }

  /** Per-document duplicated-span coverage — the substring-dedup metric of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022, public): for each document, the fraction of its words that
    * fall inside at least one 5-word window whose text also occurs verbatim
    * in a DIFFERENT document. Exact-dedup says "drop identical docs";
    * near-dedup says "drop similar docs"; span coverage is the per-doc
    * severity signal that decides between dropping the doc and excising
    * the repeated span.
    *
    * Shape (no all-pairs anywhere): positioned shingles from the native
    * [[graft.plans.WordNgrams]] generator → one df aggregate keyed by
    * shingle (cross-doc test is `count(DISTINCT doc_id) >= 2`, so a phrase
    * repeated only WITHIN one doc does not count) → equi-join positions
    * back on the duplicated-shingle set → 5× position fan-out →
    * `count(DISTINCT pos)` per doc. At 100 TB every stage is linear in the
    * shingle stream and shuffles carry (shingle) or (doc_id, pos) pairs,
    * never document bodies; the duplicated-shingle side of the join is df-
    * filtered, i.e. exactly the boilerplate-heavy tail, and can be
    * broadcast when the corpus is mostly clean.
    */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageOn(widen(Tables.documents(spark, dir)))

  /** SHINGLE NOVELTY scoring — the per-document "how much of this have I
    * already ingested" fraction a crawl pipeline uses to rank or drop
    * stale sources (the scoring cousin of [[spanCoverageOn]], which
    * measures overlap with ANY other doc; novelty is directional —
    * overlap with EARLIER docs only, doc_id standing in for ingestion
    * order). Each distinct 5-word shingle's first-seeing doc is computed
    * once (min over the shingle group), joined back, and the per-doc
    * novel fraction emitted in exact ppm. At 100 TB both stages are
    * shingle-keyed equi-shuffles (never bodies); boilerplate shingles
    * are the hot keys and AQE skew-split applies, same posture as every
    * shingle op here.
    */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir))
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") < col("doc_id"), 1)).as("n_seen_before"))
      .withColumn("novel_ppm",
        expr("(n_shingles - n_seen_before) * 1000000L div n_shingles"))
  }

  /** 0-based word positions of [[spanCoverageOn]]/[[spanExciseOn]]'s
    * duplicated spans: distinct (doc_id, p) pairs where word p sits inside
    * a 5-word window whose text also occurs in another document.
    */
  private def spanCoveredPositions(words: DataFrame): DataFrame = {
    val pos = words.filter(size(col("words")) >= 5)
      .selectExpr("doc_id", "word_ngrams(words, 5)") // (doc_id, pos, shingle)
    val crossDoc = pos.groupBy("shingle")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("shingle")
    pos.join(crossDoc, "shingle")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 4)).as("p"))
      .distinct()
  }

  private def docWords(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
  }

  def spanCoverageOn(docs: DataFrame): DataFrame = {
    val words = docWords(docs)
    val covered = spanCoveredPositions(words)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("covered"))
    words.select(col("doc_id"), size(col("words")).cast("long").as("n_words"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("covered"), lit(0L)).as("covered_words"),
        round(coalesce(col("covered"), lit(0L)) * 1.0 / col("n_words"), 4).as("dup_frac"))
  }

  /** The REMEDIATION twin of [[spanCoverageOn]] — what Lee et al. actually
    * do to the corpus: rewrite each document with every duplicated-span
    * word REMOVED (rather than dropping whole near-dup docs, which wastes
    * the unique remainder). The covered-position set rides a `collect_set`
    * per doc (bounded by doc length, not corpus size) and the rewrite is a
    * codegen'd indexed `filter` lambda over the word array — map-side, no
    * per-token explode of the corpus. Same shuffle posture as coverage:
    * keys are (shingle) then (doc_id), bodies shuffle once as word arrays.
    */
  def spanExcise(spark: SparkSession, dir: String): DataFrame =
    spanExciseOn(widen(Tables.documents(spark, dir)))

  def spanExciseOn(docs: DataFrame): DataFrame = {
    val words = docWords(docs)
    val covered = spanCoveredPositions(words)
      .groupBy("doc_id")
      .agg(collect_set("p").as("cov"))
    words.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), typedLit(Array.empty[Int])))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        (size(col("words")) - size(col("cov"))).cast("long").as("n_kept"),
        array_join(filter(col("words"),
          (_, i) => !array_contains(col("cov"), i)), " ").as("clean_text"))
  }

  /** Consensus view across the three dedup detectors — the composition a
    * real pipeline ships: per document, whether EXACT (fingerprint group
    * > 1), MINHASH-LSH (endpoint of a verified near-dup pair), and/or
    * SIMHASH (endpoint of a Hamming≤3 pair) flagged it, plus the method
    * count. Each detector's doc set is distinct before the union, so the
    * merge is one exchange over (doc_id, method) pairs — flag volume,
    * never corpus volume.
    */
  def dedupConsensus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val exactD = fingerprints(docs)
      .withColumn("n", count(lit(1)).over(w)).filter(col("n") > 1)
      .select(col("doc_id")).distinct()
    def endpoints(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val flags = exactD.withColumn("m", lit(1))
      .unionByName(endpoints(minhashLsh(spark, dir)).withColumn("m", lit(2)))
      .unionByName(endpoints(simhashPairs(spark, dir)).withColumn("m", lit(4)))
    flags.groupBy("doc_id")
      .agg(sum(when(col("m") === 1, 1).otherwise(0)).as("e"),
        sum(when(col("m") === 2, 1).otherwise(0)).as("mh"),
        sum(when(col("m") === 4, 1).otherwise(0)).as("sh"),
        count(lit(1)).as("n_methods"))
      .select(col("doc_id"), (col("e") > 0).as("by_exact"),
        (col("mh") > 0).as("by_minhash"), (col("sh") > 0).as("by_simhash"),
        col("n_methods"))
  }

  /** Degree distribution of the verified near-dup graph — the fourth graph
    * primitive (after CC, PageRank, triangles): per-node degree over the
    * LSH-verified pair set, then the count-of-counts histogram. Two small
    * aggregates over the (tiny, derived) edge list; the corpus never joins.
    */
  def graphDegrees(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
    val degrees = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    degrees.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** K-hop reachability (k=2) over the verified near-dup graph — the
    * friend-of-friend expansion used to pull in transitive near-duplicates
    * one LSH pass missed: per node, how many distinct documents sit within
    * two hops. Set-based hop joins (edges ⋈ edges on the midpoint), NOT a
    * per-row walk: candidate volume is bounded by sum of degree² — the
    * scalable BFS-frontier shape, each hop one distributed equi-join on
    * the (tiny, derived) edge list. Contrast with `recursive_cte`, which
    * demonstrates the per-chain recursion surface on an acyclic hierarchy;
    * cyclic graphs get the bounded-hop join form.
    */
  def graphKhop(spark: SparkSession, dir: String): DataFrame =
    graphKhopOn(minhashLsh(spark, dir).select("doc_a", "doc_b"))

  def graphKhopOn(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
    val hop2 = edges.as("e1")
      .join(edges.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("doc_a"), col("e2.doc_b").as("doc_b"))
    edges.unionAll(hop2)
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_within_2_hops"))
  }

  /** BFS seed rule: graph nodes with doc_id ≡ 0 (mod [[BfsSeedMod]]).
    * 10 is calibrated to the fixture: the sf0.01 near-dup graph has only
    * 47 nodes, and sparser rules (97) select ZERO seeds — the vacuous-pass
    * trap (see BACKLOG fixture-calibration pitfall); DedupSpec asserts
    * non-emptiness.
    */
  val BfsSeedMod = 10L

  /** Multi-source BFS levels over the verified near-dup graph — the fifth
    * graph primitive (after CC, PageRank, triangles, k-hop): distance in
    * hops from the nearest seed node, for every reachable node. The
    * frontier loop is the canonical distributed BFS: each round joins the
    * CURRENT frontier (shrinking) against the edge list, anti-joins the
    * visited set, and stops at the empty-frontier fixpoint — jobs ∝
    * eccentricity of the seed set, plan size constant per round
    * (`localCheckpoint` truncates lineage; the frontier count rides the
    * checkpoint job via `Observation`, adding no extra action). The
    * oracle mirrors the FIXPOINT as a bounded recursive closure whose
    * min(level) per node is exactly what first-visit BFS assigns.
    */
  def graphBfsLevels(spark: SparkSession, dir: String): DataFrame =
    graphBfsLevelsOn(minhashLsh(spark, dir).select("doc_a", "doc_b").cache())

  def graphBfsLevelsOn(pairs: DataFrame): DataFrame = {
    // keyed repartition + checkpoint instead of distinct().cache(): the
    // dedup aggregate plans WITHOUT its own exchange over hash(doc_a)
    // (doc_a ⊆ the dedup keys), AQE sizes the partitions at
    // materialization (a cached plan would freeze the static splinter
    // count), and every round's frontier join probes edges by doc_a — the
    // key it is now clustered on.
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(col("doc_a"))
      .dropDuplicates()
      .localCheckpoint()
    var levels = edges
      .select(col("doc_a").as("doc_id")).distinct()
      .filter(col("doc_id") % BfsSeedMod === 0)
      .withColumn("level", lit(0L))
      .localCheckpoint()
    var frontier = levels
    var frontierN = frontier.count()
    var round = 0
    while (frontierN > 0) {
      round += 1
      require(round <= 64, "bfs did not converge in 64 rounds")
      val obs = org.apache.spark.sql.Observation(s"bfs_frontier_$round")
      val next = frontier
        .join(edges, col("doc_id") === col("doc_a"))
        .select(col("doc_b").as("doc_id"), (col("level") + 1).as("level"))
        .groupBy("doc_id").agg(min("level").as("level"))
        .join(levels.select(col("doc_id").as("seen")),
          col("doc_id") === col("seen"), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      frontierN = obs.get("n").asInstanceOf[Long]
      // union of per-round checkpointed leaves: plan grows by one scan per
      // round, never by the round's lineage
      levels = levels.unionAll(next)
      frontier = next
    }
    levels
  }

  /** Golden-record survivorship — [[exact]] with an explicit rule instead
    * of min-id: within each duplicate group, keep the RICHEST record
    * (max n_chars, then min doc_id as the deterministic tie-break among
    * byte-identical copies). The entity-resolution pattern: the rule is a
    * window rank inside the fingerprint partition, so the whole operator
    * is one exchange on `fp`; survivor choice never compares documents
    * pairwise.
    */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame =
    goldenRecordOn(Tables.documents(spark, dir))

  def goldenRecordOn(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("n_chars").desc, col("doc_id").asc)
    docs
      .select(col("doc_id"), col("n_chars"), md5(TextPipeline.normalize(col("text"))).as("fp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("survivor_id"), col("n_chars"), col("n_dups"))
  }

  /** Sorted-neighborhood window size (positions, not documents). */
  val SnmWindow = 10

  /** Sorted-neighborhood dedup (Hernández/Stolfo) — the third classic
    * blocking family next to LSH banding and prefix filtering: sort the
    * corpus by a cheap blocking key (here the first 32 chars of the
    * trimmed text), slide a window of [[SnmWindow]] positions, and verify
    * only window-mates with the exact shingle Jaccard at 0.8. Two scale
    * moves keep it distributed: the global rank comes from a
    * range-partitioned sort + `zipWithIndex` (no single-partition window),
    * and the rank-distance join is a bin-replication equi-join on the rank
    * block `rnk div w` (each left row replicated to its own and the next
    * block — a pair within `w` crosses at most one boundary), so candidate
    * volume is exactly N·w, never all-pairs. Recall is bounded by the
    * blocking key (near-dups that differ in their first 32 chars sort
    * apart — the classic SNM trade, which multi-pass SNM with a second key
    * would recover); the fixture's near-dups share prefixes, so the gate
    * holds pairs found == brute-force pairs.
    */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodOn(Tables.documents(spark, dir))

  def sortedNeighborhoodOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val w = SnmWindow
    val sorted = docs
      .select(col("doc_id"), substring(trim(col("text")), 1, 32).as("k"))
      .orderBy(col("k").asc, col("doc_id").asc)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("rnk", org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row(row.getLong(0), idx + 1L)
      }, schema)
    val aRep = ranked
      .select(col("doc_id").as("id_a"), col("rnk").as("rnk_a"))
      .withColumn("blk", explode(array(expr(s"rnk_a div $w"), expr(s"rnk_a div $w + 1"))))
    val b = ranked
      .select(col("doc_id").as("id_b"), col("rnk").as("rnk_b"), expr(s"rnk_b div $w").as("blk"))
    val cand = aRep.join(b, "blk")
      .filter(col("rnk_b") > col("rnk_a") && col("rnk_b") <= col("rnk_a") + w)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    val sh = shingles(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common") / (col("za.n") + col("zb.n") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Brute-force n-gram Jaccard near-dup pairs (threshold 0.8) — the exact
    * baseline the LSH variant approximates.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(Tables.documents(spark, dir))

  /** Core brute-force Jaccard over any (doc_id, text) frame (unit-testable). */
  def ngramJaccardOn(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common") / (col("sa.n") + col("sb.n") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** MinHash hash family: ONE md5 per shingle (the expensive primitive),
    * then 16 cheap universal hashes `(aᵢ·h + cᵢ) mod P` derived from it —
    * 16× less hashing than md5-per-(i,shingle). Constants are inlined into
    * both the Spark plan and the DuckDB oracle from this single definition;
    * aᵢ < 2³¹ keeps aᵢ·h < 2⁶³ (no signed-overflow divergence between
    * engines).
    */
  val MinhashP = 4294967291L // largest prime < 2^32
  val MinhashK = 16
  val MinhashA: Seq[Long] = (0 until MinhashK).map(i => 1099087573L + 2L * i)
  val MinhashC: Seq[Long] = (0 until MinhashK).map(i => (2246822519L * (i + 1)) % MinhashP)

  /** MinHash signatures (16 derived hash functions over shingles), banded
    * 4×4 for LSH; candidates = equi-join on band signature, then
    * exact-Jaccard verification at 0.8. Emits verified near-dup pairs —
    * same semantics as [[ngramJaccard]] restricted to LSH candidates.
    *
    * Shape (all codegen'd, zero broadcast barriers, ONE job DAG):
    *   1. Signature: min() is duplicate-insensitive, so signatures are
    *      computed over the RAW shingle stream — md5 once per shingle ROW
    *      (whole-stage codegen; higher-order array-function variants were
    *      measured 15–25× slower because HOF lambdas evaluate interpreted),
    *      then one partial/final min aggregate (≤ K longs per doc per
    *      partition crosses the wire, never shingles).
    *   2. Candidates: band the signature 4×4 and self-equi-join on
    *      (band, band_sig) — only near-identical docs ever meet; AQE
    *      skew-join splits hot (boilerplate) bands.
    *   3. Verification: exact Jaccard at 0.8 via two SHUFFLE joins of the
    *      distinct candidate pairs against a map-side per-doc shingle-SET
    *      table. Shuffle joins keep the whole query a single job — the
    *      round-1 broadcast variant planned 3 sequential jobs, each forcing
    *      the band pipeline to materialize before the next could start,
    *      which dominated wall-clock on a contended cluster.
    */
  /** LSH candidate pairs (pre-verification): MinHash signatures banded
    * 4×4, self-equi-join on (band, band_sig). Shared by [[minhashLsh]]
    * (which verifies at Jaccard 0.8) and [[lshRecall]] (which measures
    * this stage against exact ground truth).
    */
  /** MinHash signature table (doc_id, m0..m15) — the min of each derived
    * universal hash over the raw shingle stream (min is duplicate-
    * insensitive, so no distinct is needed upstream).
    */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame = {
    val raw = shinglesRaw(docs)
    val minExprs = (0 until MinhashK).map(i =>
      min((col("b32") * MinhashA(i) + MinhashC(i)) % MinhashP).as(s"m$i"))
    raw
      .withColumn("b32", conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long"))
      .groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
  }

  /** 4×4 banding of a signature table (doc_id, m0..m15) → 4 rows per doc
    * (doc_id, band, band_sig) — the LSH bucket key. Shared with the
    * streaming near-dup, whose static corpus side must band identically.
    */
  private[graft] def bandRows(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      s"$b, concat_ws('_', ${(0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")})")
    sig.selectExpr("doc_id", s"stack(4, ${bandCols.mkString(", ")}) AS (band, band_sig)")
  }

  private[graft] def lshCandidates(docs: DataFrame): DataFrame = {
    // CACHED (r14): both sides of the band self-join recompute the whole
    // shingle+md5+16-min-agg signature pipeline — AQE exchange reuse dedupes
    // only the scan-side exchange BELOW the aggregation, so the expensive
    // aggregate ran twice. Caching the signature table (n_docs × 17 ints,
    // the canonical LSH materialization point — tiny next to the corpus,
    // spills gracefully) computes it once: measured 1.73 → 1.25 s at sf0.1
    // (7-run medians; jobs 5 → 7 — the fill job costs less than the saved
    // recompute). Caching the downstream BANDS or the shingle-set arrays
    // instead was re-measured NEGATIVE (1.87 s, 10 jobs), consistent with
    // the round-3 finding — the shingle-set broadcast is already reused.
    val bands = bandRows(minhashSignatures(docs).cache())
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(Tables.documents(spark, dir))
    val shingleSets = Tables.documents(spark, dir)
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"),
        array_distinct(expr("transform(sequence(0, size(words) - 5), i -> array_join(slice(words, i + 1, 5), ' '))"))
          .as("sset"))
    val withA = cand
      .join(shingleSets.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("sset").as("sa"))
    val withBoth = withA
      .join(shingleSets.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sset").as("sb"))
    withBoth
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb")))
          / (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb")))).cast("double"),
          4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** MinHash ESTIMATOR quality, pair by pair: for every LSH candidate,
    * the signature-agreement estimate of Jaccard (matching components /
    * 16 — the unbiased estimator LSH banding is built on) next to the
    * exact shingle-set Jaccard and the absolute error. This is the
    * calibration table for choosing K and the banding scheme: E[est] =
    * J, and the observed error at K=16 tells you how much resolution the
    * 4×4 bands actually have. est is i/16 (exactly representable — no
    * rounding hazard); exact is a raw quotient of ints (bit-stable).
    * Scale: candidates only (never all pairs); signatures join by doc id.
    */
  def minhashJaccardEst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sig = minhashSignatures(docs)
    val agree = (0 until MinhashK)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val withAgree = lshCandidates(docs).as("c")
      .join(sig.as("sa"), col("c.doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("c.doc_b") === col("sb.doc_id"))
      .select(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"),
        agree.as("n_agree"))
    val shingleSets = docs
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"),
        array_distinct(expr("transform(sequence(0, size(words) - 5), i -> array_join(slice(words, i + 1, 5), ' '))"))
          .as("sset"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val exact = inter /
      (size(col("sa")) + size(col("sb")) - inter).cast("double")
    withAgree
      .join(shingleSets.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .withColumnRenamed("sset", "sa")
      .join(shingleSets.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .withColumnRenamed("sset", "sb")
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree") / lit(16.0)).as("est_jaccard"),
        exact.as("exact_jaccard"),
        abs(col("n_agree") / lit(16.0) - exact).as("abs_err"))
  }

  /** LSH quality harness — the dedup analog of `knn_recall`: measures the
    * banded-MinHash candidate stage against exact all-pairs ground truth
    * (Jaccard ≥ 0.8, fixture-scale only — exact all-pairs is the thing LSH
    * exists to avoid at 100 TB). Recall = truth pairs surfaced as
    * candidates; precision = candidates that are true near-dups. One row;
    * ratios are exact integer divisions (bit-stable cross-engine), NULL
    * over an empty pair set as in DuckDB.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // both pair sets feed TWO consumers (their count and the hits join)
    // with different projections — cache, don't recompute the band/
    // brute-force pipelines (the ReusedExchange caveat from BACKLOG)
    val cand = lshCandidates(docs).cache()
    val truth = ngramJaccardOn(docs).select("doc_a", "doc_b").cache()
    val hits = truth.join(cand, Seq("doc_a", "doc_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        try_divide(col("n_hits").cast("double"), col("n_truth")).as("recall_frac"),
        try_divide(col("n_hits").cast("double"), col("n_candidates")).as("precision_frac"))
  }

  /** Incremental dedup — the operational "new batch vs existing corpus"
    * pattern: fingerprints of the incoming slice anti-joined against the
    * corpus fingerprint set (here the batch is doc_id ≥ 400, the corpus
    * the rest; in production the corpus side is the fingerprint table
    * maintained by previous runs). Anti-join on a 128-bit hash: the
    * corpus side shuffles fingerprints only, never bodies; a small batch
    * side broadcasts instead. Survivors also self-dedup within the batch
    * (keep min doc_id per fp — otherwise two new copies both survive).
    */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = fingerprints(Tables.documents(spark, dir))
    val corpus = fp.filter(col("doc_id") < 400).select("fp")
    fp.filter(col("doc_id") >= 400)
      .join(corpus, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp")
  }

  /** Normalized-content fingerprints — the only thing incremental dedup
    * ever persists or shuffles (never bodies).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(TextPipeline.normalize(col("text"))).as("fp"))

  /** Run N of the operational incremental-dedup loop: persist the corpus
    * fingerprint table BUCKETED BY `fp` — the pre-shuffle every future
    * batch's anti-join reuses. At 100 TB the corpus fingerprint table is
    * the large side of every run's anti-join; paying its shuffle once at
    * write time (and never again) is the point of the layout.
    */
  def writeCorpusFingerprints(docs: DataFrame, table: String, buckets: Int = 8): Unit =
    graft.sources.Sinks.writeBucketedTable(fingerprints(docs), table, "fp", buckets)

  /** Run N+1: anti-join the incoming batch against the PERSISTED corpus
    * fingerprint table. The corpus side scans bucket-aligned with the join
    * key, so the sort-merge anti-join plans with NO exchange on the corpus
    * side — only the (small) batch shuffles to match the bucket layout;
    * the post-join self-dedup then reuses that same fp partitioning
    * (`BucketingSpec` asserts exactly one exchange in the whole plan).
    */
  def incrementalAgainstCorpus(spark: SparkSession, batch: DataFrame,
      corpusTable: String): DataFrame =
    fingerprints(batch)
      .join(spark.table(corpusTable).select("fp"), Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp")

  /** Connected components over an undirected near-dup pair set: min-label
    * propagation iterated TO FIXPOINT — each round is one (edges ⋈ labels)
    * join + one min-aggregate, and the loop stops when a round changes zero
    * labels. This is the scale-correct big-CC loop: a fixed unrolled round
    * count under-merges any component whose diameter exceeds it (long
    * boilerplate chains are exactly where 100 TB dedup matters), while the
    * fixpoint loop runs diameter-many rounds and no more.
    *
    * Per round the new label frame is `localCheckpoint`ed (eager): one
    * materialization serves the next round's join, and the lineage is
    * truncated so the plan does not grow with the iteration count (the
    * classic iterative-algorithm DAG blowup). The changed-label count rides
    * the SAME job via `Dataset.observe` — an `Observation` aggregate
    * collected during the checkpoint materialization — instead of a second
    * count() job per round; on a scheduler that charges per job, that is a
    * third of the loop's barriers. Labels only ever decrease, so
    * `label < old_label` detects every change.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // keyed repartition WITHOUT an explicit count before the checkpoint:
    // AQE coalesces the exchange to advisory-sized partitions at
    // materialization (a bare union checkpoints its inputs' splinter
    // partitions — 64 near-empty partitions at fixture scale, re-walked by
    // EVERY propagation round), and the frame lands hash-clustered on
    // doc_b, the key every round's neighbor-lookup join probes it by.
    val edges = pairs.select("doc_a", "doc_b").unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(col("doc_b"))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    var changed = 1L
    var round = 0
    // MEASURED NEUTRAL (r15, do not re-try): composing TWO propagation
    // rounds per localCheckpoint (convergence judged on the second round —
    // sound, labels only decrease) cut 2 scheduler jobs but measured 1.85 s
    // vs 1.78 s 7-run medians at sf0.1: the doubled per-materialization
    // plan offsets the saved barriers. The simpler one-round loop stays.
    while (changed > 0) {
      round += 1
      require(round <= 64, "connected components did not converge in 64 rounds")
      val nbr = edges
        .join(labels.select(col("doc_id").as("nbr_id"), col("label").as("nbr_label")),
          col("doc_b") === col("nbr_id"))
        .groupBy(col("doc_a")).agg(min("nbr_label").as("nlabel"))
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$round")
      val next = labels
        .join(nbr, col("doc_id") === col("doc_a"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .observe(obs, sum(when(col("label") < col("old_label"), 1L).otherwise(0L)).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select("doc_id", "label")
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"),
      (col("doc_id") === col("label")).as("is_keeper"))
  }

  /** Near-dup CLUSTERS from the pairwise LSH output: the connected-
    * components step that turns pairs into dedup groups, plus the keeper
    * rule (cluster representative = min doc_id). The pair set is cached:
    * it is tiny (LSH output) and referenced by every propagation round —
    * recomputing the whole MinHash pipeline per round would dominate.
    * The oracle mirrors the FIXPOINT, not an iteration count: a recursive
    * transitive closure whose min reachable id per node is exactly what
    * converged min-label propagation computes.
    */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(spark, dir).select("doc_a", "doc_b").cache())

  /** 32-bit SimHash per document over its distinct normalized tokens
    * (bit b of the signature = sign of Σ ±1 votes from token-hash bit b).
    *
    * One groupBy with 32 conditional-sum columns (no 32× row explode, no
    * second aggregate): the shuffle carries 32 longs per (doc × partition),
    * and the signature is composed with plain arithmetic afterwards — the
    * same shape as the MinHash signature aggregate.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // branch-free bit sums (see [[simhash64]]): s_b > 0 ⇔ 2·popcount_b > n
    val bitSums = (0 until 32).map(b =>
      sum(expr(s"(h div ${1L << b}) % 2")).as(s"p$b"))
    val compose = (0 until 32)
      .map(b => when(col(s"p$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    TextPipeline.tokenize(widen(Tables.documents(spark, dir)))
      .distinct()
      .withColumn("h", conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id"), compose.as("simhash"))
  }

  /** 64-bit SimHash — the production signature width (Manku et al.'s
    * web-scale near-dup setting) — carried as TWO exact 32-bit halves
    * (`sim_hi`, `sim_lo`): every bit vote, compose, shift, and xor stays
    * inside non-negative 32-bit range on both engines, so no 64-bit
    * sign-bit or overflow semantics can diverge between Spark and the
    * oracle. Same single-aggregate shape as [[simhash]]: one groupBy with
    * 64 conditional sums (64 longs per doc × partition cross the wire).
    */
  def simhash64(spark: SparkSession, dir: String): DataFrame = {
    // vote sum s_b = 2·popcount_b − n, so "s_b > 0" ⇔ "2·popcount_b > n":
    // each aggregate is a branch-free bit sum (tiny codegen vs 64 CASEs)
    val bitSums = (0 until 64).map { b =>
      val h = if (b < 32) "h_lo" else "h_hi"
      sum(expr(s"($h div ${1L << (b % 32)}) % 2")).as(s"p$b")
    }
    def compose(off: Int) = (0 until 32)
      .map(b => when(col(s"p${off + b}") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    TextPipeline.tokenize(widen(Tables.documents(spark, dir)))
      .distinct()
      .withColumn("h_lo", conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
      .withColumn("h_hi", conv(substring(md5(col("word")), 9, 8), 16, 10).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id"), compose(32).as("sim_hi"), compose(0).as("sim_lo"))
  }

  /** Near-dup pairs by 64-bit SimHash Hamming distance ≤ 3 (Manku et al.'s
    * web-scale operating point), found via the 4-chunk pigeonhole band join
    * (no cross product): 16-bit chunks 0-1 slice `sim_lo`, 2-3 slice
    * `sim_hi`; any pair within Hamming 3 of 64 bits shares at least one of
    * the 4 chunks. The 16-bit chunk width is the candidate-volume lever:
    * 2¹⁶ bucket values vs 2⁸ for byte chunks — measured 6× fewer candidate
    * collisions on the vocabulary-dense fixture, and on real corpora a
    * random pair collides with probability ~4/65536 per chunk.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val s = simhash64(spark, dir).cache()
    val chunks = s
      .withColumn("c", explode(expr("sequence(0, 3)")))
      .withColumn("chunk_val", expr(
        """CASE WHEN c < 2
          | THEN (sim_lo div shiftleft(CAST(1 AS bigint), c * 16)) % 65536
          | ELSE (sim_hi div shiftleft(CAST(1 AS bigint), (c - 2) * 16)) % 65536 END""".stripMargin))
    // A pair colliding in k chunks appears k times off the join; keep it
    // ONLY at its first matching chunk. Both signatures are present in the
    // joined row, so this dedup is a pure MAP-SIDE filter — no distinct()
    // shuffle over the (quadratic-in-bucket-size) candidate stream.
    val chunkEq = (0 until 4).map {
      case c if c < 2 => s"((a.sim_lo ^ b.sim_lo) div ${1L << (c * 16)}) % 65536 = 0"
      case c          => s"((a.sim_hi ^ b.sim_hi) div ${1L << ((c - 2) * 16)}) % 65536 = 0"
    }
    val firstMatch = (0 until 4).map {
      case 0 => "a.c = 0"
      case c => s"(a.c = $c AND NOT (${chunkEq.take(c).mkString(" OR ")}))"
    }.mkString(" OR ")
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk_val") === col("b.chunk_val")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(expr(firstMatch))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.sim_lo ^ b.sim_lo)") + expr("bit_count(a.sim_hi ^ b.sim_hi)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> exact _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_sorted_neighborhood" -> sortedNeighborhood _,
    "dedup_containment" -> containment _,
    "dedup_minhash_lsh" -> minhashLsh _,
    "dedup_lsh_recall" -> lshRecall _,
    "minhash_jaccard_est" -> minhashJaccardEst _,
    "golden_record" -> goldenRecord _,
    "dedup_setsim_prefix" -> setSimJoinPrefix _,
    "graph_degrees" -> graphDegrees _,
    "graph_khop" -> graphKhop _,
    "graph_bfs_levels" -> graphBfsLevels _,
    "dedup_consensus" -> dedupConsensus _,
    "dedup_threshold_curve" -> thresholdCurve _,
    "dedup_clusters" -> nearDupClusters _,
    "doc_pagerank" -> docPageRank _,
    "graph_triangles" -> graphTriangles _,
    "dedup_incremental" -> incremental _,
    "dedup_simhash" -> simhash _,
    "dedup_simhash_pairs" -> simhashPairs _,
    "dedup_span_coverage" -> spanCoverage _,
    "shingle_novelty" -> shingleNovelty _,
    "dedup_span_excise" -> spanExcise _,
  )

  /** Dialect mirror of [[simhash]]'s 32-conditional-sum aggregate. */
  private val simhashCte: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val compose = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
      |  SELECT DISTINCT doc_id,
      |   unnest(${Oracle.tokens("text")}) AS word
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, word, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h
      |  FROM toks WHERE word <> ''),
      |sig AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
      |sh2 AS (SELECT doc_id, ($compose)::BIGINT AS simhash FROM sig)""".stripMargin
  }

  /** Dialect mirror of [[simhash64]]'s 64-conditional-sum aggregate. */
  private val simhash64Cte: String = {
    val bitSums = (0 until 64).map { b =>
      val h = if (b < 32) "h_lo" else "h_hi"
      s"sum(CASE WHEN ($h // ${1L << (b % 32)}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    def compose(off: Int) = (0 until 32)
      .map(b => s"(CASE WHEN s${off + b} > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
      |  SELECT DISTINCT doc_id,
      |   unnest(${Oracle.tokens("text")}) AS word
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, word,
      |   ('0x' || substr(md5(word), 1, 8))::BIGINT AS h_lo,
      |   ('0x' || substr(md5(word), 9, 8))::BIGINT AS h_hi
      |  FROM toks WHERE word <> ''),
      |sig AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
      |sh64 AS (SELECT doc_id, (${compose(32)})::BIGINT AS sim_hi,
      |                        (${compose(0)})::BIGINT AS sim_lo FROM sig)""".stripMargin
  }

  /** Shared DuckDB CTE fragments (dialect mirror of [[shingles]]). */
  private val shinglesCte =
    s"""w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
      |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
      |        FROM w WHERE len(words) >= 5),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS shingle FROM pos)""".stripMargin

  /** Dialect mirror of [[minhashLsh]] (also reused as the `pairs` CTE of
    * the cluster oracle).
    */
  /** PageRank over the near-dup graph — the iterative NUMERIC fixpoint
    * companion to [[connectedComponents]]' label propagation: centrality
    * of each document inside its duplicate neighborhood (high rank = the
    * "canonical" copy boilerplate variants orbit around). 3 unrolled
    * synchronous iterations, damping 0.85, init 1.0; undirected edges
    * from the verified LSH pairs, contributions pr/deg summed per target.
    *
    * Scale shape: one join + one aggregate per iteration over the PAIR
    * list (never documents), with the [[connectedComponents]] treatment —
    * the degree-annotated edge list is `localCheckpoint`ed once (it is
    * read every round; truncating its lineage also cuts the LSH pipeline
    * out of every iteration's plan) and the rank frame is
    * `localCheckpoint`ed per round, so plan size is CONSTANT in the
    * iteration count (PlanShapeSpec asserts the bound) — the property
    * that keeps production runs at 20-50 iterations planable.
    */
  val PageRankIters = 3

  def docPageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src").localCheckpoint()
    var pr = withDeg.select(col("src").as("node"), lit(1.0).as("pr")).distinct()
    for (_ <- 1 to PageRankIters) {
      pr = withDeg
        .join(pr, withDeg("src") === pr("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg((lit(0.15) + lit(0.85) * sum(col("c"))).as("pr"))
        .select(col("dst").as("node"), col("pr"))
        .localCheckpoint()
    }
    pr.select(col("node").as("doc_id"), round(col("pr"), 6).as("pagerank"))
  }

  /** One-sided CONTAINMENT dedup: containment(A in B) = |A∩B| / |A| over
    * shingle sets — catches the excerpt/quote-inclusion case Jaccard
    * misses (a short doc fully contained in a long one has low Jaccard
    * but containment 1.0; public near-dup pipelines gate on both). Same
    * bounded candidate generation as [[ngramJaccardOn]] (pairs must share
    * a shingle; at 100 TB the candidates come from the LSH band buckets
    * exactly like [[minhashLsh]] — containment is just a different
    * verification formula over the same intersection counts). Emits both
    * directions; kept when either reaches 0.9.
    */
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentOn(widen(Tables.documents(spark, dir)))

  def containmentOn(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common") / col("sa.n"), 4).as("cont_a_in_b"),
        round(col("common") / col("sb.n"), 4).as("cont_b_in_a"))
      .filter(col("cont_a_in_b") >= 0.9 || col("cont_b_in_a") >= 0.9)
  }

  /** Triangle count over an oriented edge list (`src < dst`, distinct) —
    * the third graph-analytics primitive next to the label-propagation CC
    * ([[dedupClusters]]) and PageRank ([[docPageRank]]): triangle density
    * measures how clique-like duplicate neighborhoods are (chains vs
    * mirrors). Two self-joins enumerate wedges then close them — the
    * standard distributed formulation. At 100 TB the wedge join is the
    * bottleneck ∝ Σ deg²; production orients edges low-degree → high-degree
    * first (bounding per-vertex out-degree by √(2m)) — here orientation is
    * by key, which the oracle mirrors exactly.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("b2"), col("dst").as("c2"))
    val e3 = edges.select(col("src").as("a3"), col("dst").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c2") === col("c3"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Registry query: triangles in the part co-occurrence graph (parts
    * appearing in the same order, small-quantity lines only to bound the
    * per-order pair fan-out — the quadratic-in-group-size generation is the
    * part to police at scale, exactly like the LSH band-bucket joins).
    * Also emits the edge count so the output pins both graph levels.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= 10)
      .select("l_orderkey", "l_partkey")
    val a = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = l.select(col("l_orderkey").as("ok2"), col("l_partkey").as("dst"))
    val edges = a.join(b, col("ok") === col("ok2") && col("src") < col("dst"))
      .select("src", "dst").distinct().cache()
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    triangleCount(edges).crossJoin(broadcast(nEdges))
  }

  /** Dialect mirror of [[lshRecall]]: same band CTEs as the minhash
    * oracle for candidates, the exact-Jaccard CTE for truth.
    */
  /** Brute-force shingle-set Jaccard at 0.8 — oracle for BOTH
    * `dedup_ngram_jaccard` and the prefix-filter `dedup_setsim_prefix`.
    */
  private lazy val ngramJaccardOracleSql: String =
    s"""WITH $shinglesCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      | round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= 0.8""".stripMargin

  private lazy val lshRecallOracleSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min((b32 * ${MinhashA(i)} + ${MinhashC(i)}) % $MinhashP) AS m$i")
      .mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS band_sig FROM hmin"
    }.mkString(" UNION ALL ")
    s"""WITH $shinglesCte,
      |hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS b32 FROM sh),
      |hmin AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
      |bands AS ($bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= 0.8),
      |hits AS (SELECT t.doc_a FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
      |SELECT (SELECT count(*) FROM truth) AS n_truth,
      | (SELECT count(*) FROM cand) AS n_candidates,
      | (SELECT count(*) FROM hits) AS n_hits,
      | (SELECT count(*) FROM hits)::DOUBLE / (SELECT count(*) FROM truth) AS recall_frac,
      | (SELECT count(*) FROM hits)::DOUBLE / (SELECT count(*) FROM cand) AS precision_frac""".stripMargin
  }

  private lazy val minhashOracleSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min((b32 * ${MinhashA(i)} + ${MinhashC(i)}) % $MinhashP) AS m$i")
      .mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS band_sig FROM hmin"
    }.mkString(" UNION ALL ")
    s"""WITH $shinglesCte,
      |hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS b32 FROM sh),
      |hmin AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
      |bands AS ($bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list(shingle) AS sset FROM sh GROUP BY doc_id)
      |SELECT doc_a, doc_b,
      | round(len(list_intersect(sa.sset, sb.sset)) * 1.0
      |   / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))), 4) AS jaccard
      |FROM cand
      |JOIN sets sa ON doc_a = sa.doc_id
      |JOIN sets sb ON doc_b = sb.doc_id
      |WHERE round(len(list_intersect(sa.sset, sb.sset)) * 1.0
      |   / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))), 4) >= 0.8""".stripMargin
  }

  private lazy val minhashJaccardEstOracleSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min((b32 * ${MinhashA(i)} + ${MinhashC(i)}) % $MinhashP) AS m$i")
      .mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS band_sig FROM hmin"
    }.mkString(" UNION ALL ")
    val agree = (0 until MinhashK)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shinglesCte,
      |hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS b32 FROM sh),
      |hmin AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
      |bands AS ($bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |ag AS (
      |  SELECT doc_a, doc_b, ($agree) AS n_agree
      |  FROM cand JOIN hmin a ON doc_a = a.doc_id JOIN hmin b ON doc_b = b.doc_id),
      |sets AS (SELECT doc_id, list(shingle) AS sset FROM sh GROUP BY doc_id)
      |SELECT doc_a, doc_b, n_agree, n_agree / 16.0 AS est_jaccard,
      | len(list_intersect(sa.sset, sb.sset)) * 1.0
      |   / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) AS exact_jaccard,
      | abs(n_agree / 16.0 - len(list_intersect(sa.sset, sb.sset)) * 1.0
      |   / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))) AS abs_err
      |FROM ag
      |JOIN sets sa ON doc_a = sa.doc_id
      |JOIN sets sb ON doc_b = sb.doc_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "minhash_jaccard_est" -> minhashJaccardEstOracleSql,
    "graph_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity <= 10 AND b.l_quantity <= 10)
        |SELECT count(*)::BIGINT AS n_triangles,
        | (SELECT count(*) FROM e)::BIGINT AS n_edges
        |FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)""".stripMargin,
    "dedup_exact" ->
      s"""SELECT md5(${Oracle.normalize("text")}) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shinglesCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(common * 1.0 / sa.n, 4) AS cont_a_in_b,
        | round(common * 1.0 / sb.n, 4) AS cont_b_in_a
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(common * 1.0 / sa.n, 4) >= 0.9
        |   OR round(common * 1.0 / sb.n, 4) >= 0.9""".stripMargin,
    "dedup_ngram_jaccard" -> ngramJaccardOracleSql,
    // first-seeing doc per shingle, joined back; novelty in exact ppm
    "shingle_novelty" ->
      s"""WITH $shinglesCte,
        |first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        | sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_seen_before,
        | ((count(*) - sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END))
        |    * 1000000 // count(*))::BIGINT AS novel_ppm
        |FROM sh s JOIN first f USING (shingle)
        |GROUP BY 1""".stripMargin,
    "dedup_sorted_neighborhood" ->
      s"""WITH $shinglesCte,
        |keys AS (SELECT doc_id, substr(trim(text), 1, 32) AS k FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY k ASC, doc_id ASC) AS rnk
        |      FROM keys),
        |cand AS (
        |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |         greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS common
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.doc_a
        |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= 0.8""".stripMargin,
    // SAME oracle as the brute-force form — the gate proves the
    // prefix-filter algorithm returns the identical pair set
    "dedup_setsim_prefix" -> ngramJaccardOracleSql,
    "dedup_minhash_lsh" -> minhashOracleSql,
    "graph_degrees" ->
      s"""WITH pairs AS ($minhashOracleSql),
        |deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT doc_a AS doc_id FROM pairs
        |    UNION ALL SELECT doc_b AS doc_id FROM pairs)
        |  GROUP BY doc_id)
        |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin,
    "graph_khop" ->
      s"""WITH pairs AS ($minhashOracleSql),
        |edges AS (
        |  SELECT DISTINCT doc_a, doc_b FROM (
        |    SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs)),
        |reach AS (
        |  SELECT doc_a, doc_b FROM edges
        |  UNION
        |  SELECT e1.doc_a, e2.doc_b FROM edges e1 JOIN edges e2 ON e1.doc_b = e2.doc_a)
        |SELECT doc_a AS doc_id, count(*)::BIGINT AS n_within_2_hops
        |FROM reach WHERE doc_a <> doc_b GROUP BY doc_a""".stripMargin,
    "graph_bfs_levels" ->
      s"""WITH RECURSIVE pairs AS ($minhashOracleSql),
        |edges AS (
        |  SELECT DISTINCT doc_a, doc_b FROM (
        |    SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs)),
        |bfs AS (
        |  SELECT DISTINCT doc_a AS doc_id, 0 AS level FROM edges WHERE doc_a % $BfsSeedMod = 0
        |  UNION
        |  SELECT e.doc_b AS doc_id, bfs.level + 1 AS level
        |  FROM bfs JOIN edges e ON e.doc_a = bfs.doc_id
        |  WHERE bfs.level < 64)
        |SELECT doc_id, min(level)::BIGINT AS level FROM bfs GROUP BY doc_id""".stripMargin,
    "dedup_lsh_recall" -> lshRecallOracleSql,
    "golden_record" ->
      s"""WITH f AS (
        |  SELECT doc_id, n_chars,
        |   md5(${Oracle.normalize("text")}) AS fp
        |  FROM documents),
        |ranked AS (
        |  SELECT fp, doc_id, n_chars,
        |   row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |   count(*) OVER (PARTITION BY fp) AS n_dups
        |  FROM f)
        |SELECT fp, doc_id AS survivor_id, n_chars, n_dups
        |FROM ranked WHERE rn = 1""".stripMargin,
    "dedup_incremental" ->
      s"""WITH fp AS (
        |  SELECT doc_id, md5(${Oracle.normalize("text")}) AS fp
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, fp
        |FROM fp b
        |WHERE b.doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.fp = b.fp)
        |GROUP BY fp""".stripMargin,
    "dedup_clusters" ->
      // exact transitive closure: min reachable id per node == the fixpoint
      // of min-label propagation (UNION dedups rows, so recursion halts)
      s"""WITH RECURSIVE pairs AS ($minhashOracleSql),
         |edges AS (SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT DISTINCT doc_a AS doc_id, doc_a AS r FROM edges
         |  UNION
         |  SELECT reach.doc_id, e.doc_b AS r FROM reach JOIN edges e ON e.doc_a = reach.r)
         |SELECT doc_id, min(r) AS cluster_id, doc_id = min(r) AS is_keeper
         |FROM reach GROUP BY doc_id""".stripMargin,
    "doc_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"""$out AS (SELECT e.dst AS node, 0.15 + 0.85 * sum(p.pr / d.deg) AS pr
           |  FROM edges e JOIN $prev p ON p.node = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      s"""WITH pairs AS ($minhashOracleSql),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr0 AS (SELECT src AS node, 1.0 AS pr FROM deg),
         |${(1 to PageRankIters).map(i => iter(s"pr${i - 1}", s"pr$i")).mkString(",\n")}
         |SELECT node AS doc_id, round(pr, 6) AS pagerank FROM pr$PageRankIters""".stripMargin
    },
    "dedup_simhash" ->
      s"""WITH $simhashCte
        |SELECT doc_id, simhash FROM sh2""".stripMargin,
    "dedup_simhash_pairs" -> simhashPairsOracleSql,
    "dedup_threshold_curve" ->
      s"""WITH $shinglesCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id)
        |SELECT 0.7::DOUBLE AS threshold, sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)::BIGINT AS n_pairs FROM j
        |UNION ALL
        |SELECT 0.8::DOUBLE, sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END)::BIGINT FROM j
        |UNION ALL
        |SELECT 0.9::DOUBLE, sum(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END)::BIGINT FROM j""".stripMargin,
    "dedup_consensus" ->
      s"""WITH f AS (
        |  SELECT doc_id, md5(${Oracle.normalize("text")}) AS fp
        |  FROM documents),
        |exact_d AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, count(*) OVER (PARTITION BY fp) AS n FROM f) WHERE n > 1),
        |mh AS ($minhashOracleSql),
        |mh_d AS (SELECT doc_a AS doc_id FROM mh UNION SELECT doc_b FROM mh),
        |sp AS ($simhashPairsOracleSql),
        |sh_d AS (SELECT doc_a AS doc_id FROM sp UNION SELECT doc_b FROM sp),
        |flags AS (
        |  SELECT doc_id, 1 AS m FROM exact_d
        |  UNION ALL SELECT doc_id, 2 FROM mh_d
        |  UNION ALL SELECT doc_id, 4 FROM sh_d)
        |SELECT doc_id,
        | sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) > 0 AS by_exact,
        | sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) > 0 AS by_minhash,
        | sum(CASE WHEN m = 4 THEN 1 ELSE 0 END) > 0 AS by_simhash,
        | count(*) AS n_methods
        |FROM flags GROUP BY doc_id""".stripMargin,
    "dedup_span_coverage" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS shingle FROM pos),
        |dups AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, s.i + o.off AS p
        |        FROM sh s JOIN dups USING (shingle)
        |        CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS off) o),
        |cnt AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id)
        |SELECT w.doc_id, len(w.words)::BIGINT AS n_words,
        | coalesce(cnt.covered, 0)::BIGINT AS covered_words,
        | round(coalesce(cnt.covered, 0) * 1.0 / len(w.words), 4) AS dup_frac
        |FROM w LEFT JOIN cnt USING (doc_id)""".stripMargin,
    "dedup_span_excise" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS shingle FROM pos),
        |dups AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT s.doc_id, list(DISTINCT s.i + o.off) AS cov
        |        FROM sh s JOIN dups USING (shingle)
        |        CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS off) o
        |        GROUP BY s.doc_id)
        |SELECT w.doc_id, len(w.words)::BIGINT AS n_words,
        | (len(w.words) - coalesce(len(cov.cov), 0))::BIGINT AS n_kept,
        | coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(w.words)),
        |   i -> CASE WHEN cov.cov IS NOT NULL AND list_contains(cov.cov, i)
        |        THEN NULL ELSE w.words[i] END), x -> x IS NOT NULL), ' '), '') AS clean_text
        |FROM w LEFT JOIN cov USING (doc_id)""".stripMargin,
  )

  /** Dialect mirror of [[simhashPairs]] — also nested by `dedup_consensus`. */
  private lazy val simhashPairsOracleSql: String =
    s"""WITH $simhash64Cte,
      |chunks AS (
      |  SELECT doc_id, sim_hi, sim_lo, c.c,
      |   CASE WHEN c.c < 2 THEN (sim_lo >> (c.c * 16)) & 65535
      |        ELSE (sim_hi >> ((c.c - 2) * 16)) & 65535 END AS chunk_val
      |  FROM sh64, (SELECT unnest(generate_series(0, 3)) AS c) c)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | (bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)))::BIGINT AS hamming
      |FROM chunks a JOIN chunks b
      |  ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3""".stripMargin
}
