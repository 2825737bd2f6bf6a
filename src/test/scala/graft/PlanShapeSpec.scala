package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression gate: the structural properties PLANS_r*.txt
  * snapshots are asserted here programmatically, so a refactor that
  * silently loses a pushdown, a broadcast, a runtime prune, or a
  * WindowGroupLimit fails the build instead of only changing an artifact.
  * Assertions read the planned (pre-execution) physical plan — stable
  * under AQE because the asserted operators are inserted at planning.
  */
class PlanShapeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf).queryExecution.executedPlan.toString

  test("join_dpp: runtime partition-pruning subquery is inserted on the fact scan") {
    val p = plan("join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      "dim-derived partition filter must prune the partitioned scan at runtime")
  }

  test("join_broadcast builds a BroadcastHashJoin; join_shuffle degrades to SMJ when nothing fits broadcast") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
    // at fixture scale Catalyst rightly broadcasts everything; the scale
    // property is the fallback — no broadcast candidates ⇒ sort-merge on
    // the join key, never a nested-loop/cartesian
    val conf = spark.conf
    val old = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(plan("join_shuffle").contains("SortMergeJoin"))
    finally conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("filter_project pushes its predicate into the parquet scan") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "predicate must reach the scan, not evaluate post-read")
  }

  test("cdc_latest prunes to top-1 per key before the shuffle (WindowGroupLimit)") {
    assert(plan("cdc_latest").contains("WindowGroupLimit"))
  }

  test("wordcount aggregates map-side before the exchange (partial HashAggregate)") {
    val p = plan("wordcount")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final aggregate pair around the word exchange")
  }

  test("top-k queries use a bounded heap, never a global sort") {
    Seq("wordcount_topn", "topk_orders").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q must not global-sort")
    }
  }

  test("no headline query plans a cartesian product") {
    Bench.headline.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("join_bloom_pruned: runtime bloom filter is injected on the fact side") {
    val p = plan("join_bloom_pruned").toLowerCase
    assert(p.contains("bloom"),
      "InjectRuntimeFilter must build a bloom of surviving order keys and " +
        "probe it on lineitem before the shuffle")
  }

  test("dsv2_seq_agg: the custom connector narrows generation and pre-aggregates in-scan") {
    val p = plan("dsv2_seq_agg")
    assert(p.contains("range=[25000,75000)"),
      "id-range predicates must reach the connector's partition planning")
    assert(p.contains("pushed=[GreaterThanOrEqual(id,25000), LessThan(id,75000)]"))
    // since SupportsPushDownAggregates landed, this query's group-by also
    // folds into the source: the scan emits per-bucket partials, not rows
    assert(p.contains("aggPushed=[count(id), sum(val)] groupBy=[bucket]"),
      "the bucket aggregate must push into the connector (partial pre-aggregation)")
  }

  test("dsv2_agg_pushdown: rows never cross the source boundary — the scan emits partials") {
    val p = plan("dsv2_agg_pushdown")
    assert(p.contains("aggPushed=[count(id), sum(val), min(val), max(val)] groupBy=[bucket]"),
      "all four aggregates must fold into the connector scan")
    assert(p.contains("range=[2048,200000)"),
      "filter pushdown must compose with aggregate pushdown (fold the narrowed range)")
    // scan output is the 5-column partial schema (bucket + 4 partials): the
    // final HashAggregate merges ≤ parts × 32 pre-reduced rows, never N rows
    assert("BatchScan graft_seq[^\\n]*\\n[^\\n]*Output \\[5\\]".r.findFirstIn(
        SparkEntry.queries("dsv2_agg_pushdown")(spark, TestSpark.sf)
          .queryExecution.executedPlan.treeString(verbose = true)).isDefined ||
      p.contains("count_id_0"),
      "scan output must be the aggregated partial schema, not (id, val, bucket) rows")
  }

  test("dsv2_runtime_filter: runtime V2 filtering drops 28 of 32 aligned partitions pre-launch") {
    val df = SparkEntry.queries("dsv2_runtime_filter")(spark, TestSpark.sf)
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"),
      s"the broadcast bucket set must be planned as a runtime filter on the scan:\n$planned")
    df.collect()
    val seqScans = graft.sparkutil.ScanMetrics.pruned(df).collect {
      case (t, kt) if t.startsWith("graft_seq") => kt
    }
    assert(seqScans == Seq((4L, 32L)),
      "filter() must drop the 28 residue classes the dimension filter excludes " +
        s"(got $seqScans)")
  }

  test("dsv2_spj_join: storage-partitioned join — the whole plan carries zero exchanges") {
    val p = plan("dsv2_spj_join")
    assert(p.contains("SortMergeJoin"),
      "both sides exceed the broadcast threshold (connector stats) — must be SMJ")
    assert(!p.contains("Exchange"),
      "KeyGroupedPartitioning(bucket) on both aligned scans must eliminate the join " +
        s"shuffles AND the bucket-aggregate shuffle:\n$p")
    // SupportsReportOrdering: the aligned scans declare (bucket, id)
    // per-partition order, so the SMJ needs no local Sorts either — the
    // sorted-bucketed-table shape. "Sort (" matches only Sort NODES, not
    // the SortMergeJoin token.
    assert(!"""[:+]- Sort \(""".r.findFirstIn(p).isDefined,
      s"reported (bucket, id) ordering must delete the SMJ's local Sort nodes:\n$p")
  }

  test("mmr_rerank: candidate generation is corpus × broadcast queries, greedy runs per-group") {
    val p = plan("mmr_rerank")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 5-row query set must broadcast — the corpus streams once, never a task-grid cross")
    assert(!p.contains("CartesianProduct"), s"mmr_rerank plans a cartesian:\n$p")
    assert(p.contains("MapGroups"),
      "the greedy re-rank must run inside one per-query flatMapGroups, not k driver passes")
  }

  test("scd2_pit_join is the union-window recipe: no join operator anywhere in the plan") {
    val p = plan("scd2_pit_join")
    // the entire point of the shape: a refactor back to an interval
    // (theta) join between probes and versions — O(probes × versions)
    // per user at scale — must fail the build, not just slow down
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the PIT lookup must stay join-free (union + forward-fill window):\n$p")
    assert(p.contains("Union"),
      "versions and probes must ride ONE unioned per-user timeline")
    assert(p.contains("Window"),
      "version attributes must arrive via the forward-fill window, not a lookup")
  }

  test("embedding_outliers: the centroid frame broadcasts — the exploded stream never shuffles for the join") {
    val p = plan("embedding_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤labels×dims centroid stats must broadcast onto the exploded stream:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in embedding_outliers:\n$p")
  }

  test("shingle_novelty: first-seen lookup is an equi-join on the shingle, never a pair space") {
    val p = plan("shingle_novelty")
    assert(p.contains("Join") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"the join back must key on the shingle:\n$p")
  }

  test("sequence_packing: the global prefix sum is the two-level recipe, never a one-task window") {
    val p = plan("sequence_packing")
    assert(p.contains("rangepartitioning(doc_id"),
      "the big frame must range-partition on doc_id — losing this means the " +
        s"prefix sum degraded to a single-partition global window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the per-partition offsets frame must come back as a broadcast, not a shuffle join:\n$p")
    // the pid totals must partial-aggregate map-side so the pid exchange
    // carries one row per partition, not the corpus
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pid totals need the partial+final aggregate pair:\n$p")
  }

  test("dsv2_topn_pushdown: ORDER BY id LIMIT 100 narrows a 100M-row scan to 100 rows") {
    val p = plan("dsv2_topn_pushdown")
    assert(p.contains("range=[0,100)"),
      s"TopN must reach the connector's generation range:\n$p")
    // plain LIMIT (no sort) pushes too — and a non-id ordering must NOT
    val limited = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "100000000").option("parts", "4").load().limit(7)
    assert(limited.queryExecution.executedPlan.toString.contains("range=[0,7)"),
      "bare LIMIT must narrow generation")
    val wrongOrder = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "1000").option("parts", "4").load()
      .orderBy(org.apache.spark.sql.functions.col("val")).limit(5)
    assert(wrongOrder.queryExecution.executedPlan.toString.contains("range=[0,1000)"),
      "a sort the generator doesn't produce must bail to the full scan")
    import spark.implicits._
    assert(wrongOrder.select("val").as[Long].collect().toSeq ==
      (0L until 1000L).map(graft.sources.v2.SeqSource.valueOf).sorted.take(5),
      "bailed-out TopN must still be correct")
  }

  test("dsv2 offset and sample pushdowns narrow generation at the source") {
    import spark.implicits._
    val seq = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "100000000").option("parts", "4").load()
    val page = seq.offset(500).limit(20)
    val pp = page.queryExecution.executedPlan.toString
    assert(pp.contains("range=[500,520)"),
      s"OFFSET 500 LIMIT 20 must generate exactly the 20-row window:\n$pp")
    assert(page.select("id").as[Long].collect().toSeq == (500L until 520L))
    val p = plan("dsv2_sample_pushdown")
    assert(p.contains("sample=[0.0,0.25)"),
      s"the 25% sample must run inside the source:\n$p")
    // COMPOSITION guard: once a sample is pushed, Spark removes the Sample
    // node — a subsequent limit/offset pushdown would then narrow the RAW
    // id range (membership-vs-position confusion: sample(0.25).limit(100)
    // would return ~25 rows). The source must bail those to Spark.
    val sampledLimit = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "100000000").option("parts", "4").load()
      .sample(0.25, seed = 7).limit(100)
    assert(sampledLimit.count() == 100,
      "LIMIT after a pushed TABLESAMPLE must yield exactly the limit")
    val sampledPage = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "4000").option("parts", "4").load()
      .sample(0.25, seed = 7).offset(10).limit(50)
    assert(sampledPage.count() == 50,
      "OFFSET/LIMIT after a pushed TABLESAMPLE must window sampled rows, not raw ids")
  }

  test("sql_parameterized optimizes to the same plan as its literal twin (typed binding)") {
    val param = SparkEntry.queries("sql_parameterized")(spark, TestSpark.sf)
    val literal = spark.sql(
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_param_orders
        |WHERE o_totalprice > 150000.0D AND o_orderdate >= DATE '1995-01-01'
        |GROUP BY o_orderpriority""".stripMargin)
    assert(param.queryExecution.optimizedPlan.canonicalized ==
        literal.queryExecution.optimizedPlan.canonicalized,
      "named parameters must bind to typed literals at parse time — " +
        "pushdown/pruning must see constants, not placeholders")
  }

  test("embedding_covariance: map-side expansion + one 36-group exchange") {
    val p = plan("embedding_covariance")
    assert(p.contains("Generate"),
      "the upper-triangle fan-out must be a Generate (explode), not a join")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "sufficient statistics must partial-aggregate map-side before the shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "one tiny (i,j)-group exchange — the covariance pass must not add more shuffles")
  }

  test("doc_chunking is a pure map-side Generate: zero exchanges in the plan") {
    val p = plan("doc_chunking")
    assert(!p.contains("Exchange"), "the chunker must not shuffle")
    assert(p.contains("Generate"), "chunk fan-out should be a Generate (explode)")
  }

  test("graph_khop reuses the edge-list exchange instead of re-shuffling it") {
    // the 2-hop expansion consumes the same edge-list subtree on both join
    // sides and again in the union; the planner must materialize that
    // exchange once and wire the other consumers to a ReusedExchange — the
    // reuse that keeps iterative graph ops from re-paying a shuffle (or
    // re-broadcast) per hop. Under AQE, exchange reuse is decided at
    // RUNTIME stage materialization, so the query must EXECUTE before the
    // final plan shows it (the pre-execution plan never contains
    // ReusedExchange when isFinalPlan=false). Asserted at sf0.01, where
    // the duplicated subtrees are big enough to matter.
    val df = SparkEntry.queries("graph_khop")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), "plan must be the post-execution AQE plan")
    assert(p.contains("ReusedExchange"),
      "identical exchange subtrees must be materialized once and reused")
  }

  test("geo_distance_join is a pure equi-join: no cartesian, no nested loop") {
    val p = plan("geo_distance_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the radius join must resolve to the bounded cell equi-join")
  }

  test("edit_distance_join candidates come from the length-band equi-join — no cartesian pair space") {
    val p = plan("edit_distance_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the pair space must be the bounded length-band equi-join, never all-pairs")
    // the equi-key must be the LENGTH band (tl = target length, len2) —
    // a refactor to a theta join on abs(len1-len2) <= 2 keeps correctness
    // but silently reverts the pair space to quadratic
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[(tl|len2)#".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\((tl|len2)#".r.findFirstIn(p).isDefined,
      s"the band key (tl/len2) must drive the candidate equi-join:\n$p")
  }

  test("dedup_minhash_lsh candidates come from the (band, band_sig) equi-join — never all-pairs") {
    // the flagship banded join: lshCandidates' pair space is bounded by
    // the LSH buckets ONLY because the self-join's equi-keys are
    // (band, band_sig). A refactor that drops the band key from the join
    // condition (keeping, say, only doc_a < doc_b) silently reverts the
    // candidate generator to the N²/2 all-pairs cross it exists to avoid
    // — correct at fixture scale, fatal at 100 TB. Assert the equi-join
    // keys on the band signature and the absence of any unconditioned
    // pair space, in BOTH consumers of lshCandidates.
    Seq("dedup_minhash_lsh", "minhash_jaccard_est").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: the candidate pair space must stay band-bucketed, never all-pairs:\n$p")
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[band#\\d+, band_sig#".r
          .findFirstIn(p).isDefined ||
        "hashpartitioning\\(band#\\d+, band_sig#".r.findFirstIn(p).isDefined,
        s"$q: (band, band_sig) must drive the candidate equi-join:\n$p")
    }
  }

  test("term_label_chi2: the corpus-sized exchange is the (lang, word) cell agg, totals arrive by broadcast") {
    val p = plan("term_label_chi2")
    assert(!p.contains("CartesianProduct"),
      s"the only row-multiplying join allowed is the broadcast 1-row grand total:\n$p")
    // the token stream must partial-aggregate map-side before its one
    // corpus-sized exchange on (lang, word)
    assert("hashpartitioning\\(lang#\\d+, word#".r.findFirstIn(p).isDefined,
      s"cell counts must shuffle on the (lang, word) pair:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cell counts need the partial+final aggregate pair:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"language totals and the grand total must broadcast, never shuffle-join:\n$p")
  }

  test("semdedup_cells pairs vectors only WITHIN a k-means cell: the pair join keys on cell") {
    // losing the cell restriction reverts SemDeDup to the N²/2 all-pairs
    // cosine — the exact blowup the recipe exists to avoid. The only
    // nested-loop allowed is the Lloyd assignment (corpus × broadcast
    // ≤32-row centroid table), so assert the PAIR space specifically:
    // an equi-join whose keys include the cell id, and no cartesian.
    val p = plan("semdedup_cells")
    assert(!p.contains("CartesianProduct"),
      "no unconditioned pair space anywhere in the semantic-dedup plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell#".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(cell#".r.findFirstIn(p).isDefined,
      s"the candidate-pair join must be an equi-join on the cell id:\n$p")
  }

  test("assoc_rules broadcasts ONE canonical item-count child for both frequency probes") {
    // both the antecedent and consequent probes join the same item-count
    // aggregate; the renames live in the join conditions so the broadcast
    // child plans identically and materializes once (ReusedExchange —
    // decided at AQE runtime, so execute first)
    val df = SparkEntry.queries("assoc_rules")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("ReusedExchange"),
      "a rename pushed onto the item-count child would double the broadcast build")
  }

  test("negative_sampling: keep-lowest-3 collapses to a bounded per-user group limit") {
    val p = plan("negative_sampling")
    assert(p.contains("WindowGroupLimit"),
      "the rank<=3 filter must prune per-user groups before the window sort")
    assert(!p.contains("CartesianProduct"),
      "candidates must stay the fixed 8-probe fan-out, never user × catalog")
  }

  test("skew_distinct_twophase keeps the dedup-then-count two-exchange shape, no Expand") {
    val p = plan("skew_distinct_twophase")
    // a refactor back to a single-pass countDistinct+sum would reintroduce
    // Expand's k× row blowup and put ~half the table through 3 reducers
    assert(!p.contains("Expand"),
      "two-phase distinct must not collapse into the Expand rewrite")
    assert("hashpartitioning\\(l_returnflag#\\d+, l_partkey#\\d+".r.findFirstIn(p).isDefined,
      "phase 1 must shuffle on the full (l_returnflag, l_partkey) pair — no hot reducer")
    assert("hashpartitioning\\(l_returnflag#\\d+, \\d+\\)".r.findFirstIn(p).isDefined,
      "phase 2 must re-aggregate the deduped pairs per flag")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both phases must keep partial+final aggregation (map-side combine)")
  }

  test("csv_quarantine classifies records inside ONE csv scan — no second pass") {
    val tmp = tempDir("graft-quarantine-spec")
    try {
      val out = graft.sources.Formats.csvQuarantinePlan(spark, TestSpark.sf, tmp.toString)
      val p = out.queryExecution.executedPlan.toString
      assert("(?i)filescan csv".r.findAllIn(p).size == 1,
        "good/quarantined accounting must ride the single PERMISSIVE scan")
      assert(!p.contains("Join"),
        "no join/self-join to classify records — quarantine is a parse artifact")
      assert(p.contains("_corrupt_record"),
        "the corrupt-record column must be read (it drives the split)")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("sql_pipe_syntax optimizes to the same logical plan as its classic-SQL twin") {
    val pipe = SparkEntry.queries("sql_pipe_syntax")(spark, TestSpark.sf)
    // the same statement in classic SQL over the view the pipe query
    // registered — the pipe grammar must be pure surface syntax
    val classic = spark.sql(
      """SELECT o_orderstatus, count(*) AS n_orders,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_pipe_orders
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(pipe.queryExecution.optimizedPlan.canonicalized ==
        classic.queryExecution.optimizedPlan.canonicalized,
      "pipe-syntax plan diverged from the classic-SQL twin's optimized plan")
  }

  test("agg_bitmap_distinct: exact distinct WITHOUT the Expand rewrite") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"),
      "bitmap construct/or/count must carry the distinct — a refactor to " +
        "countDistinct would reintroduce Expand's multi-distinct row blowup")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_interpolate: both neighbor windows share one user_id sort/exchange") {
    val p = plan("events_interpolate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "resampling must never pair grid x events — the union+window form is the point")
    // expected shuffles: the per-user spine aggregate and the window
    // partitioning — anything more means a window stopped sharing
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"unexpected extra exchanges in:\n$p")
  }

  test("profile_table_approx rides HLL sketches: no Expand, unlike the exact anchor") {
    assert(plan("profile_table").contains("Expand"),
      "the exact profile is the Expand anchor by design — if this moved, re-check the contrast")
    assert(!plan("profile_table_approx").contains("Expand"),
      "the approx profile must aggregate constant-size sketch partials, " +
        "never the multi-distinct Expand (6× scan rows, O(data) shuffle)")
  }

  test("iterative fixpoints keep bounded lineage: per-round checkpoints truncate the plan") {
    // without the per-round localCheckpoint the frontier/label plan nests
    // its whole history (joins reference prior rounds on both sides —
    // super-linear growth; un-truncated doc_pagerank measured 696 nodes);
    // with it, the final plan is a flat union of checkpointed scans
    // (2-4 nodes today). 64 allows ~30 BFS rounds of union growth while
    // still failing on a single un-truncated iteration's nesting.
    Seq("dedup_clusters", "doc_pagerank", "graph_bfs_levels").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      val nodes = df.queryExecution.logical.collect { case n => n }.size
      info(s"$q logical plan nodes: $nodes")
      assert(nodes <= 64,
        s"$q logical plan has $nodes nodes — per-iteration checkpoint truncation lost?")
    }
  }

  test("fact tables (lineitem/orders/events) are never FORCE-broadcast in join-heavy shapes") {
    // AQE may freely size-broadcast a fact at fixture scale — that flips
    // back to shuffle at 100×. What must NEVER appear is a `broadcast()`
    // HINT on a fact subtree in code: the hint overrides size logic and
    // would OOM every executor on the real corpus. Inspect the analyzed
    // logical plan, where ResolvedHint nodes still exist (JoinSelection
    // consumes them later).
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
    val factFiles = Seq("lineitem.parquet", "orders.parquet", "events.parquet")
    val joinShapes = Seq("q5_supplier_volume", "q18_large_orders", "join_broadcast",
      "join_shuffle", "join_salted", "join_bloom_pruned", "topk_orders",
      "asof_join", "sessionize", "attribution_last_touch")
    joinShapes.filter(SparkEntry.queries.contains).foreach { q =>
      val analyzed = SparkEntry.queries(q)(spark, TestSpark.sf).queryExecution.analyzed
      analyzed.foreach {
        // only a BROADCAST hint is the OOM hazard — a SHUFFLE_MERGE /
        // SHUFFLE_HASH hint on a fact subtree is a legitimate strategy pick
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          val leaves = h.child.collectLeaves().map(_.toString).mkString("\n")
          factFiles.foreach { f =>
            assert(!leaves.contains(f),
              s"$q force-broadcasts a subtree scanning fact table $f — a 100×-scale OOM")
          }
        case _ => ()
      }
    }
  }
}
