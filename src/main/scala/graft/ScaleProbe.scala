package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.v2.MemCatalog.deleteRecursively

/** SCALE PROBE (diagnostic artifact generator, like [[Explain]] — not
  * part of the query registry).
  *
  * Every scale claim in SURVEY.md is plan-shape reasoning validated at
  * sf0.1; this main validates it EMPIRICALLY at two scale points:
  *
  * 1. the 10× probe — synthesize an sf1-shaped dataset (10× sf0.1 rows),
  *    time each probed query at both scales, report wall-time ratios. A
  *    linear operator lands ≈10× (minus fixed costs, plus AQE/scheduling
  *    overhead); an accidental O(n²) candidate set — invisible at fixture
  *    scale — lands ≫10× and fails the probe's threshold loudly.
  * 2. the 100× probe — the flagship banded dedup/ANN families re-timed
  *    at sf10 (100× sf0.1 rows, documents + embeddings only): the
  *    difference between "sub-linear at 10×" and "believed at 100 TB".
  *
  * Round 10 widens the 10× probe beyond the round-9 set (fixpoints,
  * data-dependent candidate generators, top-of-sweep): the dsv2 lakehouse
  * family (CDC pipeline, incremental MV, net CDF, OPTIMIZE, MoR DML,
  * cluster/partition evolution, streaming table tail) and more streaming
  * queries now have measured points, and a bespoke IVM FLAT-LINE
  * experiment grows the BASE 10× while holding the CHANGE SET constant —
  * the claim "maintenance ∝ change volume, never base size"
  * (`Formats.scala` scaladoc) becomes a measured ratio instead of an
  * argument.
  *
  * GEO DENSITY NORMALIZATION: the registry geo queries pin a 100k×100k
  * grid, so 10× rows = 10× density = ~100× radius-join pairs BY
  * CONSTRUCTION — a fixture artifact the round-9 probe could not separate
  * from operator behavior. The probe now times DENSITY-NORMALIZED
  * variants (extent ∝ √N, calibrated to equal the registry extent at
  * sf0.1), so expected output per input row is scale-invariant and the
  * measured ratio is the operator's, not the lattice's. The registry
  * queries themselves are unchanged (their oracle replays the fixed
  * extent).
  *
  * sfN synthesis = N key-shifted copies of each sf0.1 table, written as
  * ONE parquet file per table to mirror the fixture layout (the streaming
  * probes symlink `$dir/events.parquet` as a single file, and equal file
  * counts keep micro-batch schedules comparable across scales):
  * - every BIGINT surrogate key shifts by `copy * 100M`, CONSISTENTLY
  *   across tables (copy i of lineitem joins copy i of orders/part/
  *   supplier), so join/agg selectivities match a real N× corpus;
  * - `region`/`nation` stay fixed (TPC-H dimension-scaling convention);
  * - document TEXT is letter-PERMUTED per copy (seeded-shuffle alphabet,
  *   copy 0 identity; a plain rotation would collide at >26 copies) so
  *   CONTENT cardinality scales N× too — naive duplication would hand
  *   the minhash-LSH join N-member duplicate clusters (N² in-bucket
  *   candidate pairs), a quadratic artifact of the synthesis rather than
  *   the operator;
  * - `events.user_id` shifts per copy: N× users at the same per-user
  *   event density, the shape a real stream scales with;
  * - embeddings keep their float arrays (vec_id shifts): N× corpus at
  *   the same geometry, so banded/celled candidate volume scales with
  *   rows, not with synthesis artifacts.
  *
  * Usage: `runMain graft.ScaleProbe [sf01Dir] [sf1Dir] [outJson] [sf10Dir]`.
  * Set SPARK_GRAFT_PROBE_100X=0 to skip the sf10 section. Emits one JSON
  * line (and writes it to outJson).
  */
object ScaleProbe {
  private val Stride = 100000000L

  /** BIGINT key columns to shift per copy, per table. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Probed beyond [[Bench.headline]]: fixpoints, data-dependent candidate
    * generators, the top of the full sweep by cost, and (round 10) the
    * dsv2 lakehouse + streaming families.
    */
  val extras: Seq[String] = Seq(
    // iterative fixpoints — per-round cost × data-dependent round count
    "dedup_clusters", "graph_bfs_levels", "doc_pagerank",
    "graph_communities", "graph_khop",
    // data-dependent candidate generators
    "dedup_setsim_prefix", "dedup_lsh_recall",
    "interval_overlap_join", "geo_distance_join", "geo_nearest_summary",
    // top of the full sweep by absolute cost
    "streaming_full_outer", "streaming_outer_join",
    "streaming_tws_timers", "streaming_restart_stateful",
    "knn_ivf_pq", "knn_pq_adc", "embedding_pq",
    "profile_table", "profile_table_approx",
    "dedup_consensus", "dedup_incremental",
    "training_corpus_funnel", "bpe_merges_batched",
    "pmi_ratio", "assoc_rules",
    "join_dpp", "join_bucketed_colocated", "sequence_packing",
    // dsv2 lakehouse family (round 10): CDC, IVM, net CDF, maintenance,
    // MoR DML, layout evolution, streaming table tail
    "dsv2_cdc_pipeline", "dsv2_mv_incremental", "dsv2_cdf_net",
    "dsv2_compaction", "dsv2_mor_dml", "dsv2_cluster_evolution",
    "dsv2_partition_evolution", "dsv2_stream_table",
    "dsv2_time_travel", "dsv2_snapshot_tag", "dsv2_rollback",
    // streaming family widened (round 10)
    "streaming_dedup_filesrc", "streaming_sliding_filesrc",
    "streaming_cdc_filesrc", "streaming_late_data",
    // round-11 session 2: the streaming CDC apply (eq-delete writes must
    // stay O(changes) as the base grows) and branch-staged MoR DML
    // (vector staging + fast-forward cost must not scale with the table)
    "dsv2_stream_cdc_upsert", "dsv2_branch_mor",
    // round-11 session 3: transparent MV rewrite + the serving loop
    // (plan-gate and maintenance cost must not scale with the base) and
    // branch eq-deletes (sidecar write O(keys), publish O(affected files))
    "dsv2_mv_rewrite", "dsv2_mv_serve", "dsv2_branch_eqdelete",
    // multimodal family (codec mapPartitions paths — per-row cost must
    // stay constant as the corpus grows)
    "multimodal_phash_dup", "multimodal_audio_vad", "multimodal_resize",
    // round-11 session 4: event-driven maintenance + persisted serving
    // artifacts — hook-triggered MV maintenance must stay O(changes),
    // branch CDC publish O(affected files), index-served search
    // O(postings), codes-served ANN O(probed lists), artifact-encode
    // O(vocabulary); each pays a one-time build at the new scale
    "dsv2_mv_autorefresh", "dsv2_cdc_branch_apply",
    "search_index_served", "knn_ivf_pq_serve", "bpe_encode_persisted",
    // round-11 session 4b: governance/maintenance ops must stay
    // metadata-bound (clone O(live files), promote O(referenced bytes),
    // auto-compact/vacuum O(debt)), the MoR mirror sync O(changes), and
    // the living index O(new vectors + probed lists)
    "dsv2_shallow_clone", "dsv2_clone_promote", "dsv2_auto_compact",
    "dsv2_auto_vacuum", "dsv2_merge_by_source", "dsv2_merge_by_source_mor",
    "dsv2_metadata_tables", "knn_ivf_pq_append_serve",
    // round-12: the SQL TVF over the change feed (window plan must cost
    // O(changed files in range), never O(table)), the live ANN
    // pipeline on native ARRAY<BIGINT> vectors (drain O(new rows)),
    // SQL-only incremental MV maintenance (one MERGE ∝ change volume),
    // and transform-aware write routing (fanout adds no pass — the
    // routed INSERT must scale like the unrouted one)
    "dsv2_table_changes_tvf", "knn_ivf_pq_live",
    "dsv2_mv_sql_incremental", "dsv2_partition_route",
    "dsv2_refs_meta") // metadata-only: must stay flat at any table size

  /** The flagship BANDED families re-probed at 100× (sf10): the queries
    * whose sub-linearity claim carries the 100 TB posture. Round 11 adds
    * the post-fix geo cell join (density-normalized, so pair volume
    * scales ∝ N, and the shuffle_hash home-cell build is what's on
    * trial) and the streaming stateful dedup (RocksDB distinct state
    * growing to 100× keys — the per-key state cost must stay flat).
    */
  val flagship100x: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_setsim_prefix", "knn_lsh",
    "semdedup_cells", "dedup_clusters",
    "geo_distance_join", "streaming_dedup_filesrc",
    // round-11 session 4: the persisted serving artifacts at 100× — the
    // claim on trial is "query cost ∝ probed postings/lists, NOT corpus";
    // each pays its one-time index build off the min-of-2 clock
    "search_index_served", "knn_ivf_pq_serve", "bpe_encode_persisted")

  /** Tables the 100× flagship set actually reads (documents +
    * embeddings + customer for geo + events for streaming dedup;
    * dimensions copied verbatim) — sf10 synthesis skips the rest
    * (lineitem at 100× would be ~1 GB of parquet no probed query
    * opens).
    */
  private val tables100x =
    Seq("region", "nation", "customer", "documents", "embeddings", "events")

  /** Deterministic per-copy alphabet permutation (copy 0 = identity).
    * A seeded shuffle, not a rotation: rotations collide after 26 copies
    * and would reintroduce the duplicate-cluster artifact at 100×.
    */
  private def permuted(i: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    if (i == 0) a
    else new scala.util.Random(i.toLong * 2654435761L)
      .shuffle(a.toList).mkString
  }

  /** Write `df` as ONE parquet FILE at `dest` (fixture layout). */
  private def writeSingleFile(df: DataFrame, dest: java.nio.file.Path): Unit = {
    // a prior-generation probe run left $dest as a parquet DIRECTORY —
    // the staged file cannot replace a non-empty dir, so clear it
    deleteRecursively(dest)
    graft.streaming.BoundedDrain.stageFile(dest.getParent, df, dest.getFileName.toString,
      System.currentTimeMillis())
  }

  /** Synthesize `copies`× the sf0.1 tables into `dst` (see class doc for
    * the key-shift / text-permutation rules). Generation-marked: a stale
    * marker from an older synthesis recipe forces regeneration.
    */
  def synthesize(spark: SparkSession, src: String, dst: String,
      copies: Int, tables: Seq[String]): Unit = {
    val done = java.nio.file.Paths.get(dst, "_PROBE_READY_V4")
    if (java.nio.file.Files.exists(done)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    // older-generation markers mean every table in this dir is stale
    // (V4: customer + events joined the 100x table set)
    Seq("_PROBE_READY", "_PROBE_READY_V2", "_PROBE_READY_V3").foreach(m =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dst, m)))
    tables.foreach { t =>
      val keys = keyCols(t)
      val base = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (keys.isEmpty) base
        else (0 until copies).map { i =>
          val shifted = keys.foldLeft(base)((df, k) =>
            df.withColumn(k, col(k) + lit(i * Stride)))
          if (t == "documents" && i > 0)
            shifted.withColumn("text",
              translate(col("text"), permuted(0), permuted(i)))
          else shifted
        }.reduce(_ unionAll _)
      writeSingleFile(out, java.nio.file.Paths.get(dst, s"$t.parquet"))
      System.err.println(s"[probe] synthesized $t x$copies -> $dst")
    }
    java.nio.file.Files.createFile(done)
  }

  // ---- geo density normalization ----

  /** extent ∝ √N, calibrated so the sf0.1 fixture (15 000 customers)
    * gets the registry's own 100 000 — constant expected neighbors per
    * point across scales.
    */
  private def geoExtentFor(spark: SparkSession, dir: String): Long = {
    val n = spark.read.parquet(s"$dir/customer.parquet").count()
    math.max(graft.operators.Geo.Radius * 3,
      math.round(math.sqrt(n.toDouble) * 816.5))
  }

  /** Probe-only replacements for fixture-artifact queries; everything
    * else probes the registry function unchanged.
    */
  private def overrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_distance_join" -> ((s: SparkSession, d: String) =>
      graft.operators.Geo.distancePairsOn(
        graft.sources.Tables.customer(s, d), geoExtentFor(s, d))),
    "geo_nearest_summary" -> ((s: SparkSession, d: String) =>
      graft.operators.Geo.nearestSummaryOn(
        graft.sources.Tables.customer(s, d), geoExtentFor(s, d))))

  private val densityNormalized = Seq("geo_distance_join", "geo_nearest_summary")

  // ---- IVM flat-line ----

  /** The measured form of "maintenance ∝ change volume, never base
    * size": build an N-row MoR base table, seed the MV by one full
    * recompute, apply a FIXED-SIZE change set (200 appends + a ≤100-row
    * MoR update), then time ONLY the incremental maintenance — the net
    * change feed from the post-seed version folded into the MV by the
    * signed-delta MERGE — and then the SERVING side: the same aggregate
    * answered through the watermark-armed [[graft.plans.MvRewrite]].
    * Returns (base rows, maintain sec, recompute sec, serve sec); run at
    * sf0.1 and sf1, flat maintain AND serve ratios next to a ~10×
    * recompute-input ratio are the IVM + MV-serving claims, measured.
    */
  private def ivmRun(spark: SparkSession, dir: String, label: String): (Long, Double, Double, Double) = {
    import graft.sources.v2.MemCatalog
    val ss = graft.streaming.EventStreams.streamingSession(spark)
    graft.sources.Tables.orders(ss, dir).createOrReplaceTempView("graft_ivm_orders")
    ss.sql(s"DROP TABLE IF EXISTS graftmem.ivm.base_$label")
    ss.sql(s"DROP TABLE IF EXISTS graftmem.ivm.mv_$label")
    // base rows ∝ dir rows (keys NOT folded — this probe is about base
    // size); MoR so the fixed change set writes O(change) deltas.
    // CONSTANT FILE SIZE, GROWING FILE COUNT — the production invariant
    // (a 10× table has 10× 128 MB files, not one 10×-bigger file):
    // clusterBy k + a row-proportional clusterParts give ~10k-row
    // k-range-partitioned files at every scale, so the fixed change
    // set's zone-map-pruned scan and its net-diff replay touch the SAME
    // number of bytes regardless of base size. Without this the base is
    // ONE file and the net diff re-reads all of it — measuring the
    // fixture's file layout, not the maintenance algorithm.
    val srcRows = graft.sources.Tables.orders(ss, dir).count()
    val parts = math.max(4L, srcRows / 10000L)
    ss.sql(
      s"""CREATE TABLE graftmem.ivm.base_$label
         |(k BIGINT, cat BIGINT, cents BIGINT)
         |TBLPROPERTIES ('graft.dml'='mor', 'clusterBy'='k',
         |               'clusterParts'='$parts')""".stripMargin)
    ss.sql(
      s"""INSERT INTO graftmem.ivm.base_$label
         |SELECT o_orderkey AS k, CAST(o_orderkey % 97 AS BIGINT) AS cat,
         |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |FROM graft_ivm_orders""".stripMargin)
    val baseRows = ss.sql(s"SELECT count(*) FROM graftmem.ivm.base_$label").head().getLong(0)
    // the contrast: a full recompute of the aggregate is ∝ base size
    val tr0 = System.nanoTime()
    ss.sql(s"SELECT cat, count(*) AS n, sum(cents) AS sc FROM graftmem.ivm.base_$label GROUP BY cat").count()
    val recompute = (System.nanoTime() - tr0) / 1e9
    // seed the MV (one recompute, not timed) and pin the version AFTER it
    ss.sql(s"CREATE TABLE graftmem.ivm.mv_$label (cat BIGINT, n_rows BIGINT, sum_cents BIGINT)")
    ss.sql(s"INSERT INTO graftmem.ivm.mv_$label " +
      s"SELECT cat, count(*), sum(cents) FROM graftmem.ivm.base_$label GROUP BY cat")
    val baseDir = MemCatalog.tableDir(spark, s"graftmem.ivm.base_$label")
    val vSeed = MemCatalog.currentVersion(baseDir)
    // FIXED change set, identical at every scale: 200 appended rows with
    // keys above any copy's stride, plus an update of the ≤100 smallest
    // keys (copy 0's head — the same physical rows at sf0.1 and sf1)
    ss.sql(s"INSERT INTO graftmem.ivm.base_$label " +
      "SELECT id, CAST(id % 97 AS BIGINT), id FROM range(20000000000, 20000000200)")
    val k100 = ss.sql(
      s"SELECT max(k) FROM (SELECT k FROM graftmem.ivm.base_$label ORDER BY k LIMIT 100)")
      .head().getLong(0)
    ss.sql(s"UPDATE graftmem.ivm.base_$label SET cents = cents + 1 WHERE k <= $k100")
    // timed: the incremental maintenance alone — net CDF from vSeed+1,
    // signed-delta MERGE per micro-batch (Gupta–Mumick)
    val t0 = System.nanoTime()
    graft.streaming.BoundedDrain.once(
      ss.readStream
        .option("changefeed", "true").option("netChanges", "true")
        .option("startingVersion", vSeed + 1)
        .table(s"graftmem.ivm.base_$label")
        .select(col("cat"), col("cents"), col("_change_type")),
      graft.streaming.BoundedDrain.Sink.ForeachBatch { (batch, _) =>
        val view = s"graft_ivm_batch_$label"
        batch.createOrReplaceTempView(view)
        batch.sparkSession.sql(
          graft.plans.MvRewrite.signedDeltaMerge(s"graftmem.ivm.mv_$label", view))
        ()
      })
    val maintain = (System.nanoTime() - t0) / 1e9
    // correctness rider: incremental == recompute, else the timing is void
    val bad = ss.sql(
      s"""SELECT count(*) FROM (
         |  (SELECT cat, n_rows, sum_cents FROM graftmem.ivm.mv_$label
         |   EXCEPT
         |   SELECT cat, count(*), sum(cents) FROM graftmem.ivm.base_$label GROUP BY cat)
         |  UNION ALL
         |  (SELECT cat, count(*), sum(cents) FROM graftmem.ivm.base_$label GROUP BY cat
         |   EXCEPT
         |   SELECT cat, n_rows, sum_cents FROM graftmem.ivm.mv_$label))""".stripMargin)
      .head().getLong(0)
    require(bad == 0, s"IVM probe: maintained MV diverged from recompute at $label")
    // SERVING flat-line — the read half ([[graft.plans.MvRewrite]]): the
    // watermark-armed rewrite answers the SAME aggregate from the
    // maintained MV. Timed against `recompute` (the direct base
    // aggregate above): served latency must stay flat as the base grows
    // 10×, because the rewritten plan's input is the MV's 97 rows.
    val s2 = ss.newSession()
    graft.plans.MvRewrite.install(s2)
    val mvDir = MemCatalog.tableDir(spark, s"graftmem.ivm.mv_$label")
    s2.sql(s"ALTER TABLE graftmem.ivm.mv_$label SET TBLPROPERTIES(" +
      s"'graft.mv.basedOn' = '${MemCatalog.currentVersion(baseDir)}')")
    val d = graft.plans.MvRewrite.registerMaintained(s2,
      s"graftmem.ivm.base_$label", s"graftmem.ivm.mv_$label", baseDir, mvDir,
      Seq("cat"), Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
    val serve = try {
      val aggSql = s"SELECT cat, count(*) AS n, sum(cents) AS sc " +
        s"FROM graftmem.ivm.base_$label GROUP BY cat"
      val armed = s2.sql(aggSql).queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.relation.table.name()
      }.toSet == Set(d.mvName)
      require(armed, s"IVM probe: the serving rewrite did not arm at $label")
      val ts0 = System.nanoTime()
      s2.sql(aggSql).count()
      (System.nanoTime() - ts0) / 1e9
    } finally graft.plans.MvRewrite.unregister(d.baseName)
    (baseRows, maintain, recompute, serve)
  }

  /** RE-CLUSTER FLAT-LINE — the O(stale) proof for the incremental
    * re-cluster ([[graft.sources.v2.MemCatalog.compact]]'s wave path):
    * the `dsv2_cluster_evolution` 10× probe stales the WHOLE base (ALTER
    * flips every file's sort stamp), so its ratio measures
    * O(N)-by-construction; THIS experiment grows the base 10× while
    * holding the stale tail CONSTANT — one wave of freshly-appended
    * unsorted files, the nightly-ingest shape — and times OPTIMIZE
    * alone. Maintenance must cost O(stale bytes): the converged base
    * files are stamped with the current key and sit at/above target
    * size, so they are not candidates; only the unstamped tail sorts.
    *
    * Setup per scale: clusterBy ingest (constant file size, growing file
    * count — the production invariant, same as [[ivmRun]]), then a
    * CONSTANT 20k-row tail appended with clustering UNSET (an unsorted
    * bulk arrival: the writer stamps no sort order), then clusterBy
    * restored (metadata-only — base stamps still match). Timed: the one
    * OPTIMIZE call that sorts the tail into converged stamped files.
    * Riders: post-state fully converged (every entry stamped, no #run),
    * and row count intact. Returns (base rows, stale rows, maintain sec).
    */
  private def reclusterRun(spark: SparkSession, dir: String, label: String): (Long, Long, Double) = {
    import graft.sources.v2.MemCatalog
    graft.sources.Tables.orders(spark, dir).createOrReplaceTempView(s"graft_rcl_orders_$label")
    spark.sql(s"DROP TABLE IF EXISTS graftmem.rcl.base_$label")
    val srcRows = graft.sources.Tables.orders(spark, dir).count()
    val parts = math.max(4L, srcRows / 10000L)
    spark.sql(
      s"""CREATE TABLE graftmem.rcl.base_$label (k BIGINT, cents BIGINT)
         |TBLPROPERTIES ('clusterBy'='k', 'clusterParts'='$parts')""".stripMargin)
    spark.sql(
      s"""INSERT INTO graftmem.rcl.base_$label
         |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
         |FROM graft_rcl_orders_$label""".stripMargin)
    val tdir = MemCatalog.tableDir(spark, s"graftmem.rcl.base_$label")
    val baseRows = spark.sql(s"SELECT count(*) FROM graftmem.rcl.base_$label")
      .head().getLong(0)
    // target = the smallest base file: every base file is ≥ target, so
    // none is a size candidate and the timed call's work is the tail only
    val target = MemCatalog.liveFiles(tdir).map(java.nio.file.Files.size).min
    // the constant stale tail: clustering unset → the writer stamps no
    // sort order; restored after → base stamps still match, tail is stale
    spark.sql(s"ALTER TABLE graftmem.rcl.base_$label UNSET TBLPROPERTIES ('clusterBy', 'clusterParts')")
    spark.sql(s"INSERT INTO graftmem.rcl.base_$label " +
      "SELECT 2000000000 + id, id * 7 FROM range(0, 20000)")
    spark.sql(s"ALTER TABLE graftmem.rcl.base_$label SET TBLPROPERTIES " +
      s"('clusterBy'='k', 'clusterParts'='$parts')")
    val staleRows = 20000L
    val t0 = System.nanoTime()
    MemCatalog.compact(tdir, target)
    val maintain = (System.nanoTime() - t0) / 1e9
    // riders: converged post-state, rows intact — else the timing is void
    val entries = MemCatalog.liveEntries(tdir)
    require(entries.nonEmpty && entries.forall(e =>
      e.sortedBy.contains("k") && !e.stats.contains("#run")),
      s"recluster probe: post-OPTIMIZE state not converged at $label")
    val n = spark.sql(s"SELECT count(*) FROM graftmem.rcl.base_$label").head().getLong(0)
    require(n == baseRows + staleRows,
      s"recluster probe: row count diverged at $label ($n vs ${baseRows + staleRows})")
    (baseRows, staleRows, maintain)
  }

  /** IDENTITY-ROUTING vs CLUSTERBY A/B — the same data written under the
    * two value-clustered layouts the catalog offers, measured on the
    * axes that decide between them: write wall, file count, zone-map
    * tightness (band range width per file), files-per-key, and an
    * equality probe's plan-time pruning (files kept / total) + wall.
    * (a) `identity(band)` + partitionRoute: CLUSTERED distribution on
    *     the key, task-side fanout → exactly one PARTITION-PURE file
    *     per distinct key.
    * (b) `clusterBy='band'`: RANGE distribution + sort → `clusterParts`
    *     files, each a tight CONTIGUOUS key range.
    * The decision rule this measures lives in SCALING.md §Round-13.
    */
  private def routeAbRun(spark: SparkSession, dir: String): String = {
    import graft.sources.v2.MemCatalog
    graft.sources.Tables.orders(spark, dir).createOrReplaceTempView("graft_rab_orders")
    def mk(label: String, props: String): (Double, java.nio.file.Path) = {
      spark.sql(s"DROP TABLE IF EXISTS graftmem.rab.$label")
      spark.sql(s"CREATE TABLE graftmem.rab.$label (band BIGINT, cents BIGINT) " +
        s"TBLPROPERTIES ($props)")
      val t0 = System.nanoTime()
      spark.sql(
        s"""INSERT INTO graftmem.rab.$label
           |SELECT CAST(o_custkey % 64 AS BIGINT),
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM graft_rab_orders""".stripMargin)
      ((System.nanoTime() - t0) / 1e9,
        MemCatalog.tableDir(spark, s"graftmem.rab.$label"))
    }
    val (wRoute, dRoute) = mk("route",
      "'graft.partition'='identity(band)','graft.partitionRoute'='true'," +
        "'clusterParts'='16'")
    val (wClust, dClust) = mk("clust", "'clusterBy'='band','clusterParts'='16'")
    def layout(d: java.nio.file.Path): (Int, Double, Double, Double) = {
      val entries = MemCatalog.liveEntries(d)
      val widths = entries.flatMap(_.stats.get("band"))
        .map { case (lo, hi) => (hi - lo + 1).toDouble }
      val fpk = (0L until 64L).map(b => entries.count(
        _.stats.get("band").exists { case (lo, hi) => b >= lo && b <= hi }).toDouble)
      (entries.size,
        if (widths.isEmpty) -1 else widths.sum / widths.size,
        if (widths.isEmpty) -1 else widths.max,
        if (fpk.isEmpty) -1 else fpk.sum / fpk.size)
    }
    val (nfR, awR, mwR, fpkR) = layout(dRoute)
    val (nfC, awC, mwC, fpkC) = layout(dClust)
    def probe(tbl: String, d: java.nio.file.Path): (Double, Int, Int) = {
      val sql = s"SELECT count(*), sum(cents) FROM graftmem.rab.$tbl WHERE band = 17"
      spark.sql(sql).collect() // warm (file listing + codegen)
      val t0 = System.nanoTime()
      spark.sql(sql).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val skip = MemCatalog.lastSkipByDir.get(d)
      val (kept, total) = if (skip == null) (-1, -1) else skip
      (dt, kept, total)
    }
    val (pR, kR, tR) = probe("route", dRoute)
    val (pC, kC, tC) = probe("clust", dClust)
    f"""{"route":{"write_sec":$wRoute%.3f,"n_files":$nfR,"avg_band_width":$awR%.2f,"max_band_width":$mwR%.2f,"files_per_key":$fpkR%.2f,"probe_sec":$pR%.4f,"probe_files_kept":$kR,"probe_files_total":$tR},"clusterBy":{"write_sec":$wClust%.3f,"n_files":$nfC,"avg_band_width":$awC%.2f,"max_band_width":$mwC%.2f,"files_per_key":$fpkC%.2f,"probe_sec":$pC%.4f,"probe_files_kept":$kC,"probe_files_total":$tC}}"""
  }

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val sf1 = args.lift(1).getOrElse("/tmp/graft-sf1")
    val outJson = args.lift(2).getOrElse("BENCH_SF1_r11.json")
    val sf10 = args.lift(3).getOrElse("/tmp/graft-sf10")
    val run100x = !sys.env.get("SPARK_GRAFT_PROBE_100X").contains("0")
    val spark = Sessions.local("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    synthesize(spark, sf01, sf1, copies = 10, tables = keyCols.keys.toSeq.sorted)
    if (run100x)
      synthesize(spark, sf01, sf10, copies = 100, tables = tables100x)

    def timeOnce(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      (dt, n)
    }
    // best-of-2 per scale drops one contended sample — but a >60 s run is
    // contention-insensitive and not worth paying twice
    def timeBest(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Long) = {
      val (t1, n) = timeOnce(fn, dir)
      if (t1 > 60.0) (t1, n) else (math.min(t1, timeOnce(fn, dir)._1), n)
    }
    // TRAIN-THEN-SERVE queries: the first run after a corpus change pays
    // one-time index/merge-table training, which is NOT the serving cost
    // under measurement — and the >60 s single-sample short-circuit above
    // would then record that cold run as THE number (exactly the r13
    // artifact bug: 68 s of IVF-PQ training charged to a 0.9 s serve).
    // Warm each fingerprinted artifact OFF the clock before timing, and
    // hold serve rows to a loud scale-invariance gate afterwards.
    val servePath = Set("search_index_served", "knn_ivf_pq_serve",
      "bpe_encode_persisted", "knn_ivf_pq_append_serve", "knn_ivf_pq_live")
    val ServeBound = 10.0
    // warm the JIT + file listings once off the clock
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    case class Row(name: String, t01: Double, t1: Double, ratio: Double,
        n01: Long, n1: Long, mult: Int) {
      // OUTPUT growth: operators whose result cardinality itself scales
      // super-linearly are judged on time-per-output-row, the only metric
      // an output-bound operator can be held to
      def rowsRatio: Double = if (n01 > 0) n1.toDouble / n01 else 1.0
      def perRowRatio: Double = ratio / math.max(1.0, rowsRatio)
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev loop: SPARK_GRAFT_PROBE_ONLY=a,b filters the probed set;
    // SPARK_GRAFT_PROBE_EXPLAIN=1 dumps each probed plan at both scales
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    val explainPlans = sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN").contains("1")
    def probe(names: Seq[String], dir: String, mult: Int): Seq[Row] =
      names.filter(n => only.forall(_.contains(n)))
        .filter(n => overrides.contains(n) || SparkEntry.queries.contains(n))
        .flatMap { name =>
          val fn = overrides.getOrElse(name, SparkEntry.queries(name))
          if (explainPlans) {
            System.err.println(s"===== $name @ sf0.1 =====")
            fn(spark, sf01).explain("formatted")
            System.err.println(s"===== $name @ ${mult}x =====")
            fn(spark, dir).explain("formatted")
          }
          try {
            if (servePath.contains(name)) { // train artifacts off the clock
              fn(spark, sf01).count()
              fn(spark, dir).count()
            }
            val (a, n01) = timeBest(fn, sf01)
            val (b, n1) = timeBest(fn, dir)
            val ratio = if (a > 0) b / a else -1.0
            val r = Row(name, a, b, ratio, n01, n1, mult)
            if (servePath.contains(name) && r.perRowRatio > ServeBound)
              errors(s"serve_gate_${name}@${mult}x") =
                f"serve per-row ratio ${r.perRowRatio}%.2f exceeds bound $ServeBound%.1f (serving cost is tracking corpus size)"
            System.err.println(f"[probe] ${mult}x $name%-28s sf0.1=$a%7.2fs  big=$b%7.2fs  " +
              f"ratio=$ratio%6.2f  rows=${r.rowsRatio}%6.2fx  per-row=${r.perRowRatio}%5.2f")
            Some(r)
          } catch {
            case t: Throwable =>
              errors(s"${name}@${mult}x") =
                Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
              System.err.println(s"[probe] $name FAILED: ${errors(s"${name}@${mult}x")}")
              None
          }
        }

    val probed10 = (Bench.headline ++ extras).distinct
    val rows = probe(probed10, sf1, 10)
    val rows100 = if (run100x) probe(flagship100x, sf10, 100) else Seq.empty

    // FLAT-LINE REGRESSION GATES: both maintenance experiments hold
    // constant change/stale volume while the base grows 10× — their
    // maintain_ratio is the measured claim "maintenance is O(changes) /
    // O(stale bytes), not O(base)". r12 measured 1.07 (IVM) and 0.98
    // (re-cluster); the bound leaves noise headroom but fails LOUDLY
    // (errors entry + non-zero exit) if maintenance cost ever starts
    // tracking base size — the regression that silently kills the
    // incremental story at 100 TB.
    val FlatlineBound = 1.5

    // IVM flat-line experiment (base 10×, change set constant)
    val ivmJson = if (only.exists(!_.contains("ivm_flatline"))) "null" else try {
      val (r01, m01, c01, s01) = ivmRun(spark, sf01, "a")
      val (r1, m1, c1, s1) = ivmRun(spark, sf1, "b")
      val mRatio = m1 / math.max(1e-9, m01)
      if (mRatio > FlatlineBound)
        errors("ivm_flatline_gate") =
          f"maintain_ratio $mRatio%.2f exceeds bound $FlatlineBound%.1f (maintenance cost is tracking base size)"
      f"""{"sf01":{"base_rows":$r01,"maintain_sec":$m01%.3f,"recompute_sec":$c01%.3f,"serve_sec":$s01%.3f},"sf1":{"base_rows":$r1,"maintain_sec":$m1%.3f,"recompute_sec":$c1%.3f,"serve_sec":$s1%.3f},"base_rows_ratio":${r1.toDouble / math.max(1, r01)}%.2f,"maintain_ratio":$mRatio%.2f,"maintain_bound":$FlatlineBound%.1f,"recompute_ratio":${c1 / math.max(1e-9, c01)}%.2f,"serve_ratio":${s1 / math.max(1e-9, s01)}%.2f}"""
    } catch {
      case t: Throwable =>
        errors("ivm_flatline") = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
        "null"
    }

    // RE-CLUSTER flat-line (base 10×, stale tail constant — O(stale) proof)
    val rclJson = if (only.exists(!_.contains("recluster_flatline"))) "null" else try {
      val (r01, s01, m01) = reclusterRun(spark, sf01, "a")
      val (r1, s1, m1) = reclusterRun(spark, sf1, "b")
      val mRatio = m1 / math.max(1e-9, m01)
      if (mRatio > FlatlineBound)
        errors("recluster_flatline_gate") =
          f"maintain_ratio $mRatio%.2f exceeds bound $FlatlineBound%.1f (OPTIMIZE cost is tracking base size)"
      f"""{"sf01":{"base_rows":$r01,"stale_rows":$s01,"maintain_sec":$m01%.3f},"sf1":{"base_rows":$r1,"stale_rows":$s1,"maintain_sec":$m1%.3f},"base_rows_ratio":${r1.toDouble / math.max(1, r01)}%.2f,"maintain_ratio":$mRatio%.2f,"maintain_bound":$FlatlineBound%.1f}"""
    } catch {
      case t: Throwable =>
        errors("recluster_flatline") = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
        "null"
    }

    // identity-routing vs clusterBy layout A/B (opt-in: not a gate, the
    // measured basis for SCALING.md's decision rule)
    val rabJson = if (only.exists(!_.contains("route_ab"))) "null" else try {
      routeAbRun(spark, sf01)
    } catch {
      case t: Throwable =>
        errors("route_ab") = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
        "null"
    }

    def rowsJson(rs: Seq[Row]): String = rs.map { r =>
      f""""${r.name}":{"sf01_sec":${r.t01}%.3f,"sf1_sec":${r.t1}%.3f,"ratio":${r.ratio}%.2f,"rows_sf01":${r.n01},"rows_sf1":${r.n1},"rows_ratio":${r.rowsRatio}%.2f,"per_row_ratio":${r.perRowRatio}%.2f}"""
    }.mkString("{", ",", "}")
    val errStr = errors.map { case (n, m) =>
      s""""$n":"${m.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")}""""
    }.mkString("{", ",", "}")
    // all-failed runs must still emit the JSON (it carries the error
    // details needed to diagnose them) — worst_* fields go null
    val worstFields =
      if (rows.isEmpty) """"worst_ratio":null,"worst_query":null,"worst_per_row_ratio":null,"worst_per_row_query":null"""
      else {
        val worst = rows.maxBy(_.ratio)
        val worstPerRow = rows.maxBy(_.perRowRatio)
        f""""worst_ratio":${worst.ratio}%.2f,"worst_query":"${worst.name}","worst_per_row_ratio":${worstPerRow.perRowRatio}%.2f,"worst_per_row_query":"${worstPerRow.name}""""
      }
    val dn = densityNormalized.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"sf1_scale_probe","rows_multiplier":10,"n_queries":${rows.size},"queries":${rowsJson(rows)},"queries_100x":${rowsJson(rows100)},"n_queries_100x":${rows100.size},"density_normalized":$dn,"ivm_flatline":$ivmJson,"recluster_flatline":$rclJson,"route_ab":$rabJson,"errors":$errStr,$worstFields,"sf01_total":${rows.map(_.t01).sum}%.2f,"sf1_total":${rows.map(_.t1).sum}%.2f,"sf10_total":${rows100.map(_.t1).sum}%.2f}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // flat-line gate violations fail the PROCESS (after the JSON is
    // written — the artifact carries the diagnosis), so a driver/CI run
    // can't silently absorb a maintenance-cost regression
    if (errors.keys.exists(_.endsWith("_gate"))) {
      System.err.println(s"[probe] flat-line regression gate FAILED: " +
        errors.filter(_._1.endsWith("_gate")).map { case (k, v) => s"$k: $v" }
          .mkString("; "))
      sys.exit(1)
    }
  }
}
