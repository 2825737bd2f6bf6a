package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Behavioral / commerce analytics and feature-engineering operators:
  * item-item co-occurrence, marketing attribution, CDC apply, per-group
  * mode, a Pareto frontier (skyline), one-hot and target encoding, RFM
  * user segmentation, and an explicit Bloom-filter membership probe.
  *
  * Reference scope: these extend the reference's aggregation surface
  * (`greeter_server.cc:92-110` reduce; `greeter_client.cc:362-390`
  * partitioning) with the query shapes a behavioral-analytics user of the
  * reference would run downstream of word-count-style aggregation.
  *
  * Scale shapes:
  *   - co-purchase is an equi-join on the basket key (never all-pairs
  *     across baskets); per-basket pair fan-out is bounded by basket size.
  *   - attribution and CDC apply are partitioned windows (user / primary
  *     key) — no global ordering anywhere.
  *   - the skyline decomposes into a per-bin partitioned window plus a
  *     bin-level running max over the tiny bin aggregate — the global
  *     ORDER BY window an oracle-style formulation needs never
  *     materializes on the big table.
  *   - encodings broadcast the category→stat dictionary (categories ≪
  *     rows, the classic small-dim shape).
  */
object Analytics {

  /** Item-item co-occurrence: part pairs appearing in the same order,
    * ranked by the number of co-occurring orders — the input table of
    * every "frequently bought together" recommender. The self-join is an
    * equi-join on the basket key over the distinct (order, part) table;
    * both sides share one canonical child so AQE materializes the
    * exchange once (ReusedExchange). Candidate volume is Σ b·(b−1)/2
    * over basket sizes b — linear in orders for bounded baskets, never
    * a cross product.
    */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    copurchasePairsOn(Tables.lineitem(spark, dir))

  def copurchasePairsOn(lineitem: DataFrame): DataFrame = {
    val d = lineitem.select("l_orderkey", "l_partkey").distinct()
    d.as("a")
      .join(d.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1").asc, col("p2").asc)
      .limit(100)
  }

  /** Last-touch attribution: for every purchase, the most recent strictly
    * preceding `view` by the same user and whether it falls inside a
    * 7-day window. One partitioned window per user (carry-forward max of
    * view timestamps over the preceding frame) — the lookback never joins
    * or re-scans. Purchases with no prior view surface as NULLs (new-user
    * traffic the attribution report must show, not drop).
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame =
    attributionLastTouchOn(Tables.events(spark, dir))

  def attributionLastTouchOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("last_view_us"),
        (unix_micros(col("ts")) - col("last_view_us")).as("gap_us"),
        coalesce(
          (unix_micros(col("ts")) - col("last_view_us")) <= lit(604800000000L),
          lit(false)).as("attributed"))
  }

  /** CDC apply — latest-version-wins with tombstones: a synthetic
    * insert/update/delete changelog derived from `orders` collapses to
    * current state via one row_number window per primary key; 'D' rows
    * delete. This is the merge loop of every CDC-ingest pipeline
    * (Debezium→lake): at 100 TB the window partitions by key and the
    * changelog shuffles once; money stays in exact integer cents.
    */
  def cdcLatest(spark: SparkSession, dir: String): DataFrame =
    cdcLatestOn(Tables.orders(spark, dir))

  def cdcLatestOn(orders: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
    val ins = o.select(col("o_orderkey"), lit(1).as("version"), lit("I").as("op"), col("cents"))
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(2).as("version"), lit("U").as("op"),
        (col("cents") + 1000).as("cents"))
    val del = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(3).as("version"), lit("D").as("op"),
        lit(null).cast("long").as("cents"))
    val w = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
    ins.union(upd).union(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select("o_orderkey", "version", "cents")
  }

  /** Deterministic per-group mode: the most frequent order priority per
    * customer nation, ties broken by priority value. Two stages: a
    * (group, value) count with map-side partial aggregation, then a
    * row_number window partitioned by group over the (already tiny)
    * count table — the raw stream is never windowed.
    */
  def aggMode(spark: SparkSession, dir: String): DataFrame =
    aggModeOn(Tables.orders(spark, dir), Tables.customer(spark, dir))

  def aggModeOn(orders: DataFrame, customer: DataFrame): DataFrame = {
    val joined = orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
    val cnts = joined.groupBy("c_nationkey", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    cnts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("o_orderpriority").as("mode_priority"), col("cnt"))
  }

  /** 2-D skyline (Pareto frontier): parts minimizing retail price while
    * maximizing size — no other part is cheaper-and-at-least-as-big.
    * The textbook formulation is a running max over ONE globally ordered
    * window; this implementation keeps the result identical while
    * decomposing for scale: collapse to per-price max size (one
    * exchange), then (a) a running max WITHIN each fixed-width price bin
    * (partitioned window, parallel) and (b) a running max ACROSS bins
    * computed on the bin-level aggregate (rows = #bins, broadcast back).
    * A row survives iff it beats both. The oracle states the single
    * global window; the hash match proves the decomposition equivalent.
    */
  def skyline2d(spark: SparkSession, dir: String): DataFrame =
    skyline2dOn(Tables.part(spark, dir))

  def skyline2dOn(part: DataFrame): DataFrame = {
    val pairs = part
      .groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("size"))
      .withColumn("bin", floor(col("price") / 100).cast("long"))
    val binTops = pairs.groupBy("bin").agg(max("size").as("bin_max"))
    val wBins = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevBins = binTops
      .withColumn("prev_bins_max", max(col("bin_max")).over(wBins))
      .select("bin", "prev_bins_max")
    val wInBin = Window.partitionBy("bin").orderBy(col("price").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pairs
      .withColumn("prev_in_bin", max(col("size")).over(wInBin))
      .join(broadcast(prevBins), Seq("bin"))
      .filter(col("size") > greatest(
        coalesce(col("prev_in_bin"), lit(Int.MinValue)),
        coalesce(col("prev_bins_max"), lit(Int.MinValue))))
      .select("price", "size")
  }

  /** One-hot encoding of the categorical order columns against a fixed
    * category list — pure map-side (zero shuffles), the feature-matrix
    * widening step before any ML training job. Fixed lists (not
    * data-driven distinct) keep the schema stable across shards, which
    * is what a 1000-executor featurization job needs.
    */
  def featureOnehot(spark: SparkSession, dir: String): DataFrame = {
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val stats = Seq("F", "O", "P")
    val priCols = pris.zipWithIndex.map { case (v, i) =>
      when(col("o_orderpriority") === v, 1).otherwise(0).as(s"pri_${i + 1}")
    }
    val statCols = stats.map { v =>
      when(col("o_orderstatus") === v, 1).otherwise(0).as(s"st_${v.toLowerCase}")
    }
    Tables.orders(spark, dir).select(col("o_orderkey") +: (priCols ++ statCols): _*)
  }

  /** Target (mean) encoding: each categorical value replaced by the mean
    * of the target over its group — the dictionary is a per-category
    * aggregate broadcast back onto the row stream (categories ≪ rows).
    * The mean is a double quotient of exact integers (cents / count), so
    * it is bit-identical across engines; row-level targets stay integer.
    */
  def featureTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("target_cents"))
    val enc = o.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("target_cents").as("cents"))
      .select(col("o_orderpriority"),
        (col("cents").cast("double") / col("n")).as("enc_mean"))
    o.join(broadcast(enc), Seq("o_orderpriority"))
      .select("o_orderkey", "o_orderpriority", "target_cents", "enc_mean")
  }

  /** RFM segmentation: per-user recency (last event time), frequency
    * (event count), monetary (exact cents), each quartiled with
    * `ntile(4)` under a total order so bucket assignment is
    * deterministic cross-engine (same precedent as quality_buckets'
    * ntile terciles). The global-order windows run on the per-user
    * AGGREGATE (users ≪ events); at extreme user counts the scale path
    * swaps ntile for approx-percentile cut points probed map-side —
    * same trade documented at TextAnalysis.qualityBuckets.
    */
  def userRfm(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("monet_cents"))
    perUser.select(
      col("user_id"), col("last_us"), col("n_events"), col("monet_cents"),
      ntile(4).over(Window.orderBy(col("last_us").desc, col("user_id").asc)).as("r_score"),
      ntile(4).over(Window.orderBy(col("n_events").desc, col("user_id").asc)).as("f_score"),
      ntile(4).over(Window.orderBy(col("monet_cents").desc, col("user_id").asc)).as("m_score"))
  }

  /** Explicit Bloom-filter membership probe: build a sketch over the
    * customer keys (sized from a cheap count job so the bit array matches
    * the data — an undersized filter saturates and its FP bound is void),
    * probe it with present keys (order custkeys)
    * and known-absent keys (custkeys shifted by 1e6), and verify the
    * structural guarantees — zero false negatives, bounded false-positive
    * rate. The sketch is order-independent (bit-OR merge), so the bits
    * are deterministic under any partitioning. Spark's automatic runtime
    * bloom-join reduction is covered in RelationalSpec; this is the
    * user-facing materialized-sketch variant (ship a filter to another
    * system / prune a scan). The oracle mirrors the exact columns and
    * gates the sketch booleans, the established sketch-op pattern
    * (agg_approx_distinct).
    */
  def bloomProbe(spark: SparkSession, dir: String): DataFrame = {
    val nCustomers = Tables.customer(spark, dir).count()
    val bf = Tables.customer(spark, dir)
      .stat.bloomFilter("c_custkey", math.max(nCustomers, 1000L), 0.03)
    val mightContain = udf((k: Long) => bf.mightContainLong(k))
    val custKeys = Tables.orders(spark, dir).select(col("o_custkey").as("k")).distinct()
    val probes = custKeys
      .union(custKeys.select((col("k") + 1000000).as("k")))
      .distinct()
    val present = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), lit(true).as("present"))
    probes.join(broadcast(present), Seq("k"), "left")
      .select(col("k"), coalesce(col("present"), lit(false)).as("present"),
        mightContain(col("k")).as("maybe"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("present"), 1).otherwise(0)).cast("long").as("n_present"),
        (sum(when(col("present") && !col("maybe"), 1).otherwise(0)) === 0)
          .as("no_false_negatives"),
        (sum(when(!col("present") && col("maybe"), 1).otherwise(0)).cast("double")
          / sum(when(!col("present"), 1).otherwise(0)) <= 0.15)
          .as("fp_rate_bounded"))
  }

  /** Corpus mixture weights: per-source token mass vs a uniform target
    * mixture — the sampling-weight table a pretraining data loader
    * consumes (each source up/down-sampled to its target share).
    * `weight` is the exact-integer quotient total/(K·src); `epochs` is
    * its ceiling in pure integer arithmetic (repeat count for sources
    * smaller than their target share). One aggregate + one broadcast of
    * the 1-row totals — the corpus streams once.
    */
  def corpusMixtureWeights(spark: SparkSession, dir: String): DataFrame =
    corpusMixtureWeightsOn(Tables.documents(spark, dir))

  def corpusMixtureWeightsOn(docs: DataFrame): DataFrame = {
    val perSrc = docs
      .select(col("source"), size(TextPipeline.words(col("text"))).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val tot = perSrc.agg(sum("n_tokens").as("total_tokens"), count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens")).as("share"),
        (col("total_tokens").cast("double") / (col("n_sources") * col("n_tokens"))).as("weight"),
        expr("(total_tokens + n_sources * n_tokens - 1) div (n_sources * n_tokens)").as("epochs"))
  }

  /** APPLIES [[corpusMixtureWeightsOn]] — the sampling step the weight
    * table exists for: every doc draws a deterministic per-million residue
    * (`md5("mix:" || doc_id)`, the repo's reproducible-sampling idiom) and
    * survives iff residue < min(weight, 1)·10⁶; over-represented sources
    * are thinned to their uniform-mix share, under-represented ones keep
    * everything and report `epochs` (the integer repeat count) instead.
    * Output is the per-source audit a data loader build logs: kept counts,
    * achieved vs target rate. Shape: ONE corpus scan + a broadcast of the
    * tiny weight table + one aggregate — the sample decision is map-side,
    * join-stable, and identical across reruns and repartitions.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleOn(Tables.documents(spark, dir))

  def mixtureSampleOn(docs: DataFrame): DataFrame = {
    val weights = corpusMixtureWeightsOn(docs).select("source", "weight", "epochs")
    val residue = conv(substring(md5(concat(lit("mix:"), col("doc_id"))), 1, 6), 16, 10)
      .cast("long") % 1000000
    docs.select(col("source"), col("doc_id"), residue.as("r"))
      .join(broadcast(weights), "source")
      .withColumn("keep", col("r") < least(col("weight"), lit(1.0)) * 1000000)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        max("epochs").as("epochs"),
        round(least(max("weight"), lit(1.0)), 4).as("target_rate"))
      .withColumn("achieved_rate", round(col("n_kept") * 1.0 / col("n_docs"), 4))
  }

  /** Power-of-two length-bucket histogram: documents grouped by
    * ⌊log₂(tokens)⌋+1, the bucketing a sequence-packing batcher uses so a
    * batch wastes at most half its padding. The log is computed as the
    * BINARY-DIGIT COUNT (`length(bin(n))`) — exact integer arithmetic,
    * immune to the cross-engine faithful-rounding hazard a float log2
    * would carry at exact powers of two. Map-side + one aggregate.
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    lengthBucketsOn(Tables.documents(spark, dir))

  def lengthBucketsOn(docs: DataFrame): DataFrame =
    docs.select(size(TextPipeline.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))

  /** Zone-map pruning audit: build per-chunk min/max date statistics for
    * two physical layouts of the same table — chunked by primary key
    * (insertion order) vs clustered by date — and report how many chunks
    * a one-year predicate could skip under each. This is the audit that
    * justifies sort/Z-order layout at 100 TB: on the fixture the
    * clustered layout prunes 12/15 chunks (80% of rows), the key-chunked
    * one prunes zero. The clustering rank uses one global sort — exactly
    * what a production writer's range-partitioned write performs; the
    * zone-map aggregation itself is one exchange per layout.
    */
  def zonemapPruneStats(spark: SparkSession, dir: String): DataFrame =
    zonemapPruneStatsOn(Tables.orders(spark, dir))

  def zonemapPruneStatsOn(orders: DataFrame): DataFrame = {
    val keyed = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("o_orderdate").asc, col("o_orderkey").asc)))
      .withColumn("key_file", expr("o_orderkey div 1000"))
      .withColumn("date_file", expr("(rn - 1) div 1000"))
    def zoneMap(fileCol: String, layout: String): DataFrame =
      keyed.groupBy(col(fileCol).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderdate").as("min_d"), max("o_orderdate").as("max_d"))
        .withColumn("layout", lit(layout))
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    zoneMap("key_file", "key_chunked").union(zoneMap("date_file", "date_clustered"))
      .withColumn("pruned", col("max_d") < lo || col("min_d") >= hi)
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("pruned"), 1).otherwise(0)).cast("long").as("n_pruned"),
        sum(when(col("pruned"), 0).otherwise(col("n_rows"))).cast("long").as("rows_scanned"),
        sum("n_rows").as("rows_total"))
  }

  /** Incremental maintenance of a JOIN view: with both sides split into
    * base ⊎ delta, the join distributes — V = agg(Ob⋈Lb ∪ Ob⋈Ld ∪ Od⋈Lb
    * ∪ Od⋈Ld) — and the partial aggregates merge by re-summing (the same
    * algebra as incremental_agg_merge, extended across a join). The
    * oracle is the monolithic full recompute; the hash match proves the
    * four-term decomposition exact. In production only the delta terms
    * run per refresh (base⋈base is the stored view), turning an
    * O(|O|·|L|) refresh into O(|Δ|) — the difference between a nightly
    * and a continuous materialized view at 100 TB.
    */
  def incrementalJoinMerge(spark: SparkSession, dir: String): DataFrame =
    incrementalJoinMergeOn(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  def incrementalJoinMergeOn(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def view(o: DataFrame, l: DataFrame): DataFrame =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val ob = orders.filter(col("o_orderkey") % 10 =!= 0)
    val od = orders.filter(col("o_orderkey") % 10 === 0)
    val lb = lineitem.filter(col("l_linenumber") % 2 =!= 0)
    val ld = lineitem.filter(col("l_linenumber") % 2 === 0)
    Seq(view(ob, lb), view(ob, ld), view(od, lb), view(od, ld))
      .reduce(_ union _)
      .groupBy("o_orderstatus")
      .agg(sum("n").as("n"), sum("cents").as("cents"))
  }

  /** M4 time-series downsampling: per (series, hour) emit min/max/first/
    * last — the lossless-for-pixels reduction dashboards use to render
    * billions of points. first/last anchor on `event_id`, the fixture's
    * arrival order (verified ts-monotone), so the extremes are
    * deterministic; values ride as exact cents. Pure one-exchange
    * aggregate with map-side partials — at 100 TB the output is
    * #series × #hours regardless of input volume.
    */
  def m4Downsample(spark: SparkSession, dir: String): DataFrame =
    m4DownsampleOn(Tables.events(spark, dir))

  def m4DownsampleOn(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
      .groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"),
        expr("min_by(cents, event_id)").as("first_cents"),
        expr("max_by(cents, event_id)").as("last_cents"))

  /** Exact per-group median WITHOUT buffering values: build the value
    * histogram (one exchange, map-side combine), running-count it with a
    * partitioned window, and pick the two middle ranks arithmetically.
    * This is the scale-safe answer to exact `percentile`'s
    * whole-group-in-one-buffer hazard for discrete/bounded-cardinality
    * domains (cents here): memory is O(distinct values), not O(rows).
    * The interpolated median (c1+c2)/2 is exact in IEEE for integer
    * inputs, so it hash-matches DuckDB's `quantile_cont` bit-for-bit.
    */
  def exactMedianHistogram(spark: SparkSession, dir: String): DataFrame =
    exactMedianHistogramOn(Tables.events(spark, dir))

  def exactMedianHistogramOn(events: DataFrame): DataFrame = {
    val hist = events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type").orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
    // 1-based ranks of the lower/upper middle; a histogram row covers
    // ranks (cum-cnt, cum], so exactly one row holds each target rank
    val k1 = expr("(n + 1) div 2")
    val k2 = expr("(n + 2) div 2")
    cum.groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("cum") >= k1 && col("cum") - col("cnt") < k1, col("cents"))).as("c1"),
        min(when(col("cum") >= k2 && col("cum") - col("cnt") < k2, col("cents"))).as("c2"))
      .select(col("event_type"), col("n"),
        ((col("c1") + col("c2")) / lit(2.0)).as("median_cents"))
  }

  /** Balanced range-partition split points: the 31 boundaries that cut
    * `orders` into 32 equal-row ranges by price — what a range
    * partitioner / sorted writer needs before laying out a 100 TB table.
    * Spark's own RangePartitioner SAMPLES to approximate these; this
    * computes them exactly from the value histogram (cumulative counts,
    * then one bounded 31-row broadcast probe for the ceiling ranks).
    * Memory is O(distinct values); for genuinely continuous keys you'd
    * pre-bin the histogram first.
    */
  def rangeSplitPoints(spark: SparkSession, dir: String): DataFrame =
    rangeSplitPointsOn(Tables.orders(spark, dir))

  def rangeSplitPointsOn(orders: DataFrame, parts: Int = 32): DataFrame = {
    val spark = orders.sparkSession
    val hist = orders
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum("cnt").over(wCum))
      .crossJoin(broadcast(hist.agg(sum("cnt").as("n"))))
    val js = spark.range(1, parts).select(col("id").as("j"))
    val k = expr(s"(j * n + ${parts - 1}) div $parts")
    cum.join(broadcast(js), col("cum") >= k && col("cum") - col("cnt") < k)
      .groupBy("j").agg(min("cents").as("split_cents"))
  }

  /** MapReduce secondary sort, Spark-first: longest strictly-increasing
    * value run per user, computed by `repartition(user)` +
    * `sortWithinPartitions(user, ts, event_id)` + a constant-memory
    * `mapPartitions` scan over the sorted runs — the classic
    * composite-key shuffle the reference's reduce loop consumes
    * (`greeter_server.cc:92-110` iterates a sorted group stream). The
    * window-function formulation (the oracle) needs two window passes
    * and a re-aggregate; the secondary-sort form is one shuffle and one
    * forward scan, the shape you reach for when per-key logic is
    * genuinely imperative. The hash match proves them equivalent.
    */
  def secondarySortRuns(spark: SparkSession, dir: String): DataFrame =
    secondarySortRunsOn(Tables.events(spark, dir))

  def secondarySortRunsOn(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val sorted = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("us"), col("event_id"))
      .as[(Long, Long, Long, Long)]
    sorted.mapPartitions { iter =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var curUser = 0L; var started = false
      var havePrev = false; var prevCents = 0L
      var run = 0L; var best = 0L; var n = 0L
      def flush(): Unit = if (started) out += ((curUser, n, best))
      iter.foreach { case (u, _, _, c) =>
        if (!started || u != curUser) {
          flush(); curUser = u; started = true
          n = 0; run = 0; best = 0; havePrev = false
        }
        n += 1
        run = if (havePrev && c > prevCents) run + 1 else 1
        if (run > best) best = run
        havePrev = true; prevCents = c
      }
      flush()
      out.iterator
    }.toDF("user_id", "n_events", "longest_run")
  }

  /** Label-propagation communities over the co-purchase graph: each part
    * starts labeled with its own id and adopts, for two synchronized
    * rounds, the most frequent label among its neighbors (ties to the
    * smallest label — fully deterministic, so the oracle can unroll the
    * identical trajectory in CTEs, the kmeans-oracle pattern). Each round
    * is one equi-join (edges ⋈ labels on neighbor) plus one count
    * aggregate plus one per-node argmax — plan size constant per round,
    * the same iterative shape as dedup_clusters' min-label fixpoint.
    * Complements it: min-label converges to connected components,
    * majority-label finds dense substructure WITHIN a component.
    */
  def graphCommunities(spark: SparkSession, dir: String): DataFrame =
    graphCommunitiesOn(Tables.lineitem(spark, dir))

  def graphCommunitiesOn(lineitem: DataFrame): DataFrame = {
    val d = lineitem.select("l_orderkey", "l_partkey").distinct()
    val e0 = d.as("a")
      .join(d.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    // the doubled edge list feeds three consumers (init labels + one join
    // per round); localCheckpoint materializes the co-purchase self-join
    // ONCE and truncates lineage (dedup_clusters pattern) — measured at
    // sf0.1: 26 stages/293 tasks vs 37/321 recomputing, for +1 job
    val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to 2) {
      // argmax(cnt desc, label asc) as a sort-free max_by over an
      // orderable struct — one hash aggregate instead of a row_number
      // window's exchange + full sort of the (node, label) count table
      labels = edges
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max_by(col("label"), struct(col("cnt"), -col("label"))).as("label"))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** First-touch conversion latency: per user, time from first `view` to
    * first `purchase` (exact µs), with never-converted users kept as
    * explicit false rows. One aggregate over the event stream — the
    * funnel-timing report every growth team derives, and the base table
    * for conversion-latency percentiles via [[exactMedianHistogram]]'s
    * bufferless pattern.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame =
    conversionLatencyOn(Tables.events(spark, dir))

  def conversionLatencyOn(events: DataFrame): DataFrame = {
    val conv = col("first_purchase_us") > col("first_view_us")
    events.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts")))).as("first_view_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("first_purchase_us"))
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        coalesce(conv, lit(false)).as("converted"),
        when(coalesce(conv, lit(false)),
          col("first_purchase_us") - col("first_view_us")).as("latency_us"))
  }

  /** Merkle-style chunk checksums: the order-independent row-hash sum of
    * [[Mining.tableChecksumOn]] at key-range-chunk grain. Two replicas
    * exchange this tiny table (one row per chunk) and re-sync ONLY the
    * chunks whose checksums diverge — the anti-entropy protocol that
    * makes reconciling two 100 TB replicas cost O(diff), not O(table).
    * table_diff is the row-level follow-up run on the flagged chunks.
    */
  /** Right-to-be-forgotten erasure audit — the cascade every privacy
    * regime (GDPR art. 17 / CCPA) forces on a warehouse: a deletion
    * cohort of customers (here the deterministic `c_custkey % 97 = 0`
    * stand-in for a real request list) is propagated customer → orders →
    * lineitem along the foreign keys, and the audit reports per table how
    * many rows the erasure removes vs leaves. The cohort and the erased
    * order-key set ride BROADCASTS (request lists are tiny vs facts);
    * each fact table streams through one semi-join-shaped count — the
    * facts never shuffle, and lineitem never joins customer directly
    * (the cascade goes through orders' keys, mirroring the FK chain).
    */
  def gdprErasure(spark: SparkSession, dir: String): DataFrame =
    gdprErasureOn(Tables.customer(spark, dir), Tables.orders(spark, dir),
      Tables.lineitem(spark, dir))

  def gdprErasureOn(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val cohort = customer.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("erase_key"))
    val erasedOrders = orders
      .join(broadcast(cohort), col("o_custkey") === col("erase_key"))
      .select("o_orderkey")
    def audit(table: String, df: DataFrame,
        erased: org.apache.spark.sql.Column): DataFrame =
      df.agg(
        lit(table).as("table_name"),
        count(lit(1)).as("n_before"),
        sum(when(erased, 1L).otherwise(0L)).as("n_erased"),
        sum(when(erased, 0L).otherwise(1L)).as("n_after"))
        .select("table_name", "n_before", "n_erased", "n_after")
    val cAudit = audit("customer", customer, col("c_custkey") % 97 === 0)
    val oAudit = audit("orders",
      orders.join(broadcast(cohort), col("o_custkey") === col("erase_key"), "left"),
      col("erase_key").isNotNull)
    val lAudit = audit("lineitem",
      lineitem.join(broadcast(erasedOrders),
        col("l_orderkey") === col("o_orderkey"), "left"),
      col("o_orderkey").isNotNull)
    cAudit.union(oAudit).union(lAudit)
  }

  def merkleChunks(spark: SparkSession, dir: String): DataFrame =
    merkleChunksOn(Tables.orders(spark, dir))

  def merkleChunksOn(orders: DataFrame): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val rowHash = conv(substring(md5(
      concat_ws("|", cols.map(c => col(c).cast("string")): _*)), 1, 8), 16, 10)
      .cast("long")
    orders
      .select(expr("o_orderkey div 1000").as("chunk_id"), rowHash.as("h"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_rows"), sum("h").as("checksum"))
  }

  /** Shuffle-balance audit: distribute the event stream's grouping key
    * over 32 hash buckets (content hash, engine-independent) and report
    * per-bucket key count, row count, and the row ratio vs the uniform
    * ideal — the straggler predictor for any groupBy/join on this key.
    * On the fixture the ratio spans 0.37–2.09×: exactly the imbalance a
    * salting or AQE-skew decision needs quantified before a 100 TB
    * shuffle. Map-side bucket assignment + one aggregate.
    */
  def partitionBalance(spark: SparkSession, dir: String): DataFrame =
    partitionBalanceOn(Tables.events(spark, dir))

  def partitionBalanceOn(events: DataFrame): DataFrame = {
    val bucketed = events.select(col("user_id"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 32).as("bucket"))
    bucketed
      .crossJoin(broadcast(events.agg(count(lit(1)).as("total"))))
      .groupBy("bucket", "total")
      .agg(countDistinct("user_id").as("n_keys"), count(lit(1)).as("n_rows"))
      .select(col("bucket"), col("n_keys"), col("n_rows"),
        (col("n_rows").cast("double") * 32 / col("total")).as("balance_ratio"))
  }

  /** KMV (k-minimum-values / theta) sketch size. */
  val ThetaK = 64

  /** The two customer sets compared by [[thetaSketchSetops]]. */
  val ThetaSetA = "1-URGENT"
  val ThetaSetB = "2-HIGH"

  /** Theta/KMV sketch SET OPERATIONS — the mergeable-sketch family member
    * HLL can't provide: HLL unions but cannot intersect; the KMV sketch
    * (keep the [[ThetaK]] smallest 60-bit hashes of each set) estimates
    * |A|, |B|, |A∪B| AND |A∩B| from two 64-row summaries. Estimators:
    * (k−1)·2^60/θ with θ = k-th smallest hash (Beyer et al.), and for the
    * intersection |{h ∈ skA ∩ skB, h < θ*}|·2^60/θ* with θ* = min(θA, θB)
    * (the theta-sketch intersection rule). Shapes for 100 TB: sketch
    * construction is a per-set top-k-by-hash — WindowGroupLimit prunes to
    * k rows map-side BEFORE the exchange, so the shuffle carries ≤ k rows
    * per partition per set no matter the corpus; everything after the
    * sketches is ≤ 128-row arithmetic. Exact counterparts ride along as
    * the oracle-gated accuracy audit (sets here are ~1.3k customers per
    * priority class; both engines replay the identical md5 draws).
    */
  def thetaSketchSetops(spark: SparkSession, dir: String): DataFrame =
    thetaSketchSetopsOn(Tables.orders(spark, dir))

  def thetaSketchSetopsOn(orders: DataFrame): DataFrame = {
    val two60 = lit(1.152921504606846976e18) // 2^60, exact in ieee754
    val pts = orders
      .filter(col("o_orderpriority").isin(ThetaSetA, ThetaSetB))
      .select(col("o_orderpriority").as("s"), col("o_custkey").as("k"))
      .distinct()
    val hashed = pts
      .select(col("s"),
        conv(substring(md5(col("k").cast("string")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    // the sketch: k smallest hashes per set (top-k-by-hash, map-side pruned)
    val w = Window.partitionBy("s").orderBy(col("h").asc)
    val sk = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ThetaK).select("s", "h")
    val skA = sk.filter(col("s") === ThetaSetA).select(col("h").as("ha"))
    val skB = sk.filter(col("s") === ThetaSetB).select(col("h").as("hb"))
    val aggA = skA.agg(max("ha").as("theta_a"), count(lit(1)).as("ka"))
    val aggB = skB.agg(max("hb").as("theta_b"), count(lit(1)).as("kb"))
    // union sketch = k smallest of the merged hash sets (sketches merge, not sets)
    val aggU = sk.select("h").distinct().orderBy(col("h").asc).limit(ThetaK)
      .agg(max("h").as("theta_u"), count(lit(1)).as("ku"))
    val thetaStar = aggA.crossJoin(aggB)
      .select(least(col("theta_a"), col("theta_b")).as("theta_star"))
    val common = skA.join(skB, col("ha") === col("hb"))
      .crossJoin(broadcast(thetaStar))
      .filter(col("ha") < col("theta_star"))
      .agg(count(lit(1)).as("n_common"))
    val exact = pts
      .groupBy("k")
      .agg(max(when(col("s") === ThetaSetA, 1).otherwise(0)).as("ia"),
        max(when(col("s") === ThetaSetB, 1).otherwise(0)).as("ib"))
      .agg(sum("ia").as("exact_a"), sum("ib").as("exact_b"),
        count(lit(1)).as("exact_union"), sum(col("ia") * col("ib")).as("exact_intersect"))
    aggA.crossJoin(aggB).crossJoin(aggU).crossJoin(common).crossJoin(exact)
      .select(
        lit(ThetaK.toLong).as("k"),
        round((col("ka") - 1).cast("double") * two60 / col("theta_a"), 2).as("est_a"),
        round((col("kb") - 1).cast("double") * two60 / col("theta_b"), 2).as("est_b"),
        round((col("ku") - 1).cast("double") * two60 / col("theta_u"), 2).as("est_union"),
        round(col("n_common").cast("double") * two60 /
          least(col("theta_a"), col("theta_b")), 2).as("est_intersect"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_intersect"))
  }

  /** Association rules over order baskets — the rule layer on top of
    * [[copurchasePairs]]: for every directed item pair A→B co-occurring in
    * ≥2 baskets, confidence = P(B|A) and lift = P(A,B)/(P(A)·P(B)), both
    * emitted as exact integer parts-per-million (floor division) so the
    * gate is bit-deterministic — no float division crosses engines.
    * Scale shape: the pair stream is the bounded basket-key equi-join
    * (Σ b·(b−1) over basket sizes, linear for bounded baskets); both item-
    * frequency probes join against the SAME canonical aggregate child so
    * AQE materializes that exchange once; the basket total is a broadcast
    * 1-row scalar. Top-100 by (lift, conf, pair) is a bounded heap.
    * Extends the reference's aggregation surface (`greeter_server.cc:
    * 92-110`) to the classic market-basket mining op.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOn(Tables.lineitem(spark, dir))

  def assocRulesOn(lineitem: DataFrame): DataFrame = {
    val d = lineitem.select("l_orderkey", "l_partkey").distinct()
    val itemCnt = d.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val nBaskets = d.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    d.as("a")
      .join(d.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("antecedent"), col("b.l_partkey").as("consequent"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2)
      // renames live in the join conditions, not on the itemCnt child, so
      // both probes broadcast the identical plan (ReusedExchange fires —
      // the pmi_ratio lesson)
      .join(itemCnt.as("ia"), col("antecedent") === col("ia.l_partkey"))
      .join(itemCnt.as("ic"), col("consequent") === col("ic.l_partkey"))
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("pair_cnt"),
        col("ia.cnt").as("a_cnt"), col("ic.cnt").as("b_cnt"), col("n_baskets"))
      .select(col("antecedent"), col("consequent"), col("pair_cnt"),
        col("a_cnt"), col("b_cnt"),
        expr("pair_cnt * 1000000L div a_cnt").as("conf_ppm"),
        expr("pair_cnt * n_baskets * 1000000L div (a_cnt * b_cnt)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
        col("antecedent").asc, col("consequent").asc)
      .limit(100)
  }

  /** Deterministic negative sampling — the contrastive-training feed: for
    * every user, up to 3 items they never interacted with, drawn by 8
    * hash-probes into the item id space and verified by an anti-join
    * against the interaction table. The probe set is the scale trick: a
    * user × catalog cross join never exists — candidate volume is a fixed
    * 8 rows/user, the anti-join is an equi-join on (user, item), and the
    * keep-lowest-3 rank collapses to a bounded per-user group limit
    * (WindowGroupLimit). md5-probe arithmetic is exact on both engines.
    */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val interactions = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()
    val nItems = Tables.part(spark, dir).agg(count(lit(1)).as("n_items"))
    val probes = Tables.orders(spark, dir)
      .select(col("o_custkey").as("user_id")).distinct()
      .crossJoin(broadcast(nItems))
      .select(col("user_id"), explode(sequence(lit(1L), lit(8L))).as("probe_i"),
        col("n_items"))
      .select(col("user_id"), col("probe_i"),
        expr("cast(conv(substring(md5(concat(user_id, ':', probe_i)), 1, 8), 16, 10) as bigint) % n_items")
          .as("cand_item"))
    probes.as("p")
      .join(interactions.as("t"),
        col("p.user_id") === col("t.user_id") && col("p.cand_item") === col("t.item_id"),
        "left_anti")
      .withColumn("rn",
        row_number().over(Window.partitionBy("user_id").orderBy(col("probe_i").asc)))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("probe_i"), col("cand_item").as("neg_item"))
  }

  /** PIPELINE TELEMETRY via the Observation API (`Dataset.observe`):
    * data-quality counters on the PRE-filter stream (rows seen, rows that
    * would be dropped, value total) are collected as named accumulators
    * DURING the one pass that also computes the post-filter aggregate —
    * the "how much did this filter discard" audit every production
    * pipeline wants, without the second scan a naive
    * count-before/count-after pair costs. At 100 TB that second scan is
    * the whole point: observe() metrics ride the existing job's task
    * completion events (driver-side merge of per-task partials), so the
    * audit is free. The result row joins the observed metrics with the
    * kept-side aggregate; the oracle recomputes both sides from the
    * fixture in one statement, gating that the accumulator path reports
    * EXACTLY what a relational recompute says it should (no lost-update /
    * task-retry double-count drift).
    */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val cents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val filtered = Tables.lineitem(spark, dir)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        sum(cents).as("cents_seen"))
      .filter(col("l_returnflag") =!= "R")
    // the single action: materializes the kept-side aggregate AND resolves
    // the observed metrics (localCheckpoint pins the 1-row result)
    val kept = filtered
      .agg(count(lit(1)).as("rows_kept"), sum(cents).as("cents_kept"))
      .localCheckpoint()
    val m = obs.get
    import spark.implicits._
    Seq((m("rows_seen").asInstanceOf[Long],
        m("n_returned").asInstanceOf[Long],
        m("cents_seen").asInstanceOf[Long]))
      .toDF("rows_seen", "n_returned", "cents_seen")
      .crossJoin(broadcast(kept))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "observed_metrics" -> observedMetrics _,
    "assoc_rules" -> assocRules _,
    "negative_sampling" -> negativeSampling _,
    "theta_sketch_setops" -> thetaSketchSetops _,
    "copurchase_pairs" -> copurchasePairs _,
    "attribution_last_touch" -> attributionLastTouch _,
    "cdc_latest" -> cdcLatest _,
    "agg_mode" -> aggMode _,
    "skyline_2d" -> skyline2d _,
    "feature_onehot" -> featureOnehot _,
    "feature_target_encode" -> featureTargetEncode _,
    "user_rfm" -> userRfm _,
    "bloom_probe" -> bloomProbe _,
    "corpus_mixture_weights" -> corpusMixtureWeights _,
    "mixture_sample" -> mixtureSample _,
    "length_buckets" -> lengthBuckets _,
    "zonemap_prune_stats" -> zonemapPruneStats _,
    "incremental_join_merge" -> incrementalJoinMerge _,
    "m4_downsample" -> m4Downsample _,
    "exact_median_histogram" -> exactMedianHistogram _,
    "range_split_points" -> rangeSplitPoints _,
    "secondary_sort_runs" -> secondarySortRuns _,
    "graph_communities" -> graphCommunities _,
    "conversion_latency" -> conversionLatency _,
    "merkle_chunks" -> merkleChunks _,
    "gdpr_erasure" -> gdprErasure _,
    "partition_balance" -> partitionBalance _,
  )

  val oracle: Map[String, String] = Map(
    // both the observed (pre-filter) counters and the kept-side aggregate
    // recomputed relationally in one statement
    "observed_metrics" ->
      """SELECT count(*)::BIGINT AS rows_seen,
        | count(CASE WHEN l_returnflag = 'R' THEN 1 END)::BIGINT AS n_returned,
        | sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents_seen,
        | count(CASE WHEN l_returnflag <> 'R' THEN 1 END)::BIGINT AS rows_kept,
        | sum(CASE WHEN l_returnflag <> 'R' THEN round(l_extendedprice * 100)::BIGINT END)::BIGINT AS cents_kept
        |FROM lineitem""".stripMargin,
    "assoc_rules" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ic AS (SELECT l_partkey, count(*) AS cnt FROM d GROUP BY 1),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM d),
        |p AS (SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
        |        count(*) AS pair_cnt
        |      FROM d a JOIN d b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT antecedent, consequent, pair_cnt,
        | ia.cnt AS a_cnt, ic2.cnt AS b_cnt,
        | (pair_cnt * 1000000 // ia.cnt)::BIGINT AS conf_ppm,
        | (pair_cnt * n_baskets * 1000000 // (ia.cnt * ic2.cnt))::BIGINT AS lift_ppm
        |FROM p
        |JOIN ic ia ON p.antecedent = ia.l_partkey
        |JOIN ic ic2 ON p.consequent = ic2.l_partkey
        |CROSS JOIN nb
        |ORDER BY lift_ppm DESC, conf_ppm DESC, antecedent ASC, consequent ASC
        |LIMIT 100""".stripMargin,
    "negative_sampling" ->
      """WITH inter AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |np AS (SELECT count(*) AS n_items FROM part),
        |u AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
        |pr AS (
        |  SELECT user_id, i AS probe_i,
        |   ('0x' || substr(md5(user_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
        |     % n_items AS cand_item
        |  FROM u CROSS JOIN np CROSS JOIN generate_series(1, 8) g(i)),
        |neg AS (
        |  SELECT * FROM pr
        |  WHERE NOT EXISTS (SELECT 1 FROM inter
        |    WHERE inter.user_id = pr.user_id AND inter.item_id = pr.cand_item)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY probe_i) AS rn
        |      FROM neg)
        |SELECT user_id, probe_i, cand_item AS neg_item FROM r WHERE rn <= 3""".stripMargin,
    "theta_sketch_setops" ->
      s"""WITH pts AS (
        |  SELECT DISTINCT o_orderpriority AS s, o_custkey AS k FROM orders
        |  WHERE o_orderpriority IN ('$ThetaSetA', '$ThetaSetB')),
        |hashed AS (
        |  SELECT DISTINCT s, ('0x' || substr(md5(k::VARCHAR), 1, 15))::BIGINT AS h FROM pts),
        |sk AS (
        |  SELECT s, h FROM hashed
        |  QUALIFY row_number() OVER (PARTITION BY s ORDER BY h ASC) <= $ThetaK),
        |a AS (SELECT max(h) AS theta_a, count(*) AS ka FROM sk WHERE s = '$ThetaSetA'),
        |b AS (SELECT max(h) AS theta_b, count(*) AS kb FROM sk WHERE s = '$ThetaSetB'),
        |u AS (SELECT max(h) AS theta_u, count(*) AS ku
        |      FROM (SELECT DISTINCT h FROM sk ORDER BY h ASC LIMIT $ThetaK)),
        |c AS (SELECT count(*) AS n_common
        |      FROM (SELECT h FROM sk WHERE s = '$ThetaSetA') x
        |      JOIN (SELECT h FROM sk WHERE s = '$ThetaSetB') y ON x.h = y.h
        |      CROSS JOIN a CROSS JOIN b
        |      WHERE x.h < least(theta_a, theta_b)),
        |e AS (SELECT sum(ia)::BIGINT AS exact_a, sum(ib)::BIGINT AS exact_b,
        |        count(*)::BIGINT AS exact_union, sum(ia * ib)::BIGINT AS exact_intersect
        |      FROM (SELECT k,
        |              max(CASE WHEN s = '$ThetaSetA' THEN 1 ELSE 0 END) AS ia,
        |              max(CASE WHEN s = '$ThetaSetB' THEN 1 ELSE 0 END) AS ib
        |            FROM pts GROUP BY k))
        |SELECT $ThetaK::BIGINT AS k,
        | round((ka - 1) * 1152921504606846976.0 / theta_a, 2) AS est_a,
        | round((kb - 1) * 1152921504606846976.0 / theta_b, 2) AS est_b,
        | round((ku - 1) * 1152921504606846976.0 / theta_u, 2) AS est_union,
        | round(n_common * 1152921504606846976.0 / least(theta_a, theta_b), 2) AS est_intersect,
        | exact_a, exact_b, exact_union, exact_intersect
        |FROM a CROSS JOIN b CROSS JOIN u CROSS JOIN c CROSS JOIN e""".stripMargin,
    "copurchase_pairs" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, p1 ASC, p2 ASC LIMIT 100""".stripMargin,
    "attribution_last_touch" ->
      """WITH seq AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS ev_us,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts::TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
        |  FROM events)
        |SELECT event_id, user_id, ev_us AS purchase_us, last_view_us,
        | ev_us - last_view_us AS gap_us,
        | coalesce((ev_us - last_view_us) <= 604800000000::BIGINT, false) AS attributed
        |FROM seq WHERE event_type = 'purchase'""".stripMargin,
    "cdc_latest" ->
      """WITH log AS (
        |  SELECT o_orderkey, 1 AS version, 'I' AS op,
        |         round(o_totalprice * 100)::BIGINT AS cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', round(o_totalprice * 100)::BIGINT + 1000
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 13 = 0),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        |  FROM log)
        |SELECT o_orderkey, version, cents FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin,
    "agg_mode" ->
      """WITH cnts AS (
        |  SELECT c_nationkey, o_orderpriority, count(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM cnts)
        |SELECT c_nationkey, o_orderpriority AS mode_priority, cnt FROM r WHERE rn = 1""".stripMargin,
    "skyline_2d" ->
      """WITH pairs AS (SELECT p_retailprice AS price, max(p_size) AS size
        |               FROM part GROUP BY 1),
        |w AS (SELECT price, size,
        |        max(size) OVER (ORDER BY price ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |      FROM pairs)
        |SELECT price, size FROM w WHERE prev_max IS NULL OR size > prev_max""".stripMargin,
    "feature_onehot" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pri_1,
        | CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS pri_2,
        | CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS pri_3,
        | CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS pri_4,
        | CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS pri_5,
        | CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS st_f,
        | CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS st_o,
        | CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS st_p
        |FROM orders""".stripMargin,
    "feature_target_encode" ->
      """WITH enc AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority,
        | round(o_totalprice * 100)::BIGINT AS target_cents,
        | cents::DOUBLE / n AS enc_mean
        |FROM orders o JOIN enc ON o.o_orderpriority = enc.o_orderpriority""".stripMargin,
    "user_rfm" ->
      """WITH per_user AS (
        |  SELECT user_id, max(epoch_us(ts::TIMESTAMP)) AS last_us, count(*) AS n_events,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS monet_cents
        |  FROM events GROUP BY user_id)
        |SELECT user_id, last_us, n_events, monet_cents,
        | ntile(4) OVER (ORDER BY last_us DESC, user_id ASC) AS r_score,
        | ntile(4) OVER (ORDER BY n_events DESC, user_id ASC) AS f_score,
        | ntile(4) OVER (ORDER BY monet_cents DESC, user_id ASC) AS m_score
        |FROM per_user""".stripMargin,
    "bloom_probe" ->
      """WITH probes AS (
        |  SELECT DISTINCT o_custkey AS k FROM orders
        |  UNION
        |  SELECT DISTINCT o_custkey + 1000000 FROM orders)
        |SELECT count(*) AS n_probes,
        | sum(CASE WHEN k IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END)::BIGINT AS n_present,
        | true AS no_false_negatives, true AS fp_rate_bounded
        |FROM probes""".stripMargin,
    "corpus_mixture_weights" ->
      s"""WITH per_src AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(${Oracle.words("text")}))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens, count(*) AS n_sources FROM per_src)
        |SELECT source, n_docs, n_tokens,
        | n_tokens::DOUBLE / total_tokens AS share,
        | total_tokens::DOUBLE / (n_sources * n_tokens) AS weight,
        | (total_tokens + n_sources * n_tokens - 1) // (n_sources * n_tokens) AS epochs
        |FROM per_src CROSS JOIN tot""".stripMargin,
    "mixture_sample" ->
      s"""WITH per_src AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(${Oracle.words("text")}))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens, count(*) AS n_sources FROM per_src),
        |w AS (SELECT source,
        |        total_tokens::DOUBLE / (n_sources * n_tokens) AS weight,
        |        (total_tokens + n_sources * n_tokens - 1) // (n_sources * n_tokens) AS epochs
        |      FROM per_src CROSS JOIN tot),
        |d AS (SELECT source, doc_id,
        |        ('0x' || substr(md5('mix:' || doc_id), 1, 6))::BIGINT % 1000000 AS r
        |      FROM documents)
        |SELECT d.source, count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN r < least(weight, 1.0) * 1000000 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        | max(epochs) AS epochs,
        | round(least(max(weight), 1.0), 4) AS target_rate,
        | round(sum(CASE WHEN r < least(weight, 1.0) * 1000000 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS achieved_rate
        |FROM d JOIN w USING (source) GROUP BY d.source""".stripMargin,
    "length_buckets" ->
      s"""WITH toks AS (
        |  SELECT len(${Oracle.words("text")})::BIGINT AS n_tokens FROM documents)
        |SELECT length(bin(n_tokens))::BIGINT AS bucket, count(*) AS n_docs,
        | sum(n_tokens)::BIGINT AS total_tokens,
        | min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM toks GROUP BY 1""".stripMargin,
    "zonemap_prune_stats" ->
      """WITH keyed AS (
        |  SELECT o_orderkey, o_orderdate, o_orderkey // 1000 AS key_file,
        |    (row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) - 1) // 1000 AS date_file
        |  FROM orders),
        |layouts AS (
        |  SELECT 'key_chunked' AS layout, key_file AS file_id, count(*) AS n_rows,
        |    min(o_orderdate) AS min_d, max(o_orderdate) AS max_d FROM keyed GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'date_clustered', date_file, count(*), min(o_orderdate), max(o_orderdate)
        |  FROM keyed GROUP BY 1, 2)
        |SELECT layout, count(*) AS n_files,
        | sum(CASE WHEN max_d < TIMESTAMP '1997-01-01' OR min_d >= TIMESTAMP '1998-01-01'
        |     THEN 1 ELSE 0 END)::BIGINT AS n_pruned,
        | sum(CASE WHEN max_d < TIMESTAMP '1997-01-01' OR min_d >= TIMESTAMP '1998-01-01'
        |     THEN 0 ELSE n_rows END)::BIGINT AS rows_scanned,
        | sum(n_rows)::BIGINT AS rows_total
        |FROM layouts GROUP BY 1""".stripMargin,
    // the oracle is the monolithic recompute — the four-term incremental
    // union must merge to exactly this
    "incremental_join_merge" ->
      """SELECT o_orderstatus, count(*) AS n,
        | sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "m4_downsample" ->
      """SELECT event_type, (epoch_us(ts::TIMESTAMP) // 3600000000)::BIGINT AS hr,
        | count(*) AS n,
        | min(round(value * 100)::BIGINT) AS min_cents,
        | max(round(value * 100)::BIGINT) AS max_cents,
        | arg_min(round(value * 100)::BIGINT, event_id) AS first_cents,
        | arg_max(round(value * 100)::BIGINT, event_id) AS last_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the oracle is the buffering formulation; the histogram-cumsum
    // implementation must interpolate to the identical double
    "exact_median_histogram" ->
      """SELECT event_type, count(*) AS n,
        | quantile_cont(round(value * 100)::BIGINT, 0.5) AS median_cents
        |FROM events GROUP BY 1""".stripMargin,
    "range_split_points" ->
      """WITH hist AS (
        |  SELECT round(o_totalprice * 100)::BIGINT AS cents, count(*) AS cnt
        |  FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT cents, cnt,
        |    sum(cnt) OVER (ORDER BY cents ASC ROWS UNBOUNDED PRECEDING) AS cum,
        |    (SELECT count(*) FROM orders) AS n
        |  FROM hist),
        |js AS (SELECT unnest(generate_series(1, 31))::BIGINT AS j)
        |SELECT j, min(cents) AS split_cents
        |FROM js JOIN cum
        |  ON cum.cum >= (j * n + 31) // 32 AND cum.cum - cum.cnt < (j * n + 31) // 32
        |GROUP BY j""".stripMargin,
    // the oracle is the two-window gaps-and-islands formulation; the
    // secondary-sort mapPartitions scan must match it exactly
    "secondary_sort_runs" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
        |         round(value * 100)::BIGINT AS cents FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(cents) OVER w IS NULL
        |                   OR cents <= lag(cents) OVER w THEN 1 ELSE 0 END AS brk
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |g AS (
        |  SELECT user_id, us, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m),
        |r AS (SELECT user_id, grp, count(*) AS run FROM g GROUP BY 1, 2)
        |SELECT user_id, sum(run)::BIGINT AS n_events, max(run) AS longest_run
        |FROM r GROUP BY user_id""".stripMargin,
    // two unrolled synchronized LPA rounds — the oracle replays the
    // identical deterministic trajectory (kmeans-oracle pattern)
    "graph_communities" ->
      """WITH dd AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM dd a JOIN dd b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
        |c1 AS (SELECT e.u AS node, l0.label, count(*) AS cnt
        |       FROM e JOIN l0 ON l0.node = e.v GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (SELECT *, row_number() OVER (PARTITION BY node
        |         ORDER BY cnt DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.u AS node, l1.label, count(*) AS cnt
        |       FROM e JOIN l1 ON l1.node = e.v GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (SELECT *, row_number() OVER (PARTITION BY node
        |         ORDER BY cnt DESC, label ASC) AS rn FROM c2) WHERE rn = 1)
        |SELECT node, label AS community FROM l2""".stripMargin,
    "conversion_latency" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts::TIMESTAMP) END) AS first_view_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts::TIMESTAMP) END) AS first_purchase_us
        |  FROM events GROUP BY user_id)
        |SELECT user_id, first_view_us, first_purchase_us,
        | coalesce(first_purchase_us > first_view_us, false) AS converted,
        | CASE WHEN coalesce(first_purchase_us > first_view_us, false)
        |      THEN first_purchase_us - first_view_us END AS latency_us
        |FROM f""".stripMargin,
    "gdpr_erasure" ->
      """WITH cohort AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |eo AS (SELECT o_orderkey FROM orders JOIN cohort ON o_custkey = c_custkey)
        |SELECT 'customer' AS table_name, count(*)::BIGINT AS n_before,
        | sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_erased,
        | sum(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_after
        |FROM customer
        |UNION ALL
        |SELECT 'orders', count(*)::BIGINT,
        | sum(CASE WHEN c_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        | sum(CASE WHEN c_custkey IS NOT NULL THEN 0 ELSE 1 END)::BIGINT
        |FROM orders LEFT JOIN cohort ON o_custkey = c_custkey
        |UNION ALL
        |SELECT 'lineitem', count(*)::BIGINT,
        | sum(CASE WHEN eo.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        | sum(CASE WHEN eo.o_orderkey IS NOT NULL THEN 0 ELSE 1 END)::BIGINT
        |FROM lineitem LEFT JOIN eo ON l_orderkey = eo.o_orderkey""".stripMargin,
    "merkle_chunks" ->
      """SELECT o_orderkey // 1000 AS chunk_id, count(*) AS n_rows,
        | sum(('0x' || substr(md5(concat_ws('|', o_orderkey::VARCHAR, o_custkey::VARCHAR,
        |   o_orderstatus, o_totalprice::VARCHAR, o_orderdate::VARCHAR, o_orderpriority)), 1, 8))::BIGINT)::BIGINT AS checksum
        |FROM orders GROUP BY 1""".stripMargin,
    "partition_balance" ->
      """WITH b AS (SELECT user_id,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 32 AS bucket FROM events),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT bucket, count(DISTINCT user_id) AS n_keys, count(*) AS n_rows,
        | count(*)::DOUBLE * 32 / total AS balance_ratio
        |FROM b CROSS JOIN t GROUP BY bucket, total""".stripMargin,
  )
}
