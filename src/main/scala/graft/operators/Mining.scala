package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Corpus- and behavior-mining operators a training-data pipeline runs
  * after cleaning/dedup: co-occurrence statistics (skip-grams, PMI),
  * hashed features, vocabulary coverage, sequence-pattern matching,
  * a k-anonymity privacy audit, and a binned interval-overlap join.
  *
  * Scale shapes:
  *   - skip-gram generation is pure map-side (the native `word_ngrams`
  *     generator streams windows row-at-a-time); the only shuffle is the
  *     final count aggregate with map-side partial aggregation.
  *   - PMI joins the pair table against the unigram table twice; the
  *     unigram (vocabulary) side is broadcast — vocabularies are millions
  *     of rows where corpora are billions, the classic small-dim shape.
  *   - interval overlap avoids the inequality-join cross product by
  *     replicating each interval across the fixed-width bins it spans and
  *     equi-joining on the bin: replication factor = interval span /
  *     bin width (bounded), candidate volume linear, never quadratic.
  */
object Mining {

  /** (center, context) word-pair counts within a symmetric window of 2 —
    * the word2vec training-pair generator. Distance-1 pairs come from
    * bigrams, distance-2 pairs from trigram endpoints; each unordered
    * co-occurrence emits both directions. Zero joins: generation is
    * map-side through `word_ngrams`, one exchange for the count.
    */
  def skipgramPairs(spark: SparkSession, dir: String): DataFrame =
    skipgramPairsOn(Tables.documents(spark, dir))

  /** Window-endpoint pairs (a = left word, b = word at distance 1 or 2),
    * in text order — shared by [[skipgramPairsOn]] and [[pmiRatioOn]].
    */
  private def windowPairs(docs: DataFrame): DataFrame = {
    val words = docs
      .select(TextPipeline.tokens(col("text")).as("words"))
    def endpoints(n: Int): DataFrame =
      words.filter(size(col("words")) >= n)
        .selectExpr(s"word_ngrams(words, $n)")
        .select(split(col("shingle"), " ").as("p"))
        .select(col("p").getItem(0).as("a"), col("p").getItem(n - 1).as("b"))
    endpoints(2).union(endpoints(3))
  }

  def skipgramPairsOn(docs: DataFrame): DataFrame = {
    val undirected = windowPairs(docs)
    undirected.select(col("a").as("center"), col("b").as("context"))
      .union(undirected.select(col("b").as("center"), col("a").as("context")))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Pointwise-mutual-information ratio per unordered co-occurring pair:
    * p(x,y) / (p(x) p(y)) = pc·Nu² / (Np·ca·cb), emitted as the raw ratio
    * (not its log) so the value is a product/quotient of exact integers —
    * bit-identical across engines, where `ln` is only faithfully rounded.
    * Pair and unigram counts share one tokenization; the unigram side and
    * the two scalar totals are broadcast.
    */
  def pmiRatio(spark: SparkSession, dir: String): DataFrame =
    pmiRatioOn(Tables.documents(spark, dir))

  def pmiRatioOn(docs: DataFrame): DataFrame = {
    val pairs = windowPairs(docs)
      .select(least(col("a"), col("b")).as("w1"), greatest(col("a"), col("b")).as("w2"))
    val pairCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("pc"))
    val uni = TextPipeline.tokenize(docs).groupBy("word").agg(count(lit(1)).as("wc"))
    // totals derive from the AGGREGATED tables (Σpc, Σwc), not the raw
    // streams — at any scale the count tables are orders of magnitude
    // smaller than the token/pair streams they summarize
    val totals = pairCounts.agg(sum("pc").as("np"))
      .crossJoin(broadcast(uni.agg(sum("wc").as("nu"))))
    // the two vocabulary probes broadcast the SAME child plan (renames
    // live in the join conditions, not in per-side projections) so the
    // second BroadcastExchange is a ReusedExchange, not a recompute
    pairCounts
      .join(broadcast(uni).as("ua"), col("w1") === col("ua.word"))
      .join(broadcast(uni).as("ub"), col("w2") === col("ub.word"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("pc"),
        ((col("pc").cast("double") * col("nu") * col("nu"))
          / (col("np").cast("double") * col("ua.wc") * col("ub.wc"))).as("pmi_ratio"))
  }

  /** Hashing-trick bag-of-words: each token hashes into one of 64 buckets
    * (first 8 hex chars of md5 — the repo's standard cross-engine hash) and
    * the per-(doc, bucket) count is the feature value. Fixed-width feature
    * space regardless of vocabulary size; map-side hash + one exchange.
    */
  def featureHashing(spark: SparkSession, dir: String): DataFrame =
    featureHashingOn(Tables.documents(spark, dir))

  def featureHashingOn(docs: DataFrame): DataFrame =
    TextPipeline.tokenize(docs)
      .select(col("doc_id"),
        (conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long") % 64).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Out-of-vocabulary rate per document against the corpus top-20
    * vocabulary (count DESC, word ASC). The vocabulary is a top-K
    * aggregate — small by construction — broadcast to a map-side
    * membership probe; per-doc stats are one exchange.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageOn(Tables.documents(spark, dir))

  def vocabCoverageOn(docs: DataFrame): DataFrame = {
    val t = TextPipeline.tokenize(docs)
    val vocab = t.groupBy("word").agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word").asc).limit(20)
      .select(col("word"), lit(true).as("in_vocab"))
    t.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
  }

  /** MATCH_RECOGNIZE-style sequence-pattern matching: per user, the
    * ts-ordered event-type sequence reduced to a one-char-per-event
    * alphabet (c/e/p/s/v), matched against "click then purchase with no
    * error between" = `c[^e]*p`. The reduced alphabet keeps the regex in
    * the RE2-safe subset (no lookarounds), so Spark's java.util.regex and
    * the oracle's RE2 agree. One shuffle (the per-user aggregate); the
    * per-user sort is inside the aggregation buffer, never global.
    */
  def eventPatternMatch(spark: SparkSession, dir: String): DataFrame =
    eventPatternMatchOn(Tables.events(spark, dir))

  def eventPatternMatchOn(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => substring(x.getField("event_type"), 1, 1)),
          "").as("seq"))
      .select(col("user_id"), col("n_events"), col("seq"),
        col("seq").rlike("c[^e]*p").as("matched"))

  /** k-anonymity audit over quasi-identifiers (nation, market segment):
    * every combination's group size and whether it meets k=5 — the
    * pre-release privacy gate for demographic slices of training data.
    * One aggregate; group count is the product of QI cardinalities.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("group_size"))
      .withColumn("k_anonymous", col("group_size") >= 5)

  /** Laplace-mechanism privacy budget (counting query, sensitivity 1). */
  val DpEpsilon = 1.0

  /** Differentially-private release of per-priority order counts — the
    * Laplace mechanism at ε=[[DpEpsilon]], the release gate that sits
    * after an audit like [[kAnonymity]]: each true count gets additive
    * noise drawn by inverse-CDF from a uniform. The uniform is an
    * md5-seeded DETERMINISTIC draw per group (this repo's verifiability
    * design — DuckDB replays the identical draw bit-for-bit; a deployment
    * swaps the seed expression for a real RNG, one line). Shape: one
    * partial/final count aggregate; noise is a scalar expression over the
    * five-row result — the privacy layer adds zero distributed cost at
    * any corpus size.
    */
  def dpNoisyCounts(spark: SparkSession, dir: String): DataFrame =
    dpNoisyCountsOn(Tables.orders(spark, dir))

  def dpNoisyCountsOn(orders: DataFrame): DataFrame = {
    // u ∈ (0,1): 60-bit md5 integer / 2^60 (both factors exact in ieee754)
    val u = conv(substring(md5(concat(lit("dp:"), col("o_orderpriority"))), 1, 15), 16, 10)
      .cast("double") / lit(1.152921504606846976e18)
    // Laplace(b=1/ε) inverse CDF at u: -b·sgn(u−½)·ln(1−2|u−½|)
    val noise = lit(-1.0 / DpEpsilon) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("true_count"))
      .select(col("o_orderpriority"), col("true_count"),
        round(col("true_count") + noise, 4).as("noisy_count"))
  }

  /** Interval-overlap join, binned: user sessions (30-min-gap
    * sessionization, closed interval [s0, s1] in whole seconds) joined to
    * "incident hours" (hours with >= 2 error events). Each session is
    * replicated across the hour bins it spans (`sequence` + `explode`,
    * fan-out = span hours) and equi-joined on the bin — the scale-safe
    * shape for temporal overlap; the oracle states the same semantics as
    * a direct inequality join. Incident hours are a filtered aggregate
    * (small) and broadcast.
    */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame =
    intervalOverlapJoinOn(Tables.events(spark, dir))

  def intervalOverlapJoinOn(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val runFrame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev
      .select(col("event_id"), col("user_id"), col("ts"), col("ts").cast("double").as("epoch"))
      .withColumn("new_session",
        when(col("epoch") - lag("epoch", 1).over(byUser) > 1800d
          || lag("epoch", 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(runFrame))
      .groupBy("user_id", "session_seq")
      .agg(floor(min("epoch")).cast("long").as("s0"),
           floor(max("epoch")).cast("long").as("s1"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(expr("CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) div 3600").as("hr_bin"))
      .groupBy("hr_bin").agg(count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= 2)
    sess
      .withColumn("hr_bin", explode(sequence(expr("s0 div 3600"), expr("s1 div 3600"))))
      .join(broadcast(incidents), Seq("hr_bin"))
      .select(col("user_id"), col("session_seq"), (col("hr_bin") * 3600).as("hr_epoch"),
        col("n_errors"), col("s0"), col("s1"))
  }

  /** One-pass column profile of the orders table: null count, exact
    * distinct count, min and max per column — the data-quality summary a
    * pipeline emits before training. Single aggregate job: the distinct
    * counts ride one Expand (one pass over the data, k× rows into the
    * partial aggregate, standard profiling trade); min/max partials are
    * constant-size. Output is unpivoted via `stack` to one row per column.
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame =
    profileTableOn(Tables.orders(spark, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))

  def profileTableOn(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ")
    one.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_val, max_val)")
  }

  /** Sketch twin of [[profileTable]] — the 100 TB profile path. The exact
    * profile's multi-`countDistinct` compiles to an Expand (6× the scan
    * rows) whose dedup exchange shuffles every distinct VALUE of every
    * column; correct, but the shuffle volume is O(data). Here the distinct
    * estimates ride `approx_count_distinct` (HLL++, rsd 1%): partials are
    * CONSTANT-SIZE sketches merged map-side, so the profile costs one scan
    * plus a few KB of shuffle regardless of table size — no Expand node in
    * the plan (PlanShapeSpec asserts this).
    *
    * Gate design follows `agg_approx_distinct`: the verified columns are
    * the EXACT per-column stats (nulls / distinct / min / max — the same
    * oracle rows as `profile_table`) plus a deterministic
    * `approx_within_5pct` boolean (Spark's HLL++ is deterministic, so the
    * boolean is stable). The exact distincts here exist only to certify
    * the bound and are computed the scalable way — per-column two-phase
    * groupBy (map-side combine, then keyed dedup) — not the Expand; at
    * 100 TB a user drops the certification join and keeps the pure sketch
    * row.
    */
  def profileTableApprox(spark: SparkSession, dir: String): DataFrame =
    profileTableApproxOn(Tables.orders(spark, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))

  def profileTableApproxOn(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        approx_count_distinct(col(c), 0.01).as(s"${c}__approx"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__approx, ${c}__min, ${c}__max").mkString(", ")
    val sketch = one.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, approx_distinct, min_val, max_val)")
    // certification side: exact distinct per column, two-phase (distinct
    // values dedup with map-side combine, then a count whose partials are
    // single longs) — the exact shape that widens with the cluster
    val exact = cols.map { c =>
      df.filter(col(c).isNotNull).select(col(c)).distinct()
        .agg(count(lit(1)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
    }.reduce(_.unionAll(_))
    sketch.join(broadcast(exact), Seq("col_name"))
      .select(col("col_name"), col("n_nulls"), col("n_distinct"),
        col("min_val"), col("max_val"),
        (abs(col("approx_distinct") - col("n_distinct")) <= col("n_distinct") * 0.05)
          .as("approx_within_5pct"))
  }

  /** Order-independent multiset fingerprint of a table — the replica/
    * migration equality check: per-row 32-bit content hash (md5 of the
    * '|'-joined row), summed. Sum (not xor) distinguishes duplicate-row
    * multisets; 32-bit terms keep the int64 sum exact to ~2·10⁹ rows
    * per table (beyond that, widen to decimal). One map-side hash +
    * a single scalar aggregate; no shuffle of row content.
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame =
    tableChecksumOn(Tables.orders(spark, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))

  def tableChecksumOn(df: DataFrame, cols: Seq[String]): DataFrame = {
    val row = concat_ws("|", cols.map(c => col(c).cast("string")): _*)
    df.select(conv(substring(md5(row), 1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
  }

  /** Deterministic weighted sampling: priority = hash(key)/weight, keep
    * the 100 smallest — heavier rows draw proportionally smaller
    * priorities, approximating weighted sampling without replacement
    * with exact cross-engine arithmetic (true Efraimidis–Spirakis uses
    * u^(1/w), but `pow` is only faithfully rounded and may diverge
    * between engines; u/w keeps the same monotone-in-weight bias with
    * bit-exact division). TakeOrderedAndProject: bounded heap per
    * partition, no global sort.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice").as("weight"),
        (conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("double") / col("o_totalprice")).as("priority"))
      .orderBy(col("priority").asc, col("o_orderkey").asc)
      .limit(100)

  /** Join-size estimation WITHOUT running the join — the planning
    * primitive behind join reordering: |A ⋈ B on k| = Σ_k cA(k)·cB(k),
    * computed from the two per-key count tables (each radically smaller
    * than its fact). For an inner equi-join the estimate is exact, which
    * is what the oracle checks. At 100 TB the count tables are the only
    * things shuffled; the facts are never joined.
    */
  def joinCardinalityEst(spark: SparkSession, dir: String): DataFrame = {
    val co = Tables.orders(spark, dir).groupBy("o_orderkey")
      .agg(count(lit(1)).as("c_o"))
    val cl = Tables.lineitem(spark, dir).groupBy("l_orderkey")
      .agg(count(lit(1)).as("c_l"))
    co.join(cl, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n_join_keys"),
        sum(col("c_o") * col("c_l")).as("est_rows"))
  }

  /** Pearson chi-square independence audit of two categorical columns
    * (nation × market segment), emitted PER CELL — observed count,
    * expected count under independence, and the cell's chi² contribution.
    * Per-cell output avoids summing doubles across engines (summation
    * order is the classic cross-engine divergence); each cell's arithmetic
    * is a fixed expression over exact integers. Three aggregates (cell,
    * row, column) + broadcast joins of the marginal tables.
    */
  def statChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val cells = c.groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("obs0"))
    val rows = c.groupBy("c_nationkey").agg(count(lit(1)).as("row_tot"))
    val colsT = c.groupBy("c_mktsegment").agg(count(lit(1)).as("col_tot"))
    val total = c.agg(count(lit(1)).as("n_total"))
    val e = (col("row_tot").cast("double") * col("col_tot")) / col("n_total")
    // full row×column grid — ZERO cells contribute (0-e)²/e = e, so
    // omitting them (a groupBy only sees observed>0) understates chi²
    // and breaks the margin identity Σ_cells expected = row_tot
    rows.crossJoin(broadcast(colsT))
      .join(cells, Seq("c_nationkey", "c_mktsegment"), "left")
      .crossJoin(broadcast(total))
      .select(col("c_nationkey"), col("c_mktsegment"),
        coalesce(col("obs0"), lit(0L)).as("obs"),
        e.as("expected"),
        (((coalesce(col("obs0"), lit(0L)) - e) * (coalesce(col("obs0"), lit(0L)) - e)) / e)
          .as("chi2_contrib"))
  }

  /** Winsorization audit: per event type, the exact p05/p95 cutpoints and
    * how many values a clamp to [p05, p95] would touch. Exact `percentile`
    * is the fixture-scale anchor (its buffer holds the group — the
    * documented trade; `agg_percentiles_approx` shows the sketch-gated
    * fixed-memory form this would use at 100 TB). Cutpoints are a small
    * per-group aggregate broadcast back over the events.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cuts = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.05)").as("lo"),
      expr("percentile(value, 0.95)").as("hi"))
    ev.join(broadcast(cuts), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_high"),
        round(min("lo"), 4).as("p05"),
        round(max("hi"), 4).as("p95"))
  }

  /** Skew diagnosis — the report you run BEFORE choosing a join strategy
    * (`join_salted` is the cure; this is the diagnosis): per-key frequency
    * of the join key, top 10 hottest, each with its skew ratio
    * (count × n_keys / total — 1.0 = perfectly uniform). One count
    * aggregate + two 1-row scalar frames; at 100 TB the per-key count
    * table is the only shuffle and the top-10 is a bounded heap.
    */
  def dataSkewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"))
    counts.crossJoin(broadcast(totals))
      .select(col("user_id"), col("cnt"),
        (col("cnt").cast("double") * col("n_keys") / col("total")).as("skew_ratio"))
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(10)
  }

  /** Week-over-week change over an AGGREGATED series (not raw rows like
    * `window_lag`): weekly order counts per nation, delta and percent
    * change vs the previous observed week. Counts (exact integers) keep
    * the percent an exact IEEE quotient — no money-sum rounding hazards.
    * Aggregate exchange on (nation, week); the lag window repartitions by
    * nation only.
    */
  def ordersWow(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), date_trunc("week", col("o_orderdate")).as("week_start"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("c_nationkey").orderBy(col("week_start").asc)
    weekly
      .withColumn("prev", lag("n_orders", 1).over(w))
      .select(col("c_nationkey"), col("week_start"), col("n_orders"),
        (col("n_orders") - col("prev")).as("wow_delta"),
        ((col("n_orders") - col("prev")).cast("double") / col("prev")).as("wow_pct"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands idiom at day grain (the date-level cousin of
    * `sessionize`): distinct active days, then day_index − row_number is
    * constant exactly within a consecutive run. One distinct + one window
    * + two aggregates, all partitioned by user.
    */
  def longestStreak(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    days
      .withColumn("grp", datediff(col("day"), lit("2024-01-01").cast("date")) - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("streak"))
      .groupBy("user_id")
      .agg(sum("streak").as("n_active_days"), max("streak").as("longest_streak"))
  }

  /** Incremental aggregate maintenance — the materialized-view algebra:
    * partial aggregates from the BASE slice (90% of orders) and the DELTA
    * batch (10%) are merged by re-aggregation (Σn, Σcents, min/min,
    * max/max) and must equal the full recompute, which is what the oracle
    * computes. Money rides exact integer cents. At 100 TB this is how a
    * rollup absorbs a new partition: merge the delta's partials, never
    * rescan history.
    */
  def incrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"), sum("cents").as("total_cents"),
        min("o_orderdate").as("first_date"), max("o_orderdate").as("last_date"))
    val base  = partial(o.filter(col("o_orderkey") % 10 =!= 0))
    val delta = partial(o.filter(col("o_orderkey") % 10 === 0))
    base.unionByName(delta)
      .groupBy("o_orderstatus")
      .agg(sum("n").as("n"), sum("total_cents").as("total_cents"),
        min("first_date").as("first_date"), max("last_date").as("last_date"))
  }

  /** Percent-of-total as a broadcast-scalar division (NOT a global
    * window — an empty-partition window funnels everything through one
    * task): per-nation revenue share of the corpus total, money in exact
    * integer cents so the only double is the final share quotient.
    */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .groupBy("c_nationkey").agg(sum("cents").as("cents"))
    byNation
      .crossJoin(broadcast(byNation.agg(sum("cents").as("total_cents"))))
      .select(col("c_nationkey"), col("cents"),
        (col("cents").cast("double") / col("total_cents")).as("share"))
  }

  /** Keyset (seek) pagination — the OFFSET-free paging every large-scale
    * API needs: the page after boundary (totalprice 250000.00, key 0) in
    * (price, key) order is a pushed-down range predicate plus a bounded
    * top-50 (TakeOrderedAndProject). OFFSET N scans and discards N rows;
    * the keyset predicate skips them at the scan.
    */
  def keysetPagination(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 250000.0
        || (col("o_totalprice") === 250000.0 && col("o_orderkey") > 0))
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      .limit(50)

  /** Per-dimension statistics of the embedding corpus on the exact
    * integer grid (`floor(x·1000)` — the repo's established quantization):
    * the feature-store column profile for vectors. Explode is map-side;
    * one exchange on the dimension index; sums are exact BIGINTs.
    */
  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT))")))
      .select((col("pos") + 1).cast("long").as("pos"), col("col").as("q"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
        min("q").as("min_q"), max("q").as("max_q"),
        (sum("q").cast("double") / count(lit(1))).as("mean_q"))

  private val OrderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Replica reconciliation — `table_checksum` says WHETHER two replicas
    * differ; this says WHERE: full-outer join of per-row content hashes on
    * the key, classifying each divergent key as added / removed / changed.
    * The "replica" is the base with a deterministic mutation (drop keys
    * ≡0 mod 101, bump price on keys ≡0 mod 97, one synthetic insert) so
    * the oracle can reproduce it. Only KEYS and 128-bit hashes shuffle —
    * never row bodies; at 100 TB that is the entire point.
    */
  def tableDiff(spark: SparkSession, dir: String): DataFrame =
    tableDiffOf(Tables.orders(spark, dir))

  /** [[tableDiff]] over an arbitrary base — separable so the empty-base
    * edge (synthetic insert must survive an empty input) is spec-testable.
    */
  def tableDiffOf(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val replica = base.filter(col("o_orderkey") % 101 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      // spark.range(1), not base.limit(1): the synthetic insert must exist
      // even when the base table is empty (limit(1) of empty yields no row)
      .unionByName(spark.range(1).select(
        lit(-1L).as("o_orderkey"), lit(-1L).as("o_custkey"), lit("X").as("o_orderstatus"),
        lit(0.0).as("o_totalprice"), lit("2024-01-01").cast("timestamp").as("o_orderdate"),
        lit("NEW").as("o_orderpriority")))
    def hashed(df: DataFrame, hname: String): DataFrame =
      df.select(col("o_orderkey").as("k"),
        md5(concat_ws("|", OrderCols.map(c => col(c).cast("string")): _*)).as(hname))
    hashed(base, "h_base").join(hashed(replica, "h_repl"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("h_repl").isNull, "removed")
          .when(col("h_base").isNull, "added")
          .when(col("h_base") =!= col("h_repl"), "changed").as("status"))
      .filter(col("status").isNotNull)
  }

  /** Declarative data-quality expectations (the Deequ/Great-Expectations
    * shape): a rule set evaluated into one verification report row per
    * rule — (rule, n_checked, n_violations, pass). The four row-local
    * rules (positivity, domain membership, date range, format regex)
    * share ONE scan of the fact table: conditional sums in a single
    * aggregate, unpivoted to rows — adding a rule adds a column to the
    * projection, never a pass over the data. The referential rule is the
    * only one that joins (left-anti against the broadcast parent).
    */
  def dqExpectations(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val n = count(lit(1))
    def viol(bad: Column): Column = sum(when(bad, 1L).otherwise(0L))
    val rowLocal = orders.agg(
      n.as("n_checked"),
      viol(col("o_totalprice").isNull || col("o_totalprice") <= 0).as("v_price"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v_status"),
      viol(col("o_orderdate") < lit("1995-01-01").cast("timestamp")
        || col("o_orderdate") >= lit("2002-01-01").cast("timestamp")).as("v_date"),
      viol(!col("o_orderpriority").rlike("^[1-5]-")).as("v_priority"))
      .select(expr(
        """stack(4,
          | 'totalprice_positive', v_price,
          | 'status_in_domain',    v_status,
          | 'orderdate_in_range',  v_date,
          | 'priority_format',     v_priority) AS (rule, n_violations)"""
          .stripMargin), col("n_checked"))
    val fk = orders.join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(orders.agg(n.as("n_checked"))))
      .select(lit("custkey_references_customer").as("rule"),
        col("n_violations"), col("n_checked"))
    rowLocal.select("rule", "n_violations", "n_checked")
      .unionByName(fk)
      .select(col("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))
  }

  /** Referential-integrity audit: orphan counts for the three foreign keys
    * of the star schema, one row per constraint (0 = clean — the audit's
    * presence is the point). Each check is an anti-join that shuffles keys
    * only; small parents broadcast.
    */
  def fkViolations(spark: SparkSession, dir: String): DataFrame = {
    def orphans(child: DataFrame, key: String, parent: DataFrame, pkey: String,
        name: String): DataFrame =
      child.select(col(key)).join(parent.select(col(pkey)),
          col(key) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_orphans"))
    orphans(Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey", "lineitem->orders")
      .unionByName(orphans(Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey", "orders->customer"))
      .unionByName(orphans(Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey", "customer->nation"))
  }

  /** Shard-merged quantile estimation via the native deterministic
    * log-histogram sketch ([[graft.plans.LogHistSketchAgg]]) — the
    * re-aggregatable percentile path exact sorts lack: 4 shards (standing
    * in for 4,000 executors / daily rollup partitions) each build a fixed
    * ~10 KB counter histogram, the MERGE is plain SQL elementwise addition
    * (counters are linear — the same property agg_hll_mergeable proves for
    * distinct counts), and p50/p90/p99 read off the merged histogram with
    * pure integer arithmetic: rank = ⌈q·N/100⌉, first bucket whose running
    * count reaches it, estimate = bucket lower bound ×32 (exact BIGINT;
    * relative error ≤ 1/32 by construction). Everything after the sketch
    * build is histogram-sized (≤1.3k rows): the single-partition running
    * sum is bounded by SKETCH size, not data size — the whole point.
    * The oracle rebuilds every bucket analytically (`length(bin(v))−1`
    * octave math — no float log), so shard→merge→extract must match the
    * oracle's direct global histogram bit-for-bit: the gate PROVES merge
    * correctness, not just closeness.
    */
  def quantileSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.LogHistQuantiles.SubBuckets
    val cents = Tables.orders(spark, dir)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
    val shards = cents.withColumn("shard", col("o_orderkey") % 4)
      .groupBy("shard").agg(expr("loghist_sketch(cents)").as("sk"))
    val merged = shards.select(posexplode(col("sk")).as(Seq("pos", "cnt")))
      .groupBy("pos").agg(sum("cnt").as("cnt")).filter(col("cnt") > 0)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("pos").asc)))
    val n = merged.agg(sum("cnt").as("n_rows"))
    val qs = spark.range(1).select(explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
    qs.crossJoin(broadcast(n))
      .join(broadcast(cum), col("cum") >= expr("(q * n_rows + 99L) div 100L"))
      .groupBy("q", "n_rows").agg(min(col("pos")).as("bucket"))
      .select(col("q"), col("n_rows"), col("bucket").cast("long").as("bucket"),
        expr(s"($SubBuckets + bucket % $SubBuckets)" +
          s" * shiftleft(1L, cast(bucket div $SubBuckets as int))").as("est_x32"))
  }

  /** GROUPED quantile sketches — the rollup-table form of
    * [[quantileSketchMerge]]: one log-histogram per group key (here
    * l_returnflag), p50/p90/p99 extracted per group. This is the shape a
    * production metrics store persists (sketch bytes per (day, segment)
    * cell, re-aggregated to any coarser grain on read): the sketch build
    * is ONE partial/final ObjectHashAggregate on the group key, and every
    * post-sketch step — running sum, rank pick, estimate arithmetic — is
    * a window PARTITIONED BY the group, so extraction parallelizes per
    * group instead of funneling through the global single-partition sum
    * the ungrouped query deliberately bounds by sketch size.
    */
  def quantileSketchGrouped(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.LogHistQuantiles.SubBuckets
    val v = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val hist = v.groupBy("l_returnflag").agg(expr("loghist_sketch(cents)").as("sk"))
      .select(col("l_returnflag"), posexplode(col("sk")).as(Seq("pos", "cnt")))
      .filter(col("cnt") > 0)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy("l_returnflag").orderBy(col("pos").asc)))
    val n = hist.groupBy("l_returnflag").agg(sum("cnt").as("n_rows"))
    val qs = spark.range(1).select(explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
    n.crossJoin(broadcast(qs))
      .join(cum, Seq("l_returnflag"))
      .filter(col("cum") >= expr("(q * n_rows + 99L) div 100L"))
      .groupBy("l_returnflag", "q", "n_rows").agg(min(col("pos")).as("bucket"))
      .select(col("l_returnflag"), col("q"), col("n_rows"),
        col("bucket").cast("long").as("bucket"),
        expr(s"($SubBuckets + bucket % $SubBuckets)" +
          s" * shiftleft(1L, cast(bucket div $SubBuckets as int))").as("est_x32"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quantile_sketch_merge" -> quantileSketchMerge _,
    "quantile_sketch_grouped" -> quantileSketchGrouped _,
    "skipgram_pairs" -> skipgramPairs _,
    "pmi_ratio" -> pmiRatio _,
    "feature_hashing" -> featureHashing _,
    "vocab_coverage" -> vocabCoverage _,
    "event_pattern_match" -> eventPatternMatch _,
    "k_anonymity" -> kAnonymity _,
    "dp_noisy_counts" -> dpNoisyCounts _,
    "interval_overlap_join" -> intervalOverlapJoin _,
    "profile_table" -> profileTable _,
    "profile_table_approx" -> profileTableApprox _,
    "table_checksum" -> tableChecksum _,
    "weighted_sample" -> weightedSample _,
    "join_cardinality_est" -> joinCardinalityEst _,
    "stat_chi_square" -> statChiSquare _,
    "winsorize" -> winsorize _,
    "data_skew_report" -> dataSkewReport _,
    "orders_wow" -> ordersWow _,
    "longest_streak" -> longestStreak _,
    "incremental_agg_merge" -> incrementalAggMerge _,
    "revenue_share" -> revenueShare _,
    "keyset_pagination" -> keysetPagination _,
    "embedding_dim_stats" -> embeddingDimStats _,
    "table_diff" -> tableDiff _,
    "fk_violations" -> fkViolations _,
    "dq_expectations" -> dqExpectations _,
  )

  /** Shared DuckDB CTEs: tokens-per-doc (mirrors [[TextPipeline.tokenize]])
    * and window-endpoint pairs (mirrors the `word_ngrams` extraction).
    */
  private val wordsCte =
    s"""w AS (
      |  SELECT ${Oracle.tokens("text")} AS words
      |  FROM documents)""".stripMargin

  private val pairsCte =
    s"""$wordsCte,
       |g2 AS (SELECT words[i] AS a, words[i + 1] AS b
       |       FROM (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
       |             FROM w WHERE len(words) >= 2)),
       |g3 AS (SELECT words[i] AS a, words[i + 2] AS b
       |       FROM (SELECT words, unnest(generate_series(1, len(words) - 2)) AS i
       |             FROM w WHERE len(words) >= 3)),
       |u AS (SELECT a, b FROM g2 UNION ALL SELECT a, b FROM g3)""".stripMargin

  def oracle: Map[String, String] = Map(
    // analytic replay of the log-histogram: octave = length(bin(v)) − 1
    // (binary digit count, no float log), 32-way linear subdivision in
    // exact integer math, ceil-rank extraction over the running sum — the
    // oracle builds the GLOBAL histogram directly, so equality proves the
    // Spark side's shard→merge path changes nothing
    "quantile_sketch_merge" ->
      """WITH v AS (SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |b AS (SELECT cents, length(bin(cents)) - 1 AS e FROM v),
        |h AS (SELECT e * 32 + ((cents - (1::BIGINT << e)) * 32 // (1::BIGINT << e)) AS pos,
        |        count(*) AS cnt
        |      FROM b GROUP BY 1),
        |c AS (SELECT pos, sum(cnt) OVER (ORDER BY pos) AS cum FROM h),
        |n AS (SELECT sum(cnt)::BIGINT AS n_rows FROM h),
        |q(q) AS (VALUES (50), (90), (99)),
        |hit AS (
        |  SELECT q, n_rows, min(pos)::BIGINT AS bucket
        |  FROM q CROSS JOIN n JOIN c ON cum >= (q * n_rows + 99) // 100
        |  GROUP BY q, n_rows)
        |SELECT q::BIGINT AS q, n_rows, bucket,
        | ((32 + bucket % 32) * (1::BIGINT << (bucket // 32)))::BIGINT AS est_x32
        |FROM hit""".stripMargin,
    // the grouped replay: identical octave math, histogram and running
    // sum PARTITIONED BY the group key
    "quantile_sketch_grouped" ->
      """WITH v AS (SELECT l_returnflag,
        |             round(l_extendedprice * 100)::BIGINT AS cents FROM lineitem),
        |b AS (SELECT l_returnflag, cents, length(bin(cents)) - 1 AS e FROM v),
        |h AS (SELECT l_returnflag,
        |        e * 32 + ((cents - (1::BIGINT << e)) * 32 // (1::BIGINT << e)) AS pos,
        |        count(*) AS cnt
        |      FROM b GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, pos,
        |        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY pos) AS cum FROM h),
        |n AS (SELECT l_returnflag, sum(cnt)::BIGINT AS n_rows FROM h GROUP BY 1),
        |q(q) AS (VALUES (50), (90), (99)),
        |hit AS (
        |  SELECT c.l_returnflag, q, n_rows, min(pos)::BIGINT AS bucket
        |  FROM q CROSS JOIN n JOIN c ON c.l_returnflag = n.l_returnflag
        |   AND cum >= (q * n_rows + 99) // 100
        |  GROUP BY 1, 2, 3)
        |SELECT l_returnflag, q::BIGINT AS q, n_rows, bucket,
        | ((32 + bucket % 32) * (1::BIGINT << (bucket // 32)))::BIGINT AS est_x32
        |FROM hit""".stripMargin,
    "skipgram_pairs" ->
      s"""WITH $pairsCte,
         |d AS (SELECT a AS center, b AS context FROM u
         |      UNION ALL SELECT b AS center, a AS context FROM u)
         |SELECT center, context, count(*) AS cnt FROM d GROUP BY 1, 2""".stripMargin,
    "pmi_ratio" ->
      s"""WITH $pairsCte,
         |p AS (SELECT least(a, b) AS w1, greatest(a, b) AS w2 FROM u),
         |pcnt AS (SELECT w1, w2, count(*) AS pc FROM p GROUP BY 1, 2),
         |${Oracle.tokensCte.stripPrefix("WITH ")},
         |uni AS (SELECT word, count(*) AS wc FROM toks WHERE word <> '' GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM p) AS np, (SELECT sum(wc) FROM uni)::BIGINT AS nu)
         |SELECT pcnt.w1, pcnt.w2, pcnt.pc,
         | (pc::DOUBLE * nu * nu) / (np::DOUBLE * ca.wc * cb.wc) AS pmi_ratio
         |FROM pcnt
         |JOIN uni ca ON ca.word = pcnt.w1
         |JOIN uni cb ON cb.word = pcnt.w2
         |CROSS JOIN tot""".stripMargin,
    "feature_hashing" ->
      s"""${Oracle.tokensCte}
         |SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT % 64 AS bucket,
         | count(*) AS cnt
         |FROM toks WHERE word <> '' GROUP BY 1, 2""".stripMargin,
    "vocab_coverage" ->
      s"""${Oracle.tokensCte},
         |t AS (SELECT doc_id, word FROM toks WHERE word <> ''),
         |vocab AS (SELECT word FROM (SELECT word, count(*) AS wc FROM t GROUP BY 1)
         |          ORDER BY wc DESC, word ASC LIMIT 20)
         |SELECT doc_id, count(*) AS n_tokens,
         | sum(CASE WHEN word IN (SELECT word FROM vocab) THEN 0 ELSE 1 END)::BIGINT AS n_oov,
         | sum(CASE WHEN word IN (SELECT word FROM vocab) THEN 0 ELSE 1 END)::DOUBLE / count(*) AS oov_rate
         |FROM t GROUP BY doc_id""".stripMargin,
    "event_pattern_match" ->
      """SELECT user_id, count(*) AS n_events,
        | string_agg(substr(event_type, 1, 1), '' ORDER BY ts::TIMESTAMP ASC, event_id ASC) AS seq,
        | regexp_matches(string_agg(substr(event_type, 1, 1), '' ORDER BY ts::TIMESTAMP ASC, event_id ASC), 'c[^e]*p') AS matched
        |FROM events GROUP BY user_id""".stripMargin,
    "k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
        | count(*) >= 5 AS k_anonymous
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "dp_noisy_counts" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS true_count,
        | round(count(*) + (-1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_count
        |FROM (SELECT o_orderpriority,
        |        ('0x' || substr(md5('dp:' || o_orderpriority), 1, 15))::BIGINT
        |          / 1152921504606846976.0 AS u
        |      FROM orders)
        |GROUP BY o_orderpriority, u""".stripMargin,
    "profile_table" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
           | sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "profile_table_approx" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
           | sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val,
           | true AS approx_within_5pct
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "table_checksum" ->
      """SELECT count(*) AS n_rows,
        | sum(('0x' || substr(md5(concat_ws('|', o_orderkey::VARCHAR, o_custkey::VARCHAR,
        |   o_orderstatus, o_totalprice::VARCHAR, o_orderdate::VARCHAR, o_orderpriority)), 1, 8))::BIGINT)::BIGINT AS checksum
        |FROM orders""".stripMargin,
    "weighted_sample" ->
      """SELECT o_orderkey, o_totalprice AS weight,
        | ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT::DOUBLE / o_totalprice AS priority
        |FROM orders ORDER BY priority ASC, o_orderkey ASC LIMIT 100""".stripMargin,
    "join_cardinality_est" ->
      """WITH co AS (SELECT o_orderkey, count(*) AS c_o FROM orders GROUP BY 1),
        |cl AS (SELECT l_orderkey, count(*) AS c_l FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_join_keys, sum(c_o * c_l)::BIGINT AS est_rows
        |FROM co JOIN cl ON o_orderkey = l_orderkey""".stripMargin,
    "stat_chi_square" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment, count(*) AS obs0 FROM customer GROUP BY 1, 2),
        |r AS (SELECT c_nationkey, count(*) AS row_tot FROM customer GROUP BY 1),
        |c AS (SELECT c_mktsegment, count(*) AS col_tot FROM customer GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM customer),
        |grid AS (SELECT r.c_nationkey, c.c_mktsegment, r.row_tot, c.col_tot,
        |                coalesce(cells.obs0, 0)::BIGINT AS obs
        |         FROM r CROSS JOIN c
        |         LEFT JOIN cells ON cells.c_nationkey = r.c_nationkey
        |                        AND cells.c_mktsegment = c.c_mktsegment)
        |SELECT c_nationkey, c_mktsegment, obs,
        | (row_tot::DOUBLE * col_tot) / n_total AS expected,
        | ((obs - (row_tot::DOUBLE * col_tot) / n_total) * (obs - (row_tot::DOUBLE * col_tot) / n_total))
        |   / ((row_tot::DOUBLE * col_tot) / n_total) AS chi2_contrib
        |FROM grid CROSS JOIN t""".stripMargin,
    "data_skew_report" ->
      """WITH counts AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys, sum(cnt)::BIGINT AS total FROM counts)
        |SELECT user_id, cnt, cnt::DOUBLE * n_keys / total AS skew_ratio
        |FROM counts CROSS JOIN t
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin,
    "orders_wow" ->
      """WITH weekly AS (
        |  SELECT c_nationkey, date_trunc('week', o_orderdate)::TIMESTAMP AS week_start,
        |         count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_nationkey, week_start, n_orders,
        | n_orders - lag(n_orders, 1) OVER w AS wow_delta,
        | (n_orders - lag(n_orders, 1) OVER w)::DOUBLE / lag(n_orders, 1) OVER w AS wow_pct
        |FROM weekly WINDOW w AS (PARTITION BY c_nationkey ORDER BY week_start ASC)""".stripMargin,
    "table_diff" -> {
      val rowHash = (src: String) =>
        s"md5(concat_ws('|', o_orderkey::VARCHAR, o_custkey::VARCHAR, o_orderstatus, " +
        s"o_totalprice::VARCHAR, o_orderdate::VARCHAR, o_orderpriority))"
      s"""WITH repl AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |   CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         |   o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 101 <> 0
         |  UNION ALL
         |  SELECT -1, -1, 'X', 0.0, TIMESTAMP '2024-01-01', 'NEW'),
         |bh AS (SELECT o_orderkey AS k, ${rowHash("orders")} AS h_base FROM orders),
         |rh AS (SELECT o_orderkey AS k, ${rowHash("repl")} AS h_repl FROM repl)
         |SELECT k,
         | CASE WHEN h_repl IS NULL THEN 'removed'
         |      WHEN h_base IS NULL THEN 'added'
         |      WHEN h_base <> h_repl THEN 'changed' END AS status
         |FROM bh FULL OUTER JOIN rh USING (k)
         |WHERE (CASE WHEN h_repl IS NULL THEN 'removed'
         |            WHEN h_base IS NULL THEN 'added'
         |            WHEN h_base <> h_repl THEN 'changed' END) IS NOT NULL""".stripMargin
    },
    "dq_expectations" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_checked FROM orders),
        |rules AS (
        |  SELECT 'totalprice_positive' AS rule,
        |    (SELECT count(*) FROM orders WHERE o_totalprice IS NULL OR o_totalprice <= 0)::BIGINT AS n_violations
        |  UNION ALL SELECT 'status_in_domain',
        |    (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P'))::BIGINT
        |  UNION ALL SELECT 'orderdate_in_range',
        |    (SELECT count(*) FROM orders
        |     WHERE o_orderdate < TIMESTAMP '1995-01-01' OR o_orderdate >= TIMESTAMP '2002-01-01')::BIGINT
        |  UNION ALL SELECT 'priority_format',
        |    (SELECT count(*) FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-'))::BIGINT
        |  UNION ALL SELECT 'custkey_references_customer',
        |    (SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |     WHERE c.c_custkey IS NULL)::BIGINT
        |)
        |SELECT rule, n.n_checked, n_violations, n_violations = 0 AS pass
        |FROM rules, n""".stripMargin,
    "fk_violations" ->
      """SELECT 'lineitem->orders' AS fk,
        | (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
        |UNION ALL
        |SELECT 'orders->customer' AS fk,
        | (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphans
        |UNION ALL
        |SELECT 'customer->nation' AS fk,
        | (SELECT count(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans""".stripMargin,
    "revenue_share" ->
      """WITH n AS (
        |  SELECT c_nationkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey),
        |t AS (SELECT sum(cents)::BIGINT AS total_cents FROM n)
        |SELECT c_nationkey, cents, cents::DOUBLE / total_cents AS share
        |FROM n CROSS JOIN t""".stripMargin,
    "keyset_pagination" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_totalprice > 250000.0
        |   OR (o_totalprice = 250000.0 AND o_orderkey > 0)
        |ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 50""".stripMargin,
    "embedding_dim_stats" ->
      """WITH q AS (
        |  SELECT list_transform(embedding::DOUBLE[], x -> floor(x * 1000)::BIGINT) AS qv
        |  FROM embeddings),
        |e AS (SELECT qv, unnest(generate_series(1, len(qv))) AS pos FROM q)
        |SELECT pos::BIGINT AS pos, count(*) AS n, sum(qv[pos])::BIGINT AS sum_q,
        | min(qv[pos]) AS min_q, max(qv[pos]) AS max_q,
        | sum(qv[pos])::DOUBLE / count(*) AS mean_q
        |FROM e GROUP BY pos""".stripMargin,
    // the oracle is the FULL recompute — merged partials must equal it
    "incremental_agg_merge" ->
      """SELECT o_orderstatus, count(*) AS n,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents,
        | min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "longest_streak" ->
      """WITH days AS (SELECT DISTINCT user_id, (ts::TIMESTAMP)::DATE AS day FROM events),
        |grps AS (
        |  SELECT user_id,
        |   date_diff('day', DATE '2024-01-01', day)
        |     - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
        |  FROM days),
        |streaks AS (SELECT user_id, grp, count(*) AS streak FROM grps GROUP BY 1, 2)
        |SELECT user_id, sum(streak)::BIGINT AS n_active_days, max(streak) AS longest_streak
        |FROM streaks GROUP BY user_id""".stripMargin,
    "winsorize" ->
      """WITH cuts AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        | sum(CASE WHEN e.value < cuts.lo THEN 1 ELSE 0 END)::BIGINT AS n_clamped_low,
        | sum(CASE WHEN e.value > cuts.hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped_high,
        | round(min(cuts.lo), 4) AS p05, round(max(cuts.hi), 4) AS p95
        |FROM events e JOIN cuts ON e.event_type = cuts.event_type
        |GROUP BY e.event_type""".stripMargin,
    "interval_overlap_join" ->
      """WITH marked AS (
        |  SELECT event_id, user_id, epoch(ts::TIMESTAMP) AS ep,
        |   CASE WHEN lag(epoch(ts::TIMESTAMP), 1) OVER w IS NULL
        |         OR epoch(ts::TIMESTAMP) - lag(epoch(ts::TIMESTAMP), 1) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ep,
        |   (sum(new_session) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM marked
        |), b AS (
        |  SELECT user_id, session_seq,
        |   floor(min(ep))::BIGINT AS s0, floor(max(ep))::BIGINT AS s1
        |  FROM sess GROUP BY user_id, session_seq
        |), inc AS (
        |  SELECT (floor(epoch(ts::TIMESTAMP))::BIGINT // 3600) AS hr_bin, count(*) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1 HAVING count(*) >= 2)
        |SELECT b.user_id, b.session_seq, inc.hr_bin * 3600 AS hr_epoch, inc.n_errors, b.s0, b.s1
        |FROM b JOIN inc
        |  ON b.s1 >= inc.hr_bin * 3600 AND b.s0 < inc.hr_bin * 3600 + 3600""".stripMargin,
  )
}
