package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import java.sql.Timestamp
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables
import graft.streaming.BoundedDrain.{Sink, stageFile}

/** Structured Streaming surface: the streaming twins of the batch event
  * analytics in [[graft.operators.Events]].
  *
  * The reference has no data streaming (its heartbeat loop is control-plane
  * polling, SURVEY §2.1 op 10); this module is part of the extension
  * surface. Batch/stream parity is asserted in `EventStreamsSpec` with
  * `MemoryStream` — these transforms are NOT in the oracle map because
  * watermark semantics have no DuckDB analog.
  *
  * Scale posture: state is keyed by (window × type) or user — partitioned
  * across executors by the state-store; watermarks bound state size so an
  * unbounded stream cannot accumulate unbounded state.
  */
object EventStreams {

  /** Driver-side fixture PROBES (max event-time, mid event_id) memoized
    * per fixture dir — each is a full-scan aggregate job that four
    * streaming queries run just to derive their batch-split constants, so
    * a sweep re-paid 4 scans per pass. Fixtures are immutable (the same
    * assumption [[graft.sources.Tables]]'s schemaCache documents), so the
    * probe value is a pure function of the directory.
    */
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  /** Max (normalized) event timestamp of `$dir/events.parquet`. */
  private def probeMaxTs(spark: SparkSession, dir: String): Timestamp =
    probeCache.computeIfAbsent(s"tmax:$dir", _ => {
      val raw = Tables.table(spark, dir, "events")
      val tsCol = Tables.normalizeTsExpr(raw.schema("ts").dataType).getOrElse(col("ts"))
      raw.select(max(tsCol).as("m")).head().getTimestamp(0)
    }).asInstanceOf[Timestamp]

  /** Midpoint event_id of `$dir/events.parquet` (the two-batch split key). */
  private def probeMidId(spark: SparkSession, dir: String): Long =
    probeCache.computeIfAbsent(s"mid:$dir", _ =>
      Tables.table(spark, dir, "events")
        .agg(((min("event_id") + max("event_id")) / 2).cast("long")).head().getLong(0)
    ).asInstanceOf[Long]

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start_epoch: Long, n_events: Long, total_value: Double)
  case class SessionState(startEpoch: Long, lastEpoch: Long, n: Long, total: Double)

  /** Tumbling 1 h event-time window with a 10 min watermark for late data. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sliding window variant (1 h window, 15 min slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_timestamp(col("window.start")).as("slide_epoch"),
        col("event_type"), col("n_events"))

  /** ORACLE-VERIFIED sliding-window run — each event contributes to
    * window/slide = 4 overlapping hour windows (Spark materializes the 4×
    * expansion BEFORE the exchange, the sliding analog of rollup's
    * Expand). Complete mode: the drained final state covers every window,
    * so the oracle is the 4-way slide replay in SQL.
    */
  def slidingFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete())(slidingCounts)

  /** Streaming twin of the reference's flagship word count: incremental
    * per-word running totals over a document stream (update mode). The
    * batch plan and this differ only in the incremental state-store
    * aggregation — same normalize/tokenize expressions.
    */
  def streamingWordCount(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.operators.TextPipeline.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Micro-batch file stream over `srcDir`: `maxFilesPerTrigger=1` admits
    * one file per batch, oldest mtime first, so the staged file set IS the
    * batch schedule (and >1 link to one fixture is the file-source form of
    * at-least-once redelivery, across a real batch boundary). Any fixture
    * ts encoding (nanos-long, TIMESTAMP_NTZ) is normalized to plain
    * TimestampType BEFORE watermarks — streaming event-time requires it,
    * and the session zone is pinned UTC so the NTZ cast matches the
    * oracle's naive-epoch reading.
    */
  private def fileStream(ss: SparkSession, srcDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    Tables.normalizeTs(ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))

  /** Drain `build(stream)` over a source dir that `stage` fills, on a
    * [[streamingSession]] clone sized from the staged bytes its plan scans,
    * and return its output. Append-mode gates sink to PARQUET and
    * read back distributed (the memory sink collects every output row onto
    * the driver per batch, the one driver-in-the-data-path posture a 100 TB
    * stream cannot keep); Complete/Update gates keep the memory sink (the
    * file sink is append-only by contract).
    */
  private def drainStaged(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, mode: OutputMode)(
      stage: java.nio.file.Path => Unit)(build: DataFrame => DataFrame): DataFrame =
    BoundedDrain.scope { s =>
      stage(s.sourceDir)
      val ss = streamingSession(spark, 0L)
      val stream = build(fileStream(ss, s.sourceDir, schema))
      // each streaming scan reads the staged bytes once: a stream-stream
      // self-join reads them twice (measured at sf0.1, 4 cores: the inner
      // join gate took 2.98 s at width 4 and 3.50 s at width 2)
      val scans = stream.queryExecution.logical.collectLeaves().count(_.isStreaming)
      setWidth(spark, ss, scans * bytesUnder(s.sourceDir))
      val sink =
        if (mode == OutputMode.Append()) Sink.Parquet
        else Sink.Memory(mode)
      s.drain(stream, sink).out.get
    }

  /** [[drainStaged]] over `copies` links of the fixture `$dir/$table.parquet`. */
  private def drainFixture(spark: SparkSession, dir: String, copies: Int,
      mode: OutputMode, table: String = "events")(
      build: DataFrame => DataFrame): DataFrame =
    drainStaged(spark, Tables.table(spark, dir, table).schema, mode)(
      linkCopies(_, dir, table, copies))(build)

  /** Link the fixture `$fixture/$table.parquet` into `dir` `copies` times. */
  private def linkCopies(dir: java.nio.file.Path, fixture: String, table: String,
      copies: Int): Unit =
    (1 to copies).foreach { i =>
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"${table}_copy$i.parquet"),
        java.nio.file.Path.of(s"$fixture/$table.parquet"))
    }

  /** Per-run session CLONE (`newSession`: isolated SQLConf over the shared
    * SparkContext) for every bounded streaming run. Two reasons:
    * (1) isolation — Verify drives queries concurrently on one session, so
    * per-query toggling of session-global keys races (a concurrent
    * restore could flip a restart query's second incarnation to another
    * state-store provider mid-recovery); the RocksDB provider is pinned
    * in [[graft.Sessions]] builder options, which `newSession` inherits.
    * (2) state-store width — a stateful operator opens one state store PER
    * shuffle partition, and each store pays a fixed RocksDB open/commit
    * cost every batch whatever it holds. The clone's shuffle width and
    * scan floor are [[streamWidth]] of `sourceBytes`, the bytes the stream
    * will read: 1 at fixture scale, up to the core count as input grows.
    */
  private[graft] def streamingSession(spark: SparkSession, sourceBytes: Long): SparkSession = {
    val ss = spark.newSession()
    setWidth(spark, ss, sourceBytes)
    // per-batch changelog uploads instead of full RocksDB snapshot uploads
    // — the production checkpoint posture for high-frequency triggers, and
    // it removes the snapshot cost from every fixture micro-batch
    ss.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // stream-stream joins: state format v3 folds a join's 4 state stores
    // per partition (left/right × keyToNumValues/keyWithIndexToValue) into
    // ONE RocksDB instance via virtual column families — a 4× cut in
    // per-batch open/commit/changelog fixed cost (measured 0.55-0.77× on
    // the outer-join gates); every checkpoint here starts fresh, so no
    // format compatibility constraint applies
    ss.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    // MEASURED NEGATIVE (r14, do not re-try):
    // `rocksdb.trackTotalNumberOfRows=false` — the documented "first knob
    // for put-heavy state" — made the stream-stream outer join 2.3× SLOWER
    // here (5.56 → 13.0 s, 5-run medians, reproduced in both A/B orders)
    // and nudged the dedup run up too (2.2 → 2.8 s). The row-count
    // bookkeeping it skips is evidently on a path the join provider relies
    // on; the default (true) stays.
    ss
  }

  /** Set the clone `ss`'s shuffle width and scan floor (a micro-batch reads
    * ONE file) to [[streamWidth]] of `sourceBytes` under `spark`'s conf. */
  private def setWidth(spark: SparkSession, ss: SparkSession, sourceBytes: Long): Unit = {
    val n = streamWidth(spark, sourceBytes).toString
    ss.conf.set("spark.sql.shuffle.partitions", n)
    ss.conf.set("spark.sql.files.minPartitionNum", n)
  }

  /** Shuffle and state-store width for a stream over `sourceBytes`:
    * `ceil(sourceBytes / minPartitionSize)` clamped to [1, core count],
    * with `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB
    * by default) as the per-partition target — the smallest partition AQE
    * already treats as worth a task. The width is frozen into the
    * checkpoint at first start (a restart reads it back from the offset
    * log), so it is a pure function of the input and the cluster: the same
    * input always gets the same width.
    *
    * MEASURED (4 cores): 8 near-empty stores cost the sf0.01 dedup gate
    * 0.54 s of state commit per op (1 store: 0.02 s); at sf0.1 a width of
    * 1 slowed that gate 3.14 → 3.83 s, and this rule gives it 4.
    */
  private[graft] def streamWidth(spark: SparkSession, sourceBytes: Long): Int = {
    val target = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val n = math.ceil(sourceBytes.toDouble / target)
    math.max(1.0, math.min(n, spark.sparkContext.defaultParallelism.toDouble)).toInt
  }

  /** Bytes of every regular file under `p`, links followed: a staged link
    * to a fixture counts the fixture once per link. */
  private[graft] def bytesUnder(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    val walk = Files.walk(p, java.nio.file.FileVisitOption.FOLLOW_LINKS)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  /** Bytes of the fixture table `$dir/$table.parquet`. */
  private[graft] def tableBytes(dir: String, table: String): Long =
    bytesUnder(java.nio.file.Path.of(s"$dir/$table.parquet"))

  /** ORACLE-VERIFIED streaming run: the tumbling-window aggregation executed
    * as a REAL bounded Structured Streaming query — file source over the
    * fixture parquet, complete-mode memory sink, drained with
    * `processAllAvailable` — whose final table must hash-match the same
    * DuckDB oracle as the batch twin `events_tumbling`. This closes the
    * loop the MemoryStream parity specs can't: the driver's correctness
    * gate now exercises readStream → watermark → window agg → sink
    * end-to-end. (Bounded input ⇒ deterministic final state; the watermark
    * drops nothing because the final complete-mode state includes all rows.)
    */
  def tumblingFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete())(tumblingCounts)

  /** Streaming exact dedup — the at-least-once ingestion guard: duplicate
    * event ids arriving within the watermark horizon are dropped.
    * `dropDuplicatesWithinWatermark` keys the state store by event_id and
    * EVICTS each key once the watermark passes its event time — bounded
    * state on an unbounded stream, where plain `dropDuplicates` would pin
    * every id ever seen. This is the streaming twin of `dedup_exact`'s
    * hash-groupBy (and of `Dedup.incrementalAgainstCorpus` for cross-run
    * dedup); at 100 TB/day the state held is watermark-horizon-sized, not
    * corpus-sized.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** ORACLE-VERIFIED streaming dedup run: [[dedupStream]] executed as a real
    * bounded file-source stream whose monitored directory contains the
    * fixture TWICE (two links to the same parquet — the file-source
    * equivalent of at-least-once redelivery), so the dedup state is doing
    * real work: every event arrives at least twice and must emit exactly
    * once. Append mode — `dropDuplicatesWithinWatermark` emits first-seen
    * rows immediately (no window finalization wait), and the oracle is
    * simply the distinct fixture. The sink is the exactly-once PARQUET file
    * sink (commits recorded in `_spark_metadata` by the same checkpointed
    * transaction as the state update; only committed files are read back),
    * so this one run also serves `streaming_sink_parquet`.
    */
  def dedupFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 2, OutputMode.Append()) { stream =>
      dedupStream(stream).select("event_id", "user_id", "event_type", "value")
    }

  /** ORACLE-VERIFIED watermark LATE-DATA semantics — the streaming behavior
    * none of the other verified runs can show: rows arriving after the
    * watermark has finalized their window are DROPPED, visibly and
    * deterministically. The fixture is split batch-side into two files
    * whose modification times fix the micro-batch schedule under
    * `maxFilesPerTrigger=1`:
    *
    *   batch 0 — "bulk": every event except the stragglers and the max-ts
    *     row (at batch end the watermark jumps to max(bulk ts) - 10 min);
    *   batch 1 — "advance": the max-ts row alone. THIS batch performs the
    *     eviction: every hour window at or below the watermark emits and
    *     leaves the state store;
    *   batch 2 — "stragglers": events with `event_id % 7 == 0` more than a
    *     day older than the max — their windows were evicted in batch 1,
    *     so every straggler is dropped (MEASURED: sink 3296 == oracle,
    *     zero duplicate window keys, i.e. no state resurrection).
    *
    * The schedule needs THREE batches because merge-then-evict is legal
    * within one batch: a "late" row landing in the same micro-batch where
    * its window first closes still counts (watermark semantics are
    * batch-boundary-granular) — verified empirically before settling this
    * design. Append mode emits exactly the windows whose end <= final
    * watermark, counted from non-straggler rows only. The oracle replays
    * the same split + watermark rule in SQL: un-dropped stragglers would
    * inflate early windows (hash diverges); wrong finalization changes the
    * emitted window set; state resurrection duplicates keys. State posture
    * at 100 TB: watermark eviction keeps state ∝ open windows (here: the
    * final unfinished hour), never ∝ stream history.
    */
  def lateDataFileSource(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.table(spark, dir, "events")
    val tsCol = Tables.normalizeTsExpr(raw.schema("ts").dataType).getOrElse(col("ts"))
    val tmax = probeMaxTs(spark, dir)
    val lateCut = Timestamp.from(tmax.toInstant.minus(java.time.Duration.ofDays(1)))
    val isStraggler = col("event_id") % 7 === 0 && tsCol < lit(lateCut)
    drainStaged(spark, raw.schema, OutputMode.Append()) { d =>
      stageFile(d, raw.filter(!isStraggler && tsCol < lit(tmax)),
        "a_bulk.parquet", secondsAgo(300))
      stageFile(d, raw.filter(tsCol === lit(tmax)), "b_advance.parquet", secondsAgo(150))
      stageFile(d, raw.filter(isStraggler), "c_stragglers.parquet", secondsAgo(0))
    }(tumblingCounts)
  }

  /** Epoch millis `sec` seconds ago — a staged file's mtime. */
  private def secondsAgo(sec: Long): Long = System.currentTimeMillis() - sec * 1000

  /** ORACLE-VERIFIED streaming CDC apply — the `foreachBatch` MERGE sink:
    * the change log (inserts, then updates, then tombstone deletes — the
    * same synthetic log as the batch twin `cdc_latest`) arrives as three
    * mtime-ordered files, and each micro-batch UPSERTs into a driver-held
    * state table: reduce the batch to its latest version per key
    * (`max_by` over version), anti-join the prior state on the batch's
    * keys, union the batch rows, `localCheckpoint` to truncate lineage.
    * That is exactly `MERGE INTO state USING batch` for a sink with no
    * native MERGE — the standard recipe when the warehouse table is plain
    * parquet. Deletes stay as tombstones until the final read filters
    * them (conservative retention; a compaction pass would age them out).
    *
    * The final merged table must hash-match the SAME oracle as the batch
    * `cdc_latest` — batch plan, per-batch streaming merge, and DuckDB all
    * agree. State scale note: the merge shuffles only (key, version,
    * cents) rows — at 100 TB the state table would be a bucketed/Delta
    * table and the anti-join+union becomes a real MERGE on the bucket
    * key; the per-batch algebra is identical.
    */
  def cdcMergeFileSource(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(spark, tableBytes(dir, "orders"))
    val o = Tables.table(ss, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
    val ins = o.select(col("o_orderkey"), lit(1).as("version"), lit("I").as("op"), col("cents"))
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(2).as("version"), lit("U").as("op"),
        (col("cents") + 1000L).as("cents"))
    val del = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(3).as("version"), lit("D").as("op"),
        lit(null).cast("long").as("cents"))
    val schema = ins.schema
    var state: DataFrame =
      ss.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    BoundedDrain.scope { s =>
      stageFile(s.sourceDir, ins, "a_v1_inserts.parquet", secondsAgo(300))
      stageFile(s.sourceDir, upd, "b_v2_updates.parquet", secondsAgo(150))
      stageFile(s.sourceDir, del, "c_v3_deletes.parquet", secondsAgo(0))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s.sourceDir.toString)
      s.drain(stream, Sink.ForeachBatch { (batch, _) =>
        val latest = batch.groupBy("o_orderkey").agg(
          max("version").as("version"),
          expr("max_by(op, version)").as("op"),
          expr("max_by(cents, version)").as("cents"))
          .select("o_orderkey", "version", "op", "cents")
        state = state
          .join(latest.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .union(latest)
          .localCheckpoint(true)
      })
    }
    state.filter(col("op") =!= "D").select("o_orderkey", "version", "cents")
  }

  /** ORACLE-VERIFIED stream-stream join run: [[clickPurchaseJoin]] — a real
    * user's first nontrivial streaming query — executed as a bounded
    * file-source stream (self-join: both sides are filters of the one
    * event stream). Inner stream-stream joins emit a match as soon as both
    * rows have arrived (the watermark only bounds STATE, it never gates
    * inner-join output), so the drained append-mode sink holds exactly the
    * batch join's rows and the oracle is the equivalent batch SQL.
    */
  def joinFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Append())(clickPurchaseJoin)

  /** Native session-window aggregation for streams: per-user sessions
    * closed by 30 min inactivity, watermark bounds the merge state — the
    * state-store-backed twin of the batch `session_window_native`.
    */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        unix_timestamp(col("session_window.start")).as("session_start_epoch"),
        col("user_id"), col("n_events"), col("total_value"))

  /** ORACLE-VERIFIED streaming session windows: [[sessionWindowCounts]] as
    * a bounded file-source run in complete mode (final state = all merged
    * sessions), hash-matched against the same gaps-and-islands SQL as the
    * batch twin — dynamic-gap session MERGING in the state store is the
    * one stateful shape tumbling/dedup/join runs don't cover.
    */
  def sessionFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete())(sessionWindowCounts)

  /** DYNAMIC-gap streaming sessions: the timeout is a per-event expression
    * (purchase 1 h, error 5 min, else 30 min — the batch
    * `session_window_dynamic` rule), so the state store merges sessions
    * whose extents differ per event type. This is the shape fixed-gap
    * streaming sessions can't express: each incoming event contributes its
    * OWN span [ts, ts+gap(event)) and the store unions overlapping spans
    * per user incrementally. Gate covers merged start AND end epochs, so
    * per-event gap arithmetic inside the state merge is verified.
    */
  def sessionDynamicCounts(events: DataFrame): DataFrame = {
    val gap = when(col("event_type") === "purchase", "1 hour")
      .when(col("event_type") === "error", "5 minutes")
      .otherwise("30 minutes")
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_epoch"),
        unix_timestamp(col("session_window.end")).as("session_end_epoch"),
        col("n_events"), col("total_value"))
  }

  /** [[sessionDynamicCounts]] as a bounded complete-mode run — final state
    * must equal the batch interval-union islanding oracle exactly.
    */
  def sessionDynamicFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete())(sessionDynamicCounts)

  /** ORACLE-VERIFIED streaming flagship: the reference's own word count
    * ([[streamingWordCount]]) as a bounded document stream in complete
    * mode — the incremental state-store aggregation must converge to
    * exactly the batch `wordcount` answer (same oracle SQL), closing the
    * batch/stream/oracle triangle on the flagship query itself.
    */
  def wordCountFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete(), table = "documents")(
      streamingWordCount)

  /** Streaming TOP-K — the reference's interactive top-N as an incremental
    * query: complete-mode aggregation with `orderBy`+`limit` (legal ONLY in
    * complete mode; the memory sink's table is replaced with the new top-20
    * each trigger, so the final table answers over everything ingested).
    * Same oracle as the batch `wordcount_topn` — the batch/stream/oracle
    * triangle closed on the reference's second query shape.
    */
  def topkFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete(), table = "documents")(
      docs => streamingWordCount(docs).orderBy(col("cnt").desc, col("word").asc).limit(20))

  /** ORACLE-VERIFIED `Trigger.AvailableNow` run — the SELF-TERMINATING
    * catch-up trigger that production scheduled streaming jobs use (each
    * cron/orchestrator run ingests everything available, honoring source
    * admission limits, then EXITS; state and offsets persist in the
    * checkpoint for the next run). Every other verified run drains with
    * `processAllAvailable`, a test-harness call — this one drives the
    * real production contract: the fixture split into two mtime-ordered
    * files, `maxFilesPerTrigger=1` honored by AvailableNow's admission
    * control (two real micro-batches, not one catch-all), and the query
    * terminating ITSELF (`awaitTermination` with no external stop). The
    * drained complete-mode tumbling state must hash-match the same
    * DuckDB oracle as the batch twin. At 100 TB this is the
    * batch-cadence ingestion pattern: a scheduled run catches up on
    * whatever landed since the last one, with streaming exactly-once
    * semantics but batch-shaped resource usage.
    */
  def availableNowFileSource(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(spark, tableBytes(dir, "events"))
    val raw = Tables.table(ss, dir, "events")
    val mid = probeMidId(ss, dir)
    BoundedDrain.scope { s =>
      stageFile(s.sourceDir, raw.filter(col("event_id") < mid),
        "a_first_half.parquet", secondsAgo(300))
      stageFile(s.sourceDir, raw.filter(col("event_id") >= mid),
        "b_second_half.parquet", secondsAgo(0))
      // AvailableNow ends the query on its own once both admitted batches
      // have committed: the drain awaits that termination
      s.drain(tumblingCounts(fileStream(ss, s.sourceDir, raw.schema)),
        Sink.Memory(OutputMode.Complete()), Trigger.AvailableNow()).out.get
    }
  }

  /** ORACLE-VERIFIED RESTART-RESUME run — the data-plane twin of the
    * reference's failure-recovery machinery (worker death → task
    * reassignment, `greeter_client.cc:136-294`): the SAME checkpoint is
    * driven by TWO query incarnations. Phase 1 ingests half the fixture
    * (event_id below the split) into a parquet sink, then the query STOPS
    * — the simulated failure. Phase 2 reopens the checkpoint with the
    * other half newly arrived AND the phase-1 file still in the monitored
    * directory: the file-source's seen-files log must skip the already-
    * ingested file, the offset log must resume (not rewind), and the
    * sink's `_spark_metadata` must keep phase-1 commits — any recovery
    * bug (re-list, offset rewind, sink re-commit) double-writes or drops
    * rows and breaks the hash against the whole-fixture oracle. This is
    * the end-to-end exactly-once-across-restart contract every production
    * pipeline relies on, under the correctness gate.
    */
  def restartResumeFileSource(spark: SparkSession, dir: String): DataFrame = {
    // sized from the whole fixture both incarnations read, not from the
    // half staged before the first start that freezes the width
    val ss = streamingSession(spark, tableBytes(dir, "events"))
    val raw = Tables.table(ss, dir, "events")
    val mid = probeMidId(ss, dir)
    BoundedDrain.scope { s =>
      def incarnation() = s.drain(
        fileStream(ss, s.sourceDir, raw.schema)
          .select("event_id", "user_id", "event_type", "value"),
        Sink.Parquet)
      stageFile(s.sourceDir, raw.filter(col("event_id") < mid),
        "a_first_half.parquet", secondsAgo(300))
      incarnation() // phase 1: ingest the first half, then "fail"
      stageFile(s.sourceDir, raw.filter(col("event_id") >= mid),
        "b_second_half.parquet", secondsAgo(0))
      incarnation().out.get // phase 2: recover and ingest ONLY the new file
    }
  }

  /** ORACLE-VERIFIED STATEFUL restart-recovery run — the state-store twin
    * of [[restartResumeFileSource]] (which proves source/sink recovery on
    * a stateless plan): incarnation 1 ingests every event EXCEPT the
    * max-ts row into the tumbling-window aggregation, building per-window
    * STATE, and stops before anything is finalized past the last
    * watermark. Incarnation 2 reopens the same checkpoint and processes
    * only the single max-ts row, advancing the watermark so every
    * closed hour window finalizes and emits to the parquet sink — with
    * counts that are only correct if incarnation 1's aggregation state
    * was RESTORED from the checkpoint (lost state would emit the advance
    * row's window alone; replayed state would double counts). The final
    * sink must hash-match the watermark-rule oracle over the whole
    * fixture. RocksDB provider, same as every verified streaming run —
    * this is precisely the changelog-checkpoint restore path a 100 TB
    * stream relies on after an executor or driver loss.
    */
  def restartStatefulFileSource(spark: SparkSession, dir: String): DataFrame = {
    // sized from the whole fixture, as in restartResumeFileSource
    val ss = streamingSession(spark, tableBytes(dir, "events"))
    val raw = Tables.table(ss, dir, "events")
    val tsCol = Tables.normalizeTsExpr(raw.schema("ts").dataType).getOrElse(col("ts"))
    val tmax = probeMaxTs(ss, dir)
    BoundedDrain.scope { s =>
      def incarnation() =
        s.drain(tumblingCounts(fileStream(ss, s.sourceDir, raw.schema)), Sink.Parquet)
      stageFile(s.sourceDir, raw.filter(tsCol < lit(tmax)), "a_bulk.parquet", secondsAgo(300))
      incarnation() // build window state, then "fail"
      stageFile(s.sourceDir, raw.filter(tsCol === lit(tmax)), "b_advance.parquet", secondsAgo(0))
      incarnation().out.get // recover state, advance watermark, finalize windows
    }
  }

  /** Stream-static enrichment: the event stream joined to a STATIC batch
    * dimension (customer segments). No state store is involved — the
    * static side plans as a broadcast hash join inside every micro-batch,
    * which is exactly the 100 TB shape: the dimension is read once per
    * batch (or cached), the unbounded stream never shuffles for the join.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))

  /** ORACLE-VERIFIED stream-static enrichment run: [[enrichStream]] as a
    * bounded file-source stream in complete mode — the drained aggregate
    * over the enriched stream must equal the batch events ⋈ customer
    * rollup. Covers the one join class the verified streaming set lacked:
    * stream × static-relation (vs stream × stream in
    * `streaming_join_filesrc`).
    */
  def enrichFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Complete()) { stream =>
      enrichStream(stream,
        Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"))
    }

  /** Stream-stream inner join: each purchase matched to the same user's
    * clicks within the preceding hour. BOTH sides carry watermarks and the
    * join has a time-range predicate, so the state store provably discards
    * rows older than (watermark − range) — bounded state on an unbounded
    * stream, the canonical attribute-funnel join. Works identically as a
    * batch plan (spec asserts parity).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = clickPurchase(events, "inner")

  /** The click/purchase join as `joinType`: both sides watermarked one
    * hour, each purchase against the same user's clicks in the hour
    * before it; the user key coalesces across sides, since a purchase-less
    * row of a full outer join has only the click side's. */
  private def clickPurchase(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      joinType)
      .select(coalesce(col("user_id"), col("c_user_id")).as("user_id"),
        col("purchase_id"), col("click_id"),
        unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
        unix_timestamp(col("click_ts")).as("click_epoch"),
        col("value"))
  }

  /** Stream-stream LEFT OUTER join — [[clickPurchaseJoin]]'s predicate
    * with the semantics the inner join cannot express: purchases with NO
    * click in the preceding hour must still emit, as null-extended rows.
    * That emission is watermark-DRIVEN state eviction, not a plan detail:
    * an unmatched left row surfaces only once the watermark proves no
    * matching right row can still arrive, so correctness of the nulls IS
    * correctness of the eviction machinery.
    */
  def clickPurchaseOuterJoin(events: DataFrame): DataFrame = clickPurchase(events, "left_outer")

  /** ORACLE-VERIFIED stream-stream OUTER join run. The bounded-drain trap
    * this run exists to document: `processAllAvailable` alone CANNOT make
    * an outer join emit its final null rows — purchases inside the last
    * watermark horizon are still "maybe matchable" when the input dries
    * up, so the drained sink would silently miss exactly the most recent
    * unmatched rows (an eventual-emission contract, not a bug). The fix
    * is the `streaming_late_data` schedule trick in reverse: batch 1
    * appends one far-future sentinel event per side (both watermark
    * branches must advance — the query watermark is their MIN), pushing
    * the watermark past every real purchase's join window; Spark's
    * no-data batch then flushes the remaining state, and the sentinels
    * themselves are filtered before the sink. The drained result must
    * hash-match the batch LEFT JOIN oracle exactly — matched rows, null
    * extensions, and nothing twice. State posture at 100 TB: both sides
    * hold only the 1-hour join horizon behind the watermark, whatever the
    * stream length.
    */
  def outerJoinFileSource(spark: SparkSession, dir: String): DataFrame =
    sentinelOuterRun(spark, dir)(clickPurchaseOuterJoin)
      .filter(col("purchase_id") > 0)

  /** Stream-stream FULL OUTER join — both unmatched classes at once:
    * click-less purchases AND purchase-less clicks, each null-extended on
    * eviction. The user key must coalesce across sides (a right-null row
    * has no purchase-side user). Same watermark/sentinel machinery as the
    * left-outer run; the drained sink hash-matches the batch FULL JOIN.
    */
  def clickPurchaseFullOuterJoin(events: DataFrame): DataFrame = clickPurchase(events, "full_outer")

  def fullOuterJoinFileSource(spark: SparkSession, dir: String): DataFrame =
    sentinelOuterRun(spark, dir)(clickPurchaseFullOuterJoin)
      .filter((col("purchase_id").isNull || col("purchase_id") > 0) &&
        (col("click_id").isNull || col("click_id") > 0))

  /** Two days past a fixture `ts`, in the fixture's own encoding: a
    * sentinel event time beyond every real event's watermark horizon. */
  private def twoDaysLater(raw: DataFrame): Column => Column = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      c => c + lit(2L * 86400L * 1000000000L) // nanos-long fixture encoding
    case _ => c => c + expr("INTERVAL 2 DAYS") // timestamp / ntz
  }

  /** Shared harness for the outer-join runs: fixture events as batch 0,
    * then TWO far-future sentinel batches (one row per join side each) —
    * the first advances the min-policy watermark at its batch boundary,
    * the second executes under it and flushes the remaining
    * unmatched-row state. Sentinel exclusion belongs to the CALLER, on
    * the drained batch table (see the pushdown pitfall below).
    */
  private def sentinelOuterRun(spark: SparkSession, dir: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val raw = Tables.table(spark, dir, "events")
    val bump = twoDaysLater(raw)
    def sentinels(ids: (Long, Long)): DataFrame =
      raw.agg(max(col("ts")).as("mts")).select(explode(array(
          struct(lit(ids._1).as("event_id"), bump(col("mts")).as("ts"),
            lit(999991L).as("user_id"), lit("click").as("event_type"),
            lit(0.0).as("value"), lit("").as("props")),
          struct(lit(ids._2).as("event_id"), bump(col("mts")).as("ts"),
            lit(999992L).as("user_id"), lit("purchase").as("event_type"),
            lit(0.0).as("value"), lit("").as("props")))).as("s"))
        .select("s.*")
    // MEASURED PITFALL: the sentinel exclusion must live HERE, on the
    // drained batch table — a `purchase_id > 0` filter inside the
    // streaming plan is pushed through the left-outer join into the
    // purchases-side SCAN (PushedFilters: GreaterThan(event_id,0)), which
    // deletes the purchase-side sentinel before its EventTimeWatermark
    // node ever sees it: that side's max never advances, the min-policy
    // query watermark stalls, and the trailing unmatched purchases
    // silently never emit (4 rows short at sf0.01). Pushdown is usually
    // the optimization; here it removed the watermark driver.
    drainStaged(spark, raw.schema, OutputMode.Append()) { d =>
      stageFile(d, raw, "a_events.parquet", secondsAgo(300))
      // two sentinel batches: the first ADVANCES the watermark (recorded at
      // its batch end), the second is the data batch that EXECUTES under it
      // and flushes the remaining unmatched-left state (the late_data
      // lesson: eviction is batch-boundary-granular and data-batch-driven)
      stageFile(d, sentinels((-1L, -2L)), "b_sentinels.parquet", secondsAgo(60))
      stageFile(d, sentinels((-3L, -4L)), "c_sentinels.parquet", secondsAgo(0))
    }(build)
  }

  /** SKETCH-TYPED STREAMING STATE: the native log-histogram quantile
    * aggregate ([[graft.plans.LogHistSketchAgg]]) run as a complete-mode
    * streaming aggregation over event value cents. Each micro-batch
    * builds partial counter arrays and MERGES them into the serialized
    * sketch held in the state store — the TypedImperativeAggregate
    * serialize/merge contract exercised by the streaming engine itself,
    * which is exactly what a production metrics pipeline needs:
    * percentiles over an unbounded stream in ~10 KB of state, where exact
    * percentiles would hold every value ever seen. The drained 1-row
    * sketch reduces to p50/p90/p99 batch-side with the same pure-integer
    * extraction as `quantile_sketch_merge`; the oracle replays the
    * histogram analytically over all events, so stream-side partials,
    * state-store round-trips, and the final merge must be lossless to the
    * last counter. (The aggregate must register on the per-run session
    * CLONE — temp functions are session-scoped and don't inherit through
    * `newSession`.)
    */
  def sketchFileSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.LogHistQuantiles.SubBuckets
    // TWO source copies → two micro-batches: the final sketch only matches
    // the doubled-corpus oracle if batch 1's state-store sketch survives
    // serialization and MERGES with batch 2's partials (counters add —
    // duplicate-sensitive, so redelivery would be visible, unlike HLL)
    val drained = drainFixture(spark, dir, 2, OutputMode.Complete()) {
      stream =>
        stream.select(round(col("value") * 100).cast("long").as("cents"))
          .agg(expr("loghist_sketch(cents)").as("sk"))
    }
    val merged = drained.select(posexplode(col("sk")).as(Seq("pos", "cnt")))
      .filter(col("cnt") > 0)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("pos").asc)))
    val n = merged.agg(sum("cnt").as("n_rows"))
    val qs = drained.sparkSession.range(1)
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
    qs.crossJoin(broadcast(n))
      .join(broadcast(cum), col("cum") >= expr("(q * n_rows + 99L) div 100L"))
      .groupBy("q", "n_rows").agg(min(col("pos")).as("bucket"))
      .select(col("q"), col("n_rows"), col("bucket").cast("long").as("bucket"),
        expr(s"($SubBuckets + bucket % $SubBuckets)" +
          s" * shiftleft(1L, cast(bucket div $SubBuckets as int))").as("est_x32"))
  }

  /** STREAMING NEAR-DUP against a STATIC corpus — the "dedupe the incoming
    * crawl online" stage of a 100 TB ingestion pipeline: new documents
    * (doc_id % 10 == 7 plays the incoming feed) are MinHash-banded and
    * stream-static-joined against the LSH band table of the existing
    * corpus (everything else), producing per-incoming-doc candidate
    * counts. Three load-bearing choices:
    *  - the stream side's 16-hash signature is ONE PROJECTION
    *    (`array_min` over per-shingle hashes, md5 staged once per
    *    shingle) — a groupBy signature would be a second stateful
    *    aggregation, which streaming can't chain before the join;
    *  - the static side reuses the BATCH banding ([[graft.operators.Dedup
    *    .minhashSignatures]] + `bandRows`), so stream and corpus bucket
    *    identically by construction (min is duplicate-insensitive, so
    *    the projection and groupBy formulations agree exactly);
    *  - candidates aggregate via `collect_set(corpus_id)`: the set union
    *    absorbs BOTH the 4-band multiplicity and at-least-once
    *    redelivery (two source copies, maxFilesPerTrigger=1 forces the
    *    duplicate delivery across a real batch boundary), so the drained
    *    counts are exactly-once without a separate dedup operator.
    * Scale: the fixture corpus band table broadcasts (dim-sized); at
    * real scale it is bucketed on (band, band_sig) and each micro-batch
    * joins co-partitioned, with per-doc state bounded by in-bucket
    * candidate counts — the same banded-equi-join posture as the batch
    * `dedup_minhash_lsh`.
    */
  def nearDupFileSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    drainFixture(spark, dir, 2, OutputMode.Complete(), table = "documents") {
      stream =>
        val corpus = Tables.documents(stream.sparkSession, dir)
          .filter(col("doc_id") % 10 =!= 7)
        val corpusBands = Dedup.bandRows(Dedup.minhashSignatures(corpus))
          .select(col("doc_id").as("corpus_id"), col("band"), col("band_sig"))
        val mCols = (0 until Dedup.MinhashK).map(i => expr(
          s"array_min(transform(b32s, b -> (b * ${Dedup.MinhashA(i)}L + ${Dedup.MinhashC(i)}L) % ${Dedup.MinhashP}L))")
          .as(s"m$i"))
        val incomingSig = stream
          .filter(col("doc_id") % 10 === 7)
          .select(col("doc_id").cast("long").as("doc_id"),
            graft.operators.TextPipeline.words(col("text")).as("words"))
          .filter(size(col("words")) >= 5)
          .withColumn("shs", expr(
            "transform(sequence(0, size(words) - 5), i -> array_join(slice(words, i + 1, 5), ' '))"))
          .withColumn("b32s", expr(
            "transform(shs, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"))
          .select(col("doc_id") +: mCols: _*)
        Dedup.bandRows(incomingSig)
          .join(broadcast(corpusBands), Seq("band", "band_sig"))
          .groupBy("doc_id")
          .agg(size(collect_set(col("corpus_id"))).cast("long").as("n_band_matches"))
    }
  }

  /** Operational file-sink path: stream → `foreachBatch` → partitioned
    * parquet, with the batchId written into the directory layout
    * (`batch_id=N`) so replays after a failure OVERWRITE their own batch
    * directory instead of duplicating rows — the standard idempotent
    * exactly-once-per-batch recipe when the sink itself is not
    * transactional. Returns the started query; caller owns lifecycle.
    */
  def toPartitionedParquet(events: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  case class RunningTotal(user_id: Long, event_id: Long, run_total: Double)

  /** Spark 4 arbitrary-state API (`transformWithState`): per-user running
    * spend as a [[StatefulProcessor]] with one `ValueState[Double]` — the
    * modern successor to `flatMapGroupsWithState` ([[sessionizeStream]]
    * keeps the classic API for comparison). State lives in the RocksDB
    * state store (changelog-checkpointed, spillable — the 100 TB-stream
    * posture); TTLConfig can bound per-key state lifetime where the
    * business semantics allow.
    */
  class RunningTotalProcessor extends StatefulProcessor[Long, Event, RunningTotal] {
    @transient private var total: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Double]("total", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RunningTotal] = {
      var cur = if (total.exists()) total.get() else 0.0
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        cur += e.value
        RunningTotal(key, e.event_id, math.round(cur * 100) / 100.0)
      }
      total.update(cur)
      out.iterator
    }
  }

  /** Per-user running totals via `transformWithState` (requires the
    * RocksDB state store provider — see `EventStreamsSpec`).
    */
  def runningTotals(events: Dataset[Event]): Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  case class RunningCents(user_id: Long, event_id: Long, run_cents: Long)

  /** Exact-integer twin of [[RunningTotalProcessor]] for the CORRECTNESS
    * gate: running spend in CENTS (`ValueState[Long]`), so the per-user
    * accumulation is exact int64 and the DuckDB running-sum window can
    * replay it bit-for-bit — no float accumulation crosses engines.
    */
  class RunningCentsProcessor extends StatefulProcessor[Long, Event, RunningCents] {
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("cents", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RunningCents] = {
      var cur = if (total.exists()) total.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        cur += math.round(e.value * 100)
        RunningCents(key, e.event_id, cur)
      }
      total.update(cur)
      out.iterator
    }
  }

  /** STREAMING OBSERVABILITY under the oracle gate: `Dataset.observe` on a
    * STREAMING frame surfaces per-batch metrics in
    * `StreamingQueryProgress.observedMetrics` — the accounting every
    * production stream monitors (input-rows processed, value totals)
    * without a second query. The run drains a bounded complete-mode
    * aggregate while the observe node counts the PRE-aggregation stream;
    * after the drain, metrics summed across micro-batches must equal the
    * batch recompute EXACTLY — proving the engine's progress accounting
    * loses and double-counts nothing across batch boundaries (the same
    * exactly-once property the restart runs prove for STATE, proven here
    * for TELEMETRY). Reads the drain's `recentProgress` synchronously
    * once the query has stopped — no listener race.
    */
  def observeFileSource(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(spark, 2 * tableBytes(dir, "events")) // two linked copies
    val rawSchema = Tables.table(ss, dir, "events").schema
    val (progress, table) = BoundedDrain.scope { s =>
      linkCopies(s.sourceDir, dir, "events", 2)
      val d = s.drain(fileStream(ss, s.sourceDir, rawSchema)
        .observe("graft_obs",
          count(lit(1)).as("rows_seen"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents_seen"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events")), Sink.Memory(OutputMode.Complete()))
      (d.progress, d.out.get)
    }
    // sum observed metrics across all micro-batches (synchronous read)
    var rowsSeen = 0L
    var centsSeen = 0L
    progress.foreach { p =>
      val m = p.observedMetrics.get("graft_obs")
      if (m != null) {
        rowsSeen += m.getAs[Long]("rows_seen")
        centsSeen += m.getAs[Long]("cents_seen")
      }
    }
    import ss.implicits._
    // the fixture streamed TWICE (2 symlinked copies) — halve to the
    // per-copy totals the oracle states from the batch table
    Seq((rowsSeen / 2, centsSeen / 2)).toDF("rows_seen", "cents_seen")
      .crossJoin(broadcast(
        table.agg(count(lit(1)).as("n_types"),
          (sum("n_events") / 2).cast("long").as("n_rows_table"))))
  }

  case class TimerSession(user_id: Long, session_start_epoch: Long, n_events: Long, total_cents: Long)

  /** EVENT-TIME TIMERS + `ListState` (`transformWithState`, TimeMode
    * .EventTime): timer-driven sessionization — the push-based stateful
    * shape the ValueState run ([[RunningCentsProcessor]]) doesn't touch.
    * Events buffer in a per-user `ListState`; every batch (re)arms ONE
    * flush timer at `last event + 30 min`, and the session summaries are
    * emitted from `handleExpiredTimer` when the WATERMARK crosses that
    * expiry — output is produced by time passing, not by data arriving,
    * which is exactly what timers exist for (abandoned-cart emission,
    * SLA timeouts). State per user is bounded by the open-session buffer
    * and is cleared on flush; timers live in the store and survive
    * restarts like any state. Session arithmetic is exact: micros for
    * gap comparisons, int64 cents for totals.
    */
  class TimerSessionProcessor extends StatefulProcessor[Long, Event, TimerSession] {
    private val GapUs = 1800L * 1000000L
    private val GapMs = 1800L * 1000L
    @transient private var buf: ListState[(Long, Long, Long)] = _ // (tsMicros, event_id, cents)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[(Long, Long, Long)]("buf",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long = {
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TimerSession] = {
      var maxUs = Long.MinValue
      rows.foreach { e =>
        val us = micros(e.ts)
        buf.appendValue((us, e.event_id, math.round(e.value * 100)))
        if (us > maxUs) maxUs = us
      }
      if (maxUs != Long.MinValue) {
        // exactly one pending flush timer per user, and it only ever moves
        // FORWARD: a batch of late-but-valid events (older ts, still inside
        // the watermark) must not pull the armed expiry earlier, or a
        // still-open session flushes prematurely and splits vs the oracle
        val existing = getHandle.listTimers().toSeq
        val expiry = math.max(maxUs / 1000L + GapMs,
          if (existing.isEmpty) Long.MinValue else existing.max)
        existing.foreach(old => if (old != expiry) getHandle.deleteTimer(old))
        if (!existing.contains(expiry)) getHandle.registerTimer(expiry)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TimerSession] = {
      val evs = buf.get().toSeq.sortBy(t => (t._1, t._2))
      buf.clear()
      if (evs.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ListBuffer.empty[TimerSession]
        var startUs = evs.head._1
        var lastUs = evs.head._1
        var n = 0L
        var cents = 0L
        evs.foreach { case (us, _, c) =>
          if (n > 0 && us - lastUs >= GapUs) {
            out += TimerSession(key, math.floorDiv(startUs, 1000000L), n, cents)
            startUs = us; n = 0L; cents = 0L
          }
          n += 1; cents += c; lastUs = us
        }
        out += TimerSession(key, math.floorDiv(startUs, 1000000L), n, cents)
        out.iterator
      }
    }
  }

  /** [[TimerSessionProcessor]] as a bounded run: fixture events, then the
    * two-batch far-future sentinel schedule (advance the watermark at a
    * batch boundary, then execute a data batch under it — the late_data
    * lesson) so every real user's flush timer fires before the drain.
    * Sentinel users are excluded from the DRAINED table (the pushdown
    * pitfall: an in-plan filter would delete the sentinel before its
    * EventTimeWatermark node and stall the watermark).
    */
  def twsTimersFileSource(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.table(spark, dir, "events")
    val bump = twoDaysLater(raw)
    def sentinel(id: Long): DataFrame =
      raw.agg(max(col("ts")).as("mts")).select(
        lit(id).as("event_id"), bump(col("mts")).as("ts"),
        lit(999999L).as("user_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
    val drained = drainStaged(spark, raw.schema, OutputMode.Append()) { d =>
      stageFile(d, raw, "a_events.parquet", secondsAgo(300))
      stageFile(d, sentinel(-1L), "b_sentinel.parquet", secondsAgo(60))
      stageFile(d, sentinel(-2L), "c_sentinel.parquet", secondsAgo(0))
    } { df =>
      import spark.implicits._
      df.withWatermark("ts", "10 minutes")
        .as[Event].groupByKey(_.user_id)
        .transformWithState(new TimerSessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    drained.filter(col("user_id") < 999999L)
  }

  /** ORACLE-VERIFIED `transformWithState` run — the Spark 4 arbitrary-state
    * API under the correctness gate (the other eleven verified runs cover
    * windowed aggs, joins, dedup, and `foreachBatch`; this one proves the
    * StatefulProcessor/ValueState surface): per-user running spend in exact
    * cents, drained in append mode, hash-matched against the batch
    * running-sum window. State is one long per user in the RocksDB store —
    * the bounded-state shape that survives an unbounded stream.
    */
  def twsFileSource(spark: SparkSession, dir: String): DataFrame =
    drainFixture(spark, dir, 1, OutputMode.Append()) { df =>
      import spark.implicits._
      df.as[Event].groupByKey(_.user_id)
        .transformWithState(new RunningCentsProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }

  /** Driver-gate registry: the one streaming entry whose FINAL state is
    * deterministic and SQL-expressible (bounded stream, complete mode).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_tumbling_filesrc" -> tumblingFileSource _,
    "streaming_dedup_filesrc" -> dedupFileSource _,
    "streaming_late_data" -> lateDataFileSource _,
    "streaming_sliding_filesrc" -> slidingFileSource _,
    "streaming_join_filesrc" -> joinFileSource _,
    "streaming_outer_join" -> outerJoinFileSource _,
    "streaming_full_outer" -> fullOuterJoinFileSource _,
    "streaming_sketch_filesrc" -> sketchFileSource _,
    "streaming_wordcount_filesrc" -> wordCountFileSource _,
    "streaming_session_filesrc" -> sessionFileSource _,
    "streaming_session_dynamic" -> sessionDynamicFileSource _,
    "streaming_enrich_filesrc" -> enrichFileSource _,
    "streaming_sink_parquet" -> dedupFileSource _,
    "streaming_topk_filesrc" -> topkFileSource _,
    "streaming_cdc_filesrc" -> cdcMergeFileSource _,
    "streaming_tws_filesrc" -> twsFileSource _,
    "streaming_tws_timers" -> twsTimersFileSource _,
    "streaming_observe" -> observeFileSource _,
    "streaming_restart_resume" -> restartResumeFileSource _,
    "streaming_restart_stateful" -> restartStatefulFileSource _,
    "streaming_available_now" -> availableNowFileSource _,
    "streaming_neardup_filesrc" -> nearDupFileSource _,
  )

  /** Same oracle as the batch twin `events_tumbling` — the point: batch
    * plan, streaming plan, and DuckDB all agree on the same answer.
    */
  def oracle: Map[String, String] = Map(
    "streaming_tumbling_filesrc" ->
      """SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT AS hour_epoch, event_type,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the doubled source collapses back to the distinct fixture
    "streaming_dedup_filesrc" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    // 4 slides of 15 min cover each event's hour window
    "streaming_sliding_filesrc" ->
      """WITH ev AS (
        |  SELECT event_type, floor(epoch(ts::TIMESTAMP) / 900)::BIGINT AS slot
        |  FROM events),
        |wins AS (
        |  SELECT event_type, (slot - 3) * 900 AS slide_epoch FROM ev
        |  UNION ALL SELECT event_type, (slot - 2) * 900 FROM ev
        |  UNION ALL SELECT event_type, (slot - 1) * 900 FROM ev
        |  UNION ALL SELECT event_type, slot * 900 FROM ev)
        |SELECT slide_epoch, event_type, count(*) AS n_events
        |FROM wins GROUP BY 1, 2""".stripMargin,
    // replay of the two-batch late-data schedule: bulk-only counts over
    // the windows the batch-1 watermark (max ts - 10 min) finalized; the
    // stragglers (event_id % 7 == 0, > 1 day old) contribute NOTHING
    "streaming_late_data" ->
      """WITH e AS (SELECT event_id, ts::TIMESTAMP AS t, event_type, value FROM events),
        |span AS (SELECT max(t) AS tmax FROM e),
        |bulk AS (SELECT e.* FROM e, span
        |         WHERE NOT (event_id % 7 = 0 AND t < tmax - INTERVAL 1 DAY)),
        |agg AS (SELECT floor(epoch(date_trunc('hour', t)))::BIGINT AS hour_epoch, event_type,
        |          count(*) AS n_events, round(sum(value), 2) AS total_value
        |        FROM bulk GROUP BY 1, 2)
        |SELECT agg.* FROM agg, span
        |WHERE hour_epoch + 3600 <= floor(epoch(tmax - INTERVAL 10 MINUTE))""".stripMargin,
    // same answer through the exactly-once parquet FILE sink
    "streaming_sink_parquet" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    // two query incarnations over one checkpoint reassemble the fixture
    // exactly once — recovery double-writes/drops would break the hash
    "streaming_restart_resume" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    // windows finalized by the post-restart watermark advance must carry
    // the counts accumulated BEFORE the restart — the watermark rule over
    // the whole fixture, no straggler exclusion (every row arrived before
    // its window closed)
    "streaming_restart_stateful" ->
      """WITH e AS (SELECT ts::TIMESTAMP AS t, event_type, value FROM events),
        |span AS (SELECT max(t) AS tmax FROM e),
        |agg AS (SELECT floor(epoch(date_trunc('hour', t)))::BIGINT AS hour_epoch, event_type,
        |          count(*) AS n_events, round(sum(value), 2) AS total_value
        |        FROM e GROUP BY 1, 2)
        |SELECT agg.* FROM agg, span
        |WHERE hour_epoch + 3600 <= floor(epoch(tmax - INTERVAL 10 MINUTE))""".stripMargin,
    // the self-terminating AvailableNow catch-up run converges to the
    // same final state as the batch twin (same oracle as the tumbling run)
    "streaming_available_now" ->
      """SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT AS hour_epoch, event_type,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the drained incoming-vs-corpus band-match counts == the batch LSH
    // banding replayed with the same split (redelivery collapses in the
    // distinct set, so the doubled source changes nothing)
    "streaming_neardup_filesrc" -> {
      import graft.operators.Dedup.{MinhashA, MinhashC, MinhashK, MinhashP}
      val mins = (0 until MinhashK)
        .map(i => s"min((b32 * ${MinhashA(i)} + ${MinhashC(i)}) % $MinhashP) AS m$i")
        .mkString(", ")
      val bandSelects = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS band_sig FROM hmin"
      }.mkString(" UNION ALL ")
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS shingle FROM pos),
        |hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS b32 FROM sh),
        |hmin AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
        |bands AS ($bandSelects),
        |pairs AS (
        |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
        |  FROM bands i JOIN bands c ON i.band = c.band AND i.band_sig = c.band_sig
        |  WHERE i.doc_id % 10 = 7 AND c.doc_id % 10 <> 7)
        |SELECT doc_id, count(*)::BIGINT AS n_band_matches
        |FROM pairs GROUP BY doc_id""".stripMargin
    },
    // the drained foreachBatch-MERGE state == the batch cdc_latest
    "streaming_cdc_filesrc" -> graft.operators.Analytics.oracle("cdc_latest"),
    // the drained per-event transformWithState output == the batch
    // running-sum window (exact cents; ROWS frame — event_id is unique in
    // the order key, stated explicitly anyway)
    "streaming_tws_filesrc" ->
      """SELECT user_id, event_id,
        | (sum(round(value * 100)::BIGINT) OVER (
        |   PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_cents
        |FROM events""".stripMargin,
    // the stream-stream join's drained sink == the batch join
    "streaming_join_filesrc" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        | floor(epoch(p.ts::TIMESTAMP))::BIGINT AS purchase_epoch,
        | floor(epoch(c.ts::TIMESTAMP))::BIGINT AS click_epoch,
        | p.value
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = p.user_id
        | AND epoch(c.ts::TIMESTAMP) >= epoch(p.ts::TIMESTAMP) - 3600
        | AND epoch(c.ts::TIMESTAMP) <= epoch(p.ts::TIMESTAMP)""".stripMargin,
    // the drained outer-join sink == the batch LEFT JOIN: matched rows,
    // null extensions for click-less purchases, nothing twice (the
    // sentinel schedule forces final state flush; sentinels filtered)
    "streaming_outer_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        | floor(epoch(p.ts::TIMESTAMP))::BIGINT AS purchase_epoch,
        | floor(epoch(c.ts::TIMESTAMP))::BIGINT AS click_epoch,
        | p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND epoch(c.ts::TIMESTAMP) >= epoch(p.ts::TIMESTAMP) - 3600
        | AND epoch(c.ts::TIMESTAMP) <= epoch(p.ts::TIMESTAMP)""".stripMargin,
    // the drained sketch (built across TWO micro-batches through the
    // state store) == the analytic log-histogram over the DOUBLED corpus;
    // same octave math as quantile_sketch_merge
    "streaming_sketch_filesrc" ->
      """WITH v AS (SELECT round(value * 100)::BIGINT AS cents FROM events),
        |b AS (SELECT cents, length(bin(cents)) - 1 AS e FROM v),
        |h AS (SELECT e * 32 + ((cents - (1::BIGINT << e)) * 32 // (1::BIGINT << e)) AS pos,
        |        count(*) * 2 AS cnt
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
    // the drained full-outer sink == the batch FULL JOIN: both unmatched
    // classes null-extended, user key coalesced across sides
    "streaming_full_outer" ->
      """SELECT coalesce(p.user_id, c.user_id) AS user_id,
        | p.event_id AS purchase_id, c.event_id AS click_id,
        | floor(epoch(p.ts::TIMESTAMP))::BIGINT AS purchase_epoch,
        | floor(epoch(c.ts::TIMESTAMP))::BIGINT AS click_epoch,
        | p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND epoch(c.ts::TIMESTAMP) >= epoch(p.ts::TIMESTAMP) - 3600
        | AND epoch(c.ts::TIMESTAMP) <= epoch(p.ts::TIMESTAMP)""".stripMargin,
    // the drained complete-mode state == the batch wordcount (same oracle)
    "streaming_wordcount_filesrc" ->
      s"${Oracle.tokensCte} SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word",
    // the drained complete-mode top-20 == the batch wordcount_topn
    "streaming_topk_filesrc" ->
      s"${Oracle.tokensCte} SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20",
    // the drained enriched aggregate == the batch events ⋈ customer rollup
    "streaming_enrich_filesrc" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
        | round(sum(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // same gaps-and-islands SQL as the batch twin session_window_native
    "streaming_session_filesrc" ->
      """WITH marked AS (
        |  SELECT user_id, value, epoch(ts::TIMESTAMP) AS ep, event_id,
        |   CASE WHEN lag(epoch(ts::TIMESTAMP), 1) OVER w IS NULL
        |         OR epoch(ts::TIMESTAMP) - lag(epoch(ts::TIMESTAMP), 1) OVER w >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, value, ep,
        |   (sum(new_session) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM marked)
        |SELECT floor(min(ep))::BIGINT AS session_start_epoch, user_id,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,
    // the engine's own progress accounting vs the batch recompute
    "streaming_observe" ->
      """SELECT count(*)::BIGINT AS rows_seen,
        | sum(round(value * 100)::BIGINT)::BIGINT AS cents_seen,
        | count(DISTINCT event_type)::BIGINT AS n_types,
        | count(*)::BIGINT AS n_rows_table
        |FROM events""".stripMargin,
    // fixed-gap islanding replay with exact-cents totals: what the timer
    // flushes must equal the batch sessionization of the same events
    "streaming_tws_timers" ->
      """WITH marked AS (
        |  SELECT user_id, value, epoch(ts::TIMESTAMP) AS ep, event_id,
        |   CASE WHEN lag(epoch(ts::TIMESTAMP), 1) OVER w IS NULL
        |         OR epoch(ts::TIMESTAMP) - lag(epoch(ts::TIMESTAMP), 1) OVER w >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, value, ep,
        |   (sum(new_session) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM marked)
        |SELECT user_id, floor(min(ep))::BIGINT AS session_start_epoch,
        | count(*) AS n_events, sum(round(value * 100)::BIGINT)::BIGINT AS total_cents
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,
    // same interval-union islanding SQL as the batch twin
    // session_window_dynamic (per-event gap, merged start AND end gated)
    "streaming_session_dynamic" ->
      """WITH g AS (
        |  SELECT user_id, value, event_id, epoch(ts::TIMESTAMP) AS ep,
        |   CASE event_type WHEN 'purchase' THEN 3600 WHEN 'error' THEN 300
        |        ELSE 1800 END AS gap
        |  FROM events
        |), marked AS (
        |  SELECT user_id, value, ep, gap, event_id,
        |   max(ep + gap) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM g
        |), isl AS (
        |  SELECT user_id, value, ep, gap,
        |   (sum(CASE WHEN prev_max_end IS NULL OR ep >= prev_max_end THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, floor(min(ep))::BIGINT AS session_start_epoch,
        | floor(max(ep + gap))::BIGINT AS session_end_epoch,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM isl GROUP BY user_id, session_seq""".stripMargin,
  )

  /** Custom stateful sessionization with `flatMapGroupsWithState`: 30 min
    * inactivity gap closes a session (same semantics as the batch
    * gaps-and-islands in `Events.sessionize`, expressed as managed
    * per-key state with a processing-time timeout for stragglers).
    */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var open = state.getOption
          val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val ep = e.ts.getTime / 1000
            open match {
              case Some(cur) if ep - cur.lastEpoch <= 1800 =>
                open = Some(cur.copy(lastEpoch = ep, n = cur.n + 1, total = cur.total + e.value))
              case Some(cur) =>
                closed += SessionOut(userId, cur.startEpoch, cur.n, math.round(cur.total * 100) / 100.0)
                open = Some(SessionState(ep, ep, 1, e.value))
              case None =>
                open = Some(SessionState(ep, ep, 1, e.value))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }
}
