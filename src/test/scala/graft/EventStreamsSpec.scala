package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import graft.sources.Tables
import java.sql.Timestamp

class EventStreamsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def fixtureEvents(): Seq[Event] = {
    import spark.implicits._
    Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
  }

  test("streamingSession clones isolate streaming knobs from the shared session") {
    val ss = EventStreams.streamingSession(spark, EventStreams.tableBytes(TestSpark.sf, "events"))
    // width from the input: the sf0.001 events fixture (27 KB) is far under
    // the 1 MB per-partition target, so ONE state store, not the 4-wide
    // batch default
    assert(ss.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(ss.conf.get("spark.sql.files.minPartitionNum") == "1")
    // the production provider is pinned in Sessions builder options and
    // must survive the clone (a restart query's 2nd incarnation depends
    // on it), with per-batch changelog uploads instead of full snapshots
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    assert(ss.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    // isolation both ways: the clone's knobs never leak to the shared
    // session, and scribbling on the clone can't touch the parent
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "1")
    ss.conf.set("spark.sql.shuffle.partitions", "5")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "5")
  }

  test("stream width grows with source bytes, stops at the core count, repeats for the same input") {
    val mb = 1L << 20 // minPartitionSize default: the per-partition target
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    assert(Seq(0L, 1L, mb, mb + 1, 3 * mb, 4 * mb, 4 * mb + 1, 1000 * mb, Long.MaxValue)
      .map(EventStreams.streamWidth(spark, _)) == Seq(1, 1, 1, 2, 3, 4, 4, 4, 4))
    // the target is the session's AQE floor, not a constant of its own
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    assert(EventStreams.streamWidth(small, 40L << 10) == 3)
    // staged links count their target once per link
    val events = EventStreams.tableBytes(TestSpark.sf, "events")
    val links = tempDir("graft-width")
    (1 to 2).foreach(i => java.nio.file.Files.createSymbolicLink(
      links.resolve(s"copy$i.parquet"), java.nio.file.Path.of(s"${TestSpark.sf}/events.parquet")))
    assert(EventStreams.bytesUnder(links) == 2 * events)
    // a file staged twice from the same frame has the same bytes, so a
    // staged gate asks for the width its checkpoint froze on every run
    val staged = Seq(tempDir("graft-width"), tempDir("graft-width"))
    staged.foreach(graft.streaming.BoundedDrain.stageFile(
      _, spark.read.parquet(s"${TestSpark.sf}/events.parquet"), "e.parquet", 0L))
    assert(staged.map(EventStreams.bytesUnder).distinct.size == 1)
  }

  test("streaming tumbling counts match the batch plan on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(fixtureEvents())
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("tumbling_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("tumbling_out")
      .select("hour_epoch", "event_type", "n_events", "total_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = graft.operators.Events.tumbling(spark, TestSpark.sf)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming word count matches the batch flagship incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.streamingWordCount(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("swc_out").start()
    try {
      // feed in two increments: state must accumulate across batches
      stream.addData(docs.take(100)); q.processAllAvailable()
      stream.addData(docs.drop(100)); q.processAllAvailable()
    } finally { q.stop() }
    val streamed = spark.table("swc_out").as[(String, Long)].collect().toMap
    val batch = graft.operators.TextPipeline.wordCount(Tables.documents(spark, TestSpark.sf))
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("sliding windows emit one row per covering slide") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // one event at an exact hour boundary → covered by 4 slides of a
    // 1h-window/15min-slide
    stream.addData(Seq(Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 2.0)))
    val q = EventStreams.slidingCounts(stream.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("sliding_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val rows = spark.table("sliding_out").as[(Long, String, Long)].collect().toSet
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(rows == (0 until 4).map(k => (base - k * 900L, "click", 1L)).toSet)
  }

  test("streaming dedup drops redelivered events, keeps one row per id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents().take(200)
    val stream = MemoryStream[Event]
    val q = EventStreams.dedupStream(stream.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      // at-least-once delivery: the same slice arrives twice, plus an
      // overlapping redelivery in a later batch
      stream.addData(events); q.processAllAvailable()
      stream.addData(events.take(50)); q.processAllAvailable()
    } finally { q.stop() }
    val out = spark.table("dedup_out").select("event_id").as[Long].collect()
    assert(out.length == events.length, s"expected ${events.length} rows, got ${out.length}")
    assert(out.toSet == events.map(_.event_id).toSet)
  }

  test("file-source streaming: readStream over parquet matches the batch plan") {
    import spark.implicits._
    val dir = tempDir("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(TestSpark.sf, "events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Tables.events(spark, TestSpark.sf).schema
    // raw file schema carries ts in the fixture's native encoding
    // (nanos-long or TIMESTAMP_NTZ) before Tables' normalization
    val rawSchema = spark.read.parquet(s"${TestSpark.sf}/events.parquet").schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("filesrc_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("filesrc_out")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = graft.operators.Events.tumbling(spark, TestSpark.sf)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("stream-static join: streaming events enrich against a static dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(fixtureEvents().take(200))
    // static side: users flagged by parity (stand-in for a dimension table)
    val dim = spark.range(0, 1000).select($"id".as("user_id"),
      ($"id" % 2 === 0).as("is_even"))
    val q = stream.toDF().join(dim, "user_id")
      .groupBy("is_even").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("ssj_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("ssj_out").as[(Boolean, Long)].collect().toMap
    val expected = fixtureEvents().take(200).groupBy(_.user_id % 2 == 0)
      .map { case (k, v) => k -> v.size.toLong }
    assert(got == expected)
  }

  test("stream-stream join: purchases match clicks within the preceding hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents()
    val stream = MemoryStream[Event]
    stream.addData(events)
    val q = EventStreams.clickPurchaseJoin(stream.toDF())
      .writeStream.outputMode("append").format("memory").queryName("cpj_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("cpj_out")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    // batch twin: identical join over the same data as a static DataFrame
    val batchDf = spark.createDataset(events).toDF()
    val batch = EventStreams.clickPurchaseJoin(batchDf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming LEFT OUTER join run matches the batch left join; null rows present") {
    import spark.implicits._
    val streamed = EventStreams.outerJoinFileSource(spark, TestSpark.sf)
      .as[(Long, Long, Option[Long], Long, Option[Long], Double)].collect().toSet
    val batch = EventStreams.clickPurchaseOuterJoin(
        graft.sources.Tables.events(spark, TestSpark.sf))
      .as[(Long, Long, Option[Long], Long, Option[Long], Double)].collect().toSet
    assert(streamed == batch,
      "drained outer-join sink must equal the batch LEFT JOIN exactly")
    assert(streamed.exists(_._3.isEmpty),
      "unmatched purchases must surface as null-extended rows (eviction worked)")
    assert(streamed.exists(_._3.isDefined), "matched rows must survive too")
  }

  test("streaming FULL OUTER join run matches the batch full join; both null classes present") {
    import spark.implicits._
    val streamed = EventStreams.fullOuterJoinFileSource(spark, TestSpark.sf)
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long], Option[Double])]
      .collect().toSet
    val batch = EventStreams.clickPurchaseFullOuterJoin(
        graft.sources.Tables.events(spark, TestSpark.sf))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long], Option[Double])]
      .collect().toSet
    assert(streamed == batch,
      "drained full-outer sink must equal the batch FULL JOIN exactly")
    assert(streamed.exists(_._2.isEmpty), "purchase-less clicks must null-extend")
    assert(streamed.exists(_._3.isEmpty), "click-less purchases must null-extend")
    assert(streamed.exists(r => r._2.isDefined && r._3.isDefined), "matched rows survive")
  }

  test("foreachBatch parquet sink: incremental batches land once, all rows present") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents()
    val out = tempDir("graft-fb-out").toString
    val ckpt = tempDir("graft-fb-ckpt").toString
    val stream = MemoryStream[Event]
    val q = EventStreams.toPartitionedParquet(stream.toDF(), out, ckpt)
    try {
      stream.addData(events.take(events.size / 2)); q.processAllAvailable()
      stream.addData(events.drop(events.size / 2)); q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == events.size)
    assert(back.select("event_id").distinct().count() == events.size)
    // at least two batch directories (incremental, not one blob)
    assert(back.select("batch_id").distinct().count() >= 2)
  }

  test("foreachBatch replay of an uncommitted batch overwrites, never duplicates (exactly-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents()
    val out = tempDir("graft-eo-out").toString
    val ckpt = tempDir("graft-eo-ckpt").toString
    val stream = MemoryStream[Event]
    stream.addData(events.take(500))
    val q1 = EventStreams.toPartitionedParquet(stream.toDF(), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 500)
    // simulate the failure window that breaks non-idempotent sinks: the
    // sink write landed but the offset commit did not — delete the last
    // commit marker, so restarting from this checkpoint REPLAYS the batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toInt)
    assert(last.delete(), s"could not delete commit marker $last")
    // the local checksum FS keeps a .N.crc sidecar; a stale one would make
    // the replayed commit write look like a concurrent query
    new java.io.File(s"$ckpt/commits/.${last.getName}.crc").delete()
    val q2 = EventStreams.toPartitionedParquet(stream.toDF(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == afterFirst, "replayed batch duplicated rows")
    assert(back.select("event_id").distinct().count() == afterFirst)
  }

  test("transformWithState running totals match the batch running-sum window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents()
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val q = EventStreams.runningTotals(stream.toDS())
        .writeStream.outputMode("append").format("memory").queryName("rt_out").start()
      try {
        // two increments: ValueState must carry totals across microbatches
        stream.addData(events.take(events.size / 2)); q.processAllAvailable()
        stream.addData(events.drop(events.size / 2)); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("rt_out")
        .as[(Long, Long, Double)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val batch = Tables.events(spark, TestSpark.sf)
        .withColumn("run_total", round(sum("value").over(w), 2))
        .select("user_id", "event_id", "run_total")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful sessionization closes sessions on >30min gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L
    def ev(id: Long, user: Long, epochSec: Long): Event =
      Event(id, new Timestamp(epochSec * 1000), user, "click", 1.0)
    val stream = MemoryStream[Event]
    stream.addData(Seq(
      ev(1, 1, t0), ev(2, 1, t0 + 60), // session 1: 2 events
      ev(3, 1, t0 + 60 + 1801 + 60),   // gap > 30min → closes session 1
      ev(4, 2, t0)))                   // other user, stays open
    val q = EventStreams.sessionizeStream(stream.toDS())
      .writeStream.outputMode("append").format("memory").queryName("sessions_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val closed = spark.table("sessions_out")
      .as[EventStreams.SessionOut].collect().toSeq
    assert(closed == Seq(EventStreams.SessionOut(1L, t0, 2L, 2.0)))
  }

  test("late-data run: stragglers dropped post-eviction, no window resurrected") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("streaming_late_data")(spark, TestSpark.sf).cache()
    // append emitted each finalized window exactly once — a late row
    // arriving after eviction must not recreate (and re-emit) its window
    assert(out.groupBy("hour_epoch", "event_type").count()
      .filter(col("count") > 1).isEmpty)
    // drops are visible: the full-fixture batch aggregate strictly exceeds
    // the stream's counts on at least one straggler-hit window
    val batch = graft.operators.Events.tumbling(spark, TestSpark.sf)
      .withColumnRenamed("n_events", "n_batch")
    val joined = out.join(batch, Seq("hour_epoch", "event_type"))
    assert(joined.filter(col("n_batch") > col("n_events")).count() > 0,
      "some finalized window must be missing its late straggler rows")
    assert(joined.filter(col("n_batch") < col("n_events")).isEmpty)
    out.unpersist()
  }
}
