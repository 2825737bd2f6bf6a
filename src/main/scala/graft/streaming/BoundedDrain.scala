package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}

import graft.sources.v2.MemCatalog.deleteRecursively

/** The one harness that starts, drains, stops, pins and tears down a
  * bounded stream — every oracle-gated streaming run goes through it.
  *
  * A [[BoundedDrain.Scope]] owns up to four resources: the checkpoint dir,
  * the staged-source dir a file-source stream monitors, the parquet sink
  * dir and the memory-sink views. Each is created on first use, and all of
  * them are removed when the scope closes, on the success path AND on the
  * failure path: a drain that throws leaves no running query, directory or
  * temp view behind. Inside a scope, each [[BoundedDrain.Scope.drain]] is
  * one query incarnation — start, drain to quiescence
  * (`processAllAvailable`, or `awaitTermination` under
  * `Trigger.AvailableNow`, which ends the query itself), `stop()` in
  * `finally`. Drains in one scope share the checkpoint and the sink dir, so
  * a restart gate is two drains in one scope; a single-run gate calls
  * [[BoundedDrain.once]].
  *
  * The sink is a closed set ([[BoundedDrain.Sink]]). A memory output is
  * the sink's own rows, resolved while the view exists: it stays readable
  * after the scope drops the view, reading it starts no job, and nothing
  * is persisted. Only a parquet output is PINNED (`localCheckpoint`) into
  * block storage, on first read of [[BoundedDrain.Drained.out]], which
  * must happen inside the scope: the sink dir is deleted when it closes.
  *
  * Exactly two streams in the main tree start outside this harness, and
  * the guard spec names them:
  *  - `Formats.dsv2MvAutorefresh`'s maintenance stream is LONG-LIVED —
  *    started once by a commit hook and drained by every later hook, so no
  *    single scope brackets its life; its `closed`/`teardown` own it;
  *  - `EventStreams.toPartitionedParquet` is a library call that returns
  *    the RUNNING query: its caller owns the lifecycle by contract.
  */
object BoundedDrain {

  /** Where a drained stream's rows go. */
  sealed trait Sink
  object Sink {
    /** Memory table (Complete/Update aggregates, change-feed taps). */
    final case class Memory(mode: OutputMode) extends Sink
    /** Append-mode parquet file sink in the scope's sink dir, read back with
      * the stream's schema: the driver stays out of the data path, and the
      * explicit schema covers a zero-row sink with no footer to infer from.
      */
    case object Parquet extends Sink
    /** Per-micro-batch callback; the callback's effects are the output. */
    final case class ForeachBatch(fn: (Dataset[Row], Long) => Unit) extends Sink
    /** Streaming append into a catalog table; the table is the output. */
    final case class ToTable(table: String) extends Sink
  }

  /** One finished incarnation: its progress reports and, for memory and
    * parquet sinks, its output (`None` for `foreachBatch`/`toTable`).
    */
  final class Drained private[BoundedDrain] (
      val progress: Seq[StreamingQueryProgress], read: () => Option[DataFrame]) {
    lazy val out: Option[DataFrame] = read()
  }

  final class Scope private[BoundedDrain] () {
    private val dirs = ArrayBuffer.empty[Path]
    private val views = ArrayBuffer.empty[(SparkSession, String)]

    private def tempDir(prefix: String): Path = {
      val d = Files.createTempDirectory(prefix)
      dirs += d
      d
    }

    private[graft] lazy val checkpoint: Path = tempDir("graft-ckpt")
    private[graft] lazy val sinkDir: Path = tempDir("graft-sink")
    /** The directory a file-source stream monitors; stage files here. */
    lazy val sourceDir: Path = tempDir("graft-stream-src")

    /** Run one incarnation of `stream` into `sink` over the scope's checkpoint. */
    def drain(stream: DataFrame, sink: Sink,
        trigger: Trigger = Trigger.ProcessingTime(0L)): Drained = {
      val ss = stream.sparkSession
      val w = stream.writeStream
        .option("checkpointLocation", checkpoint.toString)
        .trigger(trigger)
      val (q, read) = sink match {
        case Sink.Memory(mode) =>
          val name = "graft_drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
          views += ss -> name
          val q = w.outputMode(mode).format("memory").queryName(name).start()
          val rows = ss.table(name)
          (q, () => Some(rows))
        case Sink.Parquet =>
          (w.outputMode(OutputMode.Append()).format("parquet")
            .option("path", sinkDir.toString).start(),
            () => Some(ss.read.schema(stream.schema).parquet(sinkDir.toString)
              .localCheckpoint(true)))
        case Sink.ForeachBatch(fn) => (w.foreachBatch(fn).start(), () => None)
        case Sink.ToTable(table) => (w.toTable(table), () => None)
      }
      try {
        if (trigger == Trigger.AvailableNow()) q.awaitTermination()
        else q.processAllAvailable()
      } finally q.stop()
      new Drained(q.recentProgress.toSeq, read)
    }

    private[BoundedDrain] def close(): Unit =
      try views.foreach { case (ss, v) => ss.catalog.dropTempView(v) }
      finally dirs.foreach(deleteRecursively)
  }

  /** Run `body` in a fresh scope and tear the scope down after it. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }

  /** A single-run gate: one incarnation, output read before teardown. */
  def once(stream: DataFrame, sink: Sink): Drained =
    scope { s =>
      val d = s.drain(stream, sink)
      d.out
      d
    }

  /** Write `df` as ONE parquet file `dir/name` with modification time
    * `mtime` (epoch millis). Under `maxFilesPerTrigger=1` a file source
    * admits files oldest-first, so the mtimes ARE the micro-batch schedule.
    */
  def stageFile(dir: Path, df: DataFrame, name: String, mtime: Long): Unit = {
    val tmp = Files.createTempDirectory("graft-stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.iterator().asScala.find { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.get finally listing.close()
      val dest = dir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime.fromMillis(mtime))
    } finally deleteRecursively(tmp)
  }
}
