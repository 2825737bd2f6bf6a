package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** CUSTOM DataSource V2 WRITE connector — the commit-protocol half of the
  * connector SPI ([[SeqSource]] covers the read half): a checksummed
  * JSON-lines sink whose defining feature is the V2 two-phase commit.
  *
  * Each task writes its rows to a STAGED part file and returns a
  * [[WriterCommitMessage]] carrying (rows, sum-checksum, staged path);
  * only the DRIVER's `commit()` moves staged files into place and writes
  * the `_audit.json` manifest with the aggregated totals — a task that
  * fails or is speculatively re-run aborts and deletes its staging file,
  * so readers never observe a torn write. This is exactly the contract
  * `_spark_metadata` gives the built-in file sink, implemented through
  * the public SPI. The checksum is a SUM of per-row md5-derived 32-bit
  * values accumulated in 64 bits — commutative, so it is independent of
  * row order and partition count (layout-invariant by construction) and
  * re-computable in SQL by the DuckDB oracle. Sum, not XOR: an XOR
  * cancels any even number of identical (k, tag) rows to zero, so
  * duplicate-row corruption with a compensating row count would pass;
  * the multiset sum catches it. 32-bit row values keep the 64-bit
  * accumulator overflow-free below 2^32 rows per sink directory (a
  * single table's audit scope); beyond that, widen to a decimal column.
  *
  * Scale posture: tasks write independently (no coordination until the
  * single driver-side commit), the commit message is O(1) per task, and
  * the manifest write is atomic (temp file + move).
  *
  * Fixed schema `(k BIGINT, tag STRING)` keeps the row-serialization
  * parity trivial: `k|tag` is the hashed text on both engines.
  */
class AuditSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = AuditSink.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AuditTable(properties.get("path"))
}

object AuditSink {
  val Schema: StructType = new StructType()
    .add("k", LongType, nullable = false)
    .add("tag", StringType, nullable = false)

  /** 32-bit value from the first 8 hex chars of md5("k|tag") — the same
    * expression DuckDB spells ('0x' || substr(md5(...), 1, 8))::BIGINT.
    */
  def rowHash(k: Long, tag: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k|$tag".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Minimal JSON string escaping (backslash, quote, control chars) so an
    * arbitrary tag survives the JSONL round-trip — interpolating raw would
    * corrupt the line on the first embedded quote or newline.
    */
  def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

private[v2] class AuditTable(path: String) extends Table with SupportsWrite {
  override def name(): String = s"graft_audit_sink($path)"
  override def schema(): StructType = AuditSink.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new AuditBatchWrite(path, doTruncate)
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new AuditStreamingWrite(path, info.queryId(),
            Option(info.options.get("failOnCommitOfEpoch")).map(_.toLong))
      }
    }
}

private[v2] case class AuditCommit(rows: Long, checksum: Long, staged: String)
  extends WriterCommitMessage

private[v2] class AuditBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AuditWriterFactory(path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    if (truncate && Files.exists(dir)) {
      // truncate must NOT touch _staging: this batch's not-yet-published
      // part files live there until the moves below
      val staging = dir.resolve("_staging")
      val walk = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .filter(p => p != dir && p != staging && !p.startsWith(staging))
          .foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }
    Files.createDirectories(dir)
    val commits = messages.map(_.asInstanceOf[AuditCommit])
    // staged part files become visible only now, on the driver
    commits.filter(_.rows > 0).foreach { c =>
      val src = Paths.get(c.staged)
      Files.move(src, dir.resolve(src.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    val totalRows = commits.map(_.rows).sum
    val checksum = commits.map(_.checksum).sum
    val tmp = Files.createTempFile(dir, "_audit", ".tmp")
    Files.write(tmp,
      s"""{"n_rows": $totalRows, "checksum": $checksum}""".getBytes(StandardCharsets.UTF_8))
    // no underscore prefix: Spark must be able to read the manifest back
    // (underscore-prefixed files are hidden from file listings); the DATA
    // read excludes it with pathGlobFilter=part-* instead
    Files.move(tmp, dir.resolve("audit.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case AuditCommit(_, _, staged) if staged.nonEmpty =>
      Files.deleteIfExists(Paths.get(staged))
    }
}

/** STREAMING half of the sink — the EXACTLY-ONCE epoch commit protocol.
  *
  * The engine's recovery contract leaves one unavoidable crash window: a
  * micro-batch's offsets are logged BEFORE execution, the sink's
  * `commit(epochId, ...)` runs, and only THEN does the engine append the
  * checkpoint's commit-log entry. A crash between the last two steps
  * makes the engine RE-EXECUTE the epoch on restart and call the sink's
  * commit again — so a sink that is not idempotent BY EPOCH ID lands the
  * batch twice (the Delta txn-version lesson; [[MemStreamingWrite]]
  * carries the same watermark inside its manifest). Here idempotence is
  * layered twice:
  *
  *  1. Published part names are DETERMINISTIC per (query, epoch,
  *     partition) — `part-<qid>-e<epoch>-p<pid>.jsonl` — so a replay
  *     that re-moves files OVERWRITES bytes with identical bytes (the
  *     replayed batch is the logged offset range) instead of adding
  *     duplicates, even if the crash hit mid-publish.
  *  2. A `txns.tsv` ledger (one `query  epoch  rows  checksum` line per
  *     committed epoch, atomic rewrite) is the watermark: a replayed
  *     epoch already in the ledger publishes NOTHING, and `audit.json`
  *     totals are REGENERATED from the ledger on every commit — so a
  *     crash between ledger and totals self-heals on the next commit.
  *
  * `failOnCommitOfEpoch` (write option) throws AFTER the durable publish
  * of the named epoch — the spec's deterministic stand-in for a driver
  * crash inside exactly that window (FaultToleranceSpec streaming twin).
  */
private[v2] class AuditStreamingWrite(path: String, queryId: String,
    failOnCommitOfEpoch: Option[Long])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    AuditStreamingWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    AuditStreamingWrite.commitEpoch(path, queryId, epochId,
      messages.toSeq.collect { case m: AuditEpochCommit => m })
    if (failOnCommitOfEpoch.contains(epochId))
      throw new RuntimeException(
        s"graft injected crash after the sink published epoch $epochId " +
          "but before the engine's checkpoint commit log recorded it")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case AuditEpochCommit(_, _, staged, _) if staged.nonEmpty =>
      Files.deleteIfExists(Paths.get(staged))
    }
}

private[v2] object AuditStreamingWrite {
  private def ledgerPath(dir: Path): Path = dir.resolve("txns.tsv")

  /** (query, epoch) → (rows, checksum) lines of the commit ledger. */
  def readLedger(dir: Path): Seq[(String, Long, Long, Long)] = {
    val p = ledgerPath(dir)
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n")
      .filter(_.nonEmpty).toSeq.map { line =>
        val Array(q, e, r, c) = line.split("\t")
        (q, e.toLong, r.toLong, c.toLong)
      }
  }

  def commitEpoch(path: String, queryId: String, epochId: Long,
      commits: Seq[AuditEpochCommit]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val ledger = readLedger(dir)
    val replayed = ledger.exists(l => l._1 == queryId && l._2 == epochId)
    if (replayed) {
      // exactly-once: the epoch is already durable — a recovering driver
      // re-committing it publishes nothing (staged copies are dropped)
      commits.filter(_.staged.nonEmpty)
        .foreach(c => Files.deleteIfExists(Paths.get(c.staged)))
    } else {
      commits.filter(_.rows > 0).foreach { c =>
        Files.move(Paths.get(c.staged),
          dir.resolve(s"part-$queryId-e$epochId-p${c.partitionId}.jsonl"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val next = ledger :+
        ((queryId, epochId, commits.map(_.rows).sum, commits.map(_.checksum).sum))
      val tmp = Files.createTempFile(dir, "_txns", ".tmp")
      Files.write(tmp, next.map { case (q, e, r, c) => s"$q\t$e\t$r\t$c" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, ledgerPath(dir),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    // totals regenerate from the ledger even on a replay no-op, healing a
    // crash that landed between the ledger move and this write
    val all = readLedger(dir)
    val tmp = Files.createTempFile(dir, "_audit", ".tmp")
    Files.write(tmp,
      s"""{"n_rows": ${all.map(_._3).sum}, "checksum": ${all.map(_._4).sum}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("audit.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

private[v2] case class AuditEpochCommit(rows: Long, checksum: Long,
    staged: String, partitionId: Int) extends WriterCommitMessage

private[v2] case class AuditStreamingWriterFactory(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var checksum = 0L
      private lazy val staged: Path = {
        Files.createDirectories(Paths.get(path, "_staging"))
        Files.createTempFile(Paths.get(path, "_staging"),
          s"epoch-$epochId-$partitionId-$taskId-", ".jsonl")
      }
      private lazy val out =
        Files.newBufferedWriter(staged, StandardCharsets.UTF_8)

      override def write(record: InternalRow): Unit = {
        val k = record.getLong(0)
        val tag = record.getUTF8String(1).toString
        out.write(s"""{"k": $k, "tag": "${AuditSink.jsonEscape(tag)}"}""")
        out.newLine()
        rows += 1
        checksum += AuditSink.rowHash(k, tag)
      }

      override def commit(): WriterCommitMessage = {
        if (rows > 0) out.close()
        AuditEpochCommit(rows, checksum,
          if (rows > 0) staged.toString else "", partitionId)
      }

      override def abort(): Unit = {
        if (rows > 0) { out.close(); Files.deleteIfExists(staged) }
      }

      override def close(): Unit = ()
    }
}

private[v2] class AuditWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var checksum = 0L
      private lazy val staged: Path = {
        Files.createDirectories(Paths.get(path, "_staging"))
        Files.createTempFile(Paths.get(path, "_staging"),
          s"part-$partitionId-$taskId-", ".jsonl")
      }
      private lazy val out =
        Files.newBufferedWriter(staged, StandardCharsets.UTF_8)

      override def write(record: InternalRow): Unit = {
        val k = record.getLong(0)
        val tag = record.getUTF8String(1).toString
        out.write(s"""{"k": $k, "tag": "${AuditSink.jsonEscape(tag)}"}""")
        out.newLine()
        rows += 1
        checksum += AuditSink.rowHash(k, tag)
      }

      override def commit(): WriterCommitMessage = {
        if (rows > 0) out.close()
        AuditCommit(rows, checksum, if (rows > 0) staged.toString else "")
      }

      override def abort(): Unit = {
        if (rows > 0) { out.close(); Files.deleteIfExists(staged) }
      }

      override def close(): Unit = ()
    }
}
