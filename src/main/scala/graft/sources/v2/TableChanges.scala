package graft.sources.v2

import java.nio.file.Path
import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `table_changes('<catalog.ns.table>', start [, end])` — the SQL
  * TABLE-VALUED-FUNCTION surface over the catalog's change-data feed
  * (Delta Lake's `table_changes` TVF shape): a SQL-only user writes
  *
  * {{{
  * SELECT * FROM table_changes('graftmem.tmp.t', 2, 5)
  * }}}
  *
  * and gets every row-level change committed in versions [start, end]
  * (end defaults to the current head) with `_change_type` and
  * `_commit_version` columns, without touching the DataFrame reader's
  * `option("changefeed", "true")` / `option("startingVersion", ...)`
  * form. Semantics are BY CONSTRUCTION identical to draining the
  * streaming change feed over the same version range: the batch scan
  * plans one window per commit through the SAME [[MemMicroBatchStream]]
  * diff logic the stream uses (a version's delta = manifest(v) minus
  * manifest(v−1) at (file, deletion-vector, equality-delete) granularity,
  * retired files replaying as `delete` rows), merely concatenated into
  * one batch instead of admitted one micro-batch per trigger —
  * `dsv2_table_changes_tvf` gates that equivalence row-for-row. A
  * `start` of 0 replays v0's full content as inserts (the
  * initial-snapshot contract); a vacuumed version in the range fails
  * loudly with the retention hint, exactly like the stream.
  *
  * At 100 TB the TVF is a bounded plan over O(changed files in range) —
  * the scan reads only each commit's delta units, never the table — and
  * each commit's files fan out as ordinary partitions, so a wide window
  * parallelizes like any scan. Governance applies: row policies and
  * column masks filter/tokenize inside the readers, same as every other
  * read surface.
  *
  * Installed on every session by `graft.GraftExtensions`
  * (`injectTableFunction`). The reference has no
  * CDC at all; this is the SQL-entry leg of the lakehouse CDC family
  * (`dsv2_change_feed` / `dsv2_cdf_stream` / `dsv2_cdc_pipeline`).
  */
object TableChanges {

  val FunctionName = "table_changes"

  /** The TVF builder: literal args → a batch DSv2 relation over the
    * bounded change window. Resolution happens at ANALYSIS time against
    * the active session's catalog manager, so the TVF sees exactly the
    * tables `spark.read.table` would.
    */
  def builder(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length >= 2 && exprs.length <= 4,
      s"$FunctionName expects (table_name, start_version[, end_version" +
        s"[, net_changes]]), got ${exprs.length} arguments")
    def lit(e: Expression, what: String): Any = {
      require(e.foldable, s"$FunctionName: $what must be a literal, got $e")
      val v = e.eval()
      require(v != null, s"$FunctionName: $what must not be NULL")
      v
    }
    val name = lit(exprs.head, "table_name") match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$FunctionName: table_name must be a string, got $other")
    }
    def ver(e: Expression, what: String): Int = lit(e, what) match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long =>
        // never narrow silently: table_changes('t', 4294967296) must fail
        // loudly, not truncate to version 0 and replay the whole feed
        require(l.longValue() == l.intValue().toLong,
          s"$FunctionName: $what $l is outside the valid version range")
        l.intValue()
      case other => throw new IllegalArgumentException(
        s"$FunctionName: $what must be an integer version, got $other")
    }
    val start = ver(exprs(1), "start_version")
    require(start >= 0, s"$FunctionName: start_version must be >= 0, got $start")

    val dir = MemCatalog.tableDir(SparkSession.active, name)
    require(java.nio.file.Files.exists(dir.resolve("_schema.json")),
      s"$FunctionName: table '$name' does not exist")
    val head = MemCatalog.currentVersion(dir)
    require(start <= head,
      s"$FunctionName: start_version $start is beyond the current head v$head")
    val end = if (exprs.length >= 3) ver(exprs(2), "end_version") else head
    require(end >= start,
      s"$FunctionName: end_version $end < start_version $start")
    require(end <= head,
      s"$FunctionName: end_version $end is beyond the current head v$head")
    // optional 4th arg: net row changes (Delta-CDC classification —
    // update_preimage/postimage; untouched rows of rewritten file groups
    // cancel inside the diff task) instead of the raw file-level replay
    val net = exprs.length == 4 && (lit(exprs(3), "net_changes") match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$FunctionName: net_changes must be a boolean, got $other")
    })

    val table = new MemChangesTable(name, dir, MemCatalog.readSchema(dir),
      start, end, net)
    DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty())
  }

  val functionDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(FunctionName),
      new ExpressionInfo(TableChanges.getClass.getName, FunctionName),
      builder _)
}

/** The bounded change window as a read-only DSv2 table: schema = the
  * base table's data columns plus `_change_type` and `_commit_version`.
  *
  * STREAMABLE TOO (`MICRO_BATCH_READ`): the same window drains as a
  * bounded stream — `spark.readStream.table('<table>.changes_<s>_<e>')`
  * (the identifier convention [[MemCatalog.loadTable]] resolves to this
  * table, the streaming twin of the `table_changes(...)` TVF) admits
  * `maxVersionsPerTrigger` commits per micro-batch (default 1, the
  * maxFilesPerTrigger analog at the commit granularity every offset
  * here already has) and STOPS at the window's end version, so a drain
  * is multiset-identical to the batch TVF over the same window —
  * `dsv2_tvf_stream` gates that equivalence.
  */
private[v2] class MemChangesTable(ident: String, dir: Path,
    dataSchema: StructType, startV: Int, endV: Int, net: Boolean = false)
    extends Table with SupportsRead {

  override def name(): String = s"table_changes($ident, $startV, $endV)"

  override def schema(): StructType = StructType(dataSchema.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false),
    StructField("_commit_timestamp",
      org.apache.spark.sql.types.TimestampType, nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      import org.apache.spark.sql.sources._
      // `.option("netChanges", "true")` upgrades a window handle
      // (`<t>.changes_<s>_<e>`) to the Delta-CDC net classification,
      // batch AND streaming — the TVF's 4th argument, as a read option
      private val netHere = options.getBoolean("netChanges", net)
      // column pruning reaches the window scan: `SELECT k FROM
      // table_changes(...)` decodes only k per row (the reader serves
      // _change_type/_commit_version from partition state, not bytes)
      private var required: StructType = schema()
      override def pruneColumns(r: StructType): Unit = required = r

      /** VERSION-WINDOW PREDICATE PUSHDOWN: `WHERE _commit_version = X`
        * (or a range / IN, or `_commit_timestamp` bounds) NARROWS the
        * planned window to the commits that can satisfy it — the scan
        * then plans only those commits' deltas instead of replaying the
        * whole [start, end] window and filtering rows after the fact.
        * Over a wide feed this is the difference between O(one commit's
        * delta) and O(every delta since start). Every filter stays
        * RESIDUAL (returned back to Spark), so narrowing only ever has
        * to be conservative-correct: a version is excluded only when NO
        * row it contributes could pass the conjunct. A side benefit of
        * exact version narrowing: a vacuumed commit OUTSIDE the narrowed
        * window no longer fails the query at plan time.
        */
      private var loV = startV
      private var hiV = endV
      private var accepted: Array[Filter] = Array.empty

      /** Filter value → (floor millis, ms-exact?). Manifests stamp whole
        * MILLIS while filter literals carry up to µs/ns precision, so a
        * low-precision bound must stay CONSERVATIVE: the boolean records
        * whether the literal sits exactly on a millisecond — a strict
        * `<` against a sub-ms literal widens to `≤ floor(ms)` (a commit
        * AT that millisecond can still hold satisfying rows), and the
        * µs→ms conversions floor (floorDiv / non-negative nanos), never
        * truncate toward zero, so pre-1970 literals bound correctly.
        */
      private def tsMillis(v: Any): Option[(Long, Boolean)] = v match {
        case t: java.sql.Timestamp =>
          Some((t.getTime, t.getNanos % 1000000 == 0))
        case i: java.time.Instant =>
          Some((i.toEpochMilli, i.getNano % 1000000 == 0))
        case l: java.lang.Long => // µs literal
          Some((java.lang.Math.floorDiv(l.longValue(), 1000L),
            java.lang.Math.floorMod(l.longValue(), 1000L) == 0L))
        case _ => None
      }
      private def verOf(v: Any): Option[Long] = v match {
        case l: java.lang.Long => Some(l.longValue())
        case i: java.lang.Integer => Some(i.longValue())
        case _ => None
      }

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val byVersion = filters.flatMap {
          case EqualTo("_commit_version", v) => verOf(v).map(x => (x, x))
          case GreaterThan("_commit_version", v) => verOf(v).map(x => (x + 1, Long.MaxValue))
          case GreaterThanOrEqual("_commit_version", v) => verOf(v).map(x => (x, Long.MaxValue))
          case LessThan("_commit_version", v) => verOf(v).map(x => (Long.MinValue, x - 1))
          case LessThanOrEqual("_commit_version", v) => verOf(v).map(x => (Long.MinValue, x))
          case In("_commit_version", vs) if vs.nonEmpty =>
            val xs = vs.flatMap(verOf)
            if (xs.length == vs.length) Some((xs.min, xs.max)) else None
          case _ => None
        }
        byVersion.foreach { case (l, h) =>
          loV = math.max(loV, math.max(l, Int.MinValue.toLong).toInt)
          hiV = math.min(hiV, math.min(h, Int.MaxValue.toLong).toInt)
        }
        // timestamp bounds narrow through the per-commit manifest times,
        // IF they are non-decreasing across the (already version-
        // narrowed) window — commit times are wall-clock stamps, so the
        // monotonicity is verified, never assumed; a missing (vacuumed)
        // manifest or a regression disables ts narrowing, keeping the
        // narrowing conservative while version equality still works
        val tsBounds = filters.flatMap {
          case GreaterThan("_commit_timestamp", v) => tsMillis(v).map(m => ('>', m))
          case GreaterThanOrEqual("_commit_timestamp", v) => tsMillis(v).map(m => ('≥', m))
          case LessThan("_commit_timestamp", v) => tsMillis(v).map(m => ('<', m))
          case LessThanOrEqual("_commit_timestamp", v) => tsMillis(v).map(m => ('≤', m))
          case EqualTo("_commit_timestamp", v) => tsMillis(v).map(m => ('=', m))
          case _ => None
        }
        if (tsBounds.nonEmpty && loV <= hiV) {
          // VACUUM-TOLERANT: read each version's commit ts individually —
          // a vacuumed manifest inside the window reads as unknown
          // instead of disabling narrowing outright. An unknown ts is
          // BOUNDED by its surviving neighbors: the catalog's monotone
          // commit clock (publishManifestAt stamps max(now, prev)) makes
          // ts(v) ∈ [ts(prev survivor), ts(next survivor)], so a
          // vacuumed version is excluded only when a neighbor PROVES no
          // row of it can satisfy — e.g. a vacuumed-prefix v0 prunes
          // under `_commit_timestamp ≥ T` once ts(v1) < T. The verified
          // non-decrease over the survivors stays the gate: a regression
          // (pre-invariant manifests) disables narrowing entirely.
          val read: Seq[(Int, Option[Long])] = (loV to hiV).map(v =>
            v -> scala.util.Try(MemCatalog.readManifestFull(dir, v).ts).toOption)
          val avail = read.collect { case (v, Some(t)) => (v, t) }
          val monotone = avail.nonEmpty &&
            avail.sliding(2).forall(w => w.length < 2 || w(0)._2 <= w(1)._2)
          if (monotone) {
            def lowerB(v: Int): Option[Long] = avail.filter(_._1 <= v).lastOption.map(_._2)
            def upperB(v: Int): Option[Long] = avail.find(_._1 >= v).map(_._2)
            tsBounds.foreach { case (op, (m, exact)) =>
              val keep = read.filter {
                case (_, Some(t)) => op match {
                  case '>' => t > m
                  case '≥' => t >= m
                  case '<' => if (exact) t < m else t <= m
                  case '≤' => t <= m
                  case '=' => t == m
                }
                case (v, None) => // keep unless a neighbor bound excludes it
                  val lo = lowerB(v)
                  val hi = upperB(v)
                  op match {
                    case '>' => !hi.exists(_ <= m)
                    case '≥' => !hi.exists(_ < m)
                    case '<' => if (exact) !lo.exists(_ >= m) else !lo.exists(_ > m)
                    case '≤' => !lo.exists(_ > m)
                    case '=' => !hi.exists(_ < m) && !lo.exists(_ > m)
                  }
              }
              if (keep.isEmpty) { loV = 1; hiV = 0 } // provably empty window
              else {
                loV = math.max(loV, keep.head._1)
                hiV = math.min(hiV, keep.last._1)
              }
            }
          }
        }
        accepted = filters.filter {
          case f: Filter => f.references.exists(c =>
            c == "_commit_version" || c == "_commit_timestamp")
        }
        filters // ALL residual: narrowing prunes commits, Spark keeps rows exact
      }
      override def pushedFilters(): Array[Filter] = accepted

      override def build(): Scan =
        new MemChangesScan(dir, dataSchema, required, loV, hiV, netHere,
          perTrigger = math.max(1, options.getInt("maxVersionsPerTrigger", 1)))
    }
}

/** One batch over [startV, endV]: per commit, the SAME delta planning the
  * streaming change feed uses ([[MemMicroBatchStream.planInputPartitions]]
  * with a one-version window), partitions stamped with their commit for
  * `_commit_version`.
  */
private[v2] class MemChangesScan(dir: Path, dataSchema: StructType,
    outSchema: StructType, startV: Int, endV: Int,
    net: Boolean = false, perTrigger: Int = 1) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val wanted: Array[String] = outSchema.fieldNames

  /** Planner statistics = the window's delta bytes (each commit's
    * added+removed files), NOT the table's: a change window is usually
    * tiny next to its table, and without stats a DSv2 relation defaults
    * to Long.MaxValue size — a `MERGE INTO mv USING table_changes(...)`
    * would never broadcast the changes and every SQL-incremental
    * maintenance join would degrade to a shuffle.
    */
  /** Memoized once per scan instance: the optimizer calls
    * estimateStatistics repeatedly and execution calls
    * planInputPartitions again — without the memo each call re-reads
    * every manifest in the window plus a Files.size stat per delta
    * file, redundant I/O that grows with the window width.
    */
  private lazy val windowDeltaBytes: Long =
    planInputPartitions().map {
      case f: MemFilePartition =>
        val p = java.nio.file.Paths.get(f.path)
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
      case d: MemDiffPartition =>
        (d.removed ++ d.added).map { case (path, _, _) =>
          val p = java.nio.file.Paths.get(path)
          if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
        }.sum
      case _ => 0L
    }.sum

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, windowDeltaBytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty() // delta row counts need the DV math; size suffices
    }

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_table_changes $dir versions=[$startV, $endV]" +
      (if (net) " net" else "") + s" cols=${wanted.mkString(",")}"

  /** One commit's STAMPED delta partitions — the per-version planning
    * unit shared by the batch window scan and the bounded micro-batch
    * stream (so the streaming twin is equivalence-by-construction).
    */
  private def planVersion(stream: MemMicroBatchStream, w: Int): Seq[InputPartition] = {
    // plan FIRST: the stream's manifest read fails vacuumed versions
    // with the retention hint; only then is the ts read safe
    val planned = stream.planInputPartitions(
      MemVersionOffset(w - 1), MemVersionOffset(w)).toSeq
    lazy val ts = MemCatalog.readManifestFull(dir, w).ts
    planned.map {
      case f: MemFilePartition =>
        f.copy(commitVersion = w.toLong, commitTs = ts)
      case d: MemDiffPartition =>
        d.copy(commitVersion = w.toLong, commitTs = ts)
      case other => other
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val stream = new MemMicroBatchStream(dir, dataSchema, wanted,
      changeFeed = true, netChanges = net)
    (startV to endV).flatMap(planVersion(stream, _)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val props = MemCatalog.readProps(dir)
    new MemReaderFactory(dataSchema, wanted,
      MemCatalog.policyOf(props, dataSchema), MemCatalog.maskIdxOf(props, dataSchema))
  }

  /** The window as a BOUNDED STREAM: offsets are commit versions (the
    * same [[MemVersionOffset]] currency as the base table's feed),
    * admission is `maxVersionsPerTrigger` commits per micro-batch, and
    * `latestOffset` never advances past the window's end — the stream
    * drains [startV, endV] and goes idle, so `processAllAvailable` is a
    * complete, restart-safe replay of exactly the batch TVF's rows.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new org.apache.spark.sql.connector.read.streaming.MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
      import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
      private val inner = new MemMicroBatchStream(dir, dataSchema, wanted,
        changeFeed = true, netChanges = net)

      override def initialOffset(): Offset = MemVersionOffset(startV - 1)
      override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val base = Option(start).map(_.asInstanceOf[MemVersionOffset].v)
          .getOrElse(startV - 1)
        val head = math.min(endV, MemCatalog.currentVersion(dir))
        MemVersionOffset(math.max(base, math.min(head, base + perTrigger)))
      }
      override def latestOffset(): Offset =
        MemVersionOffset(math.min(endV, MemCatalog.currentVersion(dir)))
      override def deserializeOffset(json: String): Offset =
        MemVersionOffset(json.toInt)
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val sv = start.asInstanceOf[MemVersionOffset].v
        val ev = end.asInstanceOf[MemVersionOffset].v
        (sv + 1 to ev).flatMap(planVersion(inner, _)).toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        MemChangesScan.this.createReaderFactory()
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
}
