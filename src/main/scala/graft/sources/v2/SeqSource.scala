package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownRequiredColumns, SupportsPushDownTableSample, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sparkutil.ScanMetrics

/** CUSTOM DataSource V2 CONNECTOR — the extension-API axis the rest of the
  * repo doesn't otherwise exercise (scalar kernels, a Generator, a typed
  * Aggregator, a whole physical operator, an optimizer rule, and now a
  * CONNECTOR): a deterministic synthetic sequence table
  * `spark.read.format("graft.sources.v2.SeqSource").option("n", N)
  * .option("parts", P)`, schema `(id BIGINT, val BIGINT, bucket BIGINT)`
  * with `val = (id * 2654435761) % 1000003` (Knuth multiplicative hash —
  * reproducible on any engine) and `bucket = id % 32`.
  *
  * The scale-relevant parts are REAL, not stubs:
  *  - **Filter pushdown** (`SupportsPushDownFilters`): range/equality
  *    predicates on `id` narrow the generated [lo, hi) interval BEFORE any
  *    row materializes — the connector analog of parquet row-group
  *    pruning. Pushed filters are echoed in `Scan.description()` so plans
  *    (and PlanShapeSpec) show `pushed=[...]` exactly like parquet's
  *    `PushedFilters`. Non-id filters are left for Spark to evaluate
  *    (returned from `pushFilters`, i.e. post-scan residuals).
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): readers emit
  *    only the pruned schema; at 100 TB a connector that materializes all
  *    columns for a 2-column projection is wrong — same rule as parquet
  *    `ReadSchema`.
  *  - **Partition planning**: the [lo, hi) interval splits into `parts`
  *    contiguous `InputPartition`s — the unit of parallelism and locality
  *    a real connector must expose (here: P generator tasks, no shuffle).
  *
  * Reference tie-in: the reference's only source is a hand-rolled HDFS
  * text reader (`greeter_client.cc:298-314`); this is the Spark-idiomatic
  * answer to "add a new source": implement the connector SPI and every
  * operator in the engine composes with it unchanged.
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SeqSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SeqTable(
      Option(properties.get("n")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("parts")).map(_.toInt).getOrElse(4),
      Option(properties.get("align")).contains("bucket"))
}

object SeqSource {
  val Schema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("val", LongType, nullable = false)
    .add("bucket", LongType, nullable = false)

  val HashMul = 2654435761L
  val HashMod = 1000003L

  def valueOf(id: Long): Long = (id * HashMul) % HashMod

  /** Sample-membership uniform in [0, 1): an INDEPENDENT multiplicative
    * hash (Fibonacci constant), so sampling never correlates with `val`.
    */
  def sampleU(id: Long): Double = ((id * 2246822519L) % HashMod).toDouble / HashMod
}

private[v2] class SeqTable(n: Long, parts: Int, alignBucket: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"graft_seq(n=$n, parts=$parts)"
  override def schema(): StructType = SeqSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(n, parts, alignBucket)
}

private[v2] class SeqScanBuilder(n: Long, parts: Int, alignBucket: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset with SupportsPushDownTableSample {

  private var lo = 0L // inclusive
  private var hi = n  // exclusive
  private var pushed = Array.empty[Filter]
  private var required: StructType = SeqSource.Schema
  private var aggOps: Option[SeqAggSpec] = None
  private var sample: Option[(Double, Double)] = None

  /** Accept only id-range predicates; everything else stays post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThan("id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThanOrEqual("id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThan("id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThanOrEqual("id", _: java.lang.Long | _: java.lang.Integer) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("id", v: Number) =>
        lo = math.max(lo, v.longValue()); hi = math.min(hi, v.longValue() + 1)
      case GreaterThan("id", v: Number) => lo = math.max(lo, v.longValue() + 1)
      case GreaterThanOrEqual("id", v: Number) => lo = math.max(lo, v.longValue())
      case LessThan("id", v: Number) => hi = math.min(hi, v.longValue())
      case LessThanOrEqual("id", v: Number) => hi = math.min(hi, v.longValue() + 1)
      case _ =>
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL aggregate pushdown (`SupportsPushDownAggregates`) — the
    * scan-side pre-aggregation lever: with the aggregation pushed, rows
    * never cross the source boundary at all. Each `InputPartition` folds
    * its id range into per-group partials (count/sum/min/max, grouped by
    * `bucket` or global) and emits ONE row per group; Spark plans the
    * final merge aggregate over those partials. At 100 TB this is the
    * difference between shipping N rows into a shuffle and shipping
    * `parts × groups` pre-reduced rows — the same contract parquet
    * footer-stats aggregate pushdown and ClickHouse pre-aggregation use.
    * `supportCompletePushDown` stays false: with >1 partition the source
    * can only produce partials, and Spark's final agg merges them.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // a pushed sample changes row membership; the agg scan folds the raw
    // range, so the combination must fall back to the row path
    if (sample.isDefined) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val groupCols = aggregation.groupByExpressions().toSeq.map(colOf)
    val groupOk = groupCols.isEmpty || groupCols == Seq(Some("bucket"))
    val ops: Seq[Option[SeqAggOp]] = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(SeqAggOp("count", "id"))
      case m: Min => colOf(m.column).filter(SeqSource.Schema.fieldNames.contains).map(SeqAggOp("min", _))
      case m: Max => colOf(m.column).filter(SeqSource.Schema.fieldNames.contains).map(SeqAggOp("max", _))
      case s: Sum if !s.isDistinct =>
        colOf(s.column).filter(SeqSource.Schema.fieldNames.contains).map(SeqAggOp("sum", _))
      case _: AggregateFunc => None
    }
    if (groupOk && ops.nonEmpty && ops.forall(_.isDefined)) {
      aggOps = Some(SeqAggSpec(groupCols.nonEmpty, ops.flatten))
      true
    } else false
  }

  /** LIMIT / TopN pushdown: a `LIMIT k` (or `ORDER BY id ASC LIMIT k`)
    * narrows generation to the first k ids of the (already
    * filter-narrowed) range — at 100 TB, `LIMIT 10` on a petabyte table
    * must cost ten rows, not a scan. Both report PARTIALLY pushed:
    * Spark keeps its own Limit/TakeOrdered on top (correct across
    * partitions by construction; the win is the scan volume). TopN is
    * accepted only for the order the generator actually produces
    * (`id ASC`) — any other sort bails to the row scan.
    */
  override def pushLimit(limit: Int): Boolean = {
    // Spark pushes TABLESAMPLE before LIMIT/OFFSET and removes the Sample
    // node once accepted; narrowing the RAW id range after that would
    // sample the first k ids (≈ fraction·k rows) instead of limiting the
    // sampled stream — same membership-vs-position hazard pushAggregation
    // guards against, so the combination bails to Spark's own operator.
    if (sample.isDefined) return false
    hi = math.min(hi, lo + limit)
    true
  }

  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (sample.isDefined) return false
    val idAsc = orders.length == 1 && (orders.head.expression() match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("id") &&
        orders.head.direction() == SortDirection.ASCENDING
      case _ => false
    })
    if (idAsc) { hi = math.min(hi, lo + limit); true } else false
  }

  override def isPartiallyPushed(): Boolean = true

  /** OFFSET pushdown: drop the first `offset` ids of the narrowed range —
    * with LIMIT this is source-side keyset-free pagination. Returning
    * true means FULLY handled (Spark removes its own Offset), which is
    * correct here because generation order is the id order.
    */
  override def pushOffset(offset: Int): Boolean = {
    if (sample.isDefined) return false
    lo = math.min(hi, lo + offset)
    true
  }

  /** TABLESAMPLE pushdown: the source applies its own deterministic
    * membership rule (a second multiplicative hash of the id, independent
    * of the `val` formula) at the declared fraction — rows outside the
    * sample are never materialized. The rule ignores the seed by design:
    * a connector's contract is "a sample at this fraction", and the
    * deterministic rule is what lets the oracle replay it exactly.
    * With-replacement sampling bails to Spark.
    */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean =
    if (withReplacement) false
    else { sample = Some((lowerBound, upperBound)); true }

  override def build(): Scan = aggOps match {
    case Some(spec) => new SeqAggScan(lo, math.max(lo, hi), parts, spec, pushed)
    case None => new SeqScan(lo, math.max(lo, hi), parts, required, pushed, alignBucket, sample)
  }
}

private[v2] class SeqScan(lo: Long, hi: Long, parts: Int,
    required: StructType, pushed: Array[Filter], alignBucket: Boolean = false,
    sample: Option[(Double, Double)] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering {

  /** Buckets kept by a runtime filter (None = no filter arrived). */
  private var keptBuckets: Option[Set[Long]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_seq range=[$lo,$hi) pushed=[${pushed.mkString(", ")}] " +
      s"cols=${required.fieldNames.mkString(",")}" +
      (if (alignBucket) " align=bucket" else "") +
      sample.fold("") { case (l, u) => s" sample=[$l,$u)" }

  /** RUNTIME partition pruning (`SupportsRuntimeV2Filtering`) — the DSv2
    * analog of dynamic partition pruning for a connector that owns its
    * own layout: with `align=bucket` each `InputPartition` holds exactly
    * one bucket residue class, so when Spark evaluates the broadcast side
    * of a bucket-keyed join it hands the surviving key set to `filter()`
    * and whole partitions (files/shards, in a real connector) are dropped
    * BEFORE any task launches. At 100 TB this is the difference between
    * scanning every shard and scanning the 4 the dimension filter names.
    * Only the aligned layout advertises the attribute — contiguous
    * partitions contain every bucket, so pruning could never drop one.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (alignBucket) Array(Expressions.column("bucket")) else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    def litLong(e: org.apache.spark.sql.connector.expressions.Expression): Option[Long] = e match {
      case l: V2Literal[_] => l.value match { case n: java.lang.Number => Some(n.longValue); case _ => None }
      case _ => None
    }
    def isBucketRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("bucket")
      case _ => false
    }
    predicates.foreach { p =>
      val kids = p.children()
      val vals: Option[Set[Long]] = p.name() match {
        case "IN" if kids.nonEmpty && isBucketRef(kids.head) =>
          val lits = kids.tail.map(litLong)
          if (lits.forall(_.isDefined)) Some(lits.flatten.toSet) else None
        case "=" if kids.length == 2 && isBucketRef(kids.head) => litLong(kids(1)).map(Set(_))
        case "=" if kids.length == 2 && isBucketRef(kids(1)) => litLong(kids.head).map(Set(_))
        case _ => None
      }
      vals.foreach(v => keptBuckets = Some(keptBuckets.fold(v)(_ intersect v)))
    }
  }

  /** Size/row estimates (`SupportsReportStatistics`): 3 longs + row
    * overhead per virtual row. Real numbers here are what lets the
    * optimizer judge broadcast-ability and dynamic-pruning benefit for a
    * connector Spark otherwise knows nothing about.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val frac = sample.fold(1.0) { case (l, u) => math.max(0.0, u - l) }
    private val rows = (math.max(0L, hi - lo) * frac).toLong
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(rows * 24L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  /** STORAGE-PARTITIONED JOIN contract (`SupportsReportPartitioning`):
    * the aligned layout reports `KeyGroupedPartitioning(identity(bucket))`
    * and each partition exposes its key (`HasPartitionKey`), so a join of
    * two aligned tables whose keys include `bucket` plans with NO
    * exchange on either side — Spark zips the co-located partitions
    * directly (the Iceberg bucketed-join shape). At 100 TB this deletes
    * both full-table shuffles from the join; the contiguous layout
    * reports UnknownPartitioning and shuffles normally.
    */
  override def outputPartitioning(): Partitioning =
    if (alignBucket)
      new KeyGroupedPartitioning(Array(Expressions.identity("bucket")), bucketPartitions.length)
    else new UnknownPartitioning(planInputPartitions().length)

  /** SORTED-SOURCE contract (`SupportsReportOrdering`): the generator emits
    * ids ascending inside every partition — contiguous splits trivially,
    * aligned bucket splits because the stride walks one residue class
    * upward (so `bucket` is CONSTANT per partition and `(bucket, id)` is
    * a valid per-partition ordering too). Reporting it lets
    * `EnsureRequirements` drop the local Sorts a sort-merge join would
    * otherwise insert: combined with `KeyGroupedPartitioning`, the
    * storage-partitioned join plans with zero exchanges AND zero sorts —
    * the Iceberg sorted-bucketed-table shape, where a 100 TB fact-fact
    * join does no shuffle and no per-task sort, just a streaming merge of
    * pre-sorted shards. The sample filter only deletes rows, so ordering
    * survives it; orderings are reported only over columns that survived
    * pruning (the SortOrder must resolve against `readSchema`).
    */
  override def outputOrdering(): Array[SortOrder] = {
    val cols = required.fieldNames.toSet
    val asc = (c: String) => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
    if (alignBucket && cols("bucket") && cols("id")) Array(asc("bucket"), asc("id"))
    else if (cols("id")) Array(asc("id"))
    else Array.empty
  }

  private def bucketPartitions: Array[InputPartition] =
    (0L until 32L).iterator
      .filter(b => keptBuckets.forall(_.contains(b)))
      .map { b =>
        val first = lo + (((b - lo) % 32 + 32) % 32)
        (b, first)
      }
      .filter { case (_, first) => first < hi }
      .map { case (b, first) => SeqBucketPartition(b, first, hi, 32L): InputPartition }
      .toArray

  override def planInputPartitions(): Array[InputPartition] = {
    if (alignBucket) bucketPartitions
    else {
      val total = hi - lo
      val per = math.max(1L, (total + parts - 1) / parts)
      (0 until parts).iterator
        .map(i => (lo + i * per, math.min(hi, lo + (i + 1) * per)))
        .filter { case (s, e) => s < e }
        .map { case (s, e) => SeqPartition(s, e): InputPartition }
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required.fieldNames, sample)

  /** Runtime pruning happens at execution start (inside
    * `BatchScanExec.filteredPartitions`), so a plan string can't prove it
    * fired: the scan reports (kept, 32) bucket partitions as its
    * [[ScanMetrics]], read after that filtering. The contiguous layout
    * prunes nothing.
    */
  override def supportedCustomMetrics(): Array[CustomMetric] = ScanMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val kept = planInputPartitions().length
    ScanMetrics.report(kept, if (alignBucket) 32 else kept)
  }
}

/** One accepted pushed aggregate: op ∈ {count, sum, min, max} over a source column. */
private[v2] case class SeqAggOp(op: String, col: String)
private[v2] case class SeqAggSpec(groupByBucket: Boolean, ops: Seq[SeqAggOp])

/** Scan produced when an aggregation was pushed: output schema is the
  * grouping columns followed by one partial-aggregate column per pushed
  * function (the `RelationV2[key, agg(value)]` contract from the
  * `SupportsPushDownAggregates` javadoc — Spark re-groups and merges the
  * partials). Partition planning is identical to the row scan; only the
  * reader changes: it folds the id range instead of emitting it.
  */
private[v2] class SeqAggScan(lo: Long, hi: Long, parts: Int,
    spec: SeqAggSpec, pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = {
    val base = if (spec.groupByBucket) new StructType().add("bucket", LongType, nullable = false)
               else new StructType()
    spec.ops.zipWithIndex.foldLeft(base) { case (st, (o, i)) =>
      st.add(s"${o.op}_${o.col}_$i", LongType, nullable = false)
    }
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val g = if (spec.groupByBucket) "bucket" else ""
    s"graft_seq range=[$lo,$hi) pushed=[${pushed.mkString(", ")}] " +
      s"aggPushed=[${spec.ops.map(o => s"${o.op}(${o.col})").mkString(", ")}] groupBy=[$g]"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val total = hi - lo
    val per = math.max(1L, (total + parts - 1) / parts)
    (0 until parts).iterator
      .map(i => (lo + i * per, math.min(hi, lo + (i + 1) * per)))
      .filter { case (s, e) => s < e }
      .map { case (s, e) => SeqPartition(s, e): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new SeqAggReaderFactory(spec)
}

private[v2] class SeqAggReaderFactory(spec: SeqAggSpec) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SeqPartition]
    val nGroups = if (spec.groupByBucket) 32 else 1
    val nOps = spec.ops.length
    // per-group accumulators: count, sum, min, max per op
    val count = Array.ofDim[Long](nGroups, nOps)
    val sum = Array.ofDim[Long](nGroups, nOps)
    val mn = Array.fill(nGroups, nOps)(Long.MaxValue)
    val mx = Array.fill(nGroups, nOps)(Long.MinValue)
    val seen = new Array[Boolean](nGroups)
    var id = p.start
    while (id < p.end) {
      val g = if (spec.groupByBucket) (id % 32).toInt else 0
      seen(g) = true
      var i = 0
      while (i < nOps) {
        val o = spec.ops(i)
        val v = o.col match {
          case "id" => id
          case "val" => SeqSource.valueOf(id)
          case "bucket" => id % 32
        }
        count(g)(i) += 1
        sum(g)(i) += v
        if (v < mn(g)(i)) mn(g)(i) = v
        if (v > mx(g)(i)) mx(g)(i) = v
        i += 1
      }
      id += 1
    }
    val rows = (0 until nGroups).iterator.filter(seen).map { g =>
      val aggs = spec.ops.zipWithIndex.map { case (o, i) =>
        o.op match {
          case "count" => count(g)(i)
          case "sum" => sum(g)(i)
          case "min" => mn(g)(i)
          case "max" => mx(g)(i)
        }
      }
      val vals: Seq[Any] = if (spec.groupByBucket) g.toLong +: aggs else aggs
      InternalRow.fromSeq(vals)
    }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) row = rows.next(); h }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

private[v2] case class SeqPartition(start: Long, end: Long, step: Long = 1L) extends InputPartition

/** Aligned partition: one bucket residue class, exposing its key for
  * storage-partitioned joins.
  */
private[v2] case class SeqBucketPartition(bucket: Long, start: Long, end: Long, step: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

private[v2] class SeqReaderFactory(cols: Array[String],
    sample: Option[(Double, Double)] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (start, end, step) = partition match {
      case SeqPartition(s, e, st) => (s, e, st)
      case SeqBucketPartition(_, s, e, st) => (s, e, st)
    }
    new PartitionReader[InternalRow] {
      private var cur = start - step
      override def next(): Boolean = {
        cur += step
        sample match {
          case None => cur < end
          case Some((l, u)) =>
            while (cur < end && { val v = SeqSource.sampleU(cur); v < l || v >= u }) cur += step
            cur < end
        }
      }
      override def get(): InternalRow =
        InternalRow.fromSeq(cols.toSeq.map {
          case "id" => cur
          case "val" => SeqSource.valueOf(cur)
          case "bucket" => cur % 32
        })
      override def close(): Unit = ()
    }
  }
}
