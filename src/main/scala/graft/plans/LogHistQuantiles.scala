package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Mergeable QUANTILE sketch as a log-scaled histogram (HdrHistogram's
  * bucketing): the quantile analog of the repo's HLL (distinct counts) and
  * [[CountMinSketchAgg]] (frequencies) — and unlike KLL/t-digest it is
  * fully DETERMINISTIC (no sampling, no centroid drift), so the oracle
  * replays every bucket analytically and the gate is a hash match, not a
  * probability bound.
  *
  * Bucketing: a positive long lands in octave e = floor(log2 v) with
  * [[LogHistQuantiles.SubBuckets]]-way linear subdivision —
  * `idx = e·m + ⌊(v − 2^e)·m / 2^e⌋`. Bucket width is 2^e/m, so any
  * quantile read from the histogram is within a factor (1 + 1/m) of the
  * true value (relative error ≤ 1/m = 3.125%), independent of data scale
  * or distribution. The buffer is a fixed [[LogHistQuantiles.NumBuckets]]
  * longs (~10 KB): tasks build LOCAL histograms in the partial stage, only
  * the counter arrays cross the shuffle, and `merge` is elementwise
  * addition — counters are linear, so shard sketches re-aggregate to any
  * coarser grain without touching raw data. That linearity also means the
  * MERGE step itself is expressible in plain SQL (posexplode + sum per
  * position), which the `quantile_sketch_merge` registry query exploits to
  * prove shard→global mergeability under the oracle gate.
  *
  * Reference tie-in: the reference's reducer merges per-worker partial
  * maps (`greeter_server.cc:92-110`); this keeps that merge contract but
  * caps the state at sketch size — the property that makes percentile
  * monitoring feasible at 100 TB where exact sorts cannot run.
  */
case class LogHistSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import LogHistQuantiles.{NumBuckets, bucketOf}

  override def createAggregationBuffer(): Array[Long] = new Array[Long](NumBuckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buf(bucketOf(v.asInstanceOf[Long])) += 1L
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "loghist_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): LogHistSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LogHistSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): LogHistSketchAgg =
    copy(child = newChild)
}

object LogHistQuantiles {
  /** Linear subdivisions per octave — relative error bound is 1/SubBuckets. */
  val SubBuckets = 32

  /** Octaves 0..41 cover positive longs up to 2^42 (values beyond clamp to
    * the top bucket; non-positive values clamp to bucket 0).
    */
  val MaxExponent = 41

  val NumBuckets: Int = (MaxExponent + 1) * SubBuckets

  /** Deterministic bucket index; pure integer math (shifts, no float log),
    * replayable in SQL as `e·m + (v − 2^e)·m // 2^e` with
    * `e = length(bin(v)) − 1`.
    */
  def bucketOf(v: Long): Int = {
    if (v < 1L) return 0
    val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
    if (e > MaxExponent) return NumBuckets - 1
    // (v − 2^e)·m / 2^e as shifts: exact, overflow-free for any long
    val off = v - (1L << e)
    val sub = if (e >= 5) (off >> (e - 5)).toInt else ((off << 5) >> e).toInt
    e * SubBuckets + sub
  }}
