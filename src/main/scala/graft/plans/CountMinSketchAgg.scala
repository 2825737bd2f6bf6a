package graft.plans

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native count-min sketch aggregate — a true mergeable-sketch
  * [[TypedImperativeAggregate]], the aggregation-buffer contract behind
  * every production sketch (HLL, KLL, theta): tasks build LOCAL sketches
  * in the partial-aggregate stage, only the fixed [[CountMinSketchAgg.Depth]]
  * × [[CountMinSketchAgg.Width]] counter grids cross the shuffle, and
  * `merge` is elementwise addition (counters are linear) — so sketch size,
  * not data size, bounds shuffle volume: the defining property that makes
  * frequency estimation feasible at 100 TB.
  *
  * The four row hashes come from ONE md5 per item (the digest's four
  * 32-bit words), the exact bytes DuckDB's `md5` hex exposes as
  * `substr(md5(w), 1+8*d, 8)` — so an oracle can rebuild every cell
  * analytically: cell(d, j) = Σ counts of all words hashing to j in row d.
  * Estimates read `min` over the four rows (Cormode–Muthukrishnan): always
  * ≥ the true count, exact when no collision.
  *
  * Reference tie-in: the reference's combiner (`greeter_server.cc:72-88`)
  * is the degenerate exact form of this contract — per-worker partial
  * maps merged at one reducer; the sketch keeps the shape but caps the
  * state.
  */
case class CountMinSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import CountMinSketchAgg.{Depth, Width}

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Depth * Width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val md = MessageDigest.getInstance("MD5")
        .digest(v.asInstanceOf[UTF8String].getBytes)
      var d = 0
      while (d < Depth) {
        val h = ((md(4 * d) & 0xffL) << 24) | ((md(4 * d + 1) & 0xffL) << 16) |
          ((md(4 * d + 2) & 0xffL) << 8) | (md(4 * d + 3) & 0xffL)
        buf(d * Width + (h % Width).toInt) += 1L
        d += 1
      }
    }
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
  override def prettyName: String = "cms_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinSketchAgg =
    copy(child = newChild)
}

object CountMinSketchAgg {
  /** Hash rows (independent estimators) and counters per row. */
  val Depth = 4
  val Width = 64}
