package graft.spark.udaf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, GraftColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

import graft.core.sketch.{Bloom, CountMin, HashSketch, Hll}

/** Which dense sketch a [[HashSketchAgg]] folds its hashes into, and what
  * the aggregate returns from it. */
sealed abstract class SketchSpec[S <: HashSketch[S]] extends Serializable {
  def empty: S
  def fromBytes(bytes: Array[Byte]): S
  /** Pending hashes that weigh as much as the dense sketch, 8 bytes each:
    * a buffer holds at most this many before it densifies. */
  def limit: Int
  def dataType: DataType
  def result(s: S): Any
  def name: String
}

/** HLL at precision `p`; returns the estimate (`count`) or the sketch. */
final case class HllSpec(p: Int, count: Boolean) extends SketchSpec[Hll] {
  def empty: Hll = Hll.empty(p)
  def fromBytes(bytes: Array[Byte]): Hll = Hll.fromBytes(bytes)
  def limit: Int = (1 << p) / 8
  def dataType: DataType = if (count) LongType else BinaryType
  def result(s: Hll): Any = if (count) s.estimate else s.toBytes
  def name: String = if (count) "graft_hll_count" else "graft_hll_sketch"
}

final case class BloomSpec(numBits: Long, numHashes: Int) extends SketchSpec[Bloom] {
  def empty: Bloom = Bloom.empty(numBits, numHashes)
  def fromBytes(bytes: Array[Byte]): Bloom = Bloom.fromBytes(bytes)
  def limit: Int = ((numBits + 63) / 64).toInt
  def dataType: DataType = BinaryType
  def result(s: Bloom): Any = s.toBytes
  def name: String = "graft_bloom_sketch"
}

/** Count-min over hash multisets: each array element counts once. */
final case class CmsSpec(depth: Int, width: Int) extends SketchSpec[CountMin] {
  def empty: CountMin = CountMin.empty(depth, width)
  def fromBytes(bytes: Array[Byte]): CountMin = CountMin.fromBytes(bytes)
  def limit: Int = depth * width
  def dataType: DataType = BinaryType
  def result(s: CountMin): Any = s.toBytes
  def name: String = "graft_cms_sketch"
}

/**
 * Sparse-first aggregation buffer: raw hashes pend in a list until they
 * would outweigh the dense sketch (`spec.limit`), then fold into it, as
 * HLL++ keeps a sparse list until the dense registers pay (Heule, Nunkesser
 * & Hall, EDBT 2013). A (partition, key) pair that sees few hashes ships
 * and merges a short list instead of a zeroed dense sketch. Every sketch
 * merge is order- and grouping-independent, so the sketch a buffer
 * finally yields is byte-equal to one fold of all its hashes.
 *
 * Serialized as a tag byte, then either the pending count and hashes
 * (tag 0) or the sketch's own `toBytes` (tag 1).
 */
final class SketchBuf[S <: HashSketch[S]](val spec: SketchSpec[S]) {
  private var pending: Array[Long] = Array.emptyLongArray
  private var n = 0
  private var dense: S = _

  def isDense: Boolean = dense != null
  def pendingCount: Int = n

  /** Fold one row's hashes, read straight from the row's array;
    * `skipNulls` when the array type admits null elements. */
  def addAll(a: ArrayData, skipNulls: Boolean): Unit = {
    val len = a.numElements()
    if (dense == null && n + len > spec.limit) densify()
    var i = 0
    if (dense != null) {
      val d = dense
      while (i < len) { if (!skipNulls || !a.isNullAt(i)) d.add(a.getLong(i)); i += 1 }
    } else {
      reserve(n + len)
      while (i < len) {
        if (!skipNulls || !a.isNullAt(i)) { pending(n) = a.getLong(i); n += 1 }
        i += 1
      }
    }
  }

  /** Merge `o` into this buffer (`o` is left unchanged); returns this. */
  def merge(o: SketchBuf[S]): SketchBuf[S] = {
    if (o.dense != null) sketch.merge(o.dense)
    else if (dense == null && n + o.n <= spec.limit) {
      reserve(n + o.n)
      System.arraycopy(o.pending, 0, pending, n, o.n)
      n += o.n
    } else {
      val d = sketch
      var i = 0
      while (i < o.n) { d.add(o.pending(i)); i += 1 }
    }
    this
  }

  /** The dense sketch of every hash this buffer has seen. */
  def sketch: S = if (dense != null) dense else densify()

  def toBytes: Array[Byte] =
    if (dense != null) {
      val b = dense.toBytes
      val out = new Array[Byte](1 + b.length)
      out(0) = SketchBuf.DenseTag
      System.arraycopy(b, 0, out, 1, b.length)
      out
    } else {
      val bb = ByteBuffer.allocate(5 + 8 * n).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(SketchBuf.SparseTag).putInt(n)
      bb.asLongBuffer().put(pending, 0, n)
      bb.array()
    }

  private def densify(): S = {
    val d = spec.empty
    var i = 0
    while (i < n) { d.add(pending(i)); i += 1 }
    dense = d
    pending = null
    n = 0
    d
  }

  /** Room for `size` pending hashes, growing geometrically up to the limit. */
  private def reserve(size: Int): Unit =
    if (size > pending.length)
      pending = java.util.Arrays.copyOf(pending,
        math.max(size, math.min(spec.limit, math.max(16, 2 * pending.length))))
}

object SketchBuf {
  final val SparseTag: Byte = 0
  final val DenseTag: Byte = 1

  def fromBytes[S <: HashSketch[S]](spec: SketchSpec[S],
      bytes: Array[Byte]): SketchBuf[S] = {
    val b = new SketchBuf(spec)
    bytes(0) match {
      case SparseTag =>
        val bb = ByteBuffer.wrap(bytes, 1, bytes.length - 1).order(ByteOrder.LITTLE_ENDIAN)
        val n = bb.getInt()
        b.reserve(n)
        bb.asLongBuffer().get(b.pending, 0, n)
        b.n = n
      case DenseTag =>
        b.dense = spec.fromBytes(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
      case t => throw new IllegalArgumentException(s"unknown sketch buffer tag $t")
    }
    b
  }
}

/**
 * HLL count, HLL sketch, Bloom and count-min over an `array<bigint>` of
 * hashes (one row's shingles or tokens) as one native Catalyst aggregate.
 * Spark plans it as ObjectHashAggregate partial → exchange → final, like
 * its own `BloomFilterAggregate`. `update` reads each hash with
 * `ArrayData.getLong` (no per-row `Array[Long]` decode), the buffer is a
 * sparse-first [[SketchBuf]], and buffers cross the exchange in their own
 * bytes, with no Kryo. Only that transient partial-buffer format differs
 * from a typed `Aggregator`; the returned sketch bytes are the same.
 *
 * The analyzer casts the input to `array<bigint>` where it can (an
 * `array<int>`, a Scala UDF's `Array[Long]`); a null array adds nothing.
 */
case class HashSketchAgg[S <: HashSketch[S]](child: Expression, spec: SketchSpec[S],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SketchBuf[S]] with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = spec.dataType
  override def nullable: Boolean = false
  override def prettyName: String = spec.name

  // the analyzer has cast the child to an array<bigint> by now
  private lazy val skipNulls = child.dataType.asInstanceOf[ArrayType].containsNull

  override def createAggregationBuffer(): SketchBuf[S] = new SketchBuf(spec)

  override def update(buf: SketchBuf[S], input: InternalRow): SketchBuf[S] = {
    val v = child.eval(input)
    if (v != null) buf.addAll(v.asInstanceOf[ArrayData], skipNulls)
    buf
  }

  override def merge(buf: SketchBuf[S], other: SketchBuf[S]): SketchBuf[S] =
    buf.merge(other)

  override def eval(buf: SketchBuf[S]): Any = spec.result(buf.sketch)

  override def serialize(buf: SketchBuf[S]): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): SketchBuf[S] =
    SketchBuf.fromBytes(spec, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): HashSketchAgg[S] =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): HashSketchAgg[S] =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): HashSketchAgg[S] =
    copy(child = newChild)
}

object HashSketchAgg {
  def col[S <: HashSketch[S]](hashes: Column, spec: SketchSpec[S]): Column =
    ExpressionUtils.column(
      HashSketchAgg(ExpressionUtils.expression(hashes), spec).toAggregateExpression())
}
