package graft.spark.udaf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, GraftColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType,
  StructField, StructType}

import graft.core.sketch.{Bloom, CountMin, HashSketch, Hll, Kll, MinK, TDigest}

/**
 * What one [[SketchAgg]] computes: the input type its child is cast to,
 * the aggregation buffer, how a buffer folds one input value and merges
 * another, the buffer's own byte form for the exchange, and the result.
 * Three families plug in: hash arrays into a sparse-first [[SketchBuf]]
 * ([[SketchSpec]]), doubles into KLL or t-digest ([[QuantileSpec]]), and
 * bigint ids into the band-cap heap ([[MinKSpec]]).
 */
sealed abstract class AggSpec[B] extends Serializable {
  def name: String
  def inputType: DataType
  def dataType: DataType
  def nullable: Boolean
  def newBuffer(): B
  /** Fold one non-null input value, as the child evaluates it;
    * `nullElems` when an array input may hold null elements. */
  def update(buf: B, v: Any, nullElems: Boolean): Unit
  /** Merge `other` into `buf`; returns `buf`. */
  def merge(buf: B, other: B): B
  /** The buffer's whole state: `deserialize(serialize(b))` folds, merges
    * and evaluates exactly as `b` would. */
  def serialize(buf: B): Array[Byte]
  def deserialize(bytes: Array[Byte]): B
  def eval(buf: B): Any
}

/** Which dense sketch a [[SketchAgg]] folds a hash array into, and what
  * the aggregate returns from it. */
sealed abstract class SketchSpec[S <: HashSketch[S]] extends AggSpec[SketchBuf[S]] {
  def empty: S
  def fromBytes(bytes: Array[Byte]): S
  /** Pending hashes that weigh as much as the dense sketch, 8 bytes each:
    * a buffer holds at most this many before it densifies. */
  def limit: Int
  def result(s: S): Any

  final def inputType: DataType = ArrayType(LongType)
  final def nullable: Boolean = false
  final def newBuffer(): SketchBuf[S] = new SketchBuf(this)
  final def update(buf: SketchBuf[S], v: Any, nullElems: Boolean): Unit =
    buf.addAll(v.asInstanceOf[ArrayData], nullElems)
  final def merge(buf: SketchBuf[S], other: SketchBuf[S]): SketchBuf[S] = buf.merge(other)
  final def serialize(buf: SketchBuf[S]): Array[Byte] = buf.toBytes
  final def deserialize(bytes: Array[Byte]): SketchBuf[S] = SketchBuf.fromBytes(this, bytes)
  final def eval(buf: SketchBuf[S]): Any = result(buf.sketch)
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
 * KLL or t-digest over a double column: the sketch's bytes, or its values
 * at the ranks `qs`. A buffer crosses the exchange in its whole state
 * (KLL's `toBytes`; t-digest's unflushed [[TDigest.toBufferBytes]]), so
 * every merge sees the buffer a typed `Aggregator` shipped through Kryo
 * and the results are byte-equal to it.
 */
sealed abstract class QuantileSpec[Q] extends AggSpec[Q] {
  def qs: Option[Seq[Double]]
  def add(buf: Q, v: Double): Unit
  def sketchBytes(buf: Q): Array[Byte]
  def quantiles(buf: Q, qs: Array[Double]): Array[Double]

  final def inputType: DataType = DoubleType
  final def dataType: DataType =
    if (qs.isEmpty) BinaryType else ArrayType(DoubleType, containsNull = false)
  final def nullable: Boolean = true
  final def update(buf: Q, v: Any, nullElems: Boolean): Unit = add(buf, v.asInstanceOf[Double])
  final def eval(buf: Q): Any = qs match {
    case None => sketchBytes(buf)
    case Some(q) => UnsafeArrayData.fromPrimitiveArray(quantiles(buf, q.toArray))
  }
}

final case class KllSpec(k: Int, qs: Option[Seq[Double]] = None) extends QuantileSpec[Kll] {
  def name: String = if (qs.isEmpty) "graft_kll_sketch" else "graft_kll_quantiles"
  def newBuffer(): Kll = Kll.empty(k)
  def add(buf: Kll, v: Double): Unit = buf.add(v)
  def merge(buf: Kll, other: Kll): Kll = buf.merge(other)
  def serialize(buf: Kll): Array[Byte] = buf.toBytes
  def deserialize(bytes: Array[Byte]): Kll = Kll.fromBytes(bytes)
  def sketchBytes(buf: Kll): Array[Byte] = buf.toBytes
  def quantiles(buf: Kll, qs: Array[Double]): Array[Double] = buf.quantiles(qs)
}

final case class TDigestSpec(compression: Double, qs: Option[Seq[Double]] = None)
    extends QuantileSpec[TDigest] {
  def name: String = if (qs.isEmpty) "graft_tdigest_sketch" else "graft_tdigest_quantiles"
  def newBuffer(): TDigest = TDigest.empty(compression)
  def add(buf: TDigest, v: Double): Unit = buf.add(v)
  def merge(buf: TDigest, other: TDigest): TDigest = buf.merge(other)
  def serialize(buf: TDigest): Array[Byte] = buf.toBufferBytes
  def deserialize(bytes: Array[Byte]): TDigest = TDigest.fromBufferBytes(bytes)
  def sketchBytes(buf: TDigest): Array[Byte] = buf.toBytes
  def quantiles(buf: TDigest, qs: Array[Double]): Array[Double] = qs.map(buf.quantile)
}

/**
 * "k smallest ids per group + dropped count", the LSH band-cap primitive,
 * as `struct<ids: array<bigint>, dropped: bigint>`. Replaces a per-band
 * `row_number()` window (a full sort exchange) with ONE partially
 * aggregated shuffle: a mega-bucket ships at most k ids per map partition
 * instead of its whole membership, and truncation is an observable VALUE
 * instead of a silent rank filter. Keeps exactly the ids
 * `row_number().orderBy(id) <= k` kept, so cap semantics (and the J=1
 * identical-signature recall argument) carry over.
 */
final case class MinKSpec(k: Int) extends AggSpec[MinK] {
  def name: String = "graft_min_k_ids"
  def inputType: DataType = LongType
  def dataType: DataType = MinKSpec.Result
  def nullable: Boolean = true
  def newBuffer(): MinK = MinK.empty(k)
  def update(buf: MinK, v: Any, nullElems: Boolean): Unit = buf.add(v.asInstanceOf[Long])
  def merge(buf: MinK, other: MinK): MinK = buf.merge(other)
  def serialize(buf: MinK): Array[Byte] = buf.toBytes
  def deserialize(bytes: Array[Byte]): MinK = MinK.fromBytes(bytes)
  def eval(buf: MinK): Any =
    new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(buf.ids), buf.dropped))
}

object MinKSpec {
  val Result: StructType = StructType(Seq(
    StructField("ids", ArrayType(LongType, containsNull = false)),
    StructField("dropped", LongType, nullable = false)))
}

/**
 * Every mergeable sketch of the engine as one native Catalyst aggregate:
 * HLL count and sketch, Bloom and count-min over hash arrays, KLL and
 * t-digest sketches and quantiles over doubles, and the band-cap heap over
 * ids. Spark plans it as ObjectHashAggregate partial -> exchange -> final,
 * like its own `BloomFilterAggregate`. `update` reads the child's value
 * straight from the row (`ArrayData.getLong` for hash arrays, no per-row
 * decode or boxing), and buffers cross the exchange in their own bytes
 * ([[AggSpec.serialize]]), with no Kryo. Only that transient
 * partial-buffer format differs from a typed `Aggregator`; the results
 * are the same bytes.
 *
 * The analyzer casts the input to the spec's type where it can (an
 * `array<int>`, a Scala UDF's `Array[Long]`, an int column for a double
 * one); a null input adds nothing.
 */
case class SketchAgg[B](child: Expression, spec: AggSpec[B],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  override def inputTypes: Seq[DataType] = Seq(spec.inputType)
  override def dataType: DataType = spec.dataType
  override def nullable: Boolean = spec.nullable
  override def prettyName: String = spec.name

  // the analyzer has cast the child to the spec's input type by now
  private lazy val nullElems = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def createAggregationBuffer(): B = spec.newBuffer()

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) spec.update(buf, v, nullElems)
    buf
  }

  override def merge(buf: B, other: B): B = spec.merge(buf, other)

  override def eval(buf: B): Any = spec.eval(buf)

  override def serialize(buf: B): Array[Byte] = spec.serialize(buf)

  override def deserialize(bytes: Array[Byte]): B = spec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): SketchAgg[B] =
    copy(child = newChild)
}

object SketchAgg {
  def col[B](input: Column, spec: AggSpec[B]): Column =
    ExpressionUtils.column(
      SketchAgg(ExpressionUtils.expression(input), spec).toAggregateExpression())
}
