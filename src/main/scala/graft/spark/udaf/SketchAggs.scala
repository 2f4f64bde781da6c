package graft.spark.udaf

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.core.sketch.{Bloom, CountMin, Hll, Kll, TDigest}

/**
 * Mergeable sketches as typed Catalyst Aggregators (the north rule's core):
 * partial sketch per partition (map-side), associative `merge` in reduce —
 * the same two-phase algebra the reference applies to its thread-local maps
 * (ganon: src/ganon-classify/GanonClassify.cpp:475-490).
 *
 * All buffers are Kryo-encoded objects → Spark plans ObjectHashAggregate:
 * buffers live as JVM objects during partial aggregation; serialization
 * happens only at the exchange.
 *
 * Inputs are `Array[Long]` hash sets (one row's distinct shingles/tokens),
 * so no explode() shuffle-amplification ever happens: the per-row array is
 * folded straight into the sketch buffer.
 */
object SketchAggs {

  /** HLL distinct count of all hashes across rows -> estimate. */
  class HllCountAgg(p: Int) extends Aggregator[Array[Long], Hll, Long] {
    def zero: Hll = Hll.empty(p)
    def reduce(b: Hll, a: Array[Long]): Hll = { if (a != null) b.addAll(a); b }
    def merge(x: Hll, y: Hll): Hll = x.merge(y)
    def finish(b: Hll): Long = b.estimate
    def bufferEncoder: Encoder[Hll] = Encoders.kryo[Hll]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** HLL, returning the serialized mergeable sketch itself. */
  class HllSketchAgg(p: Int) extends Aggregator[Array[Long], Hll, Array[Byte]] {
    def zero: Hll = Hll.empty(p)
    def reduce(b: Hll, a: Array[Long]): Hll = { if (a != null) b.addAll(a); b }
    def merge(x: Hll, y: Hll): Hll = x.merge(y)
    def finish(b: Hll): Array[Byte] = b.toBytes
    def bufferEncoder: Encoder[Hll] = Encoders.kryo[Hll]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group Bloom filter (one bin of the IBF), fixed (numBits, numHashes). */
  class BloomSketchAgg(numBits: Long, numHashes: Int)
      extends Aggregator[Array[Long], Bloom, Array[Byte]] {
    def zero: Bloom = Bloom.empty(numBits, numHashes)
    def reduce(b: Bloom, a: Array[Long]): Bloom = { if (a != null) b.addAll(a); b }
    def merge(x: Bloom, y: Bloom): Bloom = x.merge(y)
    def finish(b: Bloom): Array[Byte] = b.toBytes
    def bufferEncoder: Encoder[Bloom] = Encoders.kryo[Bloom]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Result of the band-cap aggregation: the group's k smallest ids plus
    * how many members were dropped (observable truncation). */
  final case class MinKIds(ids: Array[Long], dropped: Long)

  /** Bounded max-heap buffer holding the k smallest values seen. Grows
    * geometrically to k, so sub-cap groups (the common case) never pay the
    * full-cap allocation during partial aggregation. */
  final class MinKBuf(val k: Int) extends Serializable {
    var n = 0
    var dropped = 0L
    var heap: Array[Long] = Array.emptyLongArray

    def add(v: Long): Unit = {
      if (n < k) {
        if (n == heap.length)
          heap = java.util.Arrays.copyOf(heap,
            math.min(k, math.max(16, heap.length * 2)))
        heap(n) = v; n += 1
        var i = n - 1
        while (i > 0 && heap((i - 1) / 2) < heap(i)) {
          val p = (i - 1) / 2
          val t = heap(p); heap(p) = heap(i); heap(i) = t
          i = p
        }
      } else {
        dropped += 1
        if (v < heap(0)) {
          heap(0) = v
          var i = 0
          var done = false
          while (!done) {
            val l = 2 * i + 1; val r = l + 1
            var m = i
            if (l < n && heap(l) > heap(m)) m = l
            if (r < n && heap(r) > heap(m)) m = r
            if (m == i) done = true
            else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
          }
        }
      }
    }

    def mergeFrom(o: MinKBuf): MinKBuf = {
      var i = 0
      while (i < o.n) { add(o.heap(i)); i += 1 }
      dropped += o.dropped
      this
    }

    def result(): MinKIds = {
      val out = java.util.Arrays.copyOf(heap, n)
      java.util.Arrays.sort(out)
      MinKIds(out, dropped)
    }
  }

  /**
   * "k smallest ids per group + dropped count" — the LSH band-cap
   * primitive. Replaces a per-band `row_number()` window (a full sort
   * exchange) with ONE partially-aggregated shuffle: a mega-bucket ships
   * at most k ids per map partition instead of its whole membership, and
   * truncation is an observable VALUE instead of a silent rank filter.
   * Keeps exactly the ids `row_number().orderBy(id) <= k` kept, so cap
   * semantics (and the J=1 identical-signature recall argument) carry over.
   */
  class MinKIdsAgg(k: Int) extends Aggregator[Long, MinKBuf, MinKIds] {
    def zero: MinKBuf = new MinKBuf(k)
    def reduce(b: MinKBuf, a: Long): MinKBuf = { b.add(a); b }
    def merge(x: MinKBuf, y: MinKBuf): MinKBuf = x.mergeFrom(y)
    def finish(b: MinKBuf): MinKIds = b.result()
    def bufferEncoder: Encoder[MinKBuf] = Encoders.kryo[MinKBuf]
    def outputEncoder: Encoder[MinKIds] = ExpressionEncoder[MinKIds]()
  }

  /** Count-min over hash multisets (each array element counts once). */
  class CmsSketchAgg(depth: Int, width: Int)
      extends Aggregator[Array[Long], CountMin, Array[Byte]] {
    def zero: CountMin = CountMin.empty(depth, width)
    def reduce(b: CountMin, a: Array[Long]): CountMin = {
      if (a != null) { var i = 0; while (i < a.length) { b.add(a(i)); i += 1 } }
      b
    }
    def merge(x: CountMin, y: CountMin): CountMin = x.merge(y)
    def finish(b: CountMin): Array[Byte] = b.toBytes
    def bufferEncoder: Encoder[CountMin] = Encoders.kryo[CountMin]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** KLL quantile sketch over a double column -> serialized sketch. */
  class KllSketchAgg(k: Int) extends Aggregator[Double, Kll, Array[Byte]] {
    def zero: Kll = Kll.empty(k)
    def reduce(b: Kll, a: Double): Kll = { b.add(a); b }
    def merge(x: Kll, y: Kll): Kll = x.merge(y)
    def finish(b: Kll): Array[Byte] = b.toBytes
    def bufferEncoder: Encoder[Kll] = Encoders.kryo[Kll]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** t-digest quantile sketch over a double column -> serialized sketch. */
  class TDigestSketchAgg(compression: Double)
      extends Aggregator[Double, TDigest, Array[Byte]] {
    def zero: TDigest = TDigest.empty(compression)
    def reduce(b: TDigest, a: Double): TDigest = { b.add(a); b }
    def merge(x: TDigest, y: TDigest): TDigest = x.merge(y)
    def finish(b: TDigest): Array[Byte] = b.toBytes
    def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** t-digest -> quantile values at the requested ranks. */
  class TDigestQuantilesAgg(compression: Double, qs: Array[Double])
      extends Aggregator[Double, TDigest, Array[Double]] {
    def zero: TDigest = TDigest.empty(compression)
    def reduce(b: TDigest, a: Double): TDigest = { b.add(a); b }
    def merge(x: TDigest, y: TDigest): TDigest = x.merge(y)
    def finish(b: TDigest): Array[Double] = qs.map(b.quantile)
    def bufferEncoder: Encoder[TDigest] = Encoders.kryo[TDigest]
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** KLL -> quantile values at the requested ranks, in one aggregation. */
  class KllQuantilesAgg(k: Int, qs: Array[Double])
      extends Aggregator[Double, Kll, Array[Double]] {
    def zero: Kll = Kll.empty(k)
    def reduce(b: Kll, a: Double): Kll = { b.add(a); b }
    def merge(x: Kll, y: Kll): Kll = x.merge(y)
    def finish(b: Kll): Array[Double] = qs.map(b.quantile)
    def bufferEncoder: Encoder[Kll] = Encoders.kryo[Kll]
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }
}
