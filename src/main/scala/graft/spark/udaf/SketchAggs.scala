package graft.spark.udaf

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.core.sketch.{Kll, TDigest}

/**
 * Mergeable sketches as Catalyst aggregates (the north rule's core):
 * partial sketch per partition (map-side), associative `merge` in reduce —
 * the same two-phase algebra the reference applies to its thread-local maps
 * (ganon: src/ganon-classify/GanonClassify.cpp:475-490).
 *
 * HLL, Bloom and count-min over hash arrays are one native aggregate,
 * [[HashSketchAgg]], with a sparse-first buffer in its own byte format.
 * The typed `Aggregator`s here keep Kryo-encoded buffers, so Spark plans
 * them as ObjectHashAggregate too (buffers live as JVM objects during
 * partial aggregation; serialization happens only at the exchange). They
 * stay typed on purpose: `TDigest.toBytes` flushes its buffer and
 * `fromBytes` replays centroids, so a byte-format buffer would flush at
 * every exchange and change the digest's centroid layout, while Kryo ships
 * the unflushed buffer as it is; KLL and the band-cap heap run once per
 * value, not per hash array, and gain nothing from the array fold.
 */
object SketchAggs {

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
