package graft.core.sketch

/**
 * Merging t-digest (Dunning & Ertl 2019 family): centroids kept sorted by
 * mean; incoming points buffer and are merged in one sorted sweep that
 * respects the k0-style size bound w_limit(q) = 4 n q(1-q) / compression —
 * tight at the tails (accurate extreme quantiles), loose in the middle.
 *
 * Mergeable: merge(other) replays the other digest's centroids (weighted)
 * through the same sweep — associative up to the documented rank-error
 * bound (t-digest merges are famously order-sensitive in their exact
 * centroid layout but bounded in error; the property tests assert the
 * BOUND, not bit-equality — SURVEY.md §7.4).
 *
 * No analog in the reference; north-rule companion to [[Kll]].
 *
 * Serialized layout: [compression: Double][n: Long][count: Int]
 * [mean: Double, weight: Double]*count.
 */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var total: Double) extends Serializable {

  // pending values, flushed every TDigest.BufferSize; the arrays grow to
  // that size, so a digest that sees a few values allocates a few slots
  private var bufMeans = Array.emptyDoubleArray
  private var bufWeights = Array.emptyDoubleArray
  private var nBuf = 0

  def n: Double = { flush(); total }

  def add(x: Double, w: Double = 1.0): Unit = {
    if (nBuf == TDigest.BufferSize) flush()
    if (nBuf == bufMeans.length) {
      val len = math.min(TDigest.BufferSize, math.max(8, 2 * nBuf))
      bufMeans = java.util.Arrays.copyOf(bufMeans, len)
      bufWeights = java.util.Arrays.copyOf(bufWeights, len)
    }
    bufMeans(nBuf) = x; bufWeights(nBuf) = w; nBuf += 1
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression)
    other.flush()
    var i = 0
    while (i < other.nCentroids) {
      add(other.means(i), other.weights(i)); i += 1
    }
    flush()
    this
  }

  /** Stable insertion sort of the pending (mean, weight) pairs by mean in
    * `java.lang.Double.compare` order: ties keep insertion order. */
  private def sortBuffer(): Unit = {
    var i = 1
    while (i < nBuf) {
      val m = bufMeans(i); val w = bufWeights(i)
      var j = i - 1
      while (j >= 0 && java.lang.Double.compare(bufMeans(j), m) > 0) {
        bufMeans(j + 1) = bufMeans(j); bufWeights(j + 1) = bufWeights(j)
        j -= 1
      }
      bufMeans(j + 1) = m; bufWeights(j + 1) = w
      i += 1
    }
  }

  private def flush(): Unit = {
    if (nBuf == 0) return
    // sort the buffer (insertion order independence up to merge sweep)
    sortBuffer()
    val size = nCentroids + nBuf
    val walk = TDigest.walk.get()
    if (walk(0).length < size) {
      walk(0) = new Array[Double](2 * size); walk(1) = new Array[Double](2 * size)
    }
    val m2 = walk(0)
    val w2 = walk(1)
    // merge-sorted walk of (centroids, buffer)
    var a = 0; var b = 0; var k = 0
    while (a < nCentroids || b < nBuf) {
      val takeA = b >= nBuf ||
        (a < nCentroids && means(a) <= bufMeans(b))
      if (takeA) { m2(k) = means(a); w2(k) = weights(a); a += 1 }
      else { m2(k) = bufMeans(b); w2(k) = bufWeights(b); b += 1 }
      k += 1
    }
    val newTotal = {
      var s = 0.0; var i = 0
      while (i < k) { s += w2(i); i += 1 }
      s
    }
    // greedy merge sweep under the size bound
    val om = new Array[Double](k)
    val ow = new Array[Double](k)
    var out = 0
    var cum = 0.0
    var i = 0
    while (i < k) {
      if (out == 0) { om(0) = m2(0); ow(0) = w2(0); out = 1 }
      else {
        val q = (cum + ow(out - 1) / 2) / newTotal
        val limit = 4.0 * newTotal * q * (1 - q) / compression
        if (ow(out - 1) + w2(i) <= math.max(limit, 1.0)) {
          // fold into the current centroid (weighted mean)
          val wSum = ow(out - 1) + w2(i)
          om(out - 1) += (m2(i) - om(out - 1)) * w2(i) / wSum
          ow(out - 1) = wSum
        } else {
          cum += ow(out - 1)
          om(out) = m2(i); ow(out) = w2(i); out += 1
        }
      }
      i += 1
    }
    means = om; weights = ow; nCentroids = out
    total = newTotal
    nBuf = 0
  }

  /** Quantile by linear interpolation across centroid midpoints. */
  def quantile(q: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val target = q * total
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      val half = weights(i) / 2
      if (cum + half >= target || i == nCentroids - 1) {
        if (i == 0) return means(0)
        val prevMid = cum - weights(i - 1) / 2
        val thisMid = cum + half
        val frac = ((target - prevMid) / (thisMid - prevMid)).max(0).min(1)
        return means(i - 1) + frac * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    means(nCentroids - 1)
  }

  /** Rank (CDF) of x by the same interpolation. */
  def cdf(x: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (x <= means(0)) return 0.0
    if (x >= means(nCentroids - 1)) return 1.0
    var cum = 0.0
    var i = 0
    while (i < nCentroids - 1) {
      val mid = cum + weights(i) / 2
      val nextMid = cum + weights(i) + weights(i + 1) / 2
      if (x >= means(i) && x < means(i + 1)) {
        val frac = (x - means(i)) / (means(i + 1) - means(i))
        return (mid + frac * (nextMid - mid)) / total
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def centroidCount: Int = { flush(); nCentroids }

  def toBytes: Array[Byte] = {
    flush()
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + nCentroids * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(compression).putLong(total.toLong).putInt(nCentroids)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }

  /** The whole state, pending values included, for an aggregation buffer
    * that crosses an exchange: unlike [[toBytes]] it does not flush, so a
    * digest read back with [[TDigest.fromBufferBytes]] flushes, merges and
    * serializes exactly as this one would.
    * Layout: [compression: Double][total: Double][count: Int]
    * [mean: Double, weight: Double]*count [pending: Int]
    * [mean: Double, weight: Double]*pending. */
  def toBufferBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + nCentroids * 16 + 4 + nBuf * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(compression).putDouble(total).putInt(nCentroids)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.putInt(nBuf)
    i = 0
    while (i < nBuf) { bb.putDouble(bufMeans(i)); bb.putDouble(bufWeights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  /** Pending values a digest holds before it flushes them. */
  private final val BufferSize = 64

  /** The flush's merge-walk scratch (means, weights), one per thread, so
    * a digest keeps no scratch of its own between flushes. */
  private val walk = ThreadLocal.withInitial[Array[Array[Double]]](
    () => Array(Array.emptyDoubleArray, Array.emptyDoubleArray))

  def empty(compression: Double = 100.0): TDigest =
    new TDigest(compression, new Array[Double](0), new Array[Double](0), 0, 0.0)

  def fromBytes(bytes: Array[Byte]): TDigest = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val comp = bb.getDouble(); bb.getLong(); val k = bb.getInt()
    val td = empty(comp)
    var i = 0
    while (i < k) {
      val m = bb.getDouble(); val w = bb.getDouble()
      td.add(m, w)
      i += 1
    }
    td
  }

  def fromBufferBytes(bytes: Array[Byte]): TDigest = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val comp = bb.getDouble(); val total = bb.getDouble(); val k = bb.getInt()
    val means = new Array[Double](k)
    val weights = new Array[Double](k)
    var i = 0
    while (i < k) { means(i) = bb.getDouble(); weights(i) = bb.getDouble(); i += 1 }
    val td = new TDigest(comp, means, weights, k, total)
    val pending = bb.getInt()
    i = 0
    while (i < pending) { td.add(bb.getDouble(), bb.getDouble()); i += 1 }
    td
  }

  /** Practical rank-error envelope for the k0 sweep at this compression —
    * ~O(1/compression) mid-range; asserted empirically in tests. */
  def rankErrorBound(compression: Double): Double =
    math.min(0.5, 3.0 / compression)
}
