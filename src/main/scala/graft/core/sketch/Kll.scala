package graft.core.sketch

import scala.collection.mutable.ArrayBuffer

/**
 * KLL-style mergeable quantile sketch over doubles (Karnin-Lall-Liberty
 * 2016 family): a ladder of compactors; level h items carry weight 2^h;
 * when a level overflows its capacity (k * c^(depth-1-h), c = 2/3,
 * floor 2), the sorted buffer is halved by keeping alternating items and
 * promoting them one level up.
 *
 * Determinism: compaction keeps odd/even-indexed items by a per-level
 * alternating flag (no RNG) — bit-for-bit reproducible across runs and
 * merge orders of the same partition content; rank error stays O(1/k)
 * in practice and is asserted empirically against exact oracles in tests
 * (the north-rule "published bound" check uses a conservative 1.65*e(k)
 * envelope, e(k) ~ 2.3/k per the KLL paper's constant-factor regime).
 *
 * Each level is one primitive `double[]` plus a length (no boxing on
 * `add`), and the level capacities are computed once per depth.
 *
 * No analog in the reference; required by the north rule for file-size /
 * shingle-count quantile queries.
 *
 * Serialized layout: [k: Int][nLevels: Int][n: Long][flags: Long]
 * then per level [len: Int][items: Double*len]. `toBytes` carries the
 * whole state, so `fromBytes(toBytes)` continues exactly as the original.
 */
final class Kll(val k: Int) extends Serializable {
  require(k >= 8)
  private var depth = 1
  private var items: Array[Array[Double]] = Array(new Array[Double](8))
  private var lens: Array[Int] = new Array[Int](1)
  private var alternate: Long = 0L // bit per level: keep odd vs even next time
  private var _n: Long = 0L
  /** Capacity of each level at the current depth, and their sum. */
  private var caps: Array[Int] = capacities(1)
  private var totalCapacity: Int = caps(0)
  /** Items retained over all levels. */
  private var size = 0

  def n: Long = _n

  private def capacities(d: Int): Array[Int] = Array.tabulate(d) { level =>
    val h = d - 1 - level // 0 for the top level
    math.max(2, math.ceil(k * math.pow(2.0 / 3.0, h.toDouble)).toInt)
  }

  private def setDepth(d: Int): Unit = if (d > depth) {
    items = java.util.Arrays.copyOf(items, d)
    lens = java.util.Arrays.copyOf(lens, d)
    var l = depth
    while (l < d) { items(l) = new Array[Double](8); l += 1 }
    depth = d
    caps = capacities(d)
    totalCapacity = caps.sum
  }

  /** Room for `extra` more items at level `l`. */
  private def reserve(l: Int, extra: Int): Array[Double] = {
    val need = lens(l) + extra
    if (need > items(l).length)
      items(l) = java.util.Arrays.copyOf(items(l), math.max(need, 2 * items(l).length))
    items(l)
  }

  def add(x: Double): Unit = {
    reserve(0, 1)(lens(0)) = x
    lens(0) += 1
    size += 1
    _n += 1
    compress()
  }

  private def compress(): Unit = {
    while (size >= totalCapacity) {
      // compact the lowest level at/over its capacity
      var l = 0
      while (l < depth && lens(l) < caps(l)) l += 1
      if (l == depth) return
      compactLevel(l)
    }
  }

  private def compactLevel(l: Int): Unit = {
    if (l + 1 == depth) setDepth(depth + 1)
    // Arrays.sort orders as java.lang.Double.compare; the values it ties
    // are bit-equal (bar NaN payloads), so no order among them shows
    val sorted = items(l)
    val len = lens(l)
    java.util.Arrays.sort(sorted, 0, len)
    // weight conservation: only an even count can be halved-and-promoted;
    // an odd buffer leaves its last item behind at this level.
    val odd = len % 2 == 1
    val m = if (odd) len - 1 else len
    val keepOdd = ((alternate >>> l) & 1L) == 1L
    alternate ^= (1L << l)
    val up = reserve(l + 1, m / 2)
    var u = lens(l + 1)
    var i = if (keepOdd) 1 else 0
    while (i < m) { up(u) = sorted(i); u += 1; i += 2 }
    lens(l + 1) = u
    if (odd) sorted(0) = sorted(m)
    lens(l) = if (odd) 1 else 0
    size -= m / 2
  }

  def merge(other: Kll): Kll = {
    require(other.k == k, s"incompatible KLL k=$k vs ${other.k}")
    setDepth(other.depth)
    var l = 0
    while (l < other.depth) {
      val len = other.lens(l)
      System.arraycopy(other.items(l), 0, reserve(l, len), lens(l), len)
      lens(l) += len
      l += 1
    }
    size += other.size
    _n += other._n
    compress()
    this
  }

  /** All (value, weight) pairs, for rank/quantile evaluation. */
  private def weighted: Array[(Double, Long)] = {
    val out = ArrayBuffer.empty[(Double, Long)]
    var l = 0
    while (l < depth) {
      val wgt = 1L << l
      var i = 0
      while (i < lens(l)) { out += ((items(l)(i), wgt)); i += 1 }
      l += 1
    }
    out.sortBy(_._1).toArray
  }

  /** Estimated value at rank fraction q in [0,1]. */
  def quantile(q: Double): Double = quantiles(Array(q))(0)

  /** [[quantile]] at each of `qs`, sorting the retained items once. */
  def quantiles(qs: Array[Double]): Array[Double] = {
    qs.foreach(q => require(q >= 0.0 && q <= 1.0))
    val w = weighted
    qs.map { q =>
      if (w.isEmpty) Double.NaN
      else {
        val target = q * _n
        var cum = 0L
        var i = 0
        while (i < w.length && cum + w(i)._2 < target) { cum += w(i)._2; i += 1 }
        if (i < w.length) w(i)._1 else w.last._1
      }
    }
  }

  /** Estimated rank fraction of value x. */
  def rank(x: Double): Double = {
    if (_n == 0) return Double.NaN
    var below = 0L
    var l = 0
    while (l < depth) {
      val wgt = 1L << l
      var i = 0
      while (i < lens(l)) { if (items(l)(i) <= x) below += wgt; i += 1 }
      l += 1
    }
    below.toDouble / _n
  }

  /** Conservative published-style rank-error envelope for this k. */
  def rankErrorBound: Double = math.min(0.5, 1.65 * 2.3 / k)

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 8 + 4 * depth + 8 * size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(k).putInt(depth).putLong(_n).putLong(alternate)
    var l = 0
    while (l < depth) {
      bb.putInt(lens(l))
      var i = 0
      while (i < lens(l)) { bb.putDouble(items(l)(i)); i += 1 }
      l += 1
    }
    bb.array()
  }
}

object Kll {
  def empty(k: Int = 256): Kll = new Kll(k)

  def fromBytes(bytes: Array[Byte]): Kll = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val k = bb.getInt(); val nLevels = bb.getInt()
    val sk = new Kll(k)
    sk._n = bb.getLong()
    sk.alternate = bb.getLong()
    sk.setDepth(nLevels)
    var l = 0
    while (l < nLevels) {
      val len = bb.getInt()
      val a = sk.reserve(l, len)
      var i = 0
      while (i < len) { a(i) = bb.getDouble(); i += 1 }
      sk.lens(l) = len
      sk.size += len
      l += 1
    }
    sk
  }
}
