package graft.core.sketch

import graft.core.Hashing

/**
 * Count-Min sketch for 64-bit keys (token/k-mer frequency).
 *
 * Published guarantee (Cormode & Muthukrishnan 2005): with width w and
 * depth d, the point estimate overestimates by at most eps*N with
 * probability >= 1-delta, where eps = e/w and delta = e^-d, N = total count.
 * Merge = element-wise counter sum (associative & commutative).
 *
 * No analog in the reference (which is membership-only); required by the
 * north rule alongside Bloom/HLL for frequency queries.
 *
 * Serialized layout: [depth: Int][width: Int][total: Long][counts: Long * d*w].
 */
final class CountMin(val depth: Int, val width: Int, val counts: Array[Long],
    private var _total: Long) extends HashSketch[CountMin] with Serializable {
  require(depth > 0 && width > 0)
  require(counts.length == depth * width)

  def total: Long = _total

  @inline private def cell(row: Int, key: Long): Int = {
    val h = Hashing.mix64(key ^ (0x9E3779B97F4A7C15L * (row + 1)))
    row * width + ((h & Long.MaxValue) % width).toInt
  }

  def add(key: Long): Unit = add(key, 1L)

  def add(key: Long, c: Long): Unit = {
    var r = 0
    while (r < depth) { counts(cell(r, key)) += c; r += 1 }
    _total += c
  }

  /** Point estimate (never underestimates the true count). */
  def estimate(key: Long): Long = {
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = counts(cell(r, key))
      if (v < min) min = v
      r += 1
    }
    min
  }

  def merge(other: CountMin): CountMin = {
    require(other.depth == depth && other.width == width,
      s"incompatible CMS ($depth,$width) vs (${other.depth},${other.width})")
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    _total += other._total
    this
  }

  /** eps such that overestimate <= eps*N with prob 1-delta. */
  def eps: Double = math.E / width
  def delta: Double = math.exp(-depth.toDouble)

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + counts.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(depth).putInt(width).putLong(_total)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }
}

object CountMin {
  def empty(depth: Int = 7, width: Int = 4096): CountMin =
    new CountMin(depth, width, new Array[Long](depth * width), 0L)

  /** Size for a target (eps, delta) guarantee. */
  def forGuarantee(eps: Double, delta: Double): CountMin = {
    val w = math.ceil(math.E / eps).toInt
    val d = math.ceil(math.log(1.0 / delta)).toInt
    empty(math.max(1, d), math.max(1, w))
  }

  def fromBytes(bytes: Array[Byte]): CountMin = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val d = bb.getInt(); val w = bb.getInt(); val total = bb.getLong()
    val counts = new Array[Long](d * w)
    var i = 0
    while (i < counts.length) { counts(i) = bb.getLong(); i += 1 }
    new CountMin(d, w, counts, total)
  }
}
