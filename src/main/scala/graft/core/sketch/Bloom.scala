package graft.core.sketch

import graft.core.Hashing

/**
 * Partitioned Bloom filter — one bin's membership sketch.
 *
 * Capability analog of one technical bin of the reference's Interleaved
 * Bloom Filter (ganon: src/ganon-build/GanonBuild.cpp:655-698 insert path;
 * sizing math :290-412). Mergeable: merge == bitwise OR (associative,
 * commutative, idempotent) — the property the two-level Spark aggregation
 * relies on.
 *
 * Serialized layout (little-endian): [numBits: Long][numHashes: Int]
 * [nWords: Int][words...: Long].
 */
final class Bloom(val numBits: Long, val numHashes: Int, val words: Array[Long])
    extends HashSketch[Bloom] with Serializable {
  require(numBits > 0 && numHashes > 0)
  require(words.length.toLong == (numBits + 63) / 64)

  // fastrange (unsigned multiply-high) maps hashes to [0, numBits) with no
  // division and no power-of-2 rounding — bins cost exactly their sized bits
  @inline private def pos(h1: Long, h2: Long, i: Int): Long =
    Hashing.fastRange(h1 + i.toLong * h2, numBits)

  def add(hash: Long): Unit = {
    val h1 = Hashing.mix64(hash)
    val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val p = pos(h1, h2, i)
      words((p >>> 6).toInt) |= (1L << (p & 63))
      i += 1
    }
  }

  def addAll(hashes: Array[Long]): Unit = {
    var i = 0
    while (i < hashes.length) { add(hashes(i)); i += 1 }
  }

  def contains(hash: Long): Boolean = {
    val h1 = Hashing.mix64(hash)
    val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val p = pos(h1, h2, i)
      if ((words((p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** How many of `hashes` test positive (the bulk_count role for one bin). */
  def countContained(hashes: Array[Long]): Int = {
    var c = 0; var i = 0
    while (i < hashes.length) { if (contains(hashes(i))) c += 1; i += 1 }
    c
  }

  /** In-place OR-merge; other must share (numBits, numHashes). */
  def merge(other: Bloom): Bloom = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"incompatible bloom params: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def cardinalityBitsSet: Long = {
    var c = 0L; var i = 0
    while (i < words.length) { c += java.lang.Long.bitCount(words(i)); i += 1 }
    c
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + words.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(numBits).putInt(numHashes).putInt(words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }
}

object Bloom {
  private val Ln2 = math.log(2.0)

  def empty(numBits: Long, numHashes: Int): Bloom =
    new Bloom(numBits, numHashes, new Array[Long](((numBits + 63) / 64).toInt))

  def fromBytes(bytes: Array[Byte]): Bloom = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val numBits = bb.getLong(); val numHashes = bb.getInt(); val n = bb.getInt()
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = bb.getLong(); i += 1 }
    new Bloom(numBits, numHashes, words)
  }

  /** Bits needed for n elements at false-positive rate p, rounded up only
    * to the 64-bit word (probing uses fastrange, not a pow2 mask, so no
    * 2x rounding tax — the size IS the information-theoretic size). */
  def optimalBits(n: Long, p: Double): Long = {
    require(p > 0 && p < 1)
    val m = math.ceil(-n.toDouble * math.log(p) / (Ln2 * Ln2)).toLong
    ((math.max(64L, m) + 63) / 64) * 64
  }

  /** Optimal hash-function count for m bits / n elements. */
  def optimalHashes(m: Long, n: Long): Int =
    math.max(1, math.round(m.toDouble / math.max(1L, n) * Ln2).toInt)

  /** Expected FPR of an (m, h, n) filter — ganon's false_positive
    * (GanonBuild.cpp:290-310 equivalent closed form). */
  def falsePositiveRate(m: Long, h: Int, n: Long): Double =
    math.pow(1.0 - math.exp(-h.toDouble * n / m.toDouble), h.toDouble)

  /** FP after multiple-testing across `split` technical bins of one target
    * (ganon's split-bin correction, GanonBuild.cpp:350-362 semantics). */
  def splitCorrectedFpr(fp: Double, split: Int): Double =
    1.0 - math.pow(1.0 - fp, split.toDouble)
}
