package graft.core

/**
 * Content shingling: fixed-k character k-mers hashed in a tight per-row
 * inner loop, with optional (w,k)-minimizer selection.
 *
 * Capability analog of the reference's minimizer hashing
 * (ganon: src/ganon-build/GanonBuild.cpp:198-200, seed adjustment
 * src/utils/include/utils/adjust_seed.hpp:33-37) re-designed for character
 * content: a Rabin-Karp rolling polynomial hash over UTF-16 code units
 * (O(1) slide), finalized with a splitmix64 mixer XOR'd with the seed.
 * Deterministic pure function of (content, k, w, seed).
 */
object Hashing {

  /** Same default seed constant family as the reference (adjust_seed.hpp:35). */
  final val DefaultSeed: Long = 0x8F3F73B5CF1C9ADEL

  private final val Prime: Long = 0x100000001B3L // FNV-1a 64-bit prime as poly base

  /** splitmix64 finalizer — full-avalanche 64-bit mixer (public domain constant set). */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    z
  }

  /** Hash of a single long value (for tokens, keys, salting). */
  @inline def hashLong(x: Long, seed: Long = DefaultSeed): Long = mix64(x ^ seed)

  /** Map a uniform 64-bit value to [0, m) without division (Lemire's
    * fastrange: unsigned-multiply-high). Division-free like a pow2 mask but
    * for ARBITRARY m — lets Bloom bins be sized exactly instead of rounded
    * up to the next power of two (up to 2x memory). m must be positive. */
  @inline def fastRange(x: Long, m: Long): Long =
    Math.multiplyHigh(x, m) + ((x >> 63) & m) // = unsignedMultiplyHigh, m >= 0

  /** Hash of a string (token) — polynomial over UTF-8 BYTES + mix, so it
    * agrees with the byte-based Catalyst expressions (TokenHashesExpr) on
    * every input, not just ASCII. */
  def hashString(s: String, seed: Long = DefaultSeed): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = seed
    var i = 0
    while (i < b.length) { h = h * Prime + (b(i) & 0xFF); i += 1 }
    mix64(h ^ seed)
  }

  /**
   * All k-mer hashes over UTF-8 BYTES (one per byte position, n-k+1 total).
   * Rolling: h(i+1) = (h(i) - c_i * P^(k-1)) * P + c_{i+k}; finalized by
   * mix64^seed. Byte-based so the Catalyst expression can hash UTF8String
   * content without a per-row String decode; identical to char-based
   * hashing for ASCII content.
   */
  def kmerHashesBytes(content: Array[Byte], k: Int,
      seed: Long = DefaultSeed): Array[Long] = {
    val n = content.length
    if (n < k || k <= 0) return Array.emptyLongArray
    val out = new Array[Long](n - k + 1)
    // P^(k-1) mod 2^64
    var pk1 = 1L
    var j = 1
    while (j < k) { pk1 *= Prime; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = h * Prime + (content(i) & 0xFF); i += 1 }
    out(0) = mix64(h ^ seed)
    i = k
    while (i < n) {
      h = (h - (content(i - k) & 0xFF) * pk1) * Prime + (content(i) & 0xFF)
      out(i - k + 1) = mix64(h ^ seed)
      i += 1
    }
    out
  }

  def kmerHashes(content: String, k: Int, seed: Long = DefaultSeed): Array[Long] =
    kmerHashesBytes(content.getBytes(java.nio.charset.StandardCharsets.UTF_8), k, seed)

  /**
   * (w,k)-minimizers: minimum hash in every window of `w` consecutive
   * characters (= w-k+1 consecutive k-mers), deduplicated & sorted.
   * w == k degenerates to "all distinct k-mer hashes".
   * Sliding minimum that rescans the window only when its minimum expires
   * (see [[minimizersBytes]]), then a linear-time [[sortedDistinct]].
   *
   * Minimum is taken in UNSIGNED 64-bit order (hashes are uniform; the
   * reference's uint64_t comparison is unsigned — GanonBuild.cpp:41).
   */
  def minimizers(content: String, k: Int, w: Int, seed: Long = DefaultSeed): Array[Long] =
    minimizersBytes(content.getBytes(java.nio.charset.StandardCharsets.UTF_8), k, w, seed)

  /**
   * Fused single pass: rolling k-mer hash + sliding window minimum +
   * consecutive-repeat suppression, with no intermediate k-mer array — the
   * per-row hot loop the engine's throughput rides on. The window minimum
   * is kept as a running minimum and recomputed by a rescan of the
   * window only when it expires: ~1 extra compare per k-mer for uniform
   * hashes, O(w) per k-mer at worst (a strictly rising hash sequence).
   */
  def minimizersBytes(content: Array[Byte], k: Int, w: Int,
      seed: Long = DefaultSeed): Array[Long] = {
    require(w >= k, s"window w=$w must be >= k=$k")
    val n = content.length
    if (n < k || k <= 0) return Array.emptyLongArray
    val nKmers = n - k + 1
    val kmersPerWin = w - k + 1
    // no windowing: all distinct k-mer hashes
    if (kmersPerWin <= 1 || nKmers == 1)
      return sortedDistinct(kmerHashesBytes(content, k, seed))

    // P^(k-1) mod 2^64
    var pk1 = 1L
    var j = 1
    while (j < k) { pk1 *= Prime; j += 1 }

    // sliding minimum via recompute-on-expiry: track the current window
    // minimum (newest wins ties); only when it falls out of the window,
    // rescan the ring of the last kmersPerWin hashes (amortized ~1 extra
    // compare/k-mer — beats a deque's pop loop and double writes)
    val capOut = math.max(1, nKmers - kmersPerWin + 1)
    val out = new Array[Long](math.min(nKmers, capOut + 1))
    var nOut = 0
    var lastIdx = -1
    var cap = java.lang.Integer.highestOneBit(kmersPerWin)
    if (cap < kmersPerWin) cap <<= 1
    val mask = cap - 1
    val ring = new Array[Long](cap) // last kmersPerWin k-mer hashes
    var minIdx = -1
    var minU = Long.MaxValue // unsigned-flipped current min

    var h = 0L
    var i = 0
    while (i < k) { h = h * Prime + (content(i) & 0xFF); i += 1 }
    var kh = mix64(h ^ seed)
    var ki = 0 // current k-mer index
    while (true) {
      ring(ki & mask) = kh
      val khu = kh + Long.MinValue
      if (khu <= minU) { minU = khu; minIdx = ki } // newest wins ties
      else if (minIdx <= ki - kmersPerWin) {
        // expired: rescan the window, newest-minimal wins
        var j = ki - kmersPerWin + 1
        minU = Long.MaxValue
        while (j <= ki) {
          val v = ring(j & mask) + Long.MinValue
          if (v <= minU) { minU = v; minIdx = j }
          j += 1
        }
      }
      if (ki >= kmersPerWin - 1 && minIdx != lastIdx) {
        out(nOut) = minU - Long.MinValue; nOut += 1; lastIdx = minIdx
      }
      ki += 1
      if (ki >= nKmers) {
        // content shorter than one full window: emit the single min
        if (nOut == 0) { out(0) = minU - Long.MinValue; nOut = 1 }
        return sortedDistinct(out, nOut)
      }
      val p = ki + k - 1
      h = (h - (content(ki - 1) & 0xFF) * pk1) * Prime + (content(p) & 0xFF)
      kh = mix64(h ^ seed)
    }
    Array.emptyLongArray // unreachable
  }

  /**
   * The shingle set of a row: distinct (w,k)-minimizer hashes, sorted
   * unsigned-ascending. Dedup-before-count discipline of the reference
   * (GanonBuild.cpp:225-239): hashes count per-row DISTINCT.
   */
  def shingles(content: String, k: Int, w: Int, seed: Long = DefaultSeed): Array[Long] =
    minimizers(content, k, w, seed)

  def shinglesBytes(content: Array[Byte], k: Int, w: Int,
      seed: Long = DefaultSeed): Array[Long] =
    minimizersBytes(content, k, w, seed)

  /** Distinct whitespace-token hashes of a text. */
  def tokenHashes(text: String, seed: Long = DefaultSeed): Array[Long] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = hashString(toks(i), seed); i += 1 }
    sortedDistinct(out)
  }

  /** Arrays (and buckets) up to this size sort by plain insertion. */
  private final val InsertionMax = 32

  /** Sort (unsigned order) + dedupe; returns possibly-shorter array. */
  def sortedDistinct(a: Array[Long]): Array[Long] = sortedDistinct(a, a.length)

  /**
   * The distinct values of `a(0 until n)` in unsigned-ascending order, as
   * an exact-length array (`a` itself when it already is one). `a`'s
   * contents are unspecified afterwards.
   *
   * Linear-time for the engine's inputs: one counting pass scatters the
   * values into 2^b buckets by their top significant bits, then each
   * bucket is insertion-sorted. The shift comes from the OR of the
   * inputs, not from bit 63, because minimizers are window minima and
   * skew toward zero. Bucket order is unsigned order, and every value in
   * one bucket shares the sign bit, so an oversize bucket (heavy
   * duplication, a dense cluster beside an outlier) can take a signed
   * `Arrays.sort` and worst-case input stays O(n log n).
   */
  def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    if (n <= InsertionMax) {
      insertionSortU(a, 0, n)
      return distinctPrefix(a, n)
    }
    var or = 0L
    var i = 0
    while (i < n) { or |= a(i); i += 1 }
    val b = math.min(20, 31 - Integer.numberOfLeadingZeros(n))
    val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(or) - b)
    val end = new Array[Int](1 << b) // bucket sizes, then bucket ends
    i = 0
    while (i < n) { end((a(i) >>> shift).toInt) += 1; i += 1 }
    var acc = 0
    var j = 0
    while (j < end.length) { val c = end(j); end(j) = acc; acc += c; j += 1 }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val v = a(i)
      val bk = (v >>> shift).toInt
      out(end(bk)) = v; end(bk) += 1
      i += 1
    }
    var from = 0
    j = 0
    while (j < end.length) {
      val to = end(j)
      if (to - from > InsertionMax) java.util.Arrays.sort(out, from, to)
      else if (to - from > 1) insertionSortU(out, from, to)
      from = to
      j += 1
    }
    distinctPrefix(out, n)
  }

  /** Unsigned insertion sort of `a(from until to)`. */
  private def insertionSortU(a: Array[Long], from: Int, to: Int): Unit = {
    var i = from + 1
    while (i < to) {
      val v = a(i)
      val vu = v + Long.MinValue
      var j = i - 1
      while (j >= from && a(j) + Long.MinValue > vu) { a(j + 1) = a(j); j -= 1 }
      a(j + 1) = v
      i += 1
    }
  }

  /** Dedupe the sorted `a(0 until n)` in place; exact-length result. */
  private def distinctPrefix(a: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    var m = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    if (m == a.length) a else java.util.Arrays.copyOf(a, m)
  }
}
