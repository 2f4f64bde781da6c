package graft.core.sketch

import graft.core.Hashing

/**
 * Interleaved Bloom Filter: B bins × m bits-per-bin, bit-interleaved so one
 * hash position occupies one contiguous row of words across ALL bins — a
 * single probe of one hash answers every bin with `numHashes` row-ANDs
 * (the layout idea of the reference's IBF; role of seqan3's
 * interleaved_bloom_filter used at src/ganon-classify/GanonClassify.cpp:51-52,
 * bulk counting at :504-541). Re-designed from scratch for the broadcast-probe
 * side of the Spark classify path.
 *
 * Layout: bins rounded up to a multiple of 64 (`binsRounded`); bit for
 * (hash position p, bin b) lives at word `p*wordsPerRow + b/64`, bit `b%64`.
 *
 * Hash positions use the same double-hashing scheme as [[Bloom]], so a
 * per-bin Bloom with identical (bitsPerBin, numHashes) interleaves losslessly.
 */
final class InterleavedBloom(
    val numBins: Int,
    val bitsPerBin: Long,
    val numHashes: Int,
    val words: Array[Long]) extends Serializable {

  val binsRounded: Int = ((numBins + 63) / 64) * 64
  val wordsPerRow: Int = binsRounded / 64
  require(words.length.toLong == bitsPerBin * wordsPerRow,
    s"words=${words.length} expected ${bitsPerBin * wordsPerRow}")

  // fastrange position — IDENTICAL formula to Bloom.pos, so a per-bin Bloom
  // with the same (bitsPerBin, numHashes) interleaves losslessly
  @inline private def rowOf(h1: Long, h2: Long, i: Int): Int =
    Hashing.fastRange(h1 + i.toLong * h2, bitsPerBin).toInt

  def add(hash: Long, bin: Int): Unit = {
    val h1 = Hashing.mix64(hash)
    val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val row = rowOf(h1, h2, i)
      words(row * wordsPerRow + (bin >>> 6)) |= (1L << (bin & 63))
      i += 1
    }
  }

  /**
   * Bulk count: for each bin, how many of `hashes` are (probabilistically)
   * members. One pass: per hash, AND the numHashes rows into `tmp`, then
   * popcount-accumulate set bins. `counts` must have length >= numBins.
   */
  def bulkCount(hashes: Array[Long], counts: Array[Int]): Unit = {
    if (wordsPerRow == 1) { bulkCount1(hashes, counts, 0); return }
    val tmp = new Array[Long](wordsPerRow)
    var hi = 0
    while (hi < hashes.length) {
      val hash = hashes(hi)
      val h1 = Hashing.mix64(hash)
      val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
      val off0 = rowOf(h1, h2, 0) * wordsPerRow
      var any = 0L
      var w = 0
      while (w < wordsPerRow) { tmp(w) = words(off0 + w); any |= tmp(w); w += 1 }
      var i = 1
      // early exit: once the AND is all-zero nothing can resurrect a bit —
      // most hashes miss most bins, so this usually fires on row 2-3 and
      // cuts the wide-row (>64 bins) probe cost roughly in half
      while (i < numHashes && any != 0L) {
        val off = rowOf(h1, h2, i) * wordsPerRow
        any = 0L
        w = 0
        while (w < wordsPerRow) { tmp(w) &= words(off + w); any |= tmp(w); w += 1 }
        i += 1
      }
      if (any != 0L) {
        w = 0
        while (w < wordsPerRow) {
          var bits = tmp(w)
          while (bits != 0L) {
            val b = java.lang.Long.numberOfTrailingZeros(bits)
            val bin = (w << 6) + b
            if (bin < numBins) counts(bin) += 1
            bits &= bits - 1
          }
          w += 1
        }
      }
      hi += 1
    }
  }

  /** One-word-per-row bulk count over a PRECOMPUTED position matrix
    * (`rowsFlat(hi*numHashes + i)` = row of hash hi's i-th probe, filled
    * once by [[InterleavedBloom.probeRowsAll]]): a two-level probe derives
    * every hash's positions ONCE and re-scans this shard group-major —
    * the layout's shards share (bitsPerBin, numHashes), and one shard's
    * word array (~bitsPerBin/8 bytes) stays cache-resident across the
    * whole hash sweep, unlike a hash-major walk across many shards. Set
    * bins accumulate into counts at `off`. */
  def countAtRowsMatrix1(rowsFlat: Array[Int], nHashes: Int,
      counts: Array[Int], off: Int): Unit = {
    var hi = 0
    while (hi < nHashes) {
      val base = hi * numHashes
      var acc = words(rowsFlat(base))
      var i = 1
      while (i < numHashes && acc != 0L) {
        acc &= words(rowsFlat(base + i)); i += 1
      }
      while (acc != 0L) {
        val b = java.lang.Long.numberOfTrailingZeros(acc)
        if (b < numBins) counts(off + b) += 1
        acc &= acc - 1
      }
      hi += 1
    }
  }

  /** <=64-bin fast path: the row is ONE word — accumulate in a register
    * and stop probing a hash as soon as its AND hits zero (most hashes
    * miss most bins, so the early exit usually fires on probe 2-3). Set
    * bins accumulate into counts at `off`. */
  def bulkCount1(hashes: Array[Long], counts: Array[Int], off: Int): Unit = {
    var hi = 0
    while (hi < hashes.length) {
      val hash = hashes(hi)
      val h1 = Hashing.mix64(hash)
      val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
      var acc = words(rowOf(h1, h2, 0))
      var i = 1
      while (i < numHashes && acc != 0L) {
        acc &= words(rowOf(h1, h2, i))
        i += 1
      }
      while (acc != 0L) {
        val bin = java.lang.Long.numberOfTrailingZeros(acc)
        if (bin < numBins) counts(off + bin) += 1
        acc &= acc - 1
      }
      hi += 1
    }
  }

  def bulkCount(hashes: Array[Long]): Array[Int] = {
    val c = new Array[Int](numBins)
    bulkCount(hashes, c)
    c
  }

  /** Does `hash` test positive in ANY bin of [binLo, binHi)? Union-membership
    * over a target's technical-bin range (split-bin FPR is the probability
    * of this union event, not the sum of per-bin hits). */
  def containsInBins(hash: Long, binLo: Int, binHi: Int): Boolean = {
    val h1 = Hashing.mix64(hash)
    val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
    val wLo = binLo >>> 6
    val wHi = (binHi - 1) >>> 6
    var acc = 0L
    var w = wLo
    while (w <= wHi) {
      // mask bits of this word that fall inside [binLo, binHi)
      val lo = math.max(binLo, w << 6)
      val hi = math.min(binHi, (w + 1) << 6)
      var mask = if (hi - lo == 64) -1L else ((1L << (hi - lo)) - 1L) << (lo & 63)
      var i = 0
      while (i < numHashes && mask != 0L) {
        mask &= words(rowOf(h1, h2, i) * wordsPerRow + w)
        i += 1
      }
      acc |= mask
      w += 1
    }
    acc != 0L
  }

  /** Bins [64g, 64g+64) as their own (<=64-bin) filter: word column g of
    * every row — the inverse of [[InterleavedBloom.stitch]]. */
  def group(g: Int): InterleavedBloom = {
    val out = InterleavedBloom.empty(math.min(64, numBins - g * 64),
      bitsPerBin, numHashes)
    var pos = 0
    while (pos < bitsPerBin) {
      out.words(pos) = words(pos * wordsPerRow + g)
      pos += 1
    }
    out
  }

  /** Zero the bin columns [binLo, binHi) in place — the removal primitive
    * of the stored-db update path (a removed target's bins are masked out;
    * compaction would re-route every surviving hash). */
  def zeroBins(binLo: Int, binHi: Int): Unit = {
    var b = binLo
    while (b < binHi) {
      val w = b >>> 6
      val mask = ~(1L << (b & 63))
      var pos = 0L
      while (pos < bitsPerBin) {
        words((pos * wordsPerRow + w).toInt) &= mask
        pos += 1
      }
      b += 1
    }
  }

  /** OR a per-bin Bloom (same bitsPerBin/numHashes — the lossless
    * interleaving contract) into bin column `bin` in place. */
  def orBin(bin: Int, bloom: Bloom): Unit = {
    require(bloom.numBits == bitsPerBin && bloom.numHashes == numHashes,
      s"bloom (${bloom.numBits},${bloom.numHashes}) != ($bitsPerBin,$numHashes)")
    val w = bin >>> 6
    val bit = 1L << (bin & 63)
    var q = 0
    while (q < bloom.words.length) {
      var bits = bloom.words(q)
      while (bits != 0L) {
        val j = java.lang.Long.numberOfTrailingZeros(bits)
        val pos = (q.toLong << 6) + j
        if (pos < bitsPerBin) words((pos * wordsPerRow + w).toInt) |= bit
        bits &= bits - 1
      }
      q += 1
    }
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(20 + words.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(numBins).putLong(bitsPerBin).putInt(numHashes).putInt(words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  /** Approx broadcast footprint in bytes. */
  def sizeBytes: Long = 20L + words.length.toLong * 8L
}

object InterleavedBloom {

  /** Fill `rowsFlat` (length >= hashes.length*numHashes) with every
    * hash's probe rows for filters of (bitsPerBin, numHashes) —
    * bit-identical to the instance rowOf math, factored out so a layout's
    * shards share ONE position derivation per read. */
  def probeRowsAll(hashes: Array[Long], bitsPerBin: Long, numHashes: Int,
      rowsFlat: Array[Int]): Unit = {
    var hi = 0
    while (hi < hashes.length) {
      val hash = hashes(hi)
      val h1 = Hashing.mix64(hash)
      val h2 = Hashing.mix64(hash ^ 0x9E3779B97F4A7C15L) | 1L
      val base = hi * numHashes
      var i = 0
      while (i < numHashes) {
        rowsFlat(base + i) = Hashing.fastRange(h1 + i.toLong * h2, bitsPerBin).toInt
        i += 1
      }
      hi += 1
    }
  }

  /** One flat filter over `numBins` bins from its 64-bin group filters
    * (all sharing bitsPerBin/numHashes): group g becomes word column g. */
  def stitch(groups: Array[InterleavedBloom], numBins: Int): InterleavedBloom = {
    val out = empty(numBins, groups(0).bitsPerBin, groups(0).numHashes)
    val w = out.wordsPerRow
    var g = 0
    while (g < groups.length) {
      var pos = 0
      while (pos < out.bitsPerBin) {
        out.words(pos * w + g) = groups(g).words(pos)
        pos += 1
      }
      g += 1
    }
    out
  }

  def empty(numBins: Int, bitsPerBin: Long, numHashes: Int): InterleavedBloom = {
    val binsRounded = ((numBins + 63) / 64) * 64
    new InterleavedBloom(numBins, bitsPerBin, numHashes,
      new Array[Long]((bitsPerBin * (binsRounded / 64)).toInt))
  }

  def fromBytes(bytes: Array[Byte]): InterleavedBloom = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val numBins = bb.getInt(); val bitsPerBin = bb.getLong()
    val numHashes = bb.getInt(); val n = bb.getInt()
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = bb.getLong(); i += 1 }
    new InterleavedBloom(numBins, bitsPerBin, numHashes, words)
  }

  /** In-place 64x64 bit-matrix transpose, LSB column convention:
    * a(i) bit j  ->  a(j) bit i. Recursive block-swap (6 rounds of 32 word
    * swaps) — the textbook Hacker's Delight 7-3 scheme with the swap
    * direction flipped for LSB-first columns: block (rows<j, cols>=j)
    * exchanges with (rows>=j, cols<j). */
  def transpose64(a: Array[Long]): Unit = {
    var j = 32
    var m = 0x00000000FFFFFFFFL
    while (j != 0) {
      var k = 0
      while (k < 64) {
        val t = ((a(k) >>> j) ^ a(k + j)) & m
        a(k) ^= (t << j)
        a(k + j) ^= t
        k = (k + j + 1) & ~j
      }
      j >>>= 1
      m ^= m << j
    }
  }

  /**
   * Interleave per-bin Blooms (all sharing bitsPerBin & numHashes) into one
   * probe structure — the assembly step after the distributed
   * groupBy(bin).agg(bloom) pass. Works per 64-bin group x 64-bit block as
   * a 64x64 bit-matrix transpose: O(m * binsRounded / 64 * 6) word ops.
   */
  def fromBins(bins: Seq[(Int, Bloom)], numBins: Int): InterleavedBloom = {
    require(bins.nonEmpty)
    val m = bins.head._2.numBits
    val h = bins.head._2.numHashes
    val ibf = empty(numBins, m, h)
    val byIdx = new Array[Bloom](ibf.binsRounded)
    bins.foreach { case (binIdx, bloom) =>
      require(bloom.numBits == m && bloom.numHashes == h,
        s"bin $binIdx params (${bloom.numBits},${bloom.numHashes}) != ($m,$h)")
      require(binIdx >= 0 && binIdx < numBins)
      byIdx(binIdx) = bloom
    }
    val blockWords = new Array[Long](64)
    val wordsPerBin = ((m + 63) / 64).toInt
    var g = 0
    while (g < ibf.wordsPerRow) { // bin group: bins [64g, 64g+64)
      var q = 0
      while (q < wordsPerBin) { // 64-bit block of positions [64q, 64q+64)
        var b = 0
        var nonZero = false
        while (b < 64) {
          val bl = byIdx(g * 64 + b)
          val wv = if (bl == null) 0L else bl.words(q)
          blockWords(b) = wv
          if (wv != 0L) nonZero = true
          b += 1
        }
        if (nonZero) {
          // blockWords(b) bit j == bin (64g+b) at position (64q+j);
          // after transpose: blockWords(j) bit b == same -> row word
          transpose64(blockWords)
          var j = 0
          val maxJ = math.min(64L, m - 64L * q).toInt
          while (j < maxJ) {
            if (blockWords(j) != 0L)
              ibf.words(((64L * q + j) * ibf.wordsPerRow + g).toInt) = blockWords(j)
            j += 1
          }
        }
        q += 1
      }
      g += 1
    }
    ibf
  }
}
