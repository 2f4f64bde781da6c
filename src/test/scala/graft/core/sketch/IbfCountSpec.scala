package graft.core.sketch

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing

/** The shared per-bin counter of `bulkCount1`, `countAtRowsMatrix1` and
  * the multi-word `bulkCount`, against a per-bit reference: every probed
  * hash's AND word, one increment per set bin below `numBins`. */
class IbfCountSpec extends AnyFunSuite {

  private val Cut = InterleavedBloom.SparseBits

  /** AND-word popcounts on both sides of the sparse/dense choice. */
  private val Pops =
    Seq(0, 1, 2, 3, Cut - 1, Cut, Cut + 1, 37, 64).filter(_ >= 0).distinct

  /** A word with exactly `pop` random bits set. */
  private def wordWith(pop: Int, rnd: scala.util.Random): Long =
    rnd.shuffle((0 until 64).toList).take(pop)
      .foldLeft(0L)((w, b) => w | (1L << b))

  /** A filter whose row words carry the popcounts of [[Pops]] in turn
    * (each word of a row its own), bits above `numBins` included — with
    * one hash function a probed hash's AND word IS its row word. */
  private def filter(numBins: Int, rows: Int, numHashes: Int,
      seed: Int): InterleavedBloom = {
    val rnd = new scala.util.Random(seed)
    val f = InterleavedBloom.empty(numBins, rows, numHashes)
    for (i <- f.words.indices) f.words(i) = wordWith(Pops(i % Pops.length), rnd)
    f
  }

  private def hashes(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n)(i => Hashing.hashLong(i.toLong, seed))

  /** Per-bit reference: counts(off + bin) += 1 per hash whose AND of its
    * probe rows has `bin` set, for bins below numBins. */
  private def reference(f: InterleavedBloom, hs: Array[Long],
      counts: Array[Int], off: Int): Unit = {
    val rows = new Array[Int](hs.length * f.numHashes)
    InterleavedBloom.probeRowsAll(hs, f.bitsPerBin, f.numHashes, rows)
    for (hi <- hs.indices; w <- 0 until f.wordsPerRow) {
      var acc = -1L
      for (i <- 0 until f.numHashes)
        acc &= f.words(rows(hi * f.numHashes + i) * f.wordsPerRow + w)
      for (b <- 0 until 64 if (acc >>> b & 1L) != 0L && w * 64 + b < f.numBins)
        counts(off + w * 64 + b) += 1
    }
  }

  /** Run `count` and the reference on the same pre-filled counts (every
    * loop accumulates), compare. */
  private def check(f: InterleavedBloom, hs: Array[Long], off: Int,
      what: String)(count: Array[Int] => Unit): Unit = {
    val rnd = new scala.util.Random(hs.length)
    val pre = Array.fill(off + f.binsRounded + 3)(rnd.nextInt(1000))
    val want = pre.clone(); reference(f, hs, want, off)
    val got = pre.clone(); count(got)
    assert(got.sameElements(want), s"$what: numBins=${f.numBins} " +
      s"hashes=${hs.length} off=$off: first diff at " +
      got.indices.find(i => got(i) != want(i)).getOrElse(-1))
  }

  private def allLoops(f: InterleavedBloom, hs: Array[Long], off: Int): Unit = {
    if (f.wordsPerRow == 1) {
      check(f, hs, off, "bulkCount1")(f.bulkCount1(hs, _, off))
      val rows = new Array[Int](hs.length * f.numHashes)
      InterleavedBloom.probeRowsAll(hs, f.bitsPerBin, f.numHashes, rows)
      check(f, hs, off, "countAtRowsMatrix1")(
        f.countAtRowsMatrix1(rows, hs.length, _, off))
    }
    if (off == 0) check(f, hs, 0, "bulkCount")(f.bulkCount(hs, _))
  }

  test("every AND-word popcount, one and two hash functions, " +
      "numBins below 64, nonzero off") {
    for (numBins <- Seq(64, 63, 37, 1); h <- Seq(1, 2); off <- Seq(0, 5, 64)) {
      val f = filter(numBins, 97, h, numBins * 10 + h)
      allLoops(f, hashes(2000, numBins + h), off)
    }
  }

  test("multi-word rows: every word its own popcount, last word cut at numBins") {
    for (numBins <- Seq(128, 130, 191); h <- Seq(1, 3)) {
      val f = filter(numBins, 101, h, numBins + h)
      allLoops(f, hashes(3000, numBins * h), 0)
    }
  }

  test("plane-count boundaries: 1, 255, 256 and 65,535 hashes on all-dense words") {
    for (n <- Seq(1, 255, 256, 65535); numBins <- Seq(64, 63, 130)) {
      // every row word full: each bin counts every hash, the largest
      // count the planes must hold
      val f = InterleavedBloom.empty(numBins, 61, 2)
      java.util.Arrays.fill(f.words, -1L)
      val hs = hashes(n, n)
      allLoops(f, hs, if (numBins == 130) 0 else 3)
      val c = f.bulkCount(hs)
      assert(c.forall(_ == n), s"numBins=$numBins n=$n: ${c.distinct.mkString(",")}")
    }
  }

  test("plane-count boundaries with sparse and dense words mixed") {
    for (n <- Seq(1, 255, 256, 65535)) {
      val f = filter(64, 13, 1, n)
      allLoops(f, hashes(n, 7L * n), 0)
    }
  }
}
