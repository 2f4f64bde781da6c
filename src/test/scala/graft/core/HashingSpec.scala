package graft.core

import org.scalatest.funsuite.AnyFunSuite

class HashingSpec extends AnyFunSuite {

  test("kmerHashes: length n-k+1; deterministic") {
    val s = "abcdefghij"
    val h1 = Hashing.kmerHashes(s, 4)
    val h2 = Hashing.kmerHashes(s, 4)
    assert(h1.length == 7)
    assert(h1.sameElements(h2))
  }

  test("kmerHashes: rolling equals direct recompute") {
    val s = "val x = spark.read.parquet(path).groupBy(col).agg(sum)"
    val k = 7
    val rolled = Hashing.kmerHashes(s, k)
    val direct = (0 to s.length - k).map { i =>
      Hashing.kmerHashes(s.substring(i, i + k), k)(0)
    }
    assert(rolled.toSeq == direct)
  }

  test("kmerHashes: empty below k") {
    assert(Hashing.kmerHashes("ab", 3).isEmpty)
  }

  test("shingles: w==k gives all distinct kmer hashes") {
    val s = "aaaaabbbbb"
    val sh = Hashing.shingles(s, 3, 3)
    val expect = HashingSpec.refSortedDistinct(Hashing.kmerHashes(s, 3))
    assert(sh.toSeq == expect)
  }

  test("shingles: repeated single token collapses (hand-countable golden)") {
    // analog of the reference's hand-computable k-mer counts
    // (tests/ganon-classify/GanonClassify.test.cpp:253-269)
    val s = "xyxyxyxyxyxyxyxy" // period 2 => only 2 distinct k-mers for any k
    val sh = Hashing.shingles(s, 4, 4)
    assert(sh.length == 2)
  }

  test("minimizers: subset of kmer hashes, window minimum") {
    val s = "the quick brown fox jumps over the lazy dog"
    val ks = Hashing.kmerHashes(s, 5).toSet
    val mins = Hashing.minimizers(s, 5, 12)
    assert(mins.nonEmpty && mins.length < ks.size)
    assert(mins.forall(ks.contains))
  }

  test("minimizers: deterministic across calls and seeds differ") {
    val s = "some content string for hashing"
    assert(Hashing.minimizers(s, 5, 9).toSeq == Hashing.minimizers(s, 5, 9).toSeq)
    assert(Hashing.minimizers(s, 5, 9, seed = 1L).toSeq !=
      Hashing.minimizers(s, 5, 9, seed = 2L).toSeq)
  }

  test("minimizers: content shorter than window but >= k yields 1 minimizer") {
    val s = "abcdef"
    val m = Hashing.minimizers(s, 3, 10)
    assert(m.length == 1)
  }

  test("sortedDistinct: unsigned order, dedup (seeded cases)") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val xs = Array.fill(rnd.nextInt(50))(rnd.nextLong())
      val arr = Hashing.sortedDistinct(xs.clone())
      assert(arr.toSet == xs.toSet)
      val unsigned = arr.map(_ ^ Long.MinValue)
      assert(unsigned.toSeq == unsigned.sorted.toSeq)
    }
  }

  test("sortedDistinct: adversarial inputs against a boxed reference") {
    import HashingSpec.refSortedDistinct
    val rnd = new scala.util.Random(7)
    def check(what: String, xs: Array[Long]): Unit = {
      val want = refSortedDistinct(xs)
      val got = Hashing.sortedDistinct(xs.clone())
      assert(got.length == want.length && got.toSeq == want,
        s"$what: n=${xs.length}, ${got.length} vs ${want.length} distinct")
      // the (buffer, length) form reads only the prefix
      val padded = xs ++ Array.fill(5)(rnd.nextLong())
      assert(Hashing.sortedDistinct(padded, xs.length).toSeq == want,
        s"$what: prefix form, n=${xs.length}")
    }
    val sizes = Seq(0, 1, 2, 3, 31, 32, 33, 34, 63, 64, 65, 100, 144, 1000,
      4095, 4096, 4097, 65536, 200000)
    for (n <- sizes) {
      check("uniform", Array.fill(n)(rnd.nextLong()))
      check("all equal", Array.fill(n)(0x1234L))
      check("all equal, sign bit", Array.fill(n)(-5L))
      // one outlier sets the OR's top bit: the cluster shares one bucket
      val cluster = Array.fill(n)(1000L + rnd.nextInt(64))
      if (n > 0) cluster(rnd.nextInt(n)) = Long.MaxValue - 3
      check("cluster + outlier", cluster)
      if (n > 0) cluster(rnd.nextInt(n)) = Long.MinValue + 3
      check("cluster + sign-bit outlier", cluster)
      check("straddling the sign bit",
        Array.fill(n)(Long.MinValue + rnd.nextInt(1000) - 500))
      check("small integers", Array.fill(n)(rnd.nextInt(50).toLong))
      check("small integers and zero", Array.fill(n)(rnd.nextInt(2).toLong))
      // minimum of 13 uniform hashes, as a (31,19)-minimizer is
      check("window minima", Array.fill(n)(
        Array.fill(13)(rnd.nextLong()).minBy(_ ^ Long.MinValue)))
      val pool = Array.fill(math.max(1, n / 50))(rnd.nextLong())
      check("heavy duplication", Array.fill(n)(pool(rnd.nextInt(pool.length))))
      check("descending", Array.tabulate(n)(i => (n - i).toLong << 40))
      check("every bit pattern near the top",
        Array.fill(n)(rnd.nextLong() | 0x7FFFFFFFFFFFF000L))
    }
  }

  test("minimizers == brute-force window minimum (randomized equivalence)") {
    def brute(content: String, k: Int, w: Int): Array[Long] = {
      val hs = Hashing.kmerHashes(content, k)
      if (hs.isEmpty) return hs
      val kpw = w - k + 1
      if (kpw <= 1 || hs.length == 1)
        return HashingSpec.refSortedDistinct(hs).toArray
      val nWin = hs.length - kpw + 1
      val mins =
        if (nWin <= 0) Array(hs.minBy(_ ^ Long.MinValue))
        else Array.tabulate(nWin) { s =>
          hs.slice(s, s + kpw).minBy(_ ^ Long.MinValue)
        }
      HashingSpec.refSortedDistinct(mins).toArray
    }
    val rnd = new scala.util.Random(99)
    val alphabet = "abcdefg "
    (0 until 200).foreach { _ =>
      val len = 1 + rnd.nextInt(200)
      val s = Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val k = 2 + rnd.nextInt(6)
      val w = k + rnd.nextInt(20)
      val got = Hashing.minimizers(s, k, w)
      val want = brute(s, k, w)
      assert(got.toSeq == want.toSeq, s"len=$len k=$k w=$w s='$s'")
    }
  }

  test("shingle substring containment: shared substring => shared shingles") {
    val common = "public static void main(String[] args) { run(); }"
    val a = "AAA " + common + " BBB"
    val b = "CCC " + common + " DDD"
    val sa = Hashing.shingles(a, 8, 8).toSet
    val sb = Hashing.shingles(b, 8, 8).toSet
    assert((sa intersect sb).size >= common.length - 8)
  }
}

object HashingSpec {
  /** Independent reference for `Hashing.sortedDistinct`: boxed distinct,
    * sorted by the sign-flipped value (= unsigned order). */
  def refSortedDistinct(xs: Array[Long]): Seq[Long] =
    xs.toSeq.distinct.sortBy(_ ^ Long.MinValue)
}
