package graft.core.sketch

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing

/** Closed-form error-bound tests — analog of the reference's
  * validate_filter invariants (tests/ganon-build/GanonBuild.test.cpp:36-51). */
class SketchSpec extends AnyFunSuite {

  private def hashes(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n)(i => Hashing.hashLong(i.toLong, seed))

  // ---------------- Bloom ----------------

  test("bloom: zero false negatives (validate_elements analog)") {
    val hs = hashes(50000, 1)
    val b = Bloom.empty(Bloom.optimalBits(50000, 0.01),
      Bloom.optimalHashes(Bloom.optimalBits(50000, 0.01), 50000))
    b.addAll(hs)
    assert(b.countContained(hs) == hs.length)
  }

  test("bloom: realized FPR <= 2x configured bound") {
    val n = 20000
    val p = 0.01
    val m = Bloom.optimalBits(n, p)
    val b = Bloom.empty(m, Bloom.optimalHashes(m, n))
    b.addAll(hashes(n, 2))
    // mix64 is a bijection, so a disjoint INDEX range guarantees the probe
    // values are genuinely absent (a disjoint seed does not: i^s1 == j^s2
    // has solutions within the index ranges)
    val probes = Array.tabulate(100000)(i => Hashing.hashLong(i + (1L << 40), 2))
    val fp = b.countContained(probes).toDouble / probes.length
    assert(fp <= 2 * p, s"realized fp $fp > 2*$p")
  }

  test("bloom: serde roundtrip") {
    val b = Bloom.empty(1024, 3)
    b.addAll(hashes(100, 3))
    val r = Bloom.fromBytes(b.toBytes)
    assert(r.numBits == b.numBits && r.numHashes == b.numHashes)
    assert(r.words.sameElements(b.words))
  }

  test("bloom: sizing math sanity") {
    assert(Bloom.falsePositiveRate(Bloom.optimalBits(1000, 0.01),
      Bloom.optimalHashes(Bloom.optimalBits(1000, 0.01), 1000), 1000) <= 0.011)
    assert(Bloom.splitCorrectedFpr(0.01, 3) > 0.01)
    assert(math.abs(Bloom.splitCorrectedFpr(0.01, 1) - 0.01) < 1e-12)
  }

  // ---------------- Interleaved Bloom ----------------

  test("ibf: bulkCount matches per-bin blooms; zero FN per bin") {
    val numBins = 10
    val n = 2000
    val m = Bloom.optimalBits(n, 0.01)
    val h = Bloom.optimalHashes(m, n)
    val perBin = (0 until numBins).map { b =>
      val bl = Bloom.empty(m, h); bl.addAll(hashes(n, 100 + b)); (b, bl)
    }
    val ibf = InterleavedBloom.fromBins(perBin, numBins)
    (0 until numBins).foreach { b =>
      val own = hashes(n, 100 + b)
      val counts = ibf.bulkCount(own)
      assert(counts(b) == n, s"bin $b FN: ${counts(b)} != $n")
      // cross-check against the scalar bloom on every bin
      (0 until numBins).foreach { other =>
        assert(counts(other) == perBin(other)._2.countContained(own))
      }
    }
  }

  test("ibf: transpose64 is a transpose (single-bit probes + involution)") {
    val rnd = new scala.util.Random(3)
    // single bit (i, j) lands at (j, i)
    (0 until 50).foreach { _ =>
      val i = rnd.nextInt(64); val j = rnd.nextInt(64)
      val a = new Array[Long](64)
      a(i) = 1L << j
      InterleavedBloom.transpose64(a)
      (0 until 64).foreach { r =>
        assert(a(r) == (if (r == j) 1L << i else 0L), s"bit($i,$j) r=$r")
      }
    }
    // involution on random matrices
    val m0 = Array.fill(64)(rnd.nextLong())
    val m = m0.clone()
    InterleavedBloom.transpose64(m)
    InterleavedBloom.transpose64(m)
    assert(m.sameElements(m0))
  }

  test("ibf: serde roundtrip") {
    val ibf = InterleavedBloom.empty(5, 512, 2)
    hashes(50, 7).foreach(h => ibf.add(h, 3))
    val r = InterleavedBloom.fromBytes(ibf.toBytes)
    assert(r.numBins == 5 && r.bitsPerBin == 512 && r.numHashes == 2)
    assert(r.words.sameElements(ibf.words))
    assert(r.bulkCount(hashes(50, 7))(3) == 50)
  }

  // ---------------- HLL ----------------

  test("hll: relative error within 3 * 1.04/sqrt(m) at several scales") {
    val p = 12
    val bound = 3 * 1.04 / math.sqrt((1 << p).toDouble)
    Seq(100, 5000, 100000, 1000000).foreach { n =>
      val h = Hll.empty(p)
      h.addAll(hashes(n, n))
      val err = math.abs(h.estimate - n).toDouble / n
      assert(err <= bound, s"n=$n est=${h.estimate} err=$err > $bound")
    }
  }

  test("hll: duplicate insertion is idempotent") {
    val h = Hll.empty(12)
    val hs = hashes(1000, 5)
    h.addAll(hs); val e1 = h.estimate
    h.addAll(hs); assert(h.estimate == e1)
  }

  test("hll: serde roundtrip") {
    val h = Hll.empty(10)
    h.addAll(hashes(500, 6))
    val r = Hll.fromBytes(h.toBytes)
    assert(r.p == 10 && r.estimate == h.estimate)
  }

  // ---------------- CountMin ----------------

  test("cms: never underestimates; overestimate <= eps*N") {
    val cm = CountMin.empty(7, 4096)
    val keys = hashes(2000, 8)
    val rnd = new scala.util.Random(1)
    val truth = new java.util.HashMap[Long, Long]()
    keys.foreach { k =>
      val c = 1 + rnd.nextInt(20)
      cm.add(k, c)
      truth.merge(k, c.toLong, (a, b) => a + b)
    }
    val n = cm.total
    keys.foreach { k =>
      val est = cm.estimate(k)
      val t = truth.get(k)
      assert(est >= t, s"cms underestimated $k")
      assert(est <= t + cm.eps * n, s"cms overestimate ${est - t} > ${cm.eps * n}")
    }
  }

  test("cms: serde roundtrip keeps estimates and total") {
    val cm = CountMin.empty(5, 1024)
    hashes(300, 9).foreach(cm.add(_, 2))
    val r = CountMin.fromBytes(cm.toBytes)
    assert(r.total == cm.total)
    hashes(300, 9).foreach(k => assert(r.estimate(k) == cm.estimate(k)))
  }

  test("cms: cells equal the remainder rule at power-of-two and other widths") {
    val rnd = new scala.util.Random(17)
    val keys = Array.fill(100000)(rnd.nextLong()) // about half negative
    assert(keys.count(_ < 0) > 40000)
    val depth = 7
    Seq(256, 2048, 4096, 8192, 2719).foreach { width =>
      val cm = CountMin.empty(depth, width)
      val want = new Array[Long](depth * width)
      keys.foreach { k =>
        cm.add(k)
        var r = 0
        while (r < depth) {
          val h = Hashing.mix64(k ^ (0x9E3779B97F4A7C15L * (r + 1)))
          want(r * width + ((h & Long.MaxValue) % width).toInt) += 1
          r += 1
        }
      }
      assert(cm.counts.sameElements(want), s"width $width: counters differ")
      assert(cm.toBytes.sameElements(
        new CountMin(depth, width, want, keys.length.toLong).toBytes),
        s"width $width: bytes differ")
    }
  }

  // ---------------- KLL ----------------

  test("kll: rank error within bound on uniform and skewed data") {
    val k = 256
    val sk = Kll.empty(k)
    val rnd = new scala.util.Random(7)
    val data = Array.fill(200000)(math.pow(rnd.nextDouble(), 3) * 1e6)
    data.foreach(sk.add)
    val sorted = data.sorted
    val bound = sk.rankErrorBound
    Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      val est = sk.quantile(q)
      // exact rank of the estimate
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val mid = (lo + hi) / 2; if (sorted(mid) <= est) lo = mid + 1 else hi = mid }
      val r = lo.toDouble / sorted.length
      assert(math.abs(r - q) <= bound, s"q=$q est-rank=$r err=${math.abs(r - q)} > $bound")
    }
  }

  test("kll: n tracked exactly; serde roundtrip") {
    val sk = Kll.empty(64)
    (1 to 12345).foreach(i => sk.add(i.toDouble))
    assert(sk.n == 12345L)
    val r = Kll.fromBytes(sk.toBytes)
    assert(r.n == sk.n)
    Seq(0.1, 0.5, 0.9).foreach(q => assert(r.quantile(q) == sk.quantile(q)))
  }
}
