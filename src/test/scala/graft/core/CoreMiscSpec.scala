package graft.core

import org.scalatest.funsuite.AnyFunSuite

class CoreMiscSpec extends AnyFunSuite {

  // ---------------- LCA ----------------

  val parents = Map(
    "scala" -> "root", "java" -> "root", "py" -> "root",
    "repo-a" -> "scala", "repo-b" -> "scala", "repo-c" -> "java",
    "f1" -> "repo-a", "f2" -> "repo-a", "f3" -> "repo-b")
  val lca = Lca.build(parents, "root")

  test("lca: basic pairs") {
    assert(lca.lca("f1", "f2") == "repo-a")
    assert(lca.lca("f1", "f3") == "scala")
    assert(lca.lca("f1", "repo-c") == "root")
    assert(lca.lca("repo-a", "scala") == "scala")
    assert(lca.lca("f1", "f1") == "f1")
    // unknown nodes patch to ROOT (GanonClassify.cpp:1343-1362 semantics),
    // never to an arbitrary leaf
    assert(lca.lca("nope-1", "nope-2") == "root")
    assert(lca.lca("f1", "nope-1") == "root")
    assert(lca.lcaAll(Seq("f1", "nope-x")) == "root")
  }

  test("lca: fold over lists (LCA.hpp:165-174 analog)") {
    assert(lca.lcaAll(Seq("f1", "f2", "f3")) == "scala")
    assert(lca.lcaAll(Seq("f1")) == "f1")
    assert(lca.lcaAll(Seq()) == "root")
    assert(lca.lcaAll(Seq("f1", "repo-c", "f3")) == "root")
    // singleton unknown resolves to root too (reduce never runs there)
    assert(lca.lcaAll(Seq("nope-only")) == "root")
  }

  test("lca: unknown nodes resolve towards root (missing-target patch)") {
    assert(lca.lca("nope-1", "nope-2") != null)
  }

  // ---------------- MathFns ----------------

  test("lgamma matches known values") {
    assert(math.abs(MathFns.lgamma(1.0)) < 1e-10)
    assert(math.abs(MathFns.lgamma(2.0)) < 1e-10)
    assert(math.abs(MathFns.lgamma(5.0) - math.log(24.0)) < 1e-10)
    assert(math.abs(MathFns.lgamma(10.5) - 13.94062521940327) < 1e-9)
  }

  test("binomTailUpper: exact small cases") {
    // X ~ Bin(3, 0.5): P(X>=2) = 0.5
    assert(math.abs(MathFns.binomTailUpper(3, 2, 0.5) - 0.5) < 1e-12)
    // P(X>=0) = 1, P(X>=n+1) = 0
    assert(MathFns.binomTailUpper(10, 0, 0.3) == 1.0)
    assert(MathFns.binomTailUpper(10, 11, 0.3) == 0.0)
    // X ~ Bin(10, 0.1): P(X>=1) = 1 - 0.9^10
    assert(math.abs(MathFns.binomTailUpper(10, 1, 0.1) -
      (1 - math.pow(0.9, 10))) < 1e-12)
  }

  test("binomTailUpper: underflowed tail exits early (confident-match path)") {
    // n=65535, p=1e-9, k far past the mode: every term underflows to 0 —
    // must return 0 after O(1) terms, not scan 49k lgamma triples
    val t0 = System.nanoTime()
    val q = MathFns.binomTailUpper(65535L, 16385L, 1e-9)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(q == 0.0)
    assert(ms < 50, s"took $ms ms — the underflow early-exit did not fire")
  }

  test("binomTailUpper: fpr-query regime (large n, small p, large c) is tiny") {
    val q = MathFns.binomTailUpper(1000, 500, 0.01)
    assert(q < 1e-100)
  }

  test("binomTailUpper and lgamma: bit-identical to the reference formula " +
      "over an (n, k, p) grid") {
    // 65536 and 100000 are past the log-factorial table's last entry
    val ns = Seq(1L, 2L, 3L, 5L, 10L, 31L, 64L, 100L, 151L, 500L, 1000L,
      4096L, 65535L, 65536L, 100000L)
    val ps = Seq(1e-9, 1e-6, 1e-3, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9,
      0.99)
    var cases = 0
    for (n <- ns; p <- ps;
         k <- Seq(0L, 1L, 2L, n / 4, math.floor((n + 1) * p).toLong, n / 2,
           n - 1, n, n + 1).distinct) {
      val want = ReferenceTail.binomTailUpper(n, k, p)
      val got = MathFns.binomTailUpper(n, k, p)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"binomTailUpper($n, $k, $p) = $got, reference $want")
      // the entry point the fpr-query calls, with per-target logs
      val pre = MathFns.binomTailUpper(n, k, p, math.log(p), math.log1p(-p))
      assert(java.lang.Double.doubleToRawLongBits(pre) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"binomTailUpper($n, $k, $p, logs) = $pre, reference $want")
      cases += 1
    }
    assert(cases > 500)
    for (x <- Seq(1e-3, 0.25, 0.5, 1.0, 1.5, 2.0, 7.25, 10.5, 100.0, 65536.0,
        65537.0, 100001.0))
      assert(java.lang.Double.doubleToRawLongBits(MathFns.lgamma(x)) ==
        java.lang.Double.doubleToRawLongBits(ReferenceTail.lgamma(x)), s"x=$x")
  }

  // ---------------- MinHash / SimHash ----------------

  test("minhash: identical sets give identical signatures; jaccard estimate sane") {
    val seeds = MinHash.permSeeds(128)
    val a = Hashing.sortedDistinct(Array.tabulate(500)(i => Hashing.hashLong(i.toLong, 1)))
    val b = Hashing.sortedDistinct(Array.tabulate(500)(i => Hashing.hashLong(i.toLong, 1)))
    assert(MinHash.signature(a, seeds).sameElements(MinHash.signature(b, seeds)))
    // half-overlapping sets -> J = 1/3; estimate within 0.15
    val c = Hashing.sortedDistinct(Array.tabulate(1000)(i => Hashing.hashLong(i.toLong, 1)))
    val d = Hashing.sortedDistinct(
      Array.tabulate(1000)(i => Hashing.hashLong((i + 500).toLong, 1)))
    val est = MinHash.estimateJaccard(
      MinHash.signature(c, seeds), MinHash.signature(d, seeds))
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"est=$est")
  }

  test("minhash OPH: identical sets identical sigs; estimator tracks J") {
    val a = Hashing.sortedDistinct(Array.tabulate(500)(i => Hashing.hashLong(i.toLong, 1)))
    val b = Hashing.sortedDistinct(Array.tabulate(500)(i => Hashing.hashLong(i.toLong, 1)))
    assert(MinHash.signatureOPH(a, 128).sameElements(MinHash.signatureOPH(b, 128)))
    // half-overlapping sets -> J = 1/3; OPH estimate within 0.15
    val c = Hashing.sortedDistinct(Array.tabulate(1000)(i => Hashing.hashLong(i.toLong, 1)))
    val d = Hashing.sortedDistinct(
      Array.tabulate(1000)(i => Hashing.hashLong((i + 500).toLong, 1)))
    val est = MinHash.estimateJaccard(
      MinHash.signatureOPH(c, 128), MinHash.signatureOPH(d, 128))
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"est=$est")
    // all buckets fill after densification even for tiny sets
    assert(!MinHash.signatureOPH(a.take(3), 128).contains(Long.MaxValue))
  }

  test("minhash: exactJaccard over sorted-distinct arrays") {
    val a = Hashing.sortedDistinct(Array(1L, 2L, 3L, 4L))
    val b = Hashing.sortedDistinct(Array(3L, 4L, 5L, 6L))
    assert(math.abs(MinHash.exactJaccard(a, b) - 2.0 / 6.0) < 1e-12)
    assert(MinHash.exactJaccard(a, a) == 1.0)
    assert(MinHash.exactJaccard(Array.emptyLongArray, Array.emptyLongArray) == 1.0)
  }

  test("minhash: band keys equal iff band slices equal") {
    val sig = Array.tabulate(128)(_.toLong)
    val keys = MinHash.bandKeys(sig, 32)
    assert(keys.length == 32 && keys.distinct.length == 32)
    val sig2 = sig.clone(); sig2(0) = 999L
    val keys2 = MinHash.bandKeys(sig2, 32)
    assert(keys2(0) != keys(0) && keys2.drop(1).sameElements(keys.drop(1)))
  }

  test("simhash: identical inputs equal; near inputs near in hamming") {
    val a = Array.tabulate(200)(i => Hashing.hashLong(i.toLong, 3))
    val b = a.clone()
    assert(SimHash.simhash(a) == SimHash.simhash(b))
    val c = a.updated(0, Hashing.hashLong(9999L, 3))
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(c)) <= 16)
    val rnd = Array.tabulate(200)(i => Hashing.hashLong(i.toLong, 777))
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(rnd)) > 10)
  }
}

/** The binomial tail as first written, kept as the independent reference
  * for `MathFns`: a fresh Lanczos array per lgamma call, three lgamma
  * calls per term and both logs of p per call. */
object ReferenceTail {
  def lgamma(x0: Double): Double = {
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x0 < 0.5) math.log(math.Pi / math.sin(math.Pi * x0)) - lgamma(1.0 - x0)
    else {
      val x = x0 - 1.0
      var a = c(0)
      val t = x + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (x + i); i += 1 }
      0.5 * math.log(2.0 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }
  def logChoose(n: Long, k: Long): Double =
    if (k < 0 || k > n) Double.NegativeInfinity
    else lgamma(n + 1.0) - lgamma(k + 1.0) - lgamma(n - k + 1.0)
  def binomTailUpper(n: Long, k: Long, p: Double): Double = {
    if (k <= 0) return 1.0
    if (k > n) return 0.0
    if (p <= 0.0) return 0.0
    if (p >= 1.0) return 1.0
    val lp = math.log(p)
    val lq = math.log1p(-p)
    val mode = math.floor((n + 1) * p).toLong
    var acc = 0.0
    var i = k
    var consecTiny = 0
    while (i <= n && consecTiny < 3) {
      val lt = logChoose(n, i) + i * lp + (n - i) * lq
      val t = math.exp(lt)
      if (t == 0.0 && i >= mode) return math.min(1.0, acc)
      acc += t
      if (acc > 0 && t < acc * 1e-16) consecTiny += 1 else consecTiny = 0
      i += 1
    }
    math.min(1.0, acc)
  }
}
