package graft.core

/**
 * Numeric helpers: log-gamma and the binomial upper-tail used by the
 * fpr-query threshold — same formulation as the reference (ganon
 * src/ganon-classify/GanonClassify.cpp:497-501 computes
 * 1 - sum_{i<=c} C(n,i) p^i (1-p)^(n-i) via lgamma in log space;
 * Solomon & Kingsford 2016).
 */
object MathFns {

  /** Lanczos coefficients (g=7, n=9). */
  private val LanczosC = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  /** Lanczos log-gamma (g=7, n=9), |err| < 1e-13 for x > 0. */
  def lgamma(x0: Double): Double = {
    val g = 7.0
    if (x0 < 0.5) {
      // reflection
      math.log(math.Pi / math.sin(math.Pi * x0)) - lgamma(1.0 - x0)
    } else {
      val x = x0 - 1.0
      var a = LanczosC(0)
      val t = x + g + 0.5
      var i = 1
      while (i < 9) { a += LanczosC(i) / (x + i); i += 1 }
      0.5 * math.log(2.0 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Size of the log-factorial table: `lgamma(j + 1.0)` for j < 2^16. */
  private final val LogFactN = 1 << 16

  /** `lgamma(j + 1.0)` for j < [[LogFactN]], built once per JVM (512 KB).
    * Each entry is the same function on the same argument as a direct
    * call, so a tail read from the table is bit-identical to one that
    * calls `lgamma` per term. */
  private lazy val logFactTable: Array[Double] =
    Array.tabulate(LogFactN)(j => lgamma(j + 1.0))

  /** log(j!) = `lgamma(j + 1.0)`: a table read below 2^16, else a call. */
  @inline private def logFact(j: Long, tab: Array[Double]): Double =
    if (j < LogFactN) tab(j.toInt) else lgamma(j + 1.0)

  /**
   * P(X >= k) for X ~ Binomial(n, p). Sums the tail in log space from the
   * largest term down; stops when terms stop contributing.
   */
  def binomTailUpper(n: Long, k: Long, p: Double): Double =
    binomTailUpper(n, k, p, math.log(p), math.log1p(-p))

  /** [[binomTailUpper]] with `lp = math.log(p)` and `lq = math.log1p(-p)`
    * supplied by the caller — the fpr-query computes them once per target,
    * not once per match. */
  def binomTailUpper(n: Long, k: Long, p: Double, lp: Double,
      lq: Double): Double = {
    if (k <= 0) return 1.0
    if (k > n) return 0.0
    if (p <= 0.0) return 0.0
    if (p >= 1.0) return 1.0
    // terms rise to the distribution mode then fall monotonically: once a
    // term past the mode underflows to 0.0 every later term is 0 too, so
    // stop — without this, a confident match in a low-FPR db (q below
    // double range) would scan all n-k terms
    val mode = math.floor((n + 1) * p).toLong
    // log C(n, i) = log n! - log i! - log (n-i)!, log n! read once per tail
    val tab = logFactTable
    val lgN = logFact(n, tab)
    var acc = 0.0
    var i = k
    var consecTiny = 0
    while (i <= n && consecTiny < 3) {
      val lt = (lgN - logFact(i, tab) - logFact(n - i, tab)) +
        i * lp + (n - i) * lq
      val t = math.exp(lt)
      if (t == 0.0 && i >= mode) return math.min(1.0, acc)
      acc += t
      if (acc > 0 && t < acc * 1e-16) consecTiny += 1 else consecTiny = 0
      i += 1
    }
    math.min(1.0, acc)
  }

  /** Relative safety margin of [[binomTailAtMost]]'s early keep. Inside
    * the log-factorial table (n < 2^16) a tail term's log is off by well
    * under 1e-9, so [[binomTailUpper]]'s sum is within 1e-9 of the tail
    * the geometric bound bounds. */
  private final val TailMargin = 1e-6

  /**
   * `binomTailUpper(n, k, p, lp, lq) <= bound` (the fpr-query's keep
   * test), decided without summing the tail where a bound settles it.
   * Past the mode the term ratio t(i+1)/t(i) = (n-i)/(i+1) * p/(1-p)
   * falls with i, so with r its value at k the tail is at most
   * t(k)/(1 - r): keep when that is below `bound` with the margin. Else
   * (or n past the table) the full [[binomTailUpper]] sum decides, so
   * every decision equals its own.
   */
  def binomTailAtMost(n: Long, k: Long, p: Double, lp: Double, lq: Double,
      bound: Double): Boolean = {
    if (bound >= 1.0) return true // the tail never exceeds 1
    if (k > 0 && k <= n && p > 0.0 && p < 1.0 && n < LogFactN) {
      val tab = logFactTable
      val tk = math.exp((logFact(n, tab) - logFact(k, tab) -
        logFact(n - k, tab)) + k * lp + (n - k) * lq)
      val r = (n - k).toDouble / (k + 1) * (p / (1.0 - p))
      if (r < 1.0 && tk / (1.0 - r) * (1.0 + TailMargin) < bound) return true
    }
    binomTailUpper(n, k, p, lp, lq) <= bound
  }
}
