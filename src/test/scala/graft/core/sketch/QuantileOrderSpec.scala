package graft.core.sketch

import org.scalatest.funsuite.AnyFunSuite

/** Quantile sketches under adversarial input ORDERS, not just random
  * data: sorted, reversed, and zoom-in (alternating lowest and highest
  * remaining), the orders that stress compaction schedules and centroid
  * merging ("Relative Error Streaming Quantiles", PODS'21; "A Tight Lower
  * Bound for Comparison-Based Quantile Summaries", PODS'20). The values
  * are 0 until n, so a value's exact rank is arithmetic. */
class QuantileOrderSpec extends AnyFunSuite {

  private val n = 200000
  private val qs = Seq(0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)

  private val orders: Seq[(String, Array[Double])] = Seq(
    "sorted" -> Array.tabulate(n)(_.toDouble),
    "reversed" -> Array.tabulate(n)(i => (n - 1 - i).toDouble),
    "zoom-in" -> Array.tabulate(n)(i =>
      (if (i % 2 == 0) i / 2 else n - 1 - i / 2).toDouble))

  /** Fraction of the values 0 until n that are <= x. */
  private def rankOf(x: Double): Double =
    math.min(n.toDouble, math.max(0.0, math.floor(x) + 1)) / n

  private def check(name: String, bound: Double)(quantile: Double => Double): Unit =
    qs.foreach { q =>
      val err = math.abs(rankOf(quantile(q)) - q)
      assert(err <= bound, s"$name q=$q rank error $err > $bound")
    }

  test("kll (k=256): rank error within bound on sorted, reversed and " +
      "zoom-in orders") {
    orders.foreach { case (name, xs) =>
      val sk = Kll.empty(256)
      xs.foreach(sk.add)
      assert(sk.n == n)
      check(s"kll $name", sk.rankErrorBound)(sk.quantile)
    }
  }

  test("tdigest (compression 100): rank error within bound on sorted, " +
      "reversed and zoom-in orders") {
    orders.foreach { case (name, xs) =>
      val td = TDigest.empty(100.0)
      xs.foreach(td.add(_))
      assert(td.n == n)
      check(s"tdigest $name", TDigest.rankErrorBound(100.0))(td.quantile)
    }
  }
}
