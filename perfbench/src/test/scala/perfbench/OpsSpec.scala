package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and yields no timing") {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = new Ops(log += _)
    val samples = (0 until 5).flatMap { i =>
      ops.timed(s"op#$i") {
        if (i == 2) throw new IllegalStateException("injected")
        Thread.sleep(20)
        i
      }.map(_._2)
    }
    assert(ops.attempted == 5)
    assert(ops.failed == 1)
    assert(samples.length == 4)
    // the failure leaves no near-zero sample that could read as fast
    assert(samples.forall(_ >= 0.015))
    assert(Stats.median(samples) >= 0.015)
    assert(log.exists(_.contains("op#2 failed")))
  }

  test("fatal errors are not swallowed") {
    val ops = new Ops(_ => ())
    assertThrows[OutOfMemoryError](ops.timed("oom")(throw new OutOfMemoryError("x")))
  }

  test("quantiles interpolate like the inclusive method") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-9)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
  }
}
