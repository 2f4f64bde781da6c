package graft

import org.scalatest.funsuite.AnyFunSuite

/** `queries_min` must never report a failed rep (sampled as -1.0) as a
  * query's fastest time. */
class BenchExtraSpec extends AnyFunSuite {
  test("queryMin skips failed reps; all failed -> no minimum") {
    assert(BenchExtra.queryMin(Seq(-1.0, 2.5, 1.5)) == Some(1.5))
    assert(BenchExtra.queryMin(Seq(3.0, -1.0)) == Some(3.0))
    assert(BenchExtra.queryMin(Seq(-1.0, -1.0)).isEmpty)
    assert(BenchExtra.queryMin(Seq(0.0)) == Some(0.0))
  }
}
