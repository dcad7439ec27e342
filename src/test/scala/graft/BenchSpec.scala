package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("minOk: one failed rep keeps the min of the successful ones") {
    assert(Bench.minOk(Seq(2.5, -1.0, 1.5)) === 1.5)
    assert(Bench.minOk(Seq(3.0)) === 3.0)
  }

  test("minOk: -1 only when every rep failed") {
    assert(Bench.minOk(Seq(-1.0, -1.0)) === -1.0)
  }

  test("timeReps: a rep that throws is timed -1 and counted as a failure") {
    var rep = 0
    var cleanups = 0
    val times = Bench.timeReps("probe", 3, () => cleanups += 1) {
      rep += 1
      if (rep == 2) throw new IllegalStateException("rep 2 fails")
    }
    assert(times.size === 3)
    assert(times(1) === -1.0)
    assert(times.count(_ < 0) === 1)
    assert(cleanups === 3)
    assert(Bench.minOk(times) >= 0.0)
    // a query timed in the sweep and again in isolation: failures add up
    assert(Bench.failures(Seq("ok" -> Seq(0.1), "probe" -> Seq(-1.0),
      "probe" -> times)) === Seq("probe" -> 2))
  }
}
