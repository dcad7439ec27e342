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
}
