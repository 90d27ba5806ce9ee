package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("r4 rounds to 0.1 ms and keeps the sign of failure markers") {
    assert(Bench.r4(1.23456) == 1.2346)
    assert(Bench.r4(0.00004) == 0.0)
    assert(Bench.r4(-0.00004) == -0.0001)
    assert(Bench.r4(-1.23456) == -1.2346)
  }
}
