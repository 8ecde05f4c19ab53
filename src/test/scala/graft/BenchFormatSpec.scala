package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchFormatSpec extends AnyFunSuite {
  test("tiered: a positive time below a centisecond prints 0.01, never 0") {
    assert(Bench.tiered(0.003, 1.0) == "0.01")
  }
}
