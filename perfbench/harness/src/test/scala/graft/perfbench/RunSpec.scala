package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunSpec extends AnyFunSuite {

  /** Units of `unit` seconds run under [[Run.another]]. */
  private def units(unit: Double, seconds: Double): Int =
    Iterator.from(0).find(n => !Run.another(n * unit, n, seconds)).get

  test("a timed loop runs the whole number of units nearest its window") {
    assert(units(10, 20) === 2)
    assert(units(9.9, 20) === 2)
    assert(units(10.1, 20) === 2)
    assert(units(7, 20) === 3)
    assert(units(13, 20) === 2)
    assert(units(14, 20) === 1)
    assert(units(0.5, 20) === 40)
  }

  test("a timed loop runs at least one unit") {
    assert(units(100, 20) === 1)
    assert(Run.another(0.0, 0, 0.0))
  }
}
