package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class QuantilesSpec extends AnyFunSuite {

  test("the tail is the highest ladder level with at least 10 samples beyond it") {
    assert(Quantiles.tailLevel(19).isEmpty)
    assert(Quantiles.tailLevel(20).contains(50))
    assert(Quantiles.tailLevel(39).contains(50))
    assert(Quantiles.tailLevel(40).contains(75))
    assert(Quantiles.tailLevel(100).contains(90))
    assert(Quantiles.tailLevel(199).contains(90))
    assert(Quantiles.tailLevel(200).contains(95))
    assert(Quantiles.tailLevel(999).contains(95))
    assert(Quantiles.tailLevel(1000).contains(99))
  }

  test("percentiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Quantiles.median(xs) === 2.5)
    assert(Quantiles.percentile(xs, 0) === 1.0)
    assert(Quantiles.percentile(xs, 100) === 4.0)
    assert(Quantiles.percentile(Seq(7.0), 90) === 7.0)
    assert(Quantiles.median(Nil).isNaN)
  }

  test("a summary carries its sample count and the tail at the rule's level") {
    val xs = (1 to 40).map(_.toDouble)
    val s = Quantiles.summarize(xs)
    assert(s.n === 40 && s.tailLevel.contains(75))
    assert(s.tail === Quantiles.percentile(xs, 75))
    assert(Quantiles.summarize(xs.take(5)).tail.isNaN)
  }
}
