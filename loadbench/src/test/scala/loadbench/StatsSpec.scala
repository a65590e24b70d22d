package loadbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
  }

  test("a percentile needs ten samples beyond it") {
    assert(Stats.minSamples(50) == 20)
    assert(Stats.minSamples(90) == 100)
    assert(Stats.minSamples(99) == 1000)
    assert(Stats.highestTail((1 to 99).map(_.toDouble)).contains((75, 75.0)))
    assert(Stats.highestTail((1 to 100).map(_.toDouble)).contains((90, 90.0)))
    assert(Stats.highestTail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.highestTail((1 to 45).map(_.toDouble)).contains((75, 34.0)))
  }

  test("median and geometric mean") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }
}
