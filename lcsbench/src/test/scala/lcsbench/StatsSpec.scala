package lcsbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail rule picks the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
  }

  test("samples beyond a percentile count the ranks above its nearest rank") {
    assert(Stats.beyond(20, 50.0) == 10)
    assert(Stats.beyond(41, 75.0) == 10)
    assert(Stats.beyond(100, 90.0) == 10)
    assert(Stats.minSamples(50.0) == 20)
    assert(Stats.minSamples(75.0) == 40)
    assert(Stats.minSamples(90.0) == 100)
  }

  test("nearest-rank percentile, median and trend") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50.0) == 20.0)
    assert(Stats.percentile(xs, 75.0) == 30.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val (first, second, gap) = Stats.trend(Seq(10.0, 10.0, 12.0, 12.0)).get
    assert(first == 10.0 && second == 12.0 && math.abs(gap - 0.2) < 1e-12)
    assert(Stats.trend(Seq(1.0, 2.0, 3.0)).isEmpty)
  }
}
