package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPercentile(100, 90) == 90)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.tailPercentile(99, 90) == 75)
    assert(Stats.tailPercentile(40, 90) == 75)
    assert(Stats.tailPercentile(39, 90) == 50)
    assert(Stats.tailPercentile(20, 90) == 50)
    assert(Stats.tailPercentile(1000, 99) == 99)
    assert(Stats.tailPercentile(1000, 90) == 90)
  }

  test("with fewer than twenty samples the tail falls back to the median") {
    assert(Stats.tailPercentile(19, 90) == 50)
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.tail(xs, 90) == ((3.0, 50)))
  }

  test("the reported tail value is the sample at the rule's rank") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs, 90) == ((90.0, 90)))
    assert(Stats.tail(xs.take(60), 90) == ((85.0, 75)))
  }
}
