package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between closest ranks") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-9)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(math.abs(Stats.tailPercentile(30).get - 200.0 / 3) < 1e-9)
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(5).isEmpty)
    // the rule holds exactly: n * (1 - q/100) samples lie beyond q
    for (n <- 11 to 500; q <- Stats.tailPercentile(n)) assert(n * (1 - q / 100) >= 10 - 1e-9)
  }

  test("the tail value counts support in units and falls back to the median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs, 200) == Stats.percentile(xs, 95))
    assert(Stats.tail(xs, 100) == Stats.percentile(xs, 90))
    assert(Stats.tail(xs, 15) == Stats.median(xs)) // p33 would lie below the median
    assert(Stats.tail(xs, 10) == Stats.median(xs))
  }
}
