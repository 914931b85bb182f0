package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble).reverse

  test("nearest-rank percentiles over 1..100") {
    assert(Stats.percentile(hundred, 0.5) == 50.0)
    assert(Stats.percentile(hundred, 0.9) == 90.0)
    assert(Stats.percentile(hundred, 1.0) == 100.0)
    assert(Stats.percentile(hundred, 0.0) == 1.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(100).contains(0.9))
    // at 99 samples p90 has only 9 beyond it
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(16).isEmpty)
  }

  test("the tail percentile really has ten samples above it") {
    for (n <- 40 to 1200 by 7; p <- Stats.tailPercentile(n)) {
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
    }
  }
}
