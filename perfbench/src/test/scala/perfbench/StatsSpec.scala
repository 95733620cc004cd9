package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate linearly between ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) == 6.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.percentile(Seq(4.0), 90) == 4.0)
  }

  test("a summary reports its sample count and the samples beyond p90") {
    val s = Stats.summary((1 to 200).map(_.toDouble).reverse)
    assert(s.n == 200)
    assert(s.p50 == 100.5)
    assert(s.beyondP90 == 20)
  }

  test("the geometric mean weighs every op by its ratio, not its size") {
    assert(math.abs(Stats.geomean(Seq(0.1, 1.0, 10.0)) - 1.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
    // doubling one op of four moves the mean by 2^(1/4), whatever its size
    val base = Seq(0.01, 0.1, 1.0, 5.0)
    val g = Stats.geomean(base)
    assert(math.abs(Stats.geomean(base.updated(0, 0.02)) / g - math.pow(2, 0.25)) < 1e-12)
    assert(math.abs(Stats.geomean(base.updated(3, 10.0)) / g - math.pow(2, 0.25)) < 1e-12)
  }
}
