package flowbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Seq(7.0)) === 7.0)
  }

  test("percentiles interpolate linearly between order statistics") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 11.0)
    assert(Stats.percentile(xs, 90) === 10.0)
    // numpy.percentile([10, 20, 30, 40], 25) == 17.5
    assert(Stats.percentile(Seq(40.0, 10.0, 30.0, 20.0), 25) === 17.5)
  }

  test("no percentile of an empty sample") {
    intercept[IllegalArgumentException](Stats.median(Seq.empty))
  }

  test("the tail percentile keeps at least ten samples above it") {
    assert(Stats.tailPercentile(99).isEmpty)
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("a summary states its sample count") {
    val s = Stats.summarize((1 to 1000).map(_.toDouble))
    assert(s.n === 1000)
    assert(s.p50 === 500.5)
    assert(s.tailAt.contains(99.0))
    assert(s.tail.exists(t => math.abs(t - 990.01) < 1e-9))
    assert(s.describe("ms").contains("n = 1000"))
    val few = Stats.summarize(Seq(2.0, 4.0))
    assert(few.tail.isEmpty && few.p50 === 3.0)
  }
}
