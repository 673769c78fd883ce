package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)       // p50 leaves 9 beyond
    assert(Stats.tailPercentile(20).contains(50))  // p50 leaves 10
    assert(Stats.tailPercentile(40).contains(75))  // p75 leaves 10
    assert(Stats.tailPercentile(99).contains(75))  // p90 leaves 9
    assert(Stats.tailPercentile(100).contains(90)) // p90 leaves 10
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("covered length merges overlapping and clips to the window") {
    val ivs = Seq((0L, 10L), (5L, 15L), (20L, 30L), (40L, 50L))
    assert(Stats.covered((0L, 100L), ivs) == 15 + 10 + 10)
    assert(Stats.covered((12L, 45L), ivs) == 3 + 10 + 5)
    assert(Stats.uncovered((12L, 45L), ivs) == 33 - 18)
    assert(Stats.uncovered((0L, 10L), Nil) == 10)
  }
}
