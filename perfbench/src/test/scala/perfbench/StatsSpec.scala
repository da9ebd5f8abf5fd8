package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles are measured samples") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.nearestRank(xs, 50) == 5.0)
    assert(Stats.nearestRank(xs, 90) == 9.0)
    assert(Stats.nearestRank(xs, 91) == 10.0)
    assert(Stats.nearestRank(xs, 99) == 10.0)
    assert(Stats.nearestRank(xs, 100) == 10.0)
    assert(Stats.nearestRank(Seq(3.0), 99) == 3.0)
    assert(Stats.nearestRank(Seq(5.0, 1.0, 3.0), 50) == 3.0)
  }

  test("the p99 of 1000 samples has exactly 10 beyond it") {
    assert(Stats.rank(1000, 99) == 990)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(999, 99) == 9)
    assert(Stats.beyond(100, 99) == 1)
    assert(Stats.beyond(20, 50) == 10)
  }

  test("median and geomean") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("job-interval union counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("the driver gap is the window minus the clipped job union") {
    val jobs = Seq((-5L, 5L), (3L, 8L), (90L, 120L))
    assert(Stats.unionWithin(jobs, 0L, 100L) == 18L)
  }
}
