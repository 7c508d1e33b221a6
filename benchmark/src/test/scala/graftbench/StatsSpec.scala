package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts, in any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles equal Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by CPython 3 for the same inputs
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(Stats.quartiles(Seq(5.0, 1.0)) == ((0.0, 3.0, 6.0)))
    assert(Stats.quartiles(Seq(2.5, 9.1, 4.4, 7.3, 1.2, 8.8, 3.3)) == ((2.5, 4.4, 8.8)))
  }

  test("spread is the interquartile distance over the median") {
    assert(math.abs(Stats.spread((1 to 10).map(_.toDouble)) - 5.5 / 5.5) < 1e-12)
    assert(Stats.spread(Seq(2.0, 2.0, 2.0, 2.0)) == 0.0)
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val kids = Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L), (-10L, -5L))
    // covered: [10,30) = 20, [50,60) = 10, [90,100) = 10
    assert(Stats.covered(0, 100, kids) == 40)
    assert(Stats.selfTime(0, 100, kids) == 60)
  }

  test("self time of a span without children is its duration") {
    assert(Stats.selfTime(5, 17, Nil) == 12)
  }

  test("nested and identical children count once") {
    assert(Stats.selfTime(0, 50, Seq((0L, 50L), (10L, 20L), (0L, 50L))) == 0)
    assert(Stats.selfTime(0, 50, Seq((20L, 30L), (30L, 40L))) == 30)
  }
}
