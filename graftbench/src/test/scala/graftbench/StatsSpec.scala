package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the reported percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n)) assert(Stats.beyond(n, p) >= 10)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90.0) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(Seq(5.0), 50.0) == 5.0)
  }
}
