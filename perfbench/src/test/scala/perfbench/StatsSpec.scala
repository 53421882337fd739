package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile needs at least 10 samples beyond it") {
    // p50 of 20 samples: rank 10, 10 beyond
    assert(Stats.percentile(xs(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    // p90 needs 100 samples, p95 200, p99 1000
    assert(Stats.percentile(xs(100), 0.9).contains(90.0))
    assert(Stats.percentile(xs(99), 0.9).isEmpty)
    assert(Stats.percentile(xs(200), 0.95).contains(190.0))
    assert(Stats.percentile(xs(199), 0.95).isEmpty)
    assert(Stats.percentile(xs(1000), 0.99).contains(990.0))
    assert(Stats.percentile(xs(999), 0.99).isEmpty)
  }

  test("samples beyond the nearest rank") {
    assert(Stats.beyond(20, 0.5) == 10)
    assert(Stats.beyond(21, 0.5) == 10)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(101, 0.9) == 10)
    assert(Stats.beyond(110, 0.9) == 11)
  }

  test("percentiles ignore input order") {
    val r = new scala.util.Random(7)
    val s = r.shuffle(xs(300).toList)
    assert(Stats.percentile(s, 0.5).contains(150.0))
    assert(Stats.percentile(s, 0.95).contains(285.0))
  }

  test("highest tail is the highest percentile the count supports") {
    assert(Stats.highestTail(xs(20)).contains((0.5, 10.0)))
    assert(Stats.highestTail(xs(150)).contains((0.9, 135.0)))
    assert(Stats.highestTail(xs(250)).contains((0.95, 238.0)))
    assert(Stats.highestTail(xs(5)).isEmpty)
  }

  test("median and mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    assert(Stats.mean(Nil) == 0.0)
  }
}
