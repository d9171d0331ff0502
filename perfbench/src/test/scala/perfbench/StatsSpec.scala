package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("no tail percentile qualifies below 20 samples") {
    assert(Stats.tailPercentile(Seq.fill(19)(1.0)).isEmpty)
    assert(Stats.tailPercentile(Seq(1.0)).isEmpty)
  }

  test("the highest percentile keeps at least ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.tailPercentile(xs) == Some(0.5 -> 10.0))
    assert(Stats.tailPercentile((1 to 99).map(_.toDouble)).map(_._1) == Some(0.5))
    assert(Stats.tailPercentile((1 to 100).map(_.toDouble)) == Some(0.9 -> 90.0))
    assert(Stats.tailPercentile((1 to 999).map(_.toDouble)).map(_._1) == Some(0.9))
    assert(Stats.tailPercentile((1 to 1000).map(_.toDouble)) == Some(0.99 -> 990.0))
    assert(Stats.tailPercentile((1 to 10000).map(_.toDouble)).map(_._1) == Some(0.999))
  }

  test("the tail percentile reads the sorted samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tailPercentile(xs) == Some(0.9 -> 90.0))
  }

  test("union length merges overlapping intervals and skips empty ones") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.coveredWithin((10L, 20L), Seq((0L, 12L), (18L, 40L))) == 4L)
  }
}
