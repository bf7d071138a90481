package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(xs, 0.5) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99.9) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("the median averages the middle pair of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 9.0, 1.0)) == 5.0)
  }

  test("samples beyond a percentile") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(1000, 99.9) == 1)
    // 99.9 % of 10000 is 9990 exactly, despite binary rounding
    assert(Stats.beyond(10000, 99.9) == 10)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 5000) {
      val higher = Stats.tailPercentile(n) match {
        case Some(p) =>
          assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
          Stats.ladder.filter(_ > p)
        case None => Stats.ladder
      }
      higher.foreach(h => assert(Stats.beyond(n, h) < 10, s"n=$n skipped p=$h"))
    }
  }

  test("a summary carries count, median and tail") {
    val s = Stats.summarize((1 to 200).map(_.toDouble))
    assert(s.n == 200 && s.median == 100.5 && s.tail.contains(95.0 -> 190.0))
    assert(Stats.summarize(Seq(1.0, 2.0)).tail.isEmpty)
  }
}
