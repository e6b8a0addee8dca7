package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The reporting rules: tail percentile choice and failures as +∞. */
class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("at least ten samples lie beyond the reported tail") {
    (20 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
      }
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }

  test("a failed operation counts as +inf latency") {
    val lat = Stats.latencies(Seq((1.0, true), (2.0, false), (3.0, true)))
    assert(lat == Seq(1.0, Double.PositiveInfinity, 3.0))
    assert(Stats.percentile(lat, 90).isPosInfinity)
    assert(Stats.median(lat) == 3.0)
  }

  test("failures can only make a percentile worse") {
    val ok = (1 to 40).map(i => (i.toDouble, true))
    val someFailed = ok.zipWithIndex.map { case ((s, _), i) => (s, i % 7 != 3) }
    Seq(50.0, 75.0, 90.0).foreach { p =>
      assert(Stats.percentile(Stats.latencies(someFailed), p) >=
        Stats.percentile(Stats.latencies(ok), p))
    }
    assert(Stats.median(Stats.latencies(ok.map(_.copy(_2 = false)))).isPosInfinity)
  }

  test("a failed median prints as a number") {
    assert(Json.num(Double.PositiveInfinity) == "1.0E9")
    assert(Json.num(0.25) == "0.25")
  }
}
