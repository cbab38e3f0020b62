package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // reference values printed by Python 3's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.5, 1.0, 2.0)) == ((1.0, 2.0, 3.5)))
    assert(Stats.quartiles(Seq(10.0, 20.0)) == ((7.5, 15.0, 22.5)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0)) == ((2.0, 4.0, 8.0)))
  }

  test("a tail is reported only with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs, 0.9) == Some(90.0)) // ten samples, 91..100, lie beyond
    assert(Stats.tail(xs.take(99), 0.9).isEmpty) // p90 of 99 is 90: nine beyond
    assert(Stats.tail(xs.take(40), 0.9).isEmpty)
    assert(Stats.tail(xs.take(40), 0.75) == Some(30.0))
    assert(Stats.tail(Nil, 0.9).isEmpty)
  }

  test("ties at the percentile do not count as beyond it") {
    val xs = Seq.fill(95)(1.0) ++ Seq.fill(5)(2.0)
    assert(Stats.tail(xs, 0.9).isEmpty)
  }
}
