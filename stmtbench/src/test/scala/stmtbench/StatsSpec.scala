package stmtbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    val (pct, v) = Stats.tail((1 to 100).reverse.map(_.toDouble)).get
    assert(pct == 90.0 && v == 90.0)
    val xs = (1 to 37).map(_.toDouble)
    val (_, t) = Stats.tail(xs).get
    assert(xs.count(_ > t) == 10)
  }

  test("failed epochs count as infinitely late") {
    val xs = (1 to 20).map(_.toDouble) ++ Seq.fill(11)(Double.PositiveInfinity)
    assert(Stats.tail(xs).get._2.isInfinite)
    assert(Stats.tail((1 to 20).map(_.toDouble) :+ Double.PositiveInfinity).get._2 == 11.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union length merges overlaps and clips to the window") {
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10) == 4.0)
    assert(Stats.unionLength(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4.0)
    assert(Stats.unionLength(Nil, 0, 10) == 0.0)
  }
}
