package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median: middle value when odd, mean of the middle pair when even") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest rank: ceil(q*n), without float drift at exact multiples") {
    assert(Stats.rank(0.9, 100) == 90)
    assert(Stats.rank(0.9, 101) == 91)
    assert(Stats.rank(0.9, 10) == 9)
    assert(Stats.rank(0.5, 1) == 1)
  }

  test("p90 is reported only with at least 10 samples beyond it") {
    assert(Stats.samplesBeyond(0.9, 100) == 10)
    assert(Stats.samplesBeyond(0.9, 99) == 9)
    assert(Stats.tailQuantile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tailQuantile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    // order of the input does not matter
    assert(Stats.tailQuantile((1 to 200).reverse.map(_.toDouble), 0.9).contains(180.0))
    assert(Stats.tailQuantile(Nil, 0.9).isEmpty)
  }
}
