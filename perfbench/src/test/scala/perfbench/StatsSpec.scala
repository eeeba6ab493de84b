package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest that leaves ten samples beyond it") {
    assert(Stats.tailPercentile(45) == 77)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 99)
    for (n <- 21 to 2000) {
      val p = Stats.tailPercentile(n)
      val xs = (1 to n).map(_.toDouble)
      val v = Stats.percentile(xs, p)
      assert(xs.count(_ > v) >= Stats.TailBeyond, s"n=$n p=$p")
      // one percent higher would leave less than ten percent-shares beyond
      assert(n * (100 - (p + 1)) < 100 * Stats.TailBeyond, s"n=$n p=$p")
    }
  }

  test("too few samples fall back to the median") {
    assert((1 to 20).forall(n => Stats.tailPercentile(n) == 50))
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
  }

  test("the tail keeps its percentile when a run has more samples than the minimum") {
    val xs = (1 to 90).map(_.toDouble)
    val (v, p, beyond) = Stats.tail(xs, nMin = 45)
    assert(p == 77 && v == 70.0 && beyond == 20)
    val (_, p2, beyond2) = Stats.tail(xs.take(45), nMin = 45)
    assert(p2 == 77 && beyond2 == 10)
  }

  test("median and covered interval length") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
    assert(Stats.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    assert(Stats.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8L, 35L) == 17L)
    assert(Stats.covered(Nil, 0L, 5L) == 0L)
  }
}
