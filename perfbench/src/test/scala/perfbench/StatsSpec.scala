package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a tail percentile needs ten samples beyond it") {
    // p90 of n samples sits at rank 0.9 (n - 1); beyond it lie the
    // samples ranked above floor of that
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.samplesBeyond(92, 0.9) == 10)
    assert(Stats.samplesBeyond(91, 0.9) == 9)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 0.9).contains(Stats.percentile(xs, 0.9)))
    assert(Stats.tailPercentile(xs.take(92), 0.9).isDefined)
    assert(Stats.tailPercentile(xs.take(91), 0.9).isEmpty)
    assert(Stats.tailPercentile(Nil, 0.9).isEmpty)
    // the median of 20 samples has 10 beyond it
    assert(Stats.tailPercentile(xs.take(20), 0.5).isDefined)
  }
}
