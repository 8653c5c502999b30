package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tailPercentile picks the highest percentile with >= 10 samples beyond it") {
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(39).isEmpty)
    Seq(40, 57, 100, 200, 999).foreach { n =>
      val p = Stats.tailPercentile(n).get
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
    }
  }

  test("nearest-rank percentiles") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(Seq(2.0, 1.0)) == 1.0)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime((0, 100), Nil) == 100)
    assert(Stats.selfTime((0, 100), Seq((10, 20), (30, 50))) == 70)
    // overlapping children count once
    assert(Stats.selfTime((0, 100), Seq((10, 40), (30, 50))) == 60)
    // a child spilling past the parent is clipped
    assert(Stats.selfTime((0, 100), Seq((90, 130), (-5, 5))) == 85)
    // nested children are covered by their parent
    assert(Stats.selfTime((0, 100), Seq((0, 100), (10, 20))) == 0)
    assert(Stats.unionLength(Seq((0, 10), (10, 20), (25, 30))) == 25)
  }
}
