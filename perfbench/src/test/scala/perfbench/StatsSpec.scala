package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.percentile(xs, 100) === 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 1) === 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
  }

  test("tail percentile: the highest candidate with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves exactly 10 samples above rank 90; p95 leaves only 5
    assert(Stats.supportedTail(xs) === Some((90.0, 90.0, 100)))
    // 1000 samples support p99 (10 beyond rank 990) but not p99.9
    assert(Stats.supportedTail((1 to 1000).map(_.toDouble)).map(t => (t._1, t._3)) === Some((99.0, 1000)))
    // 20 samples support only the median (10 beyond rank 10)
    assert(Stats.supportedTail((1 to 20).map(_.toDouble)).map(_._1) === Some(50.0))
    assert(Stats.supportedTail((1 to 10).map(_.toDouble)) === None)
    assert(Stats.supportedTail(Nil) === None)
  }

  test("span self time subtracts nested children, counting overlaps once") {
    // parent [0, 100); children [10, 30) and [20, 50) overlap; [90, 120) is
    // clipped to the parent
    assert(Stats.selfTime(0, 100, Seq((10, 30), (20, 50), (90, 120))) === 50.0)
    assert(Stats.selfTime(0, 100, Nil) === 100.0)
    // a child nested inside another child is not subtracted twice
    assert(Stats.selfTime(0, 100, Seq((10, 60), (20, 30))) === 50.0)
  }

  test("gap time is span time not covered by the union of job intervals") {
    // three fills at once: [10, 40), [15, 35), [20, 60) cover [10, 60)
    assert(Stats.gapTime(0, 100, Seq((10, 40), (15, 35), (20, 60))) === 50.0)
    // disjoint jobs, one starting before the span
    assert(Stats.gapTime(0, 100, Seq((-5, 5), (50, 70))) === 75.0)
    assert(Stats.gapTime(0, 100, Nil) === 100.0)
    assert(Stats.union(Seq((5.0, 6.0), (1.0, 3.0), (2.0, 4.0))) === Seq((1.0, 4.0), (5.0, 6.0)))
  }
}
