package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("union of task intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    // two overlapping tasks on different cores, one disjoint
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    // nested and touching intervals, in any order
    assert(Stats.unionLength(Seq((30L, 40L), (0L, 100L), (100L, 110L))) == 110L)
    // empty and inverted intervals contribute nothing
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L), (1L, 2L))) == 1L)
  }

  test("time outside tasks is the window minus the clipped task union") {
    // window 0..100; tasks cover 10..30 and 20..50 (union 40) and one
    // task straddles the window's end (counts 90..100 only)
    assert(Stats.uncovered((0L, 100L), Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    // no tasks: the whole window is outside tasks
    assert(Stats.uncovered((0L, 100L), Nil) == 100L)
    // tasks entirely outside the window are ignored
    assert(Stats.uncovered((0L, 100L), Seq((-50L, -10L), (150L, 160L))) == 100L)
    // fully covered
    assert(Stats.uncovered((0L, 100L), Seq((-5L, 60L), (50L, 105L))) == 0L)
  }

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50.0) == 50.0)
    assert(Stats.percentile(xs, 90.0) == 90.0)
    assert(Stats.percentile(xs, 99.0) == 99.0)
    assert(Stats.percentile(Seq(7.0), 90.0) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean weighs every call the same in ratio terms") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(5.0)) - 5.0) < 1e-12)
    // halving a short call and halving a long one move it equally
    val base = Seq(10.0, 1000.0)
    assert(math.abs(Stats.geomean(Seq(5.0, 1000.0)) - Stats.geomean(Seq(10.0, 500.0))) < 1e-9)
    assert(Stats.geomean(base) > Stats.geomean(Seq(5.0, 1000.0)))
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 90.0) == 10)
    assert(Stats.samplesBeyond(99, 90.0) == 9)
    assert(Stats.highestSupported(19) == None)
    assert(Stats.highestSupported(20) == Some(50.0))
    assert(Stats.highestSupported(99) == Some(50.0))
    assert(Stats.highestSupported(100) == Some(90.0))
    assert(Stats.highestSupported(999) == Some(90.0))
    assert(Stats.highestSupported(1000) == Some(99.0))
    assert(Stats.highestSupported(10000) == Some(99.9))
  }
}
