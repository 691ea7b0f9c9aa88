package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-gap arithmetic: the gap is wall time minus the UNION
  * of job intervals, so overlapping jobs are never counted twice. A sum
  * of job durations (JobProfile's jobSec) goes negative as soon as jobs
  * overlap; the union form cannot.
  */
class IntervalsSpec extends AnyFunSuite {

  test("overlapping jobs are counted once") {
    val jobs = Seq((0L, 60L), (10L, 50L), (40L, 70L))
    assert(Intervals.unionLength(jobs, 0L, 100L) === 70L)
    assert(Intervals.gap(jobs, 0L, 100L) === 30L)
    // the summed form overstates busy time past the wall clock
    assert(100L - jobs.map { case (s, e) => e - s }.sum < 0L)
  }

  test("disjoint and touching jobs") {
    assert(Intervals.unionLength(Seq((0L, 10L), (10L, 20L), (30L, 35L)), 0L, 40L) === 25L)
    assert(Intervals.gap(Seq((0L, 10L), (10L, 20L), (30L, 35L)), 0L, 40L) === 15L)
  }

  test("jobs are clipped to the window, and the gap is never negative") {
    val jobs = Seq((-50L, 5L), (8L, 12L), (15L, 500L))
    assert(Intervals.unionLength(jobs, 0L, 20L) === 14L)
    assert(Intervals.gap(jobs, 0L, 20L) === 6L)
    val many = (0 until 50).map(i => (i.toLong, i + 30L))
    assert(Intervals.gap(many, 0L, 40L) === 0L)
  }

  test("no jobs: the whole window is gap") {
    assert(Intervals.gap(Seq.empty, 5L, 9L) === 4L)
  }

  test("self time subtracts the union of child spans") {
    val t = new Tracer(enabled = true)
    val spans = Vector(
      Span(1, "a.root", 0, 1, 1, 0, 100),
      Span(2, "b.child", 1, 1, 1, 10, 40),
      Span(3, "c.child", 1, 1, 1, 30, 60),
      Span(4, "d.grandchild", 2, 1, 1, 15, 20))
    val self = t.selfNs(spans)
    assert(self(1) === 50L)
    assert(self(2) === 25L)
    assert(self(3) === 30L)
    assert(self(4) === 5L)
  }
}
