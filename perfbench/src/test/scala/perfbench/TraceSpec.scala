package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  // iteration [0,100) with two calls; the second has construct/execute children
  private val spans = Seq(
    Span(0, "iteration", -1, 1, 0, 100),
    Span(1, "a", 0, 1, 10, 30),
    Span(2, "b", 0, 1, 40, 90),
    Span(3, "b.construct", 2, 1, 40, 55),
    Span(4, "b.execute", 2, 1, 55, 85))

  test("covered merges overlapping intervals and clips to the window") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(Spans.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(Spans.covered(Seq((50L, 60L)), 0, 40) == 0)
    assert(Spans.covered(Nil, 0, 40) == 0)
  }

  test("self time is duration minus the part children cover") {
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 30L, 1 -> 20L, 2 -> 5L, 3 -> 15L, 4 -> 30L))
  }

  test("self times of an iteration's spans add up to its wall time") {
    assert(Spans.selfTimes(spans).values.sum == spans.head.dur)
  }

  test("a job is attributed to the span its thread named") {
    val (m, byTime) = Attribution.attribute(Seq(JobRec(7, 20, 25, Some(1))), spans)
    assert(m == Map(7 -> 1) && byTime == 0)
  }

  test("a job from another thread goes to the innermost span open when it started") {
    val jobs = Seq(JobRec(1, 60, 70, None), JobRec(2, 35, 38, None), JobRec(3, 120, 130, None))
    val (m, byTime) = Attribution.attribute(jobs, spans)
    assert(m == Map(1 -> 4, 2 -> 0))
    assert(byTime == 2)
  }

  test("subtree collects a span and its descendants") {
    assert(Spans.subtree(spans, 2) == Set(2, 3, 4))
    assert(Spans.subtree(spans, 0) == Set(0, 1, 2, 3, 4))
  }
}
