package loadbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered time is the union of the children, clipped to the parent") {
    assert(Spans.covered(0, 10, Nil) == 0)
    assert(Spans.covered(0, 10, Seq((2.0, 4.0), (3.0, 6.0), (8.0, 9.0))) == 5)
    assert(Spans.covered(0, 10, Seq((-5.0, 2.0), (9.0, 15.0))) == 3)
    assert(Spans.covered(0, 10, Seq((1.0, 9.0), (2.0, 3.0))) == 8)
  }

  test("self time is duration minus what the children cover") {
    val spans = IndexedSeq(
      Span(1, "op", 0, 100, -1),
      Span(1, "store.search", 0, 10, 0),
      Span(1, "spark.plan", 10, 20, 0),
      Span(1, "spark.exec", 20, 100, 0),
      Span(1, "spark.job", 30, 90, 3),
      Span(1, "spark.stage", 35, 60, 4),
      Span(1, "spark.stage", 50, 80, 4))
    // the two stages overlap: the job's self time counts their union once
    assert(Spans.selfTimes(spans) == IndexedSeq(0.0, 10.0, 10.0, 20.0, 15.0, 25.0, 30.0))
    // without overlapping siblings the self times add up to the op's wall time
    val serial = spans.updated(6, Span(1, "spark.stage", 60, 80, 4))
    assert(Spans.selfTimes(serial).sum == 100.0)
  }

  test("a job goes under the innermost span that holds its start") {
    val spans = IndexedSeq(Span(1, "op", 0, 100, -1), Span(1, "spark.exec", 20, 100, 0))
    assert(Spans.innermost(spans, Seq(0, 1), 30).contains(1))
    assert(Spans.innermost(spans, Seq(0, 1), 10).contains(0))
    assert(Spans.innermost(spans, Seq(0, 1), 150).isEmpty)
  }
}
