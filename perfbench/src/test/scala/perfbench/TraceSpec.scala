package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, a: Long, b: Long) =
    Span(id, s"s$id", parent, a, b, new Counters, None)

  test("covered time is the union of intervals, clipped") {
    assert(Trace.coveredNs(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0, 100) == 50)
    assert(Trace.coveredNs(Seq((10L, 30L), (20L, 50L)), 25, 40) == 15)
    assert(Trace.coveredNs(Nil, 0, 100) == 0)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
      span(4, 1, 60, 70), span(5, 2, 12, 18), span(6, 0, 200, 230))
    val self = Trace.selfNs(spans)
    assert(self(1) == 50)
    assert(self(2) == 14)
    assert(self(5) == 6)
    assert(self(6) == 30)
  }
}
