package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, start: Long, end: Long, parent: Int) =
    Span(id, s"s$id", start, end, parent, 1L)

  test("self time subtracts the children's covered interval") {
    // root [0,100): children [10,30) and [50,60); grandchild [12,20) inside the first.
    val spans = Seq(span(1, 0, 100, 0), span(2, 10, 30, 1), span(3, 50, 60, 1),
      span(4, 12, 20, 2))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 70L)
    assert(self(2) == 12L)
    assert(self(3) == 10L)
    assert(self(4) == 8L)
  }

  test("overlapping children count once, and are clipped to the parent") {
    val spans = Seq(span(1, 0, 100, 0), span(2, 10, 40, 1), span(3, 30, 50, 1),
      span(4, 90, 120, 1))
    assert(Tracer.selfTimes(spans)(1) == 100L - 40L - 10L)
  }

  test("nested spans record parents and requests; attach finds the host") {
    val t = new Tracer(true)
    t.newRequest()
    t.span("outer") { t.span("inner") { Thread.sleep(2) } }
    val inner = t.spans.find(_.name == "inner").get
    val outer = t.spans.find(_.name == "outer").get
    assert(inner.parent == outer.id && outer.parent == 0 && inner.request == outer.request)
    t.attach("job", inner.startNs, inner.endNs)
    assert(t.spans.find(_.name == "job").get.parent == inner.id)
    val (n, total, self) = Tracer.byName(t.spans)("outer")
    assert(n == 1 && self < total)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}
