package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", 1, parent, start, end, Map.empty)

  test("self time subtracts the children's covered interval") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 50, 60),
      span(3, 1, 12, 20))
    val self = Tracer.selfNs(spans)
    assert(self(0) == 70)
    assert(self(1) == 12)
    assert(self(2) == 10)
    assert(self(3) == 8)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 40),
      span(2, 0, 30, 50),
      span(3, 0, 90, 120))
    assert(Tracer.selfNs(spans)(0) == 100 - 40 - 10)
  }

  test("a leaf's self time is its duration") {
    assert(Tracer.selfNs(Seq(span(0, -1, 5, 9)))(0) == 4)
  }

  test("recorded spans nest, share a trace id and carry counter deltas") {
    var c = 0.0
    val t = new Tracer(true, () => { c += 1.0; Map("n" -> c) })
    t.newTrace()
    t.span("outer") {
      t.span("inner")(t.annotate("rows", 3.0))
      t.annotate("bytes", 5.0)
    }
    t.annotateLast("inner", "late", 1.0)
    val Seq(outer, inner) = t.spans
    assert(outer.name == "outer" && outer.parent == -1)
    assert(inner.parent == outer.id && inner.trace == outer.trace)
    assert(inner.attrs == Map("n" -> 1.0, "rows" -> 3.0, "late" -> 1.0))
    assert(outer.attrs == Map("n" -> 3.0, "bytes" -> 5.0))
    assert(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs)
  }

  test("a disabled tracer records nothing and never reads its counters") {
    val t = new Tracer(false, () => fail("counters read"))
    assert(t.span("x")(41 + 1) == 42)
    t.annotate("k", 1.0)
    assert(t.spans.isEmpty)
  }

  test("spans serialise with their self time") {
    val lines = Tracer.toJsonLines(Seq(span(0, -1, 0, 10), span(1, 0, 2, 5)))
    assert(lines.head.contains("\"self_ns\":7"))
    assert(lines(1).contains("\"parent\":0"))
  }
}
