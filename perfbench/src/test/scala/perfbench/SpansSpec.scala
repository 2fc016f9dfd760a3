package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered time is the union of child intervals, clipped") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Spans.covered(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Spans.covered(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(Spans.covered(Nil, 0, 100) == 0)
  }

  test("self time is duration minus the children's cover") {
    val spans = Seq(
      Span(1, 0, 1, "op.read", 0, 100),
      Span(2, 1, 1, "orcio.read", 10, 40),
      Span(3, 1, 1, "stats.stats_only", 50, 90),
      Span(4, 3, 1, "orcmeta.column_stats", 60, 70))
    val self = Spans.selfTimes(spans)
    assert(self == Map(1 -> 30L, 2 -> 30L, 3 -> 30L, 4 -> 10L))
  }

  test("the tracer nests spans and records nothing when disabled") {
    val tr = new Tracer
    tr.span("off")(())
    assert(tr.spans.isEmpty)
    tr.enabled = true
    tr.op = 7
    tr.span("op.x") { tr.span("a")(()); tr.span("b")(tr.span("c")(())) }
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName("op.x").parent == 0)
    assert(byName("a").parent == byName("op.x").id)
    assert(byName("c").parent == byName("b").id)
    assert(tr.spans.forall(_.op == 7))
  }
}
