package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("covered time merges overlapping intervals and clips to the parent") {
    assert(Trace.covered(0, 100, Nil) == 0)
    assert(Trace.covered(0, 100, Seq((10, 20), (15, 30), (50, 60))) == 30)
    assert(Trace.covered(0, 100, Seq((-10, 5), (95, 200))) == 10)
    assert(Trace.covered(0, 100, Seq((20, 40), (20, 40))) == 20)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      Span(1, 0, "op", "op", 0, 100),
      Span(2, 1, "build", "phase", 0, 30),
      Span(3, 1, "execute", "phase", 40, 100),
      Span(4, 3, "job 0", "job", 45, 70),
      Span(5, 3, "job 1", "job", 60, 90),
      Span(6, 4, "stage 0.0", "stage", 50, 60))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 10)
    assert(self(2) == 30)
    assert(self(3) == 15)
    assert(self(4) == 15)
    assert(self(5) == 30)
    assert(self(6) == 10)
  }

  test("nested tracer spans record their parent; a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.span("run", "run")(t.span("op", "op")(t.span("build", "phase")(())))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("run").parent == 0)
    assert(byName("op").parent == byName("run").id)
    assert(byName("build").parent == byName("op").id)
    val off = new Tracer(false)
    assert(off.span("run", "run")(42) == 42)
    assert(off.spans.isEmpty)
  }
}
