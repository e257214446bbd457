package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  import Tracer.Span

  private val ms = 1000000L

  test("self time is the span minus the time its children cover") {
    val spans = Seq(
      Span(0, -1, "parent", "op", 0, 100 * ms),
      Span(1, 0, "child", "op", 10 * ms, 30 * ms),
      Span(2, 0, "child", "op", 50 * ms, 60 * ms))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self("parent") - 0.070) < 1e-9)
    assert(math.abs(self("child") - 0.030) < 1e-9)
  }

  test("overlapping children are counted once, grandchildren only in their parent") {
    val spans = Seq(
      Span(0, -1, "a", "", 0, 100 * ms),
      Span(1, 0, "b", "", 10 * ms, 50 * ms),
      Span(2, 0, "b", "", 40 * ms, 70 * ms),
      Span(3, 1, "c", "", 20 * ms, 30 * ms))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self("a") - 0.040) < 1e-9)
    assert(math.abs(self("b") - 0.060) < 1e-9)
    assert(math.abs(self("c") - 0.010) < 1e-9)
  }

  test("spans nest by the calling thread, and across threads by an explicit parent") {
    val tr = new Tracer(true)
    tr.span("outer") {
      tr.span("inner")(())
      val parent = tr.current
      val t = new Thread(() => tr.span("remote", parent = parent)(()))
      t.start(); t.join()
    }
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("outer").parent === -1)
    assert(byName("inner").parent === byName("outer").id)
    assert(byName("remote").parent === byName("outer").id)
    assert(tr.all.forall(s => s.endNs >= s.startNs))
  }

  test("a disabled tracer records nothing and still runs the body") {
    val tr = new Tracer(false)
    assert(tr.span("x")(41 + 1) === 42)
    assert(tr.all.isEmpty)
  }
}
