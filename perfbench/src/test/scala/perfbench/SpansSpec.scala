package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered counts overlapping intervals once and clips to the window") {
    assert(Spans.covered(0, 100, Nil) == 0)
    assert(Spans.covered(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Spans.covered(0, 100, Seq((-5L, 5L), (5L, 10L))) == 10)
    assert(Spans.covered(0, 100, Seq((200L, 300L))) == 0)
  }

  test("self time is duration minus the part children cover, per layer") {
    // pass [0,100] > query [5,95] > build [5,40] + exec [40,95];
    // two concurrent jobs under build, one job under exec that
    // outlives it, and a catalyst phase inside exec
    val spans = Seq(
      Span(1, -1, "pass", "pass", 0, 100),
      Span(2, 1, "q", "query", 5, 95),
      Span(3, 2, "build", "build", 5, 40),
      Span(4, 2, "exec", "exec", 40, 95),
      Span(5, 3, "job 0", "job", 10, 20),
      Span(6, 3, "job 1", "job", 15, 30),
      Span(7, 4, "job 2", "job", 60, 99),
      Span(8, 4, "planning", "catalyst", 41, 43))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 10)        // 100 - 90
    assert(self(2) == 0)         // build and exec tile the query
    assert(self(3) == 35 - 20)   // jobs cover [10,30]
    assert(self(4) == 55 - 35 - 2) // job clipped to [60,95], phase 2
    assert(self(7) == 39)
    val byLayer = Spans.selfByLayer(spans)
    assert(byLayer("job") == 10 + 15 + 39)
    assert(byLayer("catalyst") == 2)
    assert(byLayer("pass") + byLayer("query") + byLayer("build") +
      byLayer("exec") == 10 + 0 + 15 + 18)
  }

  test("the tracer nests spans and refuses out-of-order closes") {
    val t = new Tracer
    val a = t.open("a", "pass")
    t.open("b", "query")
    assertThrows[IllegalArgumentException](t.close(a))
    val t2 = new Tracer
    val x = t2.open("x", "pass")
    val y = t2.open("y", "query")
    assert(t2.close(y).parent == x)
    assert(t2.close(x).parent == -1)
    assert(t2.all.map(_.id).toSet == Set(x, y))
  }
}
