package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private final case class P(traced: Boolean, wallS: Double) extends PassResult {
    def cpuS: Double = 0.0
    def tracer: Tracer = new Tracer
  }

  test("setup_s is the one-time start, the median set-up and every warm-up pass") {
    // a cold first set-up does not move the median; every warm-up pass counts
    assert(SetUp(5.0, Seq(3.0, 1.0, 0.5), Seq(4.0, 3.0, 2.0)).total == 5.0 + 1.0 + 9.0)
  }

  test("drift compares the later untraced passes with the earlier ones") {
    val steady = Seq(P(false, 2.0), P(true, 9.0), P(false, 2.0), P(false, 2.0), P(false, 2.0))
    assert(Harness.drift(steady) == 1.0)
    val warming = Seq(4.0, 4.0, 3.0, 2.0, 2.0).map(P(false, _))
    assert(Harness.drift(warming) == 0.5)
  }

  test("tracing overhead is the traced median minus the untraced one") {
    val ps = Seq(P(false, 1.0), P(true, 1.5), P(false, 1.2), P(true, 1.3))
    assert(math.abs(Harness.overheadS(ps) - 0.3) < 1e-9)
  }
}
