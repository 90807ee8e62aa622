package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {

  test("a throwing and a wrong-output operation count as failed and are never timed") {
    val l = new Ledger
    val ok = l.attempt("ok") { Thread.sleep(5); Ledger.Ok }
    val threw = l.attempt("throws") { Thread.sleep(50); throw new RuntimeException("boom") }
    val wrong = l.attempt("wrong") { Thread.sleep(50); () => Some("hash mismatch") }
    val checkThrew = l.attempt("check throws") { () => throw new IllegalStateException("x") }
    assert(ok.nonEmpty && threw.isEmpty && wrong.isEmpty && checkThrew.isEmpty)
    assert(l.attempted == 4 && l.failed == 3)
    assert(l.failedShare == 0.75)
    // the only sample is the successful operation's own time
    assert(l.times == ok.toSeq)
    assert(l.errors.map(_.takeWhile(_ != ':')) == Seq("throws", "wrong", "check throws"))
  }

  test("tail: highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
  }

  test("no-task time is the span's wall minus the union of task intervals") {
    // tasks cover [10,30] and [25,40] inside the span [0,100]
    assert(Tracer.noTaskSeconds(0, 100, Seq((10L, 30L), (25L, 40L))) == 0.07)
    // intervals are clipped to the span
    assert(Tracer.noTaskSeconds(20, 50, Seq((0L, 30L), (45L, 90L))) == 0.015)
  }
}
