package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Par

/** `Par.overlap` defers only non-fatal failures until both branches end. */
class ParSpec extends AnyFunSuite {

  test("an interrupting foreground propagates at once, interrupt flag restored") {
    val release = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      intercept[InterruptedException] {
        Par.overlap(release.await(30, TimeUnit.SECONDS)) {
          throw new InterruptedException("stop")
        }
      }
      // Thread.interrupted also clears the flag for the tests that follow
      assert(Thread.interrupted(), "the interrupt flag must be restored")
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 10, s"waited $waited s for the background branch")
    } finally release.countDown()
  }

  test("a non-fatal foreground failure waits for the background branch") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.overlap { Thread.sleep(200); done.set(true) } {
        throw new IllegalStateException("foreground")
      }
    }
    assert(e.getMessage == "foreground")
    assert(done.get, "the background branch must have finished")
  }

  test("both failing: the foreground's error carries the background's") {
    val e = intercept[IllegalStateException] {
      Par.overlap[Unit, Unit](throw new IllegalArgumentException("background")) {
        throw new IllegalStateException("foreground")
      }
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("background"))
  }

  test("a fatal background error is rethrown, not waited on forever") {
    intercept[LinkageError] {
      Par.overlap[Unit, Int](throw new LinkageError("background"))(1)
    }
  }
}
