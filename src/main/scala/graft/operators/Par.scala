package graft.operators

import java.util.concurrent.TimeoutException
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, DurationInt, FiniteDuration}
import scala.util.control.NonFatal

/** Driver-thread overlap of two independent Spark actions (guide §2.6:
  * the scheduler happily runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially; the second
  * job's tasks back-fill executors the first job's task tail leaves
  * idle), with leak-proof failure handling: the backgrounded branch is
  * awaited even when the foreground branch fails. The bare
  * Future/Await pattern this replaces abandoned the future on a
  * foreground failure — the caller's `finally` cleanup (an unpersist, a
  * temp-dir delete) then raced a still-running write job, and the
  * future's own failure was swallowed outright (a retrying caller could
  * also race the orphaned write). The foreground failure wins when both
  * branches throw; the background failure rides along as suppressed.
  *
  * Only non-fatal failures are deferred. A fatal error (VM error, linkage
  * error) or an `InterruptedException` in the foreground, or an interrupt
  * while waiting for the background, propagates at once, an interrupt
  * with the thread's interrupt flag restored; a fatal error in the
  * background is rethrown once the foreground has finished.
  */
private[graft] object Par {

  /** Run `background` on a pooled driver thread concurrently with
    * `foreground` on the calling one; return both results. A non-fatal
    * failure of either branch propagates only after BOTH have finished.
    */
  def overlap[A, B](background: => A)(foreground: => B): (A, B) = {
    // a plain Future never completes when its body throws a fatal error,
    // which would leave the await below hanging: carry it as a value
    val fa = Future {
      try Right(background) catch {
        case e: Throwable if !NonFatal(e) && !e.isInstanceOf[InterruptedException] =>
          Left(e)
      }
    }(ExecutionContext.global)
    def attempt[T](body: => T): Either[Throwable, T] =
      try Right(body) catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case NonFatal(e) => Left(e)
      }
    val rb = attempt(foreground)
    val ra = attempt(Await.result(fa, Duration.Inf))
    (rb, ra) match {
      case (_, Right(Left(fatal))) => throw fatal
      case (Right(vb), Right(Right(va))) => (va, vb)
      case (Left(eb), Left(ea)) =>
        if (eb ne ea) eb.addSuppressed(ea)
        throw eb
      case (Left(eb), _) => throw eb
      case (_, Left(ea)) => throw ea
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** How often [[awaitGate]] reports that it is still waiting. */
  val GateSlice: FiniteDuration = 30.seconds

  /** How long [[awaitGate]] waits in all before it gives up. */
  val GateBound: FiniteDuration = 60.minutes

  /** Wait for a publish-order gate (the other table of a verb has cut
    * over) while holding `table`'s lease. Waits in slices of `slice`,
    * logging a WARN per slice with the verb, the table and the time waited
    * so far, and throws a `TimeoutException` after `bound`, so a gate that
    * never opens ends the verb (its lease is released by the caller's
    * `finally`) instead of holding the lease forever. A failed gate
    * rethrows its failure.
    */
  def awaitGate(gate: Future[_], verb: String, table: String,
      slice: FiniteDuration = GateSlice, bound: FiniteDuration = GateBound,
      warn: String => Unit = log.warn(_)): Unit = {
    val t0 = System.nanoTime()
    def waited = Duration.fromNanos(System.nanoTime() - t0)
    while (!gate.isCompleted) {
      if (waited >= bound)
        throw new TimeoutException(s"$verb: the publish gate of table " +
          s"$table did not open within $bound")
      try Await.ready(gate, slice.min(bound - waited))
      catch {
        case _: TimeoutException =>
          warn(s"$verb: table $table still waits for its publish gate " +
            s"after ${waited.toMillis} ms")
      }
    }
    Await.result(gate, Duration.Zero)
    ()
  }
}
