package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

/** One background job round overlapped with foreground driver work — the
  * recurring shape of the fold/commit latency chains (feed warm-up ∥
  * probe, delta ∥ state point-read, stats ∥ tombstones, gate ∥ catalyst
  * planning). `bg` runs on a daemon thread; `body` receives an awaiter
  * and calls it exactly where the result is needed.
  *
  * The helper's reason to exist beyond the two-line Future/Await it
  * replaces: the background work is ALWAYS awaited before control leaves
  * — including when the body throws. An un-awaited background Spark job
  * would otherwise keep running detached: it races whatever recovery the
  * caller's catch performs (e.g. an IVM reseed overwriting the very
  * table the orphan still reads), burns executor slots during the
  * recovery, and buries its own failure in an unobserved Future. The
  * failure-path await uses `Await.ready` (not `result`), so the BODY's
  * exception — the primary failure — is the one that propagates. On the
  * success path a bg-side failure surfaces at the body's own awaiter
  * call, or, when the body never calls it (a side-effect-only bg job),
  * as `withBg`'s own exception once the body returns: a failed
  * background job is never dropped.
  */
object Overlap {
  def withBg[A, B](bg: => A)(body: (() => A) => B): B = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f = Future(blocking(bg))
    val out =
      try body(() => Await.result(f, Duration.Inf))
      finally Await.ready(f, Duration.Inf)
    Await.result(f, Duration.Inf)
    out
  }
}
