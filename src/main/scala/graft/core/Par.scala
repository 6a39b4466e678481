package graft.core

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}

/** Driver-side parallelism for independent blocking Spark actions —
  * model fits above all. Spark fully supports concurrent job
  * submission from multiple driver threads (scheduling is per-job);
  * at bench scale each MLlib fit pays ~0.8-1 s of fixed multi-job
  * overhead that data-size reduction cannot remove, so running the
  * independent fits of a fold loop / seed bag / one-vs-rest sweep /
  * per-subspace codebook concurrently overlaps exactly that overhead.
  * On a real cluster the same overlap keeps executors busy while the
  * driver plans the next fit.
  *
  * There is one bounded pool. A `mapPar` called from inside a Par task
  * (a seed bag whose per-seed work is a fold loop) runs as a plain
  * sequential map on that task's thread: a bounded pool whose tasks
  * block awaiting tasks of the same pool can deadlock, and an alternated
  * A/B of a second pool for the inner level measured no gain over this
  * rule on the `solution` workload. Results always return in input
  * order, and every fit is seeded-deterministic, so output is identical
  * to the sequential loop. A failing fan-out waits for every sibling
  * before it rethrows, so its caller never returns while fits it
  * started still submit Spark jobs.
  *
  * A frame that every task of a fan-out reads is materialized BEFORE
  * the fan-out — `Materialize.scoped(df, eager = true)` inside one
  * function, an eager `localCheckpoint` for a frame that escapes —
  * or the concurrent first readers each compute it.
  */
object Par {

  private val parallelism: Int =
    math.min(8, math.max(2, Runtime.getRuntime.availableProcessors() / 4))

  private lazy val ec: ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(parallelism, { (r: Runnable) =>
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      }))

  /** Set on a pool thread while it runs a task. */
  private val inTask: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Map `f` over `xs` with bounded driver-side parallelism, returning
    * results in input order. Trivial inputs and calls from inside a Par
    * task run as a plain sequential map. When tasks throw, the first
    * throwable in input order is rethrown once every task has ended. */
  def mapPar[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0 || inTask.get()) xs.map(f)
    else {
      val fs = xs.map { x =>
        Future {
          inTask.set(true)
          // a Future never completes on a fatal error (a stack
          // overflow in a fit), so every throwable is carried back here
          try Right(f(x)) catch { case t: Throwable => Left(t) }
          finally inTask.set(false)
        }(ec)
      }
      fs.map(Await.result(_, Duration.Inf)).map(_.fold(t => throw t, identity))
    }
}
