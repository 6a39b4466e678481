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
  * Nested sections (a seed bag whose per-seed work is itself a fold
  * loop, a threshold sweep whose per-threshold CV is a fold loop) run
  * the INNER level on a SECOND bounded pool: a bounded pool whose tasks
  * block awaiting tasks of the same pool can deadlock, but an outer
  * task blocking on a DIFFERENT pool cannot (the inner pool's tasks
  * never wait on the outer's), so one nesting level fans the fits all
  * the way out — a 3-threshold × 3-fold sweep runs its 9 fits
  * concurrently instead of 3 batches of 3 (round-18; the measured cost
  * of the fit groups is per-fit fixed overhead, so overlap IS the
  * optimization). Depth ≥ 2 falls back to sequential on the calling
  * thread. Results always return in input order, and every fit is
  * seeded-deterministic, so output is identical to the sequential
  * loop.
  *
  * A frame that every task of a fan-out reads is materialized BEFORE
  * the fan-out — `Materialize.scoped(df, eager = true)` inside one
  * function, an eager `localCheckpoint` for a frame that escapes —
  * or the concurrent first readers each compute it.
  */
object Par {

  private val parallelism: Int =
    math.min(8, math.max(2, Runtime.getRuntime.availableProcessors() / 4))

  private def newPool(name: String): ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(parallelism, { (r: Runnable) =>
        val t = new Thread(r, name)
        t.setDaemon(true)
        t
      }))

  private lazy val outerEc = newPool("graft-par")
  private lazy val innerEc = newPool("graft-par-inner")

  private val depth: ThreadLocal[java.lang.Integer] =
    ThreadLocal.withInitial(() => java.lang.Integer.valueOf(0))

  /** Map `f` over `xs` with bounded driver-side parallelism, returning
    * results in input order. Trivial inputs and calls nested two or
    * more Par levels deep run as a plain sequential map. */
  def mapPar[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val d = depth.get().intValue()
    if (xs.lengthCompare(1) <= 0 || d >= 2) xs.map(f)
    else {
      val ec = if (d == 0) outerEc else innerEc
      val fs = xs.map { x =>
        Future {
          depth.set(java.lang.Integer.valueOf(d + 1))
          try f(x)
          finally depth.set(java.lang.Integer.valueOf(d))
        }(ec)
      }
      fs.map(Await.result(_, Duration.Inf))
    }
  }
}
