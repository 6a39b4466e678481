package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Par

/** The driver-side fan-out contract of core.Par: input order, one pool
  * with nested calls run sequentially on the calling task's thread, and
  * a failing fan-out that returns only after every sibling has ended,
  * rethrowing even a fatal error.
  * No SparkSession needed. */
class ParSpec extends AnyFunSuite {

  private def thread: String = Thread.currentThread.getName

  test("results come back in input order when later tasks finish first") {
    val xs = 1 to 4
    val got = Par.mapPar(xs) { x => Thread.sleep((5 - x) * 40L); x * 10 }
    assert(got == xs.map(_ * 10))
  }

  test("a nested call runs sequentially on its caller's pool thread") {
    val got = Par.mapPar(Seq(1, 2)) { _ =>
      (thread, Par.mapPar(Seq(1, 2, 3))(_ => thread))
    }
    got.foreach { case (outer, inner) =>
      assert(outer == "graft-par" && inner == Seq.fill(3)(outer), got)
    }
    val names = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
    assert(!names.contains("graft-par-inner"), names)
  }

  test("a failing fan-out rethrows the first failure in input order once every task ended") {
    val finished = new AtomicInteger
    val ex = intercept[IllegalStateException] {
      Par.mapPar(0 until 4) { i =>
        if (i == 2) throw new IllegalStateException("task 2")
        Thread.sleep(if (i == 0) 100L else 400L)
        if (i == 0) throw new IllegalStateException("task 0")
        finished.incrementAndGet()
      }
    }
    assert(ex.getMessage == "task 0")
    assert(finished.get == 2, "the fan-out returned while siblings still ran")
  }

  test("a fatal error in a task is rethrown on the caller instead of hanging it") {
    // the caller runs on a thread of its own: a hung fan-out fails the
    // join below instead of the suite
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try Par.mapPar(Seq(1, 2)) { i =>
        if (i == 1) throw new StackOverflowError("task 1") else i
      } catch { case t: Throwable => thrown = t })
    caller.setDaemon(true)
    caller.start()
    caller.join(30000L)
    assert(thrown.isInstanceOf[StackOverflowError] && thrown.getMessage == "task 1",
      s"the caller got $thrown within 30 s")
  }

  test("a one-element input runs inline") {
    assert(Par.mapPar(Seq(1))(_ => thread) == Seq(thread))
    assert(Par.mapPar(Seq.empty[Int])(_ => thread).isEmpty)
  }

  test("the call after a throwing fan-out still fans out") {
    intercept[IllegalStateException] {
      Par.mapPar(Seq(1, 2))(_ => throw new IllegalStateException("boom"))
    }
    assert(Par.mapPar(Seq(1, 2))(_ => thread) == Seq("graft-par", "graft-par"))
  }
}
