package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** The number of Spark SQL actions (query executions, succeeded or
    * failed) `body` runs. Listener events arrive asynchronously, in
    * order, and an action that ended before the listener registered may
    * still be delivered to it, so marked sentinel actions run before and
    * after `body` and the count is what arrives between them. */
  def actionCount(body: => Any): Int = {
    val seen = new LinkedBlockingQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.analyzed.output.map(_.name))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.analyzed.output.map(_.name))
    }
    def through(mark: String): Int = {
      spark.range(1).toDF(mark).collect()
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail(s"no $mark listener event within 60 s")))
        .takeWhile(_ != Seq(mark)).size
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.listenerManager.register(listener)
    try {
      through("__before")
      body
      through("__after")
    } finally session.listenerManager.unregister(listener)
  }

  /** The number of Spark jobs `body` starts, fenced as in [[actionCount]]
    * by sentinel jobs that carry a marker local property. */
  def jobCount(body: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.mark")))
          .getOrElse(""))
    }
    def through(mark: String): Int = {
      sc.setLocalProperty("graft.mark", mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.mark", null)
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail(s"no $mark job event within 60 s")))
        .takeWhile(_ != mark).size
    }
    sc.addSparkListener(listener)
    try {
      through("__before")
      body
      through("__after")
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // One JVM-wide session for the whole forked test run.
  lazy val session: SparkSession = graft.core.Sessions.local()
}
