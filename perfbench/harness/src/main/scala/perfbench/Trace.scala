package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Raw trace records, kept in memory and written out when the run ends.
  * Every record is one JSON object; `metrics.py` does the arithmetic. */
final class Records {
  private val lines = ArrayBuffer.empty[String]

  def add(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += (("type" -> kind) +: fields).map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }
      .mkString("{", ",", "}")
  }

  def writeTo(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Spark listener the benchmark attaches to its own session for traced
  * passes. Per job it records the interval and the `graft.*` frames of
  * the job's call site (the long form, `StageInfo.details`, innermost
  * first); per completed stage its interval and executor metrics; per
  * task only whether it failed. Module attribution happens in `metrics.py`.
  */
final class Trace(out: Records) extends SparkListener {
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val fenceJobs = scala.collection.concurrent.TrieMap.empty[Int, Unit]
  @volatile private var fenceLatch = new CountDownLatch(0)
  @volatile var tasks = 0L
  @volatile var failedTasks = 0L

  private def fenced(job: Int): Boolean = fenceJobs.contains(job)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def property(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
    if (property("spark.jobGroup.id").contains(Trace.FenceGroup)) {
      fenceJobs.put(e.jobId, ())
      return
    }
    // the result stage is created last, so it carries this job's call site
    val result = e.stageInfos.maxByOption(_.stageId)
    val frames = Trace.graftFrames(result.map(_.details).getOrElse(""))
    out.add("job_start", "job" -> e.jobId, "t" -> e.time, "frames" -> frames,
      "execution" -> property("spark.sql.execution.id"),
      "root_execution" -> property("spark.sql.execution.root.id"))
  }

  /** Adaptive query execution submits shuffle and broadcast stages as
    * jobs from Spark's own thread pools, whose call sites hold no graft
    * frame; the SQL execution they belong to was started on the calling
    * thread, and its start event carries that thread's call site. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      out.add("sql_start", "execution" -> s.executionId.toString,
        "frames" -> Trace.graftFrames(s.details),
        "functions" -> Trace.usesGraftFunction(s.physicalPlanDescription))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenced(e.jobId)) fenceLatch.countDown()
    else out.add("job_end", "job" -> e.jobId, "t" -> e.time, "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    if (fenced(job)) return
    val m = i.taskMetrics
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      if (m == null) 0L else f(m)
    out.add("stage", "stage" -> i.stageId, "job" -> job,
      "t0" -> i.submissionTime.getOrElse(-1L), "t1" -> i.completionTime.getOrElse(-1L),
      "tasks" -> i.numTasks, "ok" -> i.failureReason.isEmpty,
      "run_ms" -> metric(_.executorRunTime), "cpu_ns" -> metric(_.executorCpuTime),
      "shuffle_read" -> metric(t =>
        t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "spill" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!fenced(stageJob.getOrElse(e.stageId, -1))) {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
    }

  /** Blocks until every event posted before this call has reached the
    * listener: runs a one-task job in a reserved job group and waits for
    * its end event, which the bus delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    fenceLatch = latch
    sc.setJobGroup(Trace.FenceGroup, "drain listener events")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener events did not drain within 60 s")
  }
}

/** While a traced operation runs, samples every `intervalMs` the
  * threads that wait in `core.Par.mapPar` for work they handed to its
  * pools (the client thread and the pools' own threads, for nested
  * sections), and records the `graft.*` frames on their stacks each time
  * that set changes. A job submitted from a pool thread carries only that
  * thread's stack in its call site; these records give it the frames of
  * the threads that dispatched it. */
final class DispatchSampler(out: Records, client: Thread, intervalMs: Long) extends Thread {
  @volatile private var running = true
  setDaemon(true)
  setName("perfbench-dispatch-sampler")

  override def run(): Unit = {
    var last = Seq.empty[String]
    while (running) {
      val t = System.currentTimeMillis()
      val frames = candidates().flatMap(th => Trace.dispatcherFrames(th.getStackTrace)).distinct.sorted
      if (frames != last) {
        out.add("dispatch", "t" -> t, "frames" -> frames)
        last = frames
      }
      Thread.sleep(intervalMs)
    }
  }

  private def candidates(): Seq[Thread] = {
    val group = client.getThreadGroup
    val all = new Array[Thread](group.activeCount() * 2 + 16)
    val n = group.enumerate(all)
    client +: all.take(n).toSeq.filter(th => th != client && th.getName.startsWith("graft-par"))
  }

  def finish(): Unit = { running = false; join() }
}

object Trace {
  val FenceGroup = "perfbench-fence"

  /** The `prettyName` of every Catalyst expression in graft.functions,
    * as a physical plan prints it (`cosine_sim(a, b)`). */
  val GraftFunctionNames: Seq[String] = Seq("bloom_might_contain", "bpe_encode", "cosine_sim",
    "hashed_ngrams", "hashed_shingles", "l2_sq", "mg_sketch", "minhash_signature",
    "nfc_normalize", "simhash_tokens", "sorted_intersect_count")

  private val functionCall =
    GraftFunctionNames.map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\(").r

  /** Whether a physical plan evaluates one of the library's expressions. */
  def usesGraftFunction(plan: String): Boolean =
    plan != null && functionCall.findFirstIn(plan).isDefined

  /** The `graft.*` classes on a thread's stack when the innermost of them
    * is `core.Par` (the thread waits in `mapPar` for work it dispatched;
    * a pool thread running its task has the task's frames innermost);
    * otherwise none. */
  def dispatcherFrames(stack: Array[StackTraceElement]): Seq[String] = {
    val graft = stack.filter(_.getClassName.startsWith("graft."))
    if (graft.headOption.exists(_.getClassName == "graft.core.Par$"))
      graft.map(_.getClassName.split("\\$\\$Lambda")(0)).distinct.toSeq
    else Nil
  }

  /** The `graft.*` class names in a long-form call site, innermost
    * first, with consecutive repeats collapsed. A frame reads
    * `graft.cv.CrossValidation$.$anonfun$run$1(CrossValidation.scala:42)`;
    * the class is everything before the method name. */
  def graftFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).map { f =>
      val call = f.takeWhile(_ != '(')
      call.substring(0, math.max(call.lastIndexOf('.'), 0))
    }.filter(_.nonEmpty).foldLeft(Vector.empty[String]) { (acc, c) =>
      if (acc.lastOption.contains(c)) acc else acc :+ c
    }
}
