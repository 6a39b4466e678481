package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import graft.core.Memo
import graft.io.{Hocon, ProjectPaths}
import graft.pipeline.Solution

/** One benchmark process: starts a session, prepares the inputs, runs
  * the workload's untimed warm-up, then a closed loop of operations (one
  * client; the next starts when the previous returns) while the next is
  * expected to end inside the time budget. It prints nothing: every
  * measurement goes to `<work>/raw.jsonl`, which `run.py` reduces to the
  * reported metrics.
  *
  * Arguments are `key=value` pairs: `mode` (registry | solution), `work`
  * (scratch directory), `seconds`, `trace` (0 | 1), `seed`, `cpus`, and
  * per mode `plan` (a file of query names, in run order), `split` (the
  * frozen light/heavy lists, one `<list> <query>` per line), `sf` and
  * `data` (where the generated tables are kept), or
  * `orders` (orders behind the supervised table) and `conf` (the
  * project's solution.conf).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val rec = new Records
    val cpus = a("cpus").toInt
    rec.add("posture", "nproc" -> Runtime.getRuntime.availableProcessors, "cpus" -> cpus,
      "loadavg" -> loadavg())

    val s0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = secondsSince(s0)
    val workload: Workload = a("mode") match {
      case "registry" =>
        checkSplit(rec, lines(a("split")).map(_.split(" ", 2)).map(p => p(0) -> p(1)))
        new Registry(spark, rec, lines(a("plan")), a("sf").toDouble, Paths.get(a("data")))
      case "solution" => new SolutionBuild(spark, work, rec, a("seed").toLong, a("orders").toInt,
        Files.readString(Paths.get(a("conf"))))
      case other => sys.error(s"unknown mode $other")
    }
    // inputs are prepared three times and the median reported, so one
    // slow pass does not move set-up time; the last copy is used
    val inputsS = (1 to 3).map { i =>
      val t = System.nanoTime(); workload.prepare(i); secondsSince(t)
    }
    val traceRun = a("trace") == "1"
    val trace = new Trace(rec)
    def operation(op: Int, traced: Boolean): Unit = {
      workload.before(op)
      if (traced) spark.sparkContext.addSparkListener(trace)
      val sampler = if (traced) Some(new DispatchSampler(rec, Thread.currentThread, 50)) else None
      sampler.foreach(_.start())
      val (tasks0, failed0) = (trace.tasks, trace.failedTasks)
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime(); val c0 = cpuNanos()
      workload.run(op, split = traced)
      val wall = secondsSince(n0); val cpu = (cpuNanos() - c0) / 1e9
      val t1 = System.currentTimeMillis()
      sampler.foreach(_.finish())
      if (traced) { trace.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(trace) }
      val checks = workload.after(op)
      rec.add("op", (Seq("op" -> op, "traced" -> traced, "t0" -> t0, "t1" -> t1,
        "wall_s" -> wall, "cpu_s" -> cpu, "heap_mb" -> liveHeapMb(),
        "tasks" -> (trace.tasks - tasks0), "failed_tasks" -> (trace.failedTasks - failed0)) ++
        checks): _*)
    }

    val w0 = System.nanoTime()
    workload.warmup()
    rec.add("setup", "session_s" -> sessionS, "inputs_s" -> inputsS,
      "warmup_s" -> secondsSince(w0))

    // closed loop: one operation at a time while the next is expected to
    // end inside the budget, and at least one
    val budget = a("seconds").toDouble
    val m0 = System.nanoTime()
    var op = 0
    var last = 0.0
    while (op == 0 || secondsSince(m0) + last <= budget) {
      val t = System.nanoTime()
      operation(op, traced = traceRun)
      last = secondsSince(t)
      op += 1
    }
    rec.writeTo(work.resolve("raw.jsonl"))
    spark.stop()
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** Self-check of the frozen split: the light and heavy lists are
    * disjoint and together hold exactly the keys of SparkEntry.queries. */
  def checkSplit(rec: Records, split: Seq[(String, String)]): Unit = {
    val light = split.collect { case ("light", q) => q }.toSet
    val heavy = split.collect { case ("heavy", q) => q }.toSet
    val keys = graft.SparkEntry.queries.keySet
    rec.add("split", "light" -> light.size, "heavy" -> heavy.size,
      "both" -> (light & heavy).toSeq.sorted,
      "unlisted" -> (keys -- light -- heavy).toSeq.sorted,
      "unknown" -> ((light ++ heavy) -- keys).toSeq.sorted)
  }

  /** The session configuration graft.Bench uses. */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(graft.functions.GraftFunctions.inject)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Heap in use after full collections, in MiB. The first collection
    * queues the weak references Spark's ContextCleaner watches, the pause
    * lets it drop the broadcasts and shuffles they guard, and the second
    * collection reclaims them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3)
      .toSeq.map(_.toDouble)
    catch { case _: Throwable => Nil }

  /** The full-row checksum graft.Bench forces each query with, plus the
    * row count in the same aggregate. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Records a span around `f`: epoch-millisecond bounds (the clock
    * Spark's listener events use) plus a nanosecond wall time. */
  def span[T](rec: Records, op: Int, name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try f
    finally rec.add("span", "op" -> op, "name" -> name, "t0" -> t0,
      "t1" -> System.currentTimeMillis(), "wall_s" -> secondsSince(n0))
  }
}

trait Workload {
  /** Writes the inputs (the `i`-th of the set-up repetitions). */
  def prepare(i: Int): Unit

  /** Untimed warm-up of the session and the JIT; set-up time counts it. */
  def warmup(): Unit

  /** Untimed preparation of operation `op`. */
  def before(op: Int): Unit = ()

  /** Operation `op`, timed. `split` asks for the traced form of the
    * operation, where it differs. */
  def run(op: Int, split: Boolean): Unit

  /** Untimed output checks of operation `op`: extra op-record fields. */
  def after(op: Int): Seq[(String, Any)]
}

/** A pass over a fixed list of registry queries, each forced by the
  * full-row checksum. `Memo.clear()` starts every pass, so each pass pays
  * its memo builds. */
final class Registry(spark: SparkSession, rec: Records, plan: Seq[String], sf: Double,
    data: Path) extends Workload {
  private val queries = graft.SparkEntry.queries

  /** The tables depend on nothing but the generator, so a checkout
    * generates them once (seed 42) and later runs read them; set-up then
    * reads the schema of every table. */
  def prepare(i: Int): Unit = {
    if (!Files.exists(data.resolve("_DONE"))) {
      val tmp = data.resolveSibling(s"${data.getFileName}.tmp-${ProcessHandle.current().pid()}")
      Gen.tables(spark, tmp, sf, seed = 42L)
      Files.createFile(tmp.resolve("_DONE"))
      Files.move(tmp, data, StandardCopyOption.ATOMIC_MOVE)
    }
    Gen.Tables.foreach(t => spark.read.parquet(data.resolve(s"$t.parquet").toString).schema)
  }

  /** graft.Bench's warm-up (one `q1_agg`), then one untimed pass over
    * the plan: the first pass in a JVM is mostly JIT compilation. */
  def warmup(): Unit = {
    Harness.checksum(queries("q1_agg")(spark, data.toString))
    run(-1, split = false)
  }

  def run(op: Int, split: Boolean): Unit = {
    Memo.clear()
    plan.foreach { name =>
      val c0 = Harness.cpuNanos()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val (ok, digest, rows, err) =
        try {
          val (d, n) = Harness.checksum(queries(name)(spark, data.toString))
          (true, d, n, "")
        } catch {
          case e: Throwable => (false, 0L, -1L, e.toString.linesIterator.nextOption().getOrElse(""))
        }
      rec.add("query", "op" -> op, "name" -> name, "t0" -> t0,
        "t1" -> System.currentTimeMillis(), "wall_s" -> Harness.secondsSince(n0),
        "cpu_s" -> (Harness.cpuNanos() - c0) / 1e9, "ok" -> ok,
        "digest" -> digest.toString, "rows" -> rows, "error" -> err)
    }
  }

  def after(op: Int): Seq[(String, Any)] =
    Seq("memo_build" -> Memo.buildSeconds, "memo_slots" -> Memo.buildSeconds.size)
}

/** One cold `Solution.buildSolution` on a fresh copy of a generated
  * project. In its split form the same work runs as three public calls:
  * `Solution.build` (single models), `buildSolution` (only stacking and
  * blending are left to run), and `buildSolution` again on the complete
  * project (every task is skipped). */
final class SolutionBuild(spark: SparkSession, work: Path, rec: Records, seed: Long,
    orders: Int, config: String) extends Workload {
  private val Conf = "solution.conf"
  private val Input = "features_generation/features_dataset_001"
  private var template: Path = _
  private var trainRows = 0L

  def prepare(i: Int): Unit = {
    template = work.resolve(s"template_$i")
    val (header, table) = Gen.supervised(sf = orders / 1500000.0, seed)
    val r = new scala.util.Random(seed)
    val (train, test) = table.partition(_ => r.nextDouble() < 0.8)
    trainRows = train.size
    val dir = template.resolve(Input)
    Files.createDirectories(dir)
    def csv(cols: Seq[String], rows: Seq[Seq[Any]]): String =
      (cols.mkString(",") +: rows.map(_.take(cols.size).mkString(","))).mkString("", "\n", "\n")
    Files.writeString(dir.resolve("train.csv"), csv(header, train))
    Files.writeString(dir.resolve("test.csv"), csv(header.init, test))
    Files.createDirectories(template.resolve("configs"))
    Files.writeString(template.resolve(s"configs/$Conf"), config)
  }

  /** A checksum of the training table only: an untimed warm-up build
    * would make a run longer than the benchmark's time budget allows
    * (README.md), so the measured build is the first in its JVM. */
  def warmup(): Unit = Harness.checksum(spark.read.option("header", "true")
    .option("inferSchema", "true").csv(template.resolve(s"$Input/train.csv").toString))

  private var proj: Path = _
  private var before = Set.empty[Path]
  private var result: Solution.BuildResult = _
  private var ran = Seq.empty[String]

  override def before(op: Int): Unit = {
    proj = work.resolve(s"project_$op")
    copyTree(template, proj)
    before = files(proj).keySet
  }

  def run(op: Int, split: Boolean): Unit = {
    val p = proj.toString
    if (!split) {
      result = Harness.span(rec, op, "buildSolution")(
        Solution.buildSolution(spark, p, "configs", Conf))
      ran = ranTasks(result)
    } else {
      val single = Harness.span(rec, op, "Solution.build")(
        Solution.build(spark, p, "configs", Conf))
      result = Harness.span(rec, op, "buildSolution.ensemble")(
        Solution.buildSolution(spark, p, "configs", Conf))
      val again = Harness.span(rec, op, "buildSolution.resume")(
        Solution.buildSolution(spark, p, "configs", Conf))
      ran = single.flatMap(_.report.ran) ++ ranTasks(result) ++ ranTasks(again)
    }
  }

  def after(op: Int): Seq[(String, Any)] = {
    val written = files(proj).filter { case (f, _) => !before.contains(f) }
    val checks = check(proj, result)
    deleteTree(proj)
    Seq("tasks_ran" -> ran.size, "files_written" -> written.size,
      "bytes_written" -> written.values.sum) ++ checks
  }

  private def ranTasks(r: Solution.BuildResult): Seq[String] =
    (r.models ++ r.stackers ++ r.blender.toSeq).flatMap(_.report.ran)

  /** Output checks: the declared artifacts that are missing, the row
    * count of each OOF table, the digest of all OOF tables, and the
    * blended CV score. */
  private def check(proj: Path, r: Solution.BuildResult): Seq[(String, Any)] = {
    val cfg = Hocon.parseFile(proj.resolve(s"configs/$Conf").toString)
    val paths = new ProjectPaths(cfg)
    val declared = r.models.flatMap { m =>
      val (runFs, runHpo, bagging) = paths.singleModelFlags(m.model)
      val ingest = proj.resolve(paths.featureGenerationDir(m.model)._2)
      Seq(ingest.resolve("train_new.csv"), ingest.resolve("test_new.csv")) ++
        (if (runFs) Seq(proj.resolve(paths.featureSelectionDir(m.model, runFs)._2)
          .resolve("optimal_features.txt")) else Nil) ++
        (if (runHpo) Seq(proj.resolve(paths.hpoDir(m.model, runFs, runHpo)._2)
          .resolve("optimized_hp.txt")) else Nil) ++
        Seq("train_OOF.csv", "cv_results.csv", Conf, s"${m.model}_oof_data_info.txt",
          "test.csv", "confusion_matrix.csv").map(Paths.get(m.outputDir).resolve) ++
        (if (bagging) Seq("train_OOF_bagged.csv", "test_bagged.csv")
          .map(Paths.get(m.outputDir).resolve) else Nil)
    } ++ r.stackers.flatMap(s => Seq("train_OOF.csv", "cv_results.csv", "test.csv")
      .map(Paths.get(s.outputDir).resolve)) ++
      r.blender.toSeq.flatMap(b => Seq("blend_weights.txt", "blend_history.csv", "test.csv")
        .map(Paths.get(b.outputDir).resolve))
    val missing = declared.filterNot(Files.exists(_)).map(proj.relativize(_).toString)
    val oofs = (r.models.map(m => m.model -> m) ++ r.stackers.map(s => s"stacker.${s.model}" -> s))
      .map { case (name, m) =>
        name -> Harness.checksum(
          spark.read.option("header", "true").csv(s"${m.outputDir}/train_OOF.csv"))
      }
    Seq("missing" -> missing, "train_rows" -> trainRows,
      "oof_rows" -> oofs.map { case (m, (_, n)) => m -> n }.toMap,
      "oof_digest" -> oofs.map(_._2._1).foldLeft(0L)(_ * 31 + _).toString,
      "blend_score" -> r.blender.map(_.cvScore).getOrElse(Double.NaN))
  }

  private def files(root: Path): Map[Path, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
    finally s.close()
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def deleteTree(root: Path): Unit = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
