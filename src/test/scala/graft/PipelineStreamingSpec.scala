package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.pipeline.{Pipeline, Solution}
import graft.streaming.Events

/** Orchestration (Luigi file-target semantics + the iris e2e solution
  * build) and Structured Streaming over the events table. */
class PipelineStreamingSpec extends SparkSpec {

  test("pipeline: complete tasks are skipped, incomplete run after deps") {
    val dir = Files.createTempDirectory("graft_pipe")
    var runs = Map("a" -> 0, "b" -> 0)
    def mk() = {
      val a = Pipeline.Task("a", Seq(s"$dir/a.out"))(() => {
        runs += "a" -> (runs("a") + 1); Files.writeString(Paths.get(s"$dir/a.out"), "x")
      })
      val b = Pipeline.Task("b", Seq(s"$dir/b.out"), deps = Seq(a))(() => {
        runs += "b" -> (runs("b") + 1); Files.writeString(Paths.get(s"$dir/b.out"), "y")
      })
      b
    }
    val r1 = Pipeline.execute(mk())
    assert(r1.ran == Seq("a", "b") && r1.skipped.isEmpty)
    val r2 = Pipeline.execute(mk())
    assert(r2.ran.isEmpty && r2.skipped == Seq("b"), "output exists => skip wholesale")
    Files.delete(Paths.get(s"$dir/b.out"))
    val r3 = Pipeline.execute(mk())
    assert(r3.ran == Seq("b") && r3.skipped == Seq("a"), "resume re-runs only the gap")
    assert(runs == Map("a" -> 1, "b" -> 2))
  }

  test("pipeline: the report times each task that ran, excluding its deps") {
    val dir = Files.createTempDirectory("graft_pipe_time")
    val a = Pipeline.Task("a", Seq(s"$dir/a.out"))(() => {
      Thread.sleep(300); Files.writeString(Paths.get(s"$dir/a.out"), "x")
    })
    val b = Pipeline.Task("b", Seq(s"$dir/b.out"), deps = Seq(a))(() => {
      Files.writeString(Paths.get(s"$dir/b.out"), "y")
    })
    val r1 = Pipeline.execute(b)
    assert(r1.seconds.keySet == Set("a", "b"))
    assert(r1.seconds("a") >= 0.3 && r1.seconds("b") < 0.3, r1.seconds)
    Files.delete(Paths.get(s"$dir/b.out"))
    val r2 = Pipeline.execute(b)
    assert(r2.seconds.keySet == Set("b"), "a skipped task has no time")
  }

  test("pipeline: a task that crashed mid-write re-runs on resume") {
    import spark.implicits._
    val rows = (1 to 60).map(i => (i, i * i)).toDF("id", "sq")
    def task(dir: String, crash: Boolean) = Pipeline.Task("write",
        Seq(s"$dir/meta.txt", s"$dir/t.csv"))(() => {
      graft.io.Sources.writeJsonManifest(s"$dir/meta.txt", Map("rows" -> "60"))
      if (crash) {
        // What a process killed during the Spark write leaves behind: the
        // output directory, created at job start, holding a partial part
        // file under _temporary/ and no _SUCCESS. (An in-process failure
        // is cleaned up by the job abort; a killed process is not.)
        val part = Paths.get(s"$dir/t.csv/_temporary/0/_temporary/attempt_0/part-00000.csv")
        Files.createDirectories(part.getParent)
        Files.writeString(part, "id,sq\n1,1\n2,4\n")
        throw new IllegalStateException("injected fault")
      }
      graft.io.Sources.writeCsv(rows, s"$dir/t.csv", floatDecimals = None)
    })
    def content(dir: String) = (
      Files.readString(Paths.get(s"$dir/meta.txt")),
      spark.read.option("header", "true").csv(s"$dir/t.csv")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString.toInt))
    val clean = Files.createTempDirectory("graft_pipe_clean").toString
    assert(Pipeline.execute(task(clean, crash = false)).ran == Seq("write"))

    val dir = Files.createTempDirectory("graft_pipe_crash").toString
    intercept[IllegalStateException](Pipeline.execute(task(dir, crash = true)))
    val resumed = Pipeline.execute(task(dir, crash = false))
    assert(resumed.ran == Seq("write"), "a directory without _SUCCESS is not complete")
    assert(content(dir) == content(clean))
    assert(Pipeline.execute(task(dir, crash = true)).skipped == Seq("write"))
  }

  test("corpus build: config-driven curation pipeline with file-target resume") {
    val proj = Files.createTempDirectory("graft_corpus").toString
    Files.createDirectories(Paths.get(s"$proj/configs"))
    // min_words 20 (the sf0.001 docs are 10-99 words; the paper's 50
    // would halve the corpus) and a mixture pass over two sources
    val conf = s"""
      |corpus_pipeline {
      |  input {
      |    parquet       = "$sf/documents.parquet"
      |    id_column     = doc_id
      |    text_column   = text
      |    source_column = source
      |  }
      |  normalize { nfc = true }
      |  quality {
      |    gopher_word_rules = false
      |    min_words         = 20
      |    max_dup_gram_frac = 0.3
      |  }
      |  dedup   { near_dup_threshold = 0.5 }
      |  mixture { run = true, targets { src0 = 0.6, src1 = 0.4 } }
      |  pack    { window = 128 }
      |  output_dirname = "corpus_prep_001"
      |}""".stripMargin
    Files.writeString(Paths.get(s"$proj/configs/corpus.conf"), conf)

    val r = graft.pipeline.CorpusSolution.buildCorpus(
      spark, proj, "configs", "corpus.conf")
    assert(r.report.ran == Seq("NormalizeCorpus", "QualityFilter", "Deduplicate",
      "MixtureSampling", "PackOffsets", "CorpusStats"))
    val out = r.outputDir
    // stage monotonicity: each filter stage only removes rows
    def n(d: String) = spark.read.parquet(s"$out/$d").count()
    assert(n("normalized") == core.Tables.documents(spark, sf).count())
    assert(n("quality") < n("normalized"), "min_words=20 must drop short docs")
    assert(n("quality") > 0)
    assert(n("deduped") <= n("quality"))
    assert(n("mixture") <= n("deduped"))
    assert(n("packed") == n("mixture"), "packing keeps every surviving doc")
    // mixture honors the target list (only the listed sources remain)
    val srcs = spark.read.parquet(s"$out/mixture")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(srcs.subsetOf(Set("src0", "src1")))
    // packed offsets are a dense prefix sum over the mixture corpus
    val packed = spark.read.parquet(s"$out/packed")
      .orderBy("start_offset").collect()
    assert(packed.head.getAs[Long]("start_offset") == 0L)
    // stats artifacts: per-source accounting + stage-count manifest
    assert(r.stats.columns.toSeq == Seq("source", "n_docs", "total_tokens"))
    assert(Files.exists(Paths.get(s"$out/corpus_stats.json")))
    // the dedup stage persists its skew guard's drop accounting next to
    // the corpus (VERDICT r14 #4): one row, zero drops on this corpus
    val drops = spark.read.parquet(s"$out/deduped_drop_stats").collect()
    assert(drops.length == 1 &&
      drops.head.schema.fieldNames.toSeq ==
        Seq("n_groups_dropped", "n_rows_dropped"),
      s"drop-stats artifact malformed: ${drops.toSeq}")
    assert(drops.head.getLong(0) == 0L && drops.head.getLong(1) == 0L,
      "no bucket should saturate the cap at spec scale")
    // Luigi resume: a second build skips every stage
    val again = graft.pipeline.CorpusSolution.buildCorpus(
      spark, proj, "configs", "corpus.conf")
    assert(again.report.ran.isEmpty && again.report.skipped.nonEmpty,
      "all corpus stages skipped on re-run")

    // temperature mode: one knob instead of a target map; every source
    // survives (flattening, not selection) and no source is upsampled.
    // diagnostics on: the distribution-QA leaf emits per-source KL (>=0)
    // and a mean LM score without disturbing the corpus stages.
    val conf2 = conf
      .replace("mixture { run = true, targets { src0 = 0.6, src1 = 0.4 } }",
        "mixture { run = true, mode = temperature, alpha = 0.3 }\n" +
          "  diagnostics { run = true }")
      .replace("corpus_prep_001", "corpus_prep_002")
    Files.writeString(Paths.get(s"$proj/configs/corpus_temp.conf"), conf2)
    val t = graft.pipeline.CorpusSolution.buildCorpus(
      spark, proj, "configs", "corpus_temp.conf")
    assert(t.report.ran.contains("MixtureSampling"))
    val out2 = t.outputDir
    val before = spark.read.parquet(s"$out2/deduped")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = spark.read.parquet(s"$out2/mixture")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet,
      s"temperature mixing flattens, it must not drop sources: $before -> $after")
    after.foreach { case (s, c) =>
      assert(c <= before(s), s"source $s upsampled: ${before(s)} -> $c")
    }
    // diagnostics leaf: one row per deduped source, KL finite and >= 0
    assert(t.report.ran.contains("CorpusDiagnostics"))
    val diag = spark.read.parquet(s"$out2/diagnostics").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(diag.keySet == before.keySet, s"diagnostics must cover every source")
    assert(diag.values.forall(k => k >= 0.0 && !k.isNaN && !k.isInfinite),
      s"KL must be finite and nonnegative: $diag")
  }

  test("solution build: iris end-to-end with reference artifact layout") {
    // materialize the iris project skeleton (in-repo fixture) in a temp dir
    val ref = "src/test/resources/iris"
    val proj = Files.createTempDirectory("graft_iris").toString
    Files.createDirectories(Paths.get(s"$proj/configs"))
    Files.createDirectories(Paths.get(s"$proj/features_generation/features_dataset_001"))
    // test-speed knobs: shrink the HPO budget and enable FS for the
    // first model so those stages are exercised end-to-end
    val conf = Files.readString(Paths.get(s"$ref/configs/solution.conf"))
      .replace("init_points = 20", "init_points = 1")
      .replace("n_iter      = 20", "n_iter      = 1")
      .replaceFirst("run_fs      = False", "run_fs      = True")
      .replace("nb_target_permutation_runs = 10", "nb_target_permutation_runs = 3")
    Files.writeString(Paths.get(s"$proj/configs/solution.conf"), conf)
    Seq("train.csv", "test.csv").foreach { f =>
      Files.copy(Paths.get(s"$ref/features_generation/features_dataset_001/$f"),
        Paths.get(s"$proj/features_generation/features_dataset_001/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // every frame the build caches is released by its owner: a task's own
    // once its outputs are written, the frames tasks share (a model's
    // training frame, the ensemble stage's OOF and test matrices) once
    // their stage ends
    // (CacheManager.numCachedEntries is private[spark], public in bytecode)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cachedEntries(): Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val cachedBefore = cachedEntries()
    val result = Solution.buildSolution(spark, proj, "configs", "solution.conf")
    assert(cachedEntries() == cachedBefore, "the build left cached frames behind")
    val runs = result.models
    assert(runs.map(_.model) == Seq("lightgbm", "xgboost", "et", "logistic_regression"))
    runs.foreach { r =>
      assert(r.cvScore > 0.7,
        s"${r.model}: iris 3-fold CV accuracy ${r.cvScore} not above threshold")
      assert(Files.exists(Paths.get(s"${r.outputDir}/train_OOF.csv")))
      assert(Files.exists(Paths.get(s"${r.outputDir}/test.csv")))
      assert(Files.exists(Paths.get(s"${r.outputDir}/cv_results.csv")))
      assert(Files.exists(Paths.get(s"${r.outputDir}/train_OOF_bagged.csv")),
        "bagged per-seed table (run_bagging=True, 3 seeds)")
      assert(Files.exists(Paths.get(s"${r.outputDir}/solution.conf")), "config copied (S7)")
      assert(Files.exists(Paths.get(s"${r.outputDir}/confusion_matrix.csv")),
        "confusion table emitted in place of the S8 plot")
    }
    // FS stage ran for lightgbm (run_fs flipped on) and HPO for all
    assert(Files.exists(Paths.get(
      s"$proj/features_selection/features_dataset_001/target_permutation_fs_001/optimal_features.txt")),
      "FS wrote optimal_features.txt (create_solution.py:165-168)")
    assert(runs.head.report.ran.contains("FeatureSelection_lightgbm"))
    assert(runs.head.report.ran.contains("RunSingleModelHPO_lightgbm"))
    // stacking branch (run_stacking=True): two meta-models
    assert(result.stackers.map(_.model) == Seq("lightgbm", "logistic_regression"))
    result.stackers.foreach { s =>
      assert(s.cvScore > 0.7, s"stacker ${s.model} accuracy ${s.cvScore}")
      assert(Files.exists(Paths.get(s"${s.outputDir}/train_OOF.csv")))
      assert(Files.exists(Paths.get(s"${s.outputDir}/test.csv")),
        "stacker test predictions (predict_test)")
    }
    // blending branch (run_blending=True)
    val bl = result.blender.get
    assert(Files.exists(Paths.get(s"${bl.outputDir}/blend_weights.txt")))
    assert(Files.exists(Paths.get(s"${bl.outputDir}/test.csv")),
      "test-side blended predictions (blender.py:369-384)")
    assert(bl.cvScore > 0.7, s"blended accuracy ${bl.cvScore}")
    // memoization: a second build skips every task and reads nothing,
    // the shared training, OOF and test frames included
    var again: Solution.BuildResult = null
    val jobs = jobCount {
      again = Solution.buildSolution(spark, proj, "configs", "solution.conf")
    }
    (again.models ++ again.stackers ++ again.blender).foreach { r =>
      assert(r.report.ran.isEmpty && r.report.skipped.nonEmpty,
        s"${r.model} re-ran on a complete project: ${r.report}")
    }
    assert(jobs == 0, s"resuming a complete project ran $jobs Spark jobs")
    assert(cachedEntries() == cachedBefore, "the resumed build left cached frames behind")
  }

  test("streaming: incremental windowed aggregate equals the batch plan") {
    // stage the events parquet as a streaming source directory
    val srcDir = Files.createTempDirectory("graft_stream").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$srcDir/events.parquet"))
    val batchDf = Events.normalize(core.Tables.events(spark, sf))
    val expected = Events.hourlyTypeCounts(batchDf).orderBy("window_start", "event_type")

    val streamIn = spark.readStream
      .schema(core.Tables.events(spark, sf).schema)
      .parquet(srcDir)
    val q = Events.hourlyTypeCounts(Events.normalize(streamIn))
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // Append mode only emits windows the watermark has closed; with a
    // bounded source the final watermark leaves the last window open.
    val got = spark.table("hourly")
    val expectedClosed = expected.limit(expected.count().toInt - 1)
    assert(got.count() >= expectedClosed.count() - 24,
      s"stream emitted ${got.count()} of ${expected.count()} windows")
    val mismatched = got.join(expected,
      Seq("window_start", "event_type", "n_events", "sum_value"), "left_anti").count()
    assert(mismatched == 0, "every emitted window matches the batch result")
  }

  test("streaming sessionization: closed sessions equal the batch operator's") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u7: two sessions (10:00+10:10, then 12:00 after a >30 min gap);
    // u8: one singleton. The 10:10 extension arrives in a LATER batch
    // than 10:00, exercising cross-batch buffering.
    val b1 = Seq((7L, ts("2024-01-01 10:00:00"), 1.0),
      (8L, ts("2024-01-01 10:05:00"), 8.0))
    val b2 = Seq((7L, ts("2024-01-01 10:10:00"), 2.0),
      (7L, ts("2024-01-01 12:00:00"), 4.0))
    val sentinel = Seq((999L, ts("2030-01-01 00:00:00"), 0.0))

    val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.sessionizeStream(spark,
      input.toDF().toDF("user_id", "ts", "value"), gapSec = 1800L)
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(sentinel); q.processAllAvailable()
    // one more batch so timeouts fire against the advanced watermark
    input.addData(Seq((999L, ts("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess_stream")
      .filter(col("user_id") =!= 999L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (r.getTimestamp(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap

    val batch = graft.ops.Temporal.sessionize(
      (b1 ++ b2).toDF("user_id", "ts", "value"), "user_id", "ts", "value", 1800L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(3)) ->
        (r.getTimestamp(4), r.getLong(2), r.getLong(5), r.getDouble(6))).toMap

    assert(streamed == batch,
      s"stream/batch session mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed.size == 3)
  }

  test("streaming sessionization: eventIdCol dedups in-window redelivery (and its absence bites)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u2's session = ids 1 (10:00, v=1) + 2 (10:10, v=2). Batch 2
    // redelivers id 2 while it is still AHEAD of the watermark
    // (wm = 09:10 after batch 1), the exact window where only
    // in-state dedup can catch it.
    val b1 = Seq((1L, 2L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 2L, ts("2024-01-01 10:10:00"), 2.0))
    val b2 = Seq((2L, 2L, ts("2024-01-01 10:10:00"), 2.0)) // redelivery
    def run(idCol: Option[String], name: String) = {
      val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
      val out = graft.streaming.Events.sessionizeStream(spark,
        input.toDF().toDF("event_id", "user_id", "ts", "value"),
        gapSec = 1800L, eventIdCol = idCol)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq((900L, 999L, ts("2030-01-01 00:00:00"), 0.0)))
      q.processAllAvailable()
      input.addData(Seq((901L, 999L, ts("2030-01-01 02:00:00"), 0.0)))
      q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("user_id") === 2L).collect()
        .map(r => (r.getLong(3), r.getDouble(5))).toSeq
    }
    // bite-check: without identity the duplicate inflates the session
    val bitten = run(None, "sess_redeliver_bite")
    assert(bitten == Seq((3L, 5.0)),
      s"without eventIdCol the redelivery must inflate (guard the guard): $bitten")
    // with eventIdCol: exactly-once output, equals the batch operator
    val fixed = run(Some("event_id"), "sess_redeliver_fix")
    assert(fixed == Seq((2L, 3.0)),
      s"eventIdCol dedup failed: $fixed")
  }

  test("sessionizeStream: string/UUID eventIdCol dedups on the raw value (no silent null-cast)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // same redelivery scenario as the long-id test, but ids are UUIDs:
    // a cast("long") would null both DISTINCT ids and collapse the
    // session to one event (n=1) — the foot-gun this spec pins shut
    val b1 = Seq(("a-uuid-1", 2L, ts("2024-01-01 10:00:00"), 1.0),
      ("a-uuid-2", 2L, ts("2024-01-01 10:10:00"), 2.0))
    val b2 = Seq(("a-uuid-2", 2L, ts("2024-01-01 10:10:00"), 2.0))
    val input = MemoryStream[(String, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.sessionizeStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      gapSec = 1800L, eventIdCol = Some("event_id"))
    val q = out.writeStream.format("memory").queryName("sess_string_id")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(Seq(("s1", 999L, ts("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq(("s2", 999L, ts("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_string_id").filter(col("user_id") === 2L)
      .collect().map(r => (r.getLong(3), r.getDouble(5))).toSeq
    assert(got == Seq((2L, 3.0)),
      s"string-id dedup must keep both distinct events and drop the redelivery: $got")
  }

  test("sessionizeStream: a null event id fails loudly instead of collapsing the buffer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(String, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.sessionizeStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      gapSec = 1800L, eventIdCol = Some("event_id"))
    val q = out.writeStream.format("memory").queryName("sess_null_id")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(Seq(("ok-1", 2L, ts("2024-01-01 10:00:00"), 1.0),
      (null, 2L, ts("2024-01-01 10:10:00"), 2.0)))
    val ex = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    // key on the error class so a plan-embedded raise_error literal
    // can never satisfy the assertion (the UUID-spec lesson)
    assert(messages(ex).exists(m =>
      m.contains("USER_RAISED_EXCEPTION") && m.contains("dedup id column")),
      s"expected the null-id fail-fast message, got: ${messages(ex)}")
  }

  test("decay/attribution streams: non-integral non-string event_id fails fast at plan time") {
    import spark.implicits._
    // doubles (and decimals, binaries) have no lossless long identity
    // and no opt-in given here — plan-time fail with the remedy named
    val df = Seq((1.5, 1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      "click", 1.0)).toDF("event_id", "user_id", "ts", "event_type", "value")
    val exD = intercept[IllegalArgumentException] {
      graft.streaming.Events.decayStream(spark, df, halfLifeSec = 60L)
    }
    assert(exD.getMessage.contains("fingerprintIds"), exD.getMessage)
    val exA = intercept[IllegalArgumentException] {
      graft.streaming.Events.attributionStream(spark, df,
        conversionType = "buy", touchType = "click", windowSec = 60L)
    }
    assert(exA.getMessage.contains("fingerprintIds"), exA.getMessage)
  }

  test("decayStream id contract: numeric strings pass through, UUIDs need the fingerprint opt-in") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def run(rows: Seq[(String, Long, java.sql.Timestamp, Double)],
        name: String, fingerprint: Boolean): Map[Long, Double] = {
      val input = MemoryStream[(String, Long, java.sql.Timestamp, Double)](spark)
      val out = graft.streaming.Events.decayStream(spark,
        input.toDF().toDF("event_id", "user_id", "ts", "value"),
        halfLifeSec = 3600L, fingerprintIds = fingerprint)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      input.addData(rows); q.processAllAvailable()
      input.addData(Seq(("999", 999L, ts("2030-01-01 00:00:00"), 0.0)))
      q.processAllAvailable()
      input.addData(Seq(("998", 999L, ts("2030-01-01 02:00:00"), 0.0)))
      q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("user_id") =!= 999L).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    }
    // numeric-typed-as-string ids: verbatim long identities in the
    // output (the pre-round-13 compatibility ADVICE asked back)
    val numeric = run(Seq(
      ("41", 7L, ts("2024-01-01 10:00:00"), 4.0),
      ("42", 7L, ts("2024-01-01 11:00:00"), 8.0),
      ("42", 7L, ts("2024-01-01 11:00:00"), 8.0)), // redelivery dedups
      "decay_numstr", fingerprint = false)
    assert(numeric.keySet == Set(41L, 42L), s"got ${numeric.keySet}")
    assert(numeric(42L) > 0.0, "second event must see the first's decay sum")
    // UUID ids under the opt-in: end-to-end, dedup on the raw value,
    // emitted event_id is the xxhash64 fingerprint
    val uuid = run(Seq(
      ("a-uuid-1", 7L, ts("2024-01-01 10:00:00"), 4.0),
      ("a-uuid-2", 7L, ts("2024-01-01 11:00:00"), 8.0),
      ("a-uuid-2", 7L, ts("2024-01-01 11:00:00"), 8.0)),
      "decay_uuid", fingerprint = true)
    val fp = Seq("a-uuid-1", "a-uuid-2").toDF("id")
      .select(xxhash64(col("id"))).collect().map(_.getLong(0)).toSet
    assert(uuid.keySet == fp,
      s"emitted ids must be xxhash64 fingerprints: got ${uuid.keySet} want $fp")
    assert(uuid.size == 2, "redelivered UUID event must emit once")
    // UUID ids WITHOUT the opt-in: loud runtime failure naming it
    val input = MemoryStream[(String, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.decayStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      halfLifeSec = 3600L)
    val q = out.writeStream.format("memory").queryName("decay_uuid_noopt")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(Seq(("a-uuid-1", 7L, ts("2024-01-01 10:00:00"), 4.0),
      ("zz", 7L, ts("2030-01-01 00:00:00"), 0.0)))
    val ex = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    // The remedy must fire as the raise_error RUNTIME exception — the
    // top-level STREAM_FAILED message embeds the query plan, which
    // contains the raise_error literal, so a substring match over all
    // messages is a false positive (it stayed green even when ANSI
    // cast threw CAST_INVALID_INPUT before the remedy could run).
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(!chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("CAST_INVALID_INPUT"))),
      s"plain cast threw before the remedy (ANSI regression): " +
        s"${chain(ex).map(_.getMessage)}")
    // the fired raise_error carries the USER_RAISED_EXCEPTION error
    // class, which plan text never contains — a plan-embedded
    // raise_error literal cannot pass as the fired error
    assert(chain(ex).exists(t => Option(t.getMessage).exists(m =>
      m.contains("USER_RAISED_EXCEPTION") && m.contains("fingerprintIds"))),
      s"expected the raise_error remedy to fire, got: " +
        s"${chain(ex).map(_.getMessage)}")
  }

  test("decayStream id contract: non-canonical numeric strings fail loudly, never merge") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // '7.5'/'7.4' truncate to the same long under a non-ANSI cast and
    // '042' collides with '42' — the round-trip contract must reject
    // them at runtime (remedy named) instead of silently merging ids
    for (bad <- Seq("7.5", "042")) {
      val input = MemoryStream[(String, Long, java.sql.Timestamp, Double)](spark)
      val out = graft.streaming.Events.decayStream(spark,
        input.toDF().toDF("event_id", "user_id", "ts", "value"),
        halfLifeSec = 3600L)
      val q = out.writeStream.format("memory")
        .queryName(s"decay_noncanon_${bad.replace('.', '_')}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      input.addData(Seq((bad, 7L, ts("2024-01-01 10:00:00"), 4.0),
        ("zz", 7L, ts("2030-01-01 00:00:00"), 0.0)))
      val ex = intercept[Exception] { q.processAllAvailable() }
      q.stop()
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(ex).exists(t => Option(t.getMessage).exists(m =>
        m.contains("USER_RAISED_EXCEPTION") && m.contains("fingerprintIds"))),
        s"'$bad' must hit the raise_error remedy, got: " +
          s"${chain(ex).map(_.getMessage)}")
    }
  }

  test("streaming funnel: emitted chains equal the batch operator's, incl. late earlier anchor") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).toInstant.getEpochSecond * 1000000L
    // u1 converts across batches; u2 breaks at step 2 (70 min > 1 h)
    // and the later purchase must not resurrect it; u3 has no anchor
    // (no row at all); u4's EARLIER view arrives out of order in batch
    // 2 — the anchor must move back and pick up the 10:45 click that
    // sits BEFORE the first-seen view.
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 09:50:00"), "view"),
      (2L, ts("2024-01-01 11:00:00"), "click"),
      (3L, ts("2024-01-01 10:05:00"), "click"),
      (3L, ts("2024-01-01 10:10:00"), "purchase"),
      (4L, ts("2024-01-01 11:00:00"), "view"))
    val b2 = Seq(
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (1L, ts("2024-01-01 11:00:00"), "purchase"),
      (2L, ts("2024-01-01 11:20:00"), "purchase"),
      (4L, ts("2024-01-01 10:05:00"), "view"),   // earlier anchor, late
      (4L, ts("2024-01-01 10:45:00"), "click"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val out = graft.streaming.Events.funnelStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      Seq("view", "click", "purchase"), withinSec = 3600L)
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // sentinels must be step-typed: the watermark tracks the filtered
    // funnel stream (user 999's own row is excluded from the compare)
    input.addData(Seq((999L, ts("2030-01-01 00:00:00"), "view")))
    q.processAllAvailable()
    // one more batch so event-time timeouts fire against the advanced watermark
    input.addData(Seq((999L, ts("2030-01-01 02:00:00"), "view")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("funnel_stream")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getSeq[Long](3).toList)).toMap
    val batch = graft.ops.Temporal.funnel(
        (b1 ++ b2).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSec = 3600L)
      .collect().map { r =>
        val prefix = (1 to 3).flatMap(i => Option(r.getTimestamp(i)))
          .map(t => t.toInstant.getEpochSecond * 1000000L +
            t.toInstant.getNano / 1000L).toList
        r.getLong(0) -> ((r.getLong(4), r.getBoolean(5), prefix))
      }.toMap
    assert(streamed == batch,
      s"stream/batch funnel mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed.keySet == Set(1L, 2L, 4L), "u3 must not anchor")
    assert(streamed(4L) ==
      ((2L, false, List(us("2024-01-01 10:05:00"), us("2024-01-01 10:45:00")))),
      "the late earlier anchor must re-anchor the chain")
  }

  test("streaming funnel: a REPEATED step type matches batch (view -> click -> view)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // a per-position event->step mapping is last-match-wins on a
    // duplicated type, so position 0 never anchors and the stream
    // silently emits NOTHING while batch converts u1 — the chain must
    // match positions by TYPE (the batch asofJoin semantics)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (1L, ts("2024-01-01 11:00:00"), "view"),   // completes step 3
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:30:00"), "click"),  // no second view: 2 steps
      (5L, ts("2024-01-01 10:10:00"), "click"))  // no anchor: no row
    val steps = Seq("view", "click", "view")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val out = graft.streaming.Events.funnelStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      steps, withinSec = 3600L)
    val q = out.writeStream.format("memory").queryName("funnel_dup_step")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(rows); q.processAllAvailable()
    input.addData(Seq((999L, ts("2030-01-01 00:00:00"), "view")))
    q.processAllAvailable()
    input.addData(Seq((999L, ts("2030-01-01 02:00:00"), "view")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_dup_step")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getSeq[Long](3).toList)).toMap
    val batch = graft.ops.Temporal.funnel(
        rows.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", steps, withinSec = 3600L)
      .collect().map { r =>
        val prefix = (1 to 3).flatMap(i => Option(r.getTimestamp(i)))
          .map(t => t.toInstant.getEpochSecond * 1000000L +
            t.toInstant.getNano / 1000L).toList
        r.getLong(0) -> ((r.getLong(4), r.getBoolean(5), prefix))
      }.toMap
    assert(streamed == batch,
      s"duplicate-step stream/batch mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed(1L)._2, "u1 must convert through the repeated view step")
    assert(streamed(2L)._1 == 2L, "u2 completes exactly 2 steps")
  }

  test("decayStream: a drained key sleeps - no per-batch timeout re-arm") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 7 fully emits early, then only key 8 receives events. A
    // watermark+1 re-arm on the empty buffer would wake key 7 and
    // rewrite its state on EVERY later batch (numRowsUpdated = 2);
    // with the timeout cleared it sleeps while its carry persists
    // (numRowsTotal still counts it).
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.decayStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      halfLifeSec = 3600L)
    val q = out.writeStream.format("memory").queryName("decay_sleep")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(Seq((1L, 7L, ts("2024-01-01 10:00:00"), 4.0)))
    q.processAllAvailable()
    input.addData(Seq((2L, 8L, ts("2024-01-01 16:00:00"), 1.0)))
    q.processAllAvailable() // wm -> 15:00, key 7 emits and drains
    input.addData(Seq((3L, 8L, ts("2024-01-01 19:00:00"), 1.0)))
    q.processAllAvailable() // wm 15:00 -> key 7 drains in this round
    val seen = q.recentProgress.length
    input.addData(Seq((4L, 8L, ts("2024-01-01 22:00:00"), 1.0)))
    q.processAllAvailable()
    // the buggy re-arm fires in the zero-input follow-up batch, so sum
    // state writes across the WHOLE final round: key 8 legitimately
    // writes twice (its 22:00 buffer in the data batch, then its 19:00
    // timeout drain in the follow-up) -> fixed = 2; the re-arm bug
    // adds a key-7 rewrite on top -> 3+
    val finalRound = q.recentProgress.drop(seen)
    q.stop()
    assert(spark.table("decay_sleep").filter(col("user_id") === 7L).count() == 1,
      "key 7 must have emitted exactly once")
    val updated = finalRound.map(_.stateOperators.head.numRowsUpdated).sum
    assert(updated <= 2,
      s"drained key 7 must not be rewritten on later batches " +
        s"(round numRowsUpdated=$updated, expected <= 2: key 8 only)")
    assert(finalRound.last.stateOperators.head.numRowsTotal == 2L,
      "key 7's carry must persist in state while it sleeps")
  }

  test("streaming funnel step-timing: waits equal the batch chain's, quartile fold matches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the funnel parity scenario: u1 converts (waits 1800s, 1800s),
    // u2 breaks at step 2 (no waits), u4 completes steps 1-2 only
    // (wait 2400s) with its anchor arriving late in batch 2
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 09:50:00"), "view"),
      (2L, ts("2024-01-01 11:00:00"), "click"),
      (4L, ts("2024-01-01 11:00:00"), "view"))
    val b2 = Seq(
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (1L, ts("2024-01-01 11:00:00"), "purchase"),
      (4L, ts("2024-01-01 10:05:00"), "view"),
      (4L, ts("2024-01-01 10:45:00"), "click"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val out = graft.streaming.Events.funnelTimingStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      Seq("view", "click", "purchase"), withinSec = 3600L)
    val q = out.writeStream.format("memory").queryName("funnel_timing")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(Seq((999L, ts("2030-01-01 00:00:00"), "view")))
    q.processAllAvailable()
    input.addData(Seq((999L, ts("2030-01-01 02:00:00"), "view")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("funnel_timing")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch waits from the batch funnel chain's step timestamps
    val batch = graft.ops.Temporal.funnel(
        (b1 ++ b2).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSec = 3600L)
      .collect().flatMap { r =>
        val prefix = (1 to 3).flatMap(i => Option(r.getTimestamp(i)))
          .map(t => t.toInstant.getEpochSecond * 1000000L +
            t.toInstant.getNano / 1000L)
        prefix.sliding(2).filter(_.size == 2).zipWithIndex.map {
          case (Seq(a, b), i) => (r.getLong(0), (i + 2).toLong, b - a)
        }
      }.toSet
    assert(streamed == batch,
      s"stream/batch wait mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed == Set((1L, 2L, 1800000000L), (1L, 3L, 1800000000L),
      (4L, 2L, 2400000000L)))
    // the q197 read-out: folding the exact-once pair stream through
    // the same exact order statistic reproduces the batch quartiles
    val waitsDf = streamed.toSeq.toDF("user_id", "step", "w")
      .filter(col("step") === 2L).select(col("w").cast("double").as("w"))
    val ps = graft.ops.Percentiles.exact(waitsDf, "w", Seq(0.25, 0.5, 0.75))
    assert(ps(0.5) == 2100000000.0 && ps(0.25) == 1950000000.0,
      s"quartile fold mismatch: $ps")
  }

  test("streaming interval join: pairs equal the batch granule range join, across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // windows: two 120s incident windows; w2's matching point arrives
    // in a LATER micro-batch than w2 itself (cross-batch buffering).
    // One point sits exactly on a window end (exclusive bound).
    val w1 = Seq((1L, ts("2024-01-01 10:00:00"))) // [10:00, 10:02)
    val w2 = Seq((2L, ts("2024-01-01 10:05:00"))) // [10:05, 10:07)
    val p1 = Seq((ts("2024-01-01 10:00:30"), 1.0), // in w1
      (ts("2024-01-01 10:02:00"), 9.0))            // == w1 end, excluded
    val p2 = Seq((ts("2024-01-01 10:06:59"), 2.0), // in w2, late batch
      (ts("2024-01-01 10:30:00"), 9.0))            // in neither

    val wIn = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val pIn = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val joined = graft.streaming.Events.intervalJoinStream(
      wIn.toDF().toDF("window_id", "ts"), pIn.toDF().toDF("ts", "value"),
      windowLenSec = 120L)
    val q = joined.writeStream.format("memory").queryName("ivj_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    wIn.addData(w1 ++ w2); pIn.addData(p1); q.processAllAvailable()
    pIn.addData(p2); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ivj_stream")
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_points"), round(sum("value"), 6).as("sum_value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val batch = graft.ops.Temporal.rangeJoinCount(
      (w1 ++ w2).toDF("window_id", "w_start")
        .withColumn("w_end", col("w_start") + expr("INTERVAL 2 MINUTES")),
      (p1 ++ p2).toDF("ts", "value"),
      "window_id", "w_start", "w_end", "ts", "value", granuleSec = 120L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    assert(streamed == batch,
      s"stream/batch interval-join mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed == Map(1L -> (1L, 1.0), 2L -> (1L, 2.0)))
  }

  test("streaming decay: O(1) recurrence state equals the batch anchored sum") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 spans batches (the carried scalar must survive); u2's second
    // event arrives in batch 2 OUT of kafka-order but within the
    // watermark, and must slot between its neighbors.
    val b1 = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 4.0),
      (2L, 1L, ts("2024-01-01 11:00:00"), 8.0),
      (10L, 2L, ts("2024-01-01 10:00:00"), 5.0),
      (12L, 2L, ts("2024-01-01 12:00:00"), 7.0))
    val b2 = Seq(
      (3L, 1L, ts("2024-01-01 12:00:00"), 2.0),
      // out-of-order but STRICTLY inside the 1 h watermark (wm sits at
      // 11:00 when batch 2 runs; an exactly-at-watermark row is late)
      (11L, 2L, ts("2024-01-01 11:30:00"), 3.0))
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.decayStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      halfLifeSec = 3600L)
    val q = out.writeStream.format("memory").queryName("decay_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(Seq((999L, 999L, ts("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq((998L, 999L, ts("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("decay_stream")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Temporal.decayFeatures(
        (b1 ++ b2).toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", 3600L)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("decayed_sum")).toMap
    assert(streamed.keySet == batch.keySet,
      s"emission mismatch: stream=${streamed.keySet} batch=${batch.keySet}")
    streamed.foreach { case (id, v) =>
      assert(math.abs(v - batch(id)) <= 2e-6,
        s"event $id: stream $v vs batch ${batch(id)}")
    }
  }

  test("streaming decay: same-timestamp ties share one prior sum, equal to batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two events of one key at the IDENTICAL timestamp: the batch
    // strictly-prior RANGE frame gives both the same decayed sum (they
    // exclude each other); the stream folds per timestamp GROUP —
    // a per-row fold would hand one tied event the other at full
    // weight, in buffer order
    val rows = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 7L, ts("2024-01-01 11:00:00"), 2.0), // tie A
      (3L, 7L, ts("2024-01-01 11:00:00"), 4.0), // tie B
      (4L, 7L, ts("2024-01-01 12:00:00"), 8.0))
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.decayStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      halfLifeSec = 3600L)
    val q = out.writeStream.format("memory").queryName("decay_ties")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(rows); q.processAllAvailable()
    input.addData(Seq((999L, 999L, ts("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq((998L, 999L, ts("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("decay_ties").filter(col("user_id") === 7L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Temporal.decayFeatures(
        rows.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", halfLifeSec = 3600L)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(streamed == batch,
      s"tie handling must match batch:\nstream=$streamed\nbatch=$batch")
    assert(streamed(2L) == 0.5 && streamed(3L) == 0.5 && streamed(4L) == 3.25)
  }

  test("streaming decay: in-window event redelivery emits once, sums unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // event 12 is redelivered in batch 2 while still AHEAD of the
    // watermark (wm = 11:00 after batch 1): without the event_id
    // dedup it would both emit twice and inflate event 13's
    // prior-sum through the carry
    val b1 = Seq(
      (10L, 2L, ts("2024-01-01 10:00:00"), 5.0),
      (12L, 2L, ts("2024-01-01 12:00:00"), 7.0))
    val b2 = Seq(
      (12L, 2L, ts("2024-01-01 12:00:00"), 7.0), // redelivery
      (13L, 2L, ts("2024-01-01 13:00:00"), 1.0))
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.decayStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      halfLifeSec = 3600L)
    val q = out.writeStream.format("memory").queryName("decay_redeliver")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(Seq((999L, 999L, ts("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq((998L, 999L, ts("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("decay_redeliver")
      .filter(col("user_id") === 2L).collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
    assert(rows.length == 3, s"each event once, got ${rows.toSeq}")
    val got = rows.toMap
    val batch = graft.ops.Temporal.decayFeatures(
        b1.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", 3600L)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("decayed_sum")).toMap
    // event 13's prior-sum against the ONCE-counted history: 5.0
    // decayed 3 h (factor 1/8) + 7.0 decayed 1 h (factor 1/2) = 4.125
    assert(got(10L) == batch(10L) && got(12L) == batch(12L))
    assert(math.abs(got(13L) - 4.125) <= 2e-6, s"got ${got(13L)}")
  }

  test("streaming cms: incremental sketch state equals the batch sketch") {
    // The count-min sketch is a pure additive aggregate keyed by
    // (row, bucket), so the SAME Cms.sketch plan runs incrementally
    // under Complete mode with bounded (depth x width) state — the
    // sketch-as-aggregate design is what makes it streamable for free.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val stream = (0 until 500).map(i => s"k${i % 37}")
    val input = MemoryStream[String](spark)
    val q = graft.ops.Cms
      .sketch(input.toDF().withColumnRenamed("value", "t"), "t", 3, 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    input.addData(stream.take(200): _*)
    q.processAllAvailable()
    input.addData(stream.drop(200): _*)
    q.processAllAvailable()
    val got = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = graft.ops.Cms.sketch(stream.toDF("t"), "t", 3, 64).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == batch, "incremental sketch must equal the batch sketch")
  }

  test("streaming group heavy hitters: MG state streams; exact recount equals batch") {
    // The per-group Misra-Gries summary is a mergeable typed-imperative
    // aggregate, so the SAME candidate-generation plan runs
    // incrementally under Complete mode with bounded per-group state;
    // the superset guarantee survives any merge order, so the exact
    // recount of the streamed candidates must equal the batch
    // operator's output bit-for-bit.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val phi = 0.1
    val capacity = math.max(16, math.ceil(2.0 / phi).toInt)
    val rows = (0 until 600).map { i =>
      (s"g${i % 2}", if (i % 3 == 0) "hot" else s"cold${i % 50}")
    }
    val input = MemoryStream[(String, String)](spark)
    val agg = input.toDF().toDF("grp", "token")
      .groupBy("grp")
      .agg(graft.functions.MgSketch.sketchCol(col("token"), capacity).as("__mg"),
        count(lit(1)).as("__n"))
    val q = agg.writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete()).start()
    input.addData(rows.take(300): _*); q.processAllAvailable()
    input.addData(rows.drop(300): _*); q.processAllAvailable()
    q.stop()
    val cands = spark.table("mg_stream")
      .select(col("grp"), col("__n"), explode(col("__mg")).as("__e"))
      .select(col("grp"), col("__n"), col("__e.item").as("token"))
    val toks = rows.toDF("grp", "token")
    val streamedExact = toks.join(broadcast(cands), Seq("grp", "token"))
      .groupBy(col("grp"), col("token"), col("__n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(phi) * col("__n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val batch = graft.text.TextOps.groupHeavyHitters(
        rows.toDF("grp", "text"), "grp", "text", phi)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamedExact == batch,
      s"stream/batch heavy hitters mismatch:\nstream=$streamedExact\nbatch=$batch")
    assert(streamedExact.keySet == Set(("g0", "hot"), ("g1", "hot")))
  }

  test("streaming: watermark drops late data from closed windows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = df.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    def ts(h: Double) = new java.sql.Timestamp((h * 3600 * 1000).toLong)
    // batch 1: events in hours 1 and 3 -> watermark advances to 2h
    input.addData((ts(1.2), "a", 1.0), (ts(1.3), "a", 1.0), (ts(3.5), "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event for hour 1 (watermark already past) and a
    // fresh one for hour 4
    input.addData((ts(1.4), "a", 99.0), (ts(4.2), "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test")
      .collect().map(r => (r.getTimestamp(0).getTime / 3600000.0, r.getLong(2))).toMap
    assert(out.get(1.0).contains(2L),
      s"hour-1 window closed with the 2 on-time events only (late one dropped): $out")
  }

  test("streaming: dropDuplicatesWithinWatermark removes redelivered events") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val dd = Events.dedupWithinWatermark(df, Seq("ts", "event_type"))
    val q = dd.writeStream.format("memory").queryName("dedup_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    def ts(h: Double) = new java.sql.Timestamp((h * 3600 * 1000).toLong)
    // batch 1: an event delivered twice in the same micro-batch
    input.addData((ts(1.2), "a", 1.0), (ts(1.2), "a", 1.0), (ts(1.5), "b", 2.0))
    q.processAllAvailable()
    // batch 2: the same event redelivered in a later micro-batch
    // (still within the 1h watermark horizon), plus a fresh event
    input.addData((ts(1.2), "a", 1.0), (ts(1.8), "c", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_test").groupBy("ts", "event_type").count()
    assert(out.filter(col("count") > 1).count() == 0,
      "each (ts, event_type) key emitted exactly once across micro-batches")
    assert(spark.table("dedup_test").count() == 3,
      "three distinct events survive the dedup")
  }

  test("streaming: corpus-prep slice equals the batch stages at watermark close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(h: Double) = new java.sql.Timestamp((h * 3600 * 1000).toLong)
    // rows: (doc_id, ts, lang, text) — covers all three drop reasons
    // (wrong language, low quality, duplicate content) plus keepers
    val rows = Seq(
      (1L, ts(1.0), "en", "the quick brown fox jumps over the lazy dog and keeps going"),
      (2L, ts(1.1), "de", "der schnelle braune fuchs springt gerne"),
      (3L, ts(1.2), "en", "aa aa aa aa"),
      (4L, ts(1.3), "en", "distributed engines shuffle partitions across many worker nodes"),
      (5L, ts(1.4), "en", "the quick brown fox jumps over the lazy dog and keeps going"),
      (6L, ts(1.5), "en", "watermarks bound the state a streaming dedup must retain"))

    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)](spark)
    val df = input.toDF().toDF("doc_id", "ts", "lang", "text")
    val out = graft.text.Corpus.prepareStream(df, "text", "ts", Seq("en"), 0.5)
    val q = out.writeStream.format("memory").queryName("corpus_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows.take(4): _*) // doc 5's duplicate arrives a batch later
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("corpus_stream").select("doc_id").collect()
      .map(_.getLong(0)).toSet

    // batch equivalent: the same q71 stages over the same static frame
    val staticDf = rows.toDF("doc_id", "ts", "lang", "text")
    val byLang = staticDf.filter(col("lang") === "en")
    val kept = byLang.join(
      graft.text.TextOps.qualityScore(byLang, "doc_id", "text")
        .filter(col("quality") >= 0.5).select("doc_id"), Seq("doc_id"))
    val exact = graft.dedup.Dedup.keepFirst(kept, Seq("text"), Seq(col("doc_id")))
    val batch = exact.select("doc_id").collect().map(_.getLong(0)).toSet

    assert(streamed == batch,
      s"streamed corpus slice $streamed must equal batch stages $batch")
    assert(streamed == Set(1L, 4L, 6L),
      "en + quality>=0.5 + first-arrival dedup keeps exactly docs 1, 4, 6")
  }

  test("streaming: stateless curation (redaction + chunking) equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // stateless ops stream under Append with no watermark — the same
    // Curation code path serves batch backfills and live ingest
    val rows = Seq(
      (1L, "contact a.b@example.com from 10.0.0.1 about the deal"),
      (2L, "t1 t2 t3 t4 t5 t6 t7"),
      (3L, "no pii but plenty of tokens to chunk into windows"))
    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val q = graft.text.Curation.redactPii(df, "doc_id", "text")
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode(OutputMode.Append()).start()
    val qc = graft.text.Curation.chunkTokens(df, "doc_id", "text", 4)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows.take(2): _*)
    q.processAllAvailable(); qc.processAllAvailable()
    input.addData(rows.drop(2): _*)
    q.processAllAvailable(); qc.processAllAvailable()
    q.stop(); qc.stop()

    val streamedPii = spark.table("curation_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val batchPii = graft.text.Curation
      .redactPii(rows.toDF("doc_id", "text"), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(streamedPii == batchPii, "streamed redaction must equal batch")
    assert(streamedPii.exists(_._4.contains("<EMAIL>")))

    val streamedChunks = spark.table("chunk_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    val batchChunks = graft.text.Curation
      .chunkTokens(rows.toDF("doc_id", "text"), "doc_id", "text", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(streamedChunks == batchChunks, "streamed chunking must equal batch")
  }

  test("streaming: minhash band candidates match batch, across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // docs 1 and 5 are near-identical; 5 arrives a batch after 1, so
    // the candidate pair can only come from cross-batch bucket state
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps going on"),
      (2L, "completely different content about distributed query engines here"),
      (3L, "watermarks bound the state a streaming dedup must retain forever"),
      (5L, "the quick brown fox jumps over the lazy dog and keeps going onward"),
      (6L, "another unrelated document that shares nothing with the others at all"))

    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val out = graft.streaming.StreamingDedup
      .nearDupCandidates(spark, df, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_stream")
      .select("id_1", "id_2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch parity: the same operator body over the static frame
    val batch = graft.streaming.StreamingDedup
      .nearDupCandidates(spark, rows.toDF("doc_id", "text"), "doc_id", "text")
      .toDF().select("id_1", "id_2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed candidates $streamed must equal batch candidates $batch")
    assert(streamed.contains((1L, 5L)),
      "the cross-batch near-dup pair must surface from bucket state")
    // the banding pre-filter stays selective: unrelated docs don't pair
    assert(!streamed.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("streaming: verified near-dup pairs equal batch minHashNearDup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // doc 5 (near-dup of 1) arrives a batch later: its verified pair
    // can only come from cross-batch bucket state carrying doc 1's
    // gram array
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps going on"),
      (2L, "completely different content about distributed query engines here"),
      (3L, "watermarks bound the state a streaming dedup must retain forever"),
      (5L, "the quick brown fox jumps over the lazy dog and keeps going onward"),
      (6L, "another unrelated document that shares nothing with the others at all"))
    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDedup
      .verifiedNearDup(spark, df, "doc_id", "text", threshold = 0.5)
      .writeStream.format("memory").queryName("verified_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("verified_stream")
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("j"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val batch = graft.dedup.Dedup
      .minHashNearDup(rows.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.5)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(streamed == batch,
      s"streamed verified pairs $streamed must equal batch minHashNearDup $batch")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 5L),
      "the cross-batch near-dup pair must emerge verified")
    assert(streamed.forall(_._3 >= 0.5), "no sub-threshold pair may leak")
  }

  test("streaming: bucket cap drops oversized buckets like the batch path") {
    import spark.implicits._
    // three near-identical docs land together in (almost) every bucket;
    // cap=2 makes those buckets oversized -> the batch path drops them
    // and the streamed operator (run statically: one group call per
    // bucket, state from empty) must retract and emit nothing from them
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappaX"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappaY")) ++
      // disjoint-vocab fillers keep the capped buckets a MINORITY of
      // the banding index (a majority drop is plan-time fatal since
      // round 16); they share no shingles, so they pair with nothing
      (4L to 23L).map(i => (i, (0 until 8).map(j => s"w${i}_$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val streamedStatic = graft.streaming.StreamingDedup
      .verifiedNearDup(spark, df, "doc_id", "text", threshold = 0.1,
        maxBucketSize = 2)
      .toDF().select("id_1", "id_2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.dedup.Dedup
      .minHashNearDup(df, "doc_id", "text", threshold = 0.1,
        maxBucketSize = 2)
      .select("id_1", "id_2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedStatic == batch,
      s"capped streamed $streamedStatic must equal capped batch $batch")
    // sanity: with the cap lifted both paths DO find the pairs
    val uncapped = graft.dedup.Dedup
      .minHashNearDup(df, "doc_id", "text", threshold = 0.1).count()
    assert(uncapped > 0, "the fixture must contain real near-dup pairs")
  }

  test("streaming near-dup rejects non-integral ids instead of merging them") {
    import spark.implicits._
    // as doubles 1.5 and 1.7 are distinct docs; a cast to long makes
    // both id 1, and the bucket state would then drop the second doc
    // and every pair it has
    val text = "the quick brown fox jumps over the lazy dog and keeps going on"
    val dbl = Seq((1.5, text), (1.7, text + " again")).toDF("doc_id", "text")
    val str = Seq(("1.0", text), ("2", text)).toDF("doc_id", "text")
    for ((df, typ) <- Seq(dbl -> "double", str -> "string")) {
      val c = intercept[IllegalArgumentException](graft.streaming.StreamingDedup
        .nearDupCandidates(spark, df, "doc_id", "text"))
      assert(c.getMessage.contains(typ), c.getMessage)
      val v = intercept[IllegalArgumentException](graft.streaming.StreamingDedup
        .verifiedNearDup(spark, df, "doc_id", "text"))
      assert(v.getMessage.contains(typ), v.getMessage)
    }
    // integral ids of any width still run
    val ints = Seq((1, text), (2, text + " again")).toDF("doc_id", "text")
    assert(graft.streaming.StreamingDedup
      .nearDupCandidates(spark, ints, "doc_id", "text").toDF()
      .select("id_1", "id_2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("streaming daily ohlc: closed bars equal the batch operator's") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // group p spans two batches within one day (open from b1, close
    // from b2); group q is an equal-ts tie broken by event_id; day 2
    // has a single-bar group
    val b1 = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "p", 5.0),
      (ts("2024-01-01 10:00:00"), 4L, "q", 7.0),
      (ts("2024-01-01 10:00:00"), 5L, "q", 1.0))
    val b2 = Seq(
      (ts("2024-01-01 11:00:00"), 2L, "p", 9.0),
      (ts("2024-01-01 12:00:00"), 3L, "p", 2.0),
      (ts("2024-01-02 09:00:00"), 6L, "p", 4.5))
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)](spark)
    val out = graft.streaming.Events.dailyOhlcStream(
      input.toDF().toDF("ts", "event_id", "event_type", "value"),
      "ts", "event_id", "event_type", "value")
    val q = out.writeStream.format("memory").queryName("ohlc_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // sentinel advances the watermark far past day 2 so every bar closes
    input.addData(Seq((ts("2030-01-01 00:00:00"), 999L, "zz", 0.0)))
    q.processAllAvailable()
    q.stop()
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7)))).toMap
    val streamed = toMap(spark.table("ohlc_stream")
      .filter(col("event_type") =!= "zz")
      .select("day", "event_type", "open", "high", "low", "close",
        "volume", "n").collect())
    val batch = toMap(graft.ops.EventAnalytics.dailyOhlc(
        (b1 ++ b2).toDF("ts", "event_id", "event_type", "value"),
        "ts", "event_id", "event_type", "value")
      .select("day", "event_type", "open", "high", "low", "close",
        "volume", "n").collect())
    assert(streamed == batch,
      s"stream/batch ohlc mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed(("2024-01-01", "q"))._1 == 7.0 &&
      streamed(("2024-01-01", "q"))._4 == 1.0,
      "equal-ts tie must break on event_id: open 7, close 1")
  }

  test("streaming attribution: emitted waits equal the batch operator's") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(s: Long) = java.sql.Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    // u7: touches in b1, conversion in b2 (cross-batch forward join);
    // u7's early conversion at t=50 has no prior touch; u8's only
    // touch ages out of the 1000 s window before its conversion
    val b1 = Seq(
      (7L, t(100), 1L, "view", 0.0), (7L, t(200), 2L, "view", 0.0),
      (7L, t(50), 4L, "purchase", 1.0),
      (8L, t(0), 5L, "view", 0.0))
    val b2 = Seq(
      (7L, t(250), 3L, "purchase", 9.0),
      (8L, t(2000), 6L, "purchase", 2.0))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val out = graft.streaming.Events.attributionStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"),
      "purchase", "view", windowSec = 1000L)
    val q = out.writeStream.format("memory").queryName("attr_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // sentinel (touch-typed so it passes the type filter) advances the
    // watermark; one more batch fires the event-time timeouts
    input.addData(Seq((999L, t(100000), 100L, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq((999L, t(200000), 101L, "view", 0.0)))
    q.processAllAvailable()
    q.stop()
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        ((r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    val streamed = asMap(spark.table("attr_stream")
      .filter(col("user_id") =!= 999L)
      .select("event_id", "user_id", "value", "first_touch_wait_us",
        "last_touch_wait_us").collect())
    val batch = asMap(graft.ops.EventAnalytics.attribution(
        (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type", "value"),
        "user_id", "ts", "event_id", "value", "purchase", "view",
        "event_type", 1000L)
      .select("event_id", "user_id", "value", "first_touch_wait_us",
        "last_touch_wait_us").collect())
    assert(streamed == batch,
      s"stream/batch attribution mismatch:\nstream=$streamed\nbatch=$batch")
    assert(streamed(3L) == ((9.0, Some(150000000L), Some(50000000L))))
    assert(streamed(4L)._2.isEmpty && streamed(6L)._2.isEmpty)
  }

  test("streaming attribution: in-window conversion redelivery emits once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def t(s: Long) = java.sql.Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    // the conversion (id 3) is delivered in b1 AND redelivered in b2
    // while still AHEAD of the watermark (b1 max = t(250), delay 1 h,
    // so the watermark has not reached t(250) yet) — Spark's late-row
    // filter cannot drop it; the operator's event_id dedup must.
    val b1 = Seq(
      (7L, t(100), 1L, "view", 0.0),
      (7L, t(250), 3L, "purchase", 9.0))
    val b2 = Seq(
      (7L, t(250), 3L, "purchase", 9.0))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val out = graft.streaming.Events.attributionStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"),
      "purchase", "view", windowSec = 1000L)
    val q = out.writeStream.format("memory").queryName("attr_redeliver")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(Seq((999L, t(100000), 100L, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq((999L, t(200000), 101L, "view", 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attr_redeliver")
      .filter(col("event_id") === 3L).collect()
    assert(rows.length == 1, s"conversion must emit exactly once, got ${rows.length}")
    assert(rows.head.getLong(3) == 150000000L, "wait must use the t(100) touch")
  }

  test("streaming: mapGroupsWithState running totals match batch groupBy") {
    val events = Events.normalize(core.Tables.events(spark, sf))
    val got = Events.runningUserTotals(spark, events)
      .select(col("user_id"), col("n_events"), round(col("total_value"), 4).as("tv"))
    val want = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("tv"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("streaming cusum: day-finality recursion equals the batch monitor") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // days 1-4 with counts 2,1,3,1; batch 2 delivers day 3's third
    // event OUT of order (09:30 after 10:00 arrived) but inside the
    // watermark, plus day 4 — the day-3 bar must finalize with x=3.
    val b1 = Seq(
      ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"),
      ts("2024-01-02 09:00:00"),
      ts("2024-01-03 09:00:00"), ts("2024-01-03 10:00:00"))
    val b2 = Seq(ts("2024-01-03 09:30:00"), ts("2024-01-04 12:00:00"))
    val all = b1 ++ b2
    // the stream's calibration reference = the batch operator's own
    // exact-moment derivation over the full series (counts 2,1,3,1)
    val counts = Seq(2L, 1L, 3L, 1L)
    val n = counts.length
    val mean = counts.sum.toDouble / n
    val sd = math.sqrt(counts.map(c => c * c).sum.toDouble / n - mean * mean)
    val input = MemoryStream[java.sql.Timestamp](spark)
    val out = graft.streaming.Events.cusumStream(spark,
      input.toDF().toDF("ts"), mean, sd)
    val q = out.writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // sentinel advances the watermark past day 4; its own 2030 day
    // never finalizes, so it emits no bar itself
    input.addData(Seq(ts("2030-01-01 00:30:00"))); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cusum_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    val batch = graft.ops.EventAnalytics.cusumDaily(all.map(Tuple1(_))
        .toDF("ts"), "ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    assert(batch.map(_._1).toSeq ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
  }

  test("streaming sessionization property: random corpus, random in-window redelivery, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // seeded random corpus with event identity: 30 users, 0-5 events
    // each over 2 days. Delivered as three CONSECUTIVE ascending
    // chunks; each batch also redelivers a random ~30% of ITS OWN rows
    // (ahead-of-watermark duplicates — the only kind Spark's late-row
    // filter cannot drop) plus a random row of the PREVIOUS chunk
    // (usually behind the watermark — dropped, also harmless). With
    // eventIdCol set, stream output must equal batch sessionize over
    // the DISTINCT rows.
    val rnd = new scala.util.Random(1220L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var nextId = 1000L
    val rows = (1L to 30L).flatMap { uid =>
      (0 until rnd.nextInt(6)).map { _ =>
        nextId += 1
        val t = new java.sql.Timestamp(base + math.abs(rnd.nextLong()) % (2L * 86400 * 1000))
        (nextId, uid, t, rnd.nextInt(100) / 10.0)
      }
    }
    val sorted = rows.sortBy(_._3.getTime)
    val chunks = sorted.grouped((sorted.size + 2) / 3).toSeq
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)](spark)
    val out = graft.streaming.Events.sessionizeStream(spark,
      input.toDF().toDF("event_id", "user_id", "ts", "value"),
      gapSec = 1800L, eventIdCol = Some("event_id"))
    val q = out.writeStream.format("memory").queryName("sess_prop")
      .outputMode(OutputMode.Append()).start()
    chunks.zipWithIndex.foreach { case (c, i) =>
      val redeliver = c.filter(_ => rnd.nextInt(10) < 3)
      val fromPrev = if (i > 0) Seq(chunks(i - 1)(rnd.nextInt(chunks(i - 1).size)))
        else Seq.empty
      input.addData(c ++ redeliver ++ fromPrev)
      q.processAllAvailable()
    }
    input.addData(Seq((1L, 999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    input.addData(Seq((2L, 999L, java.sql.Timestamp.valueOf("2030-01-01 02:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_prop")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (r.getTimestamp(2), r.getLong(3), r.getLong(4),
          math.rint(r.getDouble(5) * 1e6) / 1e6)).toMap
    val batch = graft.ops.Temporal.sessionize(
        sorted.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", 1800L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(3)) ->
        (r.getTimestamp(4), r.getLong(2), r.getLong(5),
          math.rint(r.getDouble(6) * 1e6) / 1e6)).toMap
    assert(streamed == batch,
      s"missing=${batch.keySet -- streamed.keySet} extra=${streamed.keySet -- batch.keySet}")
    assert(batch.size > 20, s"scenario too small: ${batch.size} sessions")
  }

  test("streaming funnel step-timing property: random corpus, chunked delivery, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(9127L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val types = Seq("view", "click", "purchase")
    val rows = (1L to 40L).flatMap { uid =>
      (0 until rnd.nextInt(6)).map { _ =>
        val t = new java.sql.Timestamp(base + math.abs(rnd.nextLong()) % (3L * 86400 * 1000))
        (uid, t, types(rnd.nextInt(3)))
      }
    }
    val sorted = rows.sortBy(_._2.getTime)
    val chunks = sorted.grouped((sorted.size + 2) / 3).toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val out = graft.streaming.Events.funnelTimingStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      types, withinSec = 7200L)
    val q = out.writeStream.format("memory").queryName("ft_prop")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    input.addData(Seq((999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "view")))
    q.processAllAvailable()
    input.addData(Seq((999L, java.sql.Timestamp.valueOf("2030-01-01 02:00:00"), "view")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ft_prop")
      .filter(col("user_id") =!= 999L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Temporal.funnel(
        sorted.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", types, withinSec = 7200L)
      .collect().flatMap { r =>
        val prefix = (1 to 3).flatMap(i => Option(r.getTimestamp(i)))
          .map(t => t.toInstant.getEpochSecond * 1000000L +
            t.toInstant.getNano / 1000L)
        prefix.sliding(2).filter(_.size == 2).zipWithIndex.map {
          case (Seq(a, b), i) => (r.getLong(0), (i + 2).toLong, b - a)
        }
      }.toSet
    assert(streamed == batch,
      s"missing=${batch -- streamed} extra=${streamed -- batch}")
    assert(batch.nonEmpty, "scenario must produce completed-step waits")
  }

  test("streaming kaplan-meier property: random corpus, chunked delivery, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // seeded random corpus: 40 users, 0-4 events each over Jan 1-10,
    // ~30% signup / 70% purchase so some users convert, some never
    // start, some never convert. Delivered as three CONSECUTIVE
    // ascending chunks (each batch's min ts exceeds the prior max, so
    // the 1-hour watermark can never drop a row and stream-accepted
    // rows == batch rows — the parity precondition).
    val rnd = new scala.util.Random(20260814L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1L to 40L).flatMap { uid =>
      (0 until rnd.nextInt(5)).map { _ =>
        val t = new java.sql.Timestamp(base + math.abs(rnd.nextLong()) % (10L * 86400 * 1000))
        (uid, t, if (rnd.nextInt(10) < 3) "signup" else "purchase")
      }
    }
    val sorted = rows.sortBy(_._2.getTime)
    val censorDay = sorted.map(_._2.toLocalDateTime.toLocalDate).max.toString
    val chunks = sorted.grouped((sorted.size + 2) / 3).toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val durations = graft.streaming.Events.kaplanMeierStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      "signup", "purchase", censorDay = censorDay)
    val q = durations.writeStream.format("memory").queryName("km_prop")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    input.addData(Seq((999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "signup")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("km_prop").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // batch per-key durations from the same definition the operator
    // documents: first signup, first purchase at/after it, censoring
    // at the max day
    val censor = java.time.LocalDate.parse(censorDay)
    val expected = rows.groupBy(_._1).flatMap { case (uid, es) =>
      val starts = es.filter(_._3 == "signup").map(_._2.getTime)
      if (starts.isEmpty) None
      else {
        val t0 = starts.min
        def dayOf(ms: Long) = java.time.Instant.ofEpochMilli(ms)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        val conv = es.filter(e => e._3 == "purchase" && e._2.getTime >= t0)
          .map(_._2.getTime)
        if (conv.nonEmpty)
          Some((uid, java.time.temporal.ChronoUnit.DAYS
            .between(dayOf(t0), dayOf(conv.min)), 1))
        else Some((uid, java.time.temporal.ChronoUnit.DAYS
          .between(dayOf(t0), censor), 0))
      }
    }.toSet
    assert(streamed == expected,
      s"missing=${expected -- streamed} extra=${streamed -- expected}")
    assert(expected.nonEmpty && expected.exists(_._3 == 1) &&
      expected.exists(_._3 == 0), "scenario must exercise both outcomes")
  }

  test("streaming cohort retention property: random corpus, chunked delivery, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(4211L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1L to 50L).flatMap { uid =>
      (0 until (1 + rnd.nextInt(4))).map { _ =>
        (uid, new java.sql.Timestamp(
          base + math.abs(rnd.nextLong()) % (28L * 86400 * 1000)))
      }
    }
    val sorted = rows.sortBy(_._2.getTime)
    val chunks = sorted.grouped((sorted.size + 2) / 3).toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val pairs = graft.streaming.Events.cohortRetentionStream(spark,
      input.toDF().toDF("user_id", "ts"), periodDays = 7)
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = try pairs.groupBy("cohort", "period").count()
      .writeStream.format("memory").queryName("cohort_prop")
      .outputMode(OutputMode.Complete()).start()
    finally spark.conf.unset(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    input.addData(Seq((999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cohort_prop")
      .filter(col("cohort") =!= "2030-01-01").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Temporal.cohortRetention(
        rows.toDF("user_id", "ts"), "user_id", "ts", periodDays = 7)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"stream-only=${streamed.toSet -- batch.toSet} batch-only=${batch.toSet -- streamed.toSet}")
    assert(batch.size > 5, s"scenario too small: $batch")
  }

  test("cohort retention maxPeriods: restricted matrix matches batch; ledger drops at the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // periodDays=7, maxPeriods=1 → horizon = cohort day + 14 days.
    // u1: p0 + p1 inside the horizon, then REAPPEARS Jan 20 (p2,
    // beyond) — after the ledger drop that event must re-enter as a
    // NEW Jan-20 cohort (the documented re-acquisition trade).
    // u2/u3 stay inside their horizons and must match batch exactly.
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-09 10:00:00")),
      (2L, ts("2024-01-02 09:00:00")), (2L, ts("2024-01-05 09:00:00")),
      (3L, ts("2024-01-03 08:00:00")), (3L, ts("2024-01-12 08:00:00")))
    val wmPush = Seq((99L, ts("2024-01-18 00:00:00"))) // wm past every horizon
    val reacq = Seq((1L, ts("2024-01-20 12:00:00")))
    val flush = Seq((98L, ts("2030-01-01 00:00:00")))
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val pairs = graft.streaming.Events.cohortRetentionStream(spark,
      input.toDF().toDF("user_id", "ts"), periodDays = 7,
      maxPeriods = Some(1L))
    val q = pairs.writeStream.format("memory").queryName("cohort_horizon")
      .outputMode(OutputMode.Append()).start()
    Seq(b1, wmPush, reacq, flush).foreach { c =>
      input.addData(c); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cohort_horizon")
      .filter(col("user_id") < 90L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchRestricted = graft.ops.Temporal.cohortRetention(
        (b1 ++ reacq).toDF("user_id", "ts"), "user_id", "ts",
        periodDays = 7, maxPeriods = Some(1L)).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toSet
    // batch gives the (cohort, period) matrix; expand to expected pairs
    val expectedInHorizon = Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
      ("2024-01-02", 0L, 2L),
      ("2024-01-03", 0L, 3L), ("2024-01-03", 1L, 3L))
    assert(expectedInHorizon.map(p => (p._1, p._2)) == batchRestricted,
      s"spec's hand matrix drifted from the batch operator: $batchRestricted")
    val reacqRow = ("2024-01-20", 0L, 1L)
    assert(streamed == expectedInHorizon + reacqRow,
      s"missing=${(expectedInHorizon + reacqRow) -- streamed} " +
        s"extra=${streamed -- (expectedInHorizon + reacqRow)}")
    // the re-acquisition row doubles as the ledger-drop witness: it can
    // only exist if u1's state was removed at the horizon (otherwise
    // Jan 20 would be period 2 > maxP and emit nothing)
  }

  test("cohort maxPeriods: re-acquisition is batch-boundary deterministic " +
      "(beyond-horizon event in the ledger-retiring batch still re-enters)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // identical corpus to the spec above, but the wm-advancing event
    // and u1's beyond-horizon reappearance share ONE batch: the event
    // lands while u1's ledger is alive (wm < horizon at batch start)
    // and must be buffered through the ledger drop, not swallowed with
    // it — the round-13 horizon-boundary race, now pinned shut
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-09 10:00:00")),
      (2L, ts("2024-01-02 09:00:00")), (2L, ts("2024-01-05 09:00:00")),
      (3L, ts("2024-01-03 08:00:00")), (3L, ts("2024-01-12 08:00:00")))
    val fused = Seq((99L, ts("2024-01-18 00:00:00")),
      (1L, ts("2024-01-20 12:00:00")))
    val flush = Seq((98L, ts("2030-01-01 00:00:00")))
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val pairs = graft.streaming.Events.cohortRetentionStream(spark,
      input.toDF().toDF("user_id", "ts"), periodDays = 7,
      maxPeriods = Some(1L))
    val q = pairs.writeStream.format("memory").queryName("cohort_race")
      .outputMode(OutputMode.Append()).start()
    Seq(b1, fused, flush).foreach { c =>
      input.addData(c); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cohort_race")
      .filter(col("user_id") < 90L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
      ("2024-01-02", 0L, 2L),
      ("2024-01-03", 0L, 3L), ("2024-01-03", 1L, 3L),
      ("2024-01-20", 0L, 1L))
    assert(streamed == expected,
      s"missing=${expected -- streamed} extra=${streamed -- expected}")
  }

  test("streaming kaplan-meier: exact-once durations fold to the batch curve") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 signs up Jan 1, converts Jan 4 (d=3; a PRE-start purchase in
    // 2023 must stay ineligible); u2 signs up Jan 2, never converts
    // (censored at the Jan-10 horizon, d=8); u3's purchase arrives
    // BEFORE its same-day signup within batch 1 (d=0); u4 has a
    // purchase but no signup (never at risk); u5 signs up Jan 5,
    // converts Jan 10 in batch 2 (d=5). Batch 2 also redelivers u1's
    // conversion behind the watermark (must stay exactly-once).
    val b1 = Seq(
      (1L, ts("2023-12-30 09:00:00"), "purchase"),
      (1L, ts("2024-01-01 10:00:00"), "signup"),
      (2L, ts("2024-01-02 08:00:00"), "signup"),
      (4L, ts("2024-01-02 11:00:00"), "purchase"),
      (3L, ts("2024-01-03 09:00:00"), "purchase"),
      (3L, ts("2024-01-03 07:00:00"), "signup"),
      (1L, ts("2024-01-04 12:00:00"), "purchase"),
      (5L, ts("2024-01-05 06:00:00"), "signup"))
    val b2 = Seq(
      (1L, ts("2024-01-04 12:00:00"), "purchase"), // late redelivery
      (5L, ts("2024-01-10 23:00:00"), "purchase"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val durations = graft.streaming.Events.kaplanMeierStream(spark,
      input.toDF().toDF("user_id", "ts", "event_type"),
      "signup", "purchase", censorDay = "2024-01-10")
    val q = durations.writeStream.format("memory").queryName("km_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // push the watermark past the censor horizon so every key is final
    input.addData(Seq((99L, ts("2024-02-01 00:00:00"), "signup")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("km_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == Set((1L, 3L, 1), (2L, 8L, 0), (3L, 0L, 1), (5L, 5L, 1)),
      s"got $streamed")
    // fold the streamed rows through the KM recursion and compare to
    // the batch operator on the same data (batch censors at its max
    // day, Jan 10 == the stream's explicit horizon)
    val frame = streamed.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (d, rs) => (d, rs.count(_._3 == 1).toLong, rs.size.toLong) }
    var nRisk = frame.map(_._3).sum
    var s = 1.0
    val folded = frame.flatMap { case (d, di, nd) =>
      val row = if (di > 0) {
        s = s * (1 - di.toDouble / nRisk)
        Some((d, nRisk, di, graft.core.Round.r6(s)))
      } else None
      nRisk -= nd
      row
    }
    val batch = graft.ops.EventAnalytics.kaplanMeier(
        (b1 ++ b2).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", "signup", "purchase")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(folded == batch, s"stream-fold $folded != batch $batch")
    assert(batch == Seq((0L, 4L, 1L, 0.75), (3L, 3L, 1L, 0.5),
      (5L, 2L, 1L, 0.25)))
  }

  test("streaming cohort retention: exact-once pairs aggregate to the batch matrix") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // weekly periods: u1 joins Jan 1 (active again Jan 9 = period 1,
    // Jan 20 = period 2); u2 joins Jan 2 (active Jan 9 = period 1);
    // u3 joins Jan 9. Batch 2 re-delivers u1's Jan-9 activity (must
    // not double-count) and adds the period-2 row.
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-09 12:00:00")),
      (2L, ts("2024-01-09 13:00:00")),
      (3L, ts("2024-01-09 14:00:00")))
    val b2 = Seq(
      (1L, ts("2024-01-09 12:30:00")), // same period as Jan 9 12:00
      (1L, ts("2024-01-20 08:00:00")))
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val pairs = graft.streaming.Events.cohortRetentionStream(spark,
      input.toDF().toDF("user_id", "ts"), periodDays = 7)
    // Spark's static global-watermark check flags Append-mode
    // flatMapGroupsWithState feeding an aggregate (the pairs are by
    // design emitted only once the watermark passes the cohort, i.e.
    // "late"); the downstream aggregate here is UNwatermarked under
    // Complete mode, so no row can be discarded — the documented safe
    // case for disabling the check (see operator scaladoc).
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = try pairs.groupBy("cohort", "period").count()
      .writeStream.format("memory").queryName("cohort_stream")
      .outputMode(OutputMode.Complete()).start()
    finally spark.conf.unset(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // advance the watermark so every cohort/period above is final
    input.addData(Seq((99L, ts("2030-01-01 00:00:00"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cohort_stream")
      .filter(col("cohort") =!= "2030-01-01").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Temporal.cohortRetention(
        (b1 ++ b2).toDF("user_id", "ts"), "user_id", "ts", periodDays = 7)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch == Map(("2024-01-01", 0L) -> 1L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 1L, ("2024-01-02", 0L) -> 1L,
      ("2024-01-02", 1L) -> 1L, ("2024-01-09", 0L) -> 1L))
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }
}
