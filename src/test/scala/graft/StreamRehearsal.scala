package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** sf1 streaming scale rehearsal (dev-only; run via
  * `sbt "Test/runMain graft.StreamRehearsal <sfDir> [chunks]"`).
  *
  * Replays the events table through every stateful streaming operator
  * as a time-ordered multi-batch file stream (maxFilesPerTrigger=1, so
  * each chunk is one micro-batch and every batch advances the
  * watermark — the timeout-storm shape: thousands of per-key event-time
  * timeouts fire together). Reports per operator: wall time, batches,
  * peak state rows / state memory, max batch duration, output rows —
  * the numbers PLANS.md's rehearsal section records. */
object StreamRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val chunks = if (args.length > 1) args(1).toInt else 20
    val only = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    val spark = graft.core.Sessions.local()

    val streamDir = Files.createTempDirectory("graft_rehearsal").toString
    stageChunks(spark, s"$sfDir/events.parquet", streamDir, chunks)
    val schema = spark.read.parquet(streamDir).schema
    def src: DataFrame = graft.streaming.Events.normalize(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir))

    val ops: Seq[(String, DataFrame)] = Seq(
      "sessionize" -> graft.streaming.Events.sessionizeStream(
        spark, src, gapSec = 1800L, eventIdCol = Some("event_id")),
      "decay" -> graft.streaming.Events.decayStream(
        spark, src, halfLifeSec = 3600L),
      "attribution" -> graft.streaming.Events.attributionStream(
        spark, src, conversionType = "purchase", touchType = "view",
        windowSec = 86400L),
      "cohort" -> graft.streaming.Events.cohortRetentionStream(
        spark, src, periodDays = 7),
      // horizon arm: same stream with a 2-period ledger horizon — the
      // matrix is restricted (outRows drop) but every sf key is active
      // across the whole span, so re-acquisition re-admits each key and
      // end-state stays at the ACTIVE-key count (the documented bound)
      "cohort_horizon" -> graft.streaming.Events.cohortRetentionStream(
        spark, src, periodDays = 7, maxPeriods = Some(1L)),
      // churned-key arms: each 10-day epoch rotates to fresh key ids
      // (old keys go silent — realistic retention churn). Unbounded
      // state ends at ALL-TIME distinct keys (~3x); the horizon arm's
      // retired ledgers drop and end-state stays ~one epoch of keys —
      // the keys-for-life vs horizon-bounded contrast, measured
      "cohort_churn" -> graft.streaming.Events.cohortRetentionStream(
        spark, churnKeys(src), periodDays = 7),
      "cohort_churn_horizon" -> graft.streaming.Events.cohortRetentionStream(
        spark, churnKeys(src), periodDays = 7, maxPeriods = Some(0L)),
      "km" -> graft.streaming.Events.kaplanMeierStream(
        spark, src, startType = "signup", eventType = "purchase",
        censorDay = "2024-01-30"),
      "funnel_timing" -> graft.streaming.Events.funnelTimingStream(
        spark, src, Seq("view", "click", "purchase"),
        withinSec = 259200L),
      // TTL arm: the bounded-tombstone alternative to the default
      // keys-for-life contract — tombstones expire after 1 day of
      // event time (journeys re-acquire), so end-state must sit well
      // BELOW the default arm's endStateRows ≈ keys (the README
      // scale-notes contrast, measured)
      "funnel_timing_ttl" -> graft.streaming.Events.funnelTimingStream(
        spark, src, Seq("view", "click", "purchase"),
        withinSec = 259200L, tombstoneTtlSec = Some(86400L)),
      // churned-key funnel arms: the cohort_churn contrast for the
      // funnel tombstone — default keeps every epoch's keys forever
      // (end ≈ ALL-TIME keys); the TTL arm drops expired tombstones,
      // so end-state falls back toward the live epoch's keys
      "funnel_churn" -> graft.streaming.Events.funnelTimingStream(
        spark, churnKeys(src), Seq("view", "click", "purchase"),
        withinSec = 259200L),
      "funnel_churn_ttl" -> graft.streaming.Events.funnelTimingStream(
        spark, churnKeys(src), Seq("view", "click", "purchase"),
        withinSec = 259200L, tombstoneTtlSec = Some(86400L)))

    ops.filter(o => only.isEmpty || only(o._1)).foreach { case (name, out) =>
      val t0 = System.nanoTime()
      val q = out.writeStream.format("memory").queryName(s"rh_$name")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.toSeq
      val stateRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
      val stateMem = progs.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      val maxBatchMs = progs.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.longValue)).max
      val outRows = spark.table(s"rh_$name").count()
      println(f"[rehearsal] $name%-14s wall=$wallS%7.1fs batches=${progs.size}%3d " +
        f"peakStateRows=${if (stateRows.isEmpty) 0L else stateRows.max}%9d " +
        f"endStateRows=${stateRows.lastOption.getOrElse(0L)}%9d " +
        f"peakStateMB=${if (stateMem.isEmpty) 0L else stateMem.max / (1024 * 1024)}%5d " +
        f"maxBatchS=${maxBatchMs / 1000.0}%6.1f outRows=$outRows%9d")
      spark.sql(s"DROP TABLE IF EXISTS rh_$name")
    }
    println(s"[rehearsal] done (chunks under $streamDir)")
    spark.stop()
  }

  /** Rotate key identity every 10 event-days: epoch e's keys are
    * user_id + 100000·e, so keys of earlier epochs go silent — the
    * churn shape real retention streams have and the sf corpus lacks.
    * Epochs count days since a FIXED date (not day-of-month, which
    * resets monthly and would resurrect "retired" ids on corpora
    * spanning more than one month). */
  private def churnKeys(df: DataFrame): DataFrame =
    df.withColumn("user_id", col("user_id") +
      lit(100000L) * floor(datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")) / 10))

  /** Write the events table as `n` time-ordered single-file chunks so
    * the file stream source (mod-time order) replays event time
    * monotonically, batch per chunk. */
  private def stageChunks(spark: SparkSession, eventsPath: String,
      outDir: String, n: Int): Unit = {
    val e = graft.streaming.Events.normalize(spark.read.parquet(eventsPath))
      .withColumn("__s", col("ts").cast("double"))
    val cuts = e.stat.approxQuantile(
      "__s", (1 until n).map(_.toDouble / n).toArray, 0.001)
    val tsSec = col("__s")
    (0 until n).foreach { i =>
      val lo = if (i == 0) Double.MinValue else cuts(i - 1)
      val hi = if (i == n - 1) Double.MaxValue else cuts(i)
      val tmp = Files.createTempDirectory("graft_chunk").toString
      e.filter(tsSec >= lo && tsSec < hi).drop("__s").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(f"$outDir/chunk_$i%03d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // mod-time order = chunk order (sequential writes); a same-ms
      // tie still resolves by path, which sorts identically
    }
  }
}
