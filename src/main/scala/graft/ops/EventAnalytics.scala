package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event-stream analytics over a keyed, timestamped event
  * table — the feature-engineering companions to the temporal operator
  * family (`ops/Temporal.scala`): first-order Markov transition
  * structure, inter-event burstiness (Goh & Barabási 2008, EPL 81), and
  * RFM (recency / frequency / monetary) segmentation, the classic
  * behavioral-cohort scheme.
  *
  * Scale design: every operator is one key-partitioned window or a
  * keys-as-fine-as-the-data aggregate; the only global structures are
  * the bounded ones (the event-type transition matrix, the 1-row corpus
  * max-timestamp, per-partition rank offsets). Nothing row-scale ever
  * crosses a single-partition window or a driver collect.
  */
object EventAnalytics {

  /** First-order transition matrix of `typeCol` per `keyCol` timeline:
    * consecutive-event pairs under the total order (`tsCol`, `tieCol`),
    * with counts and row-normalized probabilities. The pair space is
    * (distinct types)², so everything after the per-key lag window is
    * bounded. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val pairs = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("__t"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_type"), col("__t").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = pairs.groupBy("prev_type").agg(sum("n").as("__tot"))
    pairs.join(broadcast(rowTotals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("p"))
  }

  /** Per-key inter-event-time statistics: gap count, mean and
    * population-std gap (µs), and the burstiness coefficient
    * B = (σ - µ) / (σ + µ) ∈ [-1, 1] (B → -1 periodic, 0 Poisson,
    * → 1 bursty; Goh & Barabási 2008). Keys with fewer than two events
    * have no gaps and are dropped. One per-key window + one per-key
    * aggregate. */
  def burstiness(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val us = unix_micros(col(tsCol))
    // the REPORTED mean gap is exact integer division (a double of µs
    // magnitude has ULP > 1e-6, so a 6-dp round is engine-specific
    // noise); the exact double mean feeds the burstiness ratio, whose
    // magnitude is <= 1. The std is rounded to whole µs before the
    // ratio so engine-specific variance summation can't flip a round.
    df.select(col(keyCol), col(tsCol), col(tieCol))
      .withColumn("__gap", us - lag(us, 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(keyCol).agg(
        count(lit(1)).as("n_gaps"),
        (sum(col("__gap")).cast("double") / count(lit(1))).as("__mean"),
        expr("sum(__gap) DIV count(1)").as("mean_gap_us"),
        round(stddev_pop(col("__gap")), 0).cast("long").as("std_gap_us"))
      .withColumn("burstiness",
        when(col("std_gap_us") + col("__mean") > 0,
          round((col("std_gap_us") - col("__mean")) /
            (col("std_gap_us") + col("__mean")), 6)))
      .select(col(keyCol), col("n_gaps"), col("mean_gap_us"),
        col("std_gap_us"), col("burstiness"))
  }

  /** Trailing-window volume anomaly: daily event counts scored against
    * the strictly-prior `trailingDays`-day window's mean/std via
    * explicit exact moments (integer counts make avg(n) and avg(n²)
    * bit-exact in any engine and any summation order, so the z-score
    * is engine-portable without rounding tricks). Days with fewer than
    * `trailingDays` prior days, or a zero-variance window, get null
    * z / flags. The window runs over the per-day aggregate — a frame
    * bounded by the corpus time span, not the row count. */
  def dailyAnomaly(df: DataFrame, tsCol: String, trailingDays: Int = 7,
      threshold: Double = 2.0): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy("day").rowsBetween(-trailingDays, -1)
    val varCol = col("__m2") - col("__m") * col("__m")
    val zRaw = (col("n_events") - col("__m")) / sqrt(varCol)
    daily
      .withColumn("__c", count(lit(1)).over(w))
      .withColumn("__m", avg(col("n_events")).over(w))
      // long square is safe here: it wraps only past ~3e9 events/day,
      // and a decimal cast would change avg's result type (and the
      // oracle's double path) — bound documented instead
      .withColumn("__m2", avg(col("n_events") * col("n_events")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_events"),
        when(col("__c") >= trailingDays, round(col("__m"), 6)).as("trailing_mean"),
        when(col("__c") >= trailingDays && varCol > 0, round(zRaw, 6)).as("z"),
        when(col("__c") >= trailingDays && varCol > 0, abs(zRaw) > threshold)
          .as("is_anomaly"))
  }

  /** Per-key Shannon entropy of the event-type distribution —
    * H = ln(n) − (Σ c·ln c)/n over the key's exact integer type
    * counts (0 = a single behavior, ln(#types) = uniform mixing;
    * the behavioral-diversity feature). Two hash aggregates, keys as
    * fine as the data; the inner frame is (keys × #types), bounded by
    * the type cardinality per key. The float term sum runs over at
    * most #types values of magnitude ≤ c·ln c, so ordering noise is
    * ~1e-12 — far inside the 6-dp round. */
  def typeEntropy(df: DataFrame, keyCol: String,
      typeCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol), col(typeCol))
      .agg(count(lit(1)).as("__c"))
    val n = sum(col("__c")).cast("double")
    counts.groupBy(keyCol).agg(
      sum(col("__c")).as("n_events"),
      count(lit(1)).as("n_types"),
      round(log(n) -
        sum(col("__c").cast("double") * log(col("__c").cast("double"))) / n,
        6).as("entropy"))
  }

  /** Tabular CUSUM change detection over daily event counts (Page
    * 1954): S⁺ accumulates positive deviations past a slack of
    * `slackSigma`·σ, S⁻ the negative ones, each clamped at 0; a day
    * alarms when either side exceeds `alarmSigma`·σ — the standard
    * sequential drift detector, more sensitive to sustained small
    * shifts than the per-day z-score (`dailyAnomaly`). Mean/σ come
    * from the whole series' exact integer moments. The per-day
    * aggregate is distributed; the recursion then runs driver-side
    * over the day frame — bounded by the corpus TIME SPAN (one row
    * per day), never the row count, the funnelRates discipline. */
  def cusumDaily(df: DataFrame, tsCol: String, slackSigma: Double = 0.5,
      alarmSigma: Double = 4.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
      .orderBy("day")
      .collect() // bounded: one row per observed day
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    val n = daily.length
    require(n > 0, "cusumDaily: empty input")
    val sx = daily.map(_._2).sum
    val sxx = daily.map(d => d._2 * d._2).sum
    val mean = sx.toDouble / n
    val sd = math.sqrt(sxx.toDouble / n - mean * mean)
    def r6(x: Double) = graft.core.Round.r6(x)
    var sp = 0.0
    var sn = 0.0
    daily.map { case (day, x) =>
      val (sp2, sn2, alarm) = cusumStep(sp, sn, x, mean, sd,
        slackSigma, alarmSigma)
      sp = sp2
      sn = sn2
      (day, x, r6(sp), r6(sn), alarm)
    }.toSeq.toDF("day", "n_events", "cusum_pos", "cusum_neg", "is_alarm")
  }

  /** One CUSUM recursion step against a FIXED reference (mean, sd) —
    * the formula shared bit-for-bit by [[cusumDaily]] (which derives
    * the reference from the whole series' exact moments) and the
    * streaming counterpart `streaming.Events.cusumStream` (which takes
    * a calibration reference: a stream cannot see future moments).
    * Returns (S⁺', S⁻', alarm). */
  def cusumStep(sp: Double, sn: Double, x: Long, mean: Double, sd: Double,
      slackSigma: Double, alarmSigma: Double): (Double, Double, Boolean) = {
    val sp2 = math.max(0.0, sp + x - mean - slackSigma * sd)
    val sn2 = math.max(0.0, sn + mean - x - slackSigma * sd)
    (sp2, sn2, sp2 > alarmSigma * sd || sn2 > alarmSigma * sd)
  }

  /** Marketing attribution: for every conversion event, the FIRST and
    * LAST touch event by the same key within the trailing attribution
    * window (first-touch / last-touch, the two standard models),
    * reported as waits in exact integer µs; conversions with no touch
    * in-window keep nulls. One user-keyed equi-join whose JOIN
    * CONDITION carries the attribution-window range predicate: the
    * hash/sort-merge join keeps the equality key and the residual
    * range filter drops out-of-window pairs before the aggregate, so
    * the aggregate input is (touches × conversions inside one
    * horizon), never the per-key all-pairs product. Left-join
    * semantics preserve no-touch conversions (null waits). */
  def attribution(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, conversionType: String,
      touchType: String, typeCol: String, windowSec: Long): DataFrame = {
    val us = unix_micros(col(tsCol))
    val conv = df.filter(col(typeCol) === conversionType)
      .select(col(idCol), col(keyCol), us.as("__cts"),
        col(valueCol).as("__v"))
    val touch = df.filter(col(typeCol) === touchType)
      .select(col(keyCol).as("__tk"), us.as("__tts"))
    conv.join(touch,
        col(keyCol) === col("__tk") &&
          col("__tts") <= col("__cts") &&
          col("__tts") >= col("__cts") - windowSec * 1000000L,
        "left")
      .groupBy(col(idCol), col(keyCol), col("__cts"), col("__v"))
      .agg(
        min(col("__tts")).as("__ft"),
        max(col("__tts")).as("__lt"))
      .select(col(idCol), col(keyCol),
        round(col("__v"), 6).as("value"),
        (col("__cts") - col("__ft")).as("first_touch_wait_us"),
        (col("__cts") - col("__lt")).as("last_touch_wait_us"))
  }

  /** Multi-touch attribution credit: each conversion's value is
    * distributed across its in-window touches under the two standard
    * fractional models — LINEAR (1/k to each of the k touches) and
    * POSITION-BASED / U-shaped (40% first, 40% last, the middle 20%
    * split across interior touches; k=1 → 100%, k=2 → 50/50) — and
    * credit is reported per touch TYPE (the "channel"). Credits are
    * computed in exact micro-units: ci = floor(vi · w + 0.5) where vi
    * is the conversion value in integer µ-units and w the model
    * weight, so the per-channel totals are integer sums — partition-
    * and order-independent, bit-replayable in SQL.
    *
    * Shape: one key equi-join whose condition carries the window range
    * predicate (the [[attribution]] boundedness), then per-conversion
    * rank/count windows PARTITIONED BY THE CONVERSION ID — frames are
    * one conversion's in-window touches (horizon-bounded), never a
    * key's history — and a final channel-keyed aggregate of bounded
    * cardinality. */
  def attributionCredit(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, conversionType: String,
      touchTypes: Seq[String], typeCol: String,
      windowSec: Long): DataFrame = {
    val us = unix_micros(col(tsCol))
    val conv = df.filter(col(typeCol) === conversionType)
      .select(col(keyCol), col(idCol).as("__cid"), us.as("__cts"),
        graft.core.ExactSum.quantLong(col(valueCol)).as("__vi"))
    val touch = df.filter(col(typeCol).isin(touchTypes.map(lit): _*))
      .select(col(keyCol).as("__tk"), col(idCol).as("__tid"),
        us.as("__tts"), col(typeCol).as("channel"))
    val joined = conv.join(touch,
      col(keyCol) === col("__tk") &&
        col("__tts") <= col("__cts") &&
        col("__tts") >= col("__cts") - windowSec * 1000000L)
    val w = Window.partitionBy(col("__cid"))
    val wOrd = w.orderBy(col("__tts"), col("__tid"))
    val k = count(lit(1)).over(w)
    val rn = row_number().over(wOrd)
    val linW = lit(1.0) / k
    val posW = when(k === 1, 1.0)
      .when(k === 2, 0.5)
      .when(rn === 1 || rn === k, 0.4)
      .otherwise(lit(0.2) / (k - 2))
    joined
      // ci = floor(vi·w + 0.5) is the documented CREDIT-rounding
      // contract (scaladoc above), not the value quantizer: vi is
      // already a sign-corrected micro-unit integer and w ∈ [0, 1],
      // and the oracle replays this exact form
      .withColumn("__lin", floor(col("__vi") * linW + 0.5).cast("long"))
      .withColumn("__pos", floor(col("__vi") * posW + 0.5).cast("long"))
      .groupBy("channel").agg(
        count(lit(1)).as("n_touches"),
        (sum(col("__lin")).cast("double") / 1e6).as("linear_credit"),
        (sum(col("__pos")).cast("double") / 1e6).as("position_credit"))
  }

  /** Interval union per key: merge overlapping/touching [start, end)
    * micro-second intervals (gaps-and-islands: an interval starts a
    * new island when its start exceeds the running max of prior ends)
    * and report the total covered time and merged-interval count — the
    * "active seconds" primitive (each raw event contributes a fixed
    * activity window; overlaps must not double-count). Two per-key
    * windows + one per-key aggregate, keys as fine as the data. */
  def intervalUnion(df: DataFrame, keyCol: String, startUs: Column,
      endUs: Column): DataFrame = {
    val base = df.select(col(keyCol), startUs.as("__s"), endUs.as("__e"))
    val w = Window.partitionBy(keyCol).orderBy(col("__s"), col("__e"))
    val prevMax = max(col("__e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    base
      .withColumn("__new",
        when(prevMax.isNull || col("__s") > prevMax, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col(keyCol), col("__island"))
      .agg(min(col("__s")).as("__is"), max(col("__e")).as("__ie"))
      .groupBy(keyCol).agg(
        count(lit(1)).as("n_intervals"),
        sum(col("__ie") - col("__is")).as("covered_us"))
  }

  /** Daily OHLC (open/high/low/close) per group — the bar-chart
    * aggregation: first/last value under the deterministic
    * (ts, tie) order via struct-min/max (no nondeterministic
    * first()/min_by ties), plus high/low/volume/count. One hash
    * aggregate keyed by (day, group). */
  def dailyOhlc(df: DataFrame, tsCol: String, tieCol: String,
      groupCol: String, valueCol: String): DataFrame =
    df.select(to_date(col(tsCol)).as("__day"), col(groupCol).as("grp"),
        struct(col(tsCol), col(tieCol), col(valueCol).as("v")).as("__o"))
      .groupBy(col("__day"), col("grp"))
      .agg(
        round(min(col("__o")).getField("v"), 6).as("open"),
        round(max(col("__o")).getField("v"), 6).as("close"),
        round(max(col("__o.v")), 6).as("high"),
        round(min(col("__o.v")), 6).as("low"),
        // exact micro-unit sum (q1-family): a (day, group) bar can hold
        // billions of events at corpus scale — float-sum order drift
        // crosses the 6-dp grain there. Must stay expression-identical
        // to dailyOhlcStream's volume (stream==batch parity spec).
        round(graft.core.ExactSum.micro(col("__o.v")), 6).as("volume"),
        count(lit(1)).as("n"))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("grp").as(groupCol), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n"))

  /** Bollinger bands (Bollinger 1983) over the per-group daily close:
    * the `trailingDays`-bar moving average of the close ± k·σ_pop,
    * emitted only once the window is full. The close is the
    * deterministic struct-max under (ts, tie); band moments use exact
    * micro-unit integer window sums (vi, vi² as longs — |close| up to
    * ~3e3 before vi² leaves the long range, far above any event
    * value) so the double formula is engine-portable. Day-granular
    * frames only: the window runs over the per-(group, day) aggregate,
    * bounded by the corpus time span, never row-scale. */
  def bollingerDaily(df: DataFrame, tsCol: String, tieCol: String,
      groupCol: String, valueCol: String, trailingDays: Int = 7,
      k: Double = 2.0): DataFrame = {
    val daily = df
      .select(to_date(col(tsCol)).as("day"), col(groupCol).as("grp"),
        struct(col(tsCol), col(tieCol), col(valueCol).as("v")).as("__o"))
      .groupBy("day", "grp")
      .agg(max(col("__o")).getField("v").as("__close"))
      .withColumn("__vi", graft.core.ExactSum.quantLong(col("__close")))
    val w = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(-(trailingDays - 1), 0)
    val cnt = count(lit(1)).over(w)
    val mean = sum(col("__vi")).over(w).cast("double") / 1e6 / cnt
    // square in decimal: a micro-unit close past ~3e9 (|close| >= ~3038)
    // would wrap the long product
    // clamp: E[x²]−E[x]² can cancel to a tiny negative double (e.g. a
    // full window of identical large closes) and NaN the sqrt
    val varv = greatest(
      sum((col("__vi").cast("decimal(38,0)") *
          col("__vi").cast("decimal(38,0)")).cast("decimal(38,0)"))
        .over(w).cast("double") / lit(1e12) / cnt - mean * mean,
      lit(0.0))
    daily.select(
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("grp").as(groupCol),
      round(col("__close"), 6).as("close"),
      when(cnt === trailingDays, round(mean, 6)).as("sma"),
      when(cnt === trailingDays,
        round(mean + lit(k) * sqrt(varv), 6)).as("upper_band"),
      when(cnt === trailingDays,
        round(mean - lit(k) * sqrt(varv), 6)).as("lower_band"))
  }

  /** Lagged cross-correlation between the daily counts of two event
    * types: Pearson r of (series A on day d, series B on day d+lag)
    * over the overlapping days, for each lag in [-maxLag, maxLag] —
    * the lead/lag discovery primitive (does A predict B?). Daily
    * counts are integers, so the correlation derives from exact
    * sufficient sums by a fixed double formula (identical bits in any
    * engine). The day frame is bounded by the corpus time span;
    * the lag fan-out is 2·maxLag+1. */
  def laggedCrossCorrelation(df: DataFrame, tsCol: String, typeCol: String,
      typeA: String, typeB: String, maxLag: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def daily(t: String, n: String) =
      df.filter(col(typeCol) === t)
        .groupBy(to_date(col(tsCol)).as("day")).agg(count(lit(1)).as(n))
    val lags = (-maxLag to maxLag).map(_.toLong).toDF("lag")
    val joined = daily(typeA, "x").crossJoin(broadcast(lags))
      .join(daily(typeB, "y")
          .select(col("day").as("__bday"), col("y")),
        expr("date_add(day, CAST(lag AS INT)) = __bday"))
    val sums = joined.groupBy("lag").agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // multiply in decimal: daily counts past ~3e9 would wrap the
      // long squares (the groupOls/aggState lesson)
      sum((col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")).as("sxx"),
      sum((col("y").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")).as("syy"),
      sum((col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")).as("sxy"))
    val (n, sx, sy, sxx, syy, sxy) = (col("n_days").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"),
      col("sxy").cast("double"))
    val covN = n * sxy - sx * sy
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    sums.filter(varXN > 0 && varYN > 0)
      .select(col("lag"), col("n_days"),
        round(covN / sqrt(varXN * varYN), 6).as("r"))
  }

  /** Seasonal-naive forecast backtest: each day's event count is
    * "forecast" by the count `seasonDays` earlier (the standard
    * baseline every real forecaster must beat), and the per-day
    * absolute/percentage errors are reported for the days where the
    * lagged day exists. Integer counts keep everything exact. The
    * join is by calendar day (date arithmetic), not row offset, so
    * gaps in the day sequence are handled correctly. */
  def seasonalBacktest(df: DataFrame, tsCol: String,
      seasonDays: Int = 7): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val lagged = daily.select(date_add(col("day"), seasonDays).as("day"),
      col("n_events").as("forecast"))
    daily.join(lagged, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("forecast"),
        abs(col("n_events") - col("forecast")).as("abs_err"),
        round(abs(col("n_events") - col("forecast")).cast("double") /
          col("n_events"), 6).as("ape"))
  }

  /** Per-day session quality: sessions are the `gapSec`
    * gaps-and-islands split; each session is assigned to its start
    * day and contributes to that day's session count, bounce rate
    * (single-event sessions), and conversion rate (sessions containing
    * a `conversionType` event) — the standard engagement read-out.
    * One key-window pass + session aggregate + day aggregate. */
  def sessionQuality(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, conversionType: String,
      gapSec: Long = 1800L): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val us = unix_micros(col(tsCol))
    val sessions = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("__t"))
      .withColumn("__gap",
        when(us - lag(us, 1).over(byKey) > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("__session", sum(col("__gap")).over(byKey))
      .groupBy(col(keyCol), col("__session"))
      .agg(min(col(tsCol)).as("__start"), count(lit(1)).as("__n"),
        max((col("__t") === conversionType).cast("int")).as("__conv"))
    sessions
      .groupBy(to_date(col("__start")).as("__day"))
      .agg(count(lit(1)).as("n_sessions"),
        round(avg((col("__n") === 1).cast("double")), 6).as("bounce_rate"),
        round(avg(col("__conv").cast("double")), 6).as("conversion_rate"))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("n_sessions"), col("bounce_rate"), col("conversion_rate"))
  }

  /** Top event-type n-gram sequences within sessions: sessions are the
    * `gapSec` gaps-and-islands split (same semantics as `Temporal
    * .sessionize`), and every run of `n` consecutive events inside a
    * session contributes one sequence. Output is the top `topK`
    * sequences by count (deterministic tie-break on the sequence
    * string), selected by TakeOrdered — no full sort. One key-window
    * pass + an ngram-keyed count. */
  def topSequences(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, tieCol: String, gapSec: Long = 1800L,
      n: Int = 3, topK: Int = 20): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val us = unix_micros(col(tsCol))
    val sessioned = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("__t"))
      .withColumn("__gap",
        when(us - lag(us, 1).over(byKey) > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("__session", sum(col("__gap")).over(byKey))
    val bySession = Window.partitionBy(col(keyCol), col("__session"))
      .orderBy(col(tsCol), col(tieCol))
    val withSteps = (1 until n).foldLeft(sessioned)((d, i) =>
      d.withColumn(s"__t$i", lead(col("__t"), i).over(bySession)))
    val parts = col("__t") +: (1 until n).map(i => col(s"__t$i"))
    withSteps
      .filter(col(s"__t${n - 1}").isNotNull) // complete n-gram only
      .select(concat_ws(">", parts: _*).as("sequence"))
      .groupBy("sequence").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("sequence"))
      .limit(topK)
  }

  /** Rolling `windowDays`-day distinct keys per observed day — the
    * "7-day active users" metric. Rolling COUNT DISTINCT cannot ride a
    * plain window aggregate; the scalable shape is: distinct
    * (day, key) pairs, each exploded to the `windowDays` target days
    * it contributes to (a fixed small fan-out), distinct again, then a
    * day-keyed count — every stage hash-partitioned, no per-day state
    * larger than the true distinct set. */
  def rollingDistinct(df: DataFrame, tsCol: String, keyCol: String,
      windowDays: Int = 7): DataFrame = {
    val du = df.select(to_date(col(tsCol)).as("d"), col(keyCol).as("u")).distinct()
    val days = du.select(col("d").as("day")).distinct()
    du.select(explode(sequence(col("d"),
          date_add(col("d"), windowDays - 1))).as("day"), col("u"))
      .join(days, Seq("day")) // only days that actually occur
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("n_keys"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_keys"))
  }

  /** Kaplan-Meier survival estimate (Kaplan & Meier 1958) of the
    * day-granular time from a key's first `startType` event to its
    * first subsequent `eventType` event, right-censored at the corpus
    * max day for keys that never convert. At each event day d:
    * n_risk = subjects with duration ≥ d, and Ŝ(d) multiplies by
    * (1 − d_i/n_risk) — the canonical time-to-event curve (here:
    * time-to-conversion). Per-key durations and the per-day
    * (events, at-risk) counts are distributed aggregates; the
    * survival recursion then runs driver-side over the day frame
    * (bounded by the corpus time span — the funnelRates/CUSUM
    * discipline), from exact integer counts. */
  def kaplanMeier(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, startType: String, eventType: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t0 = df.filter(col(typeCol) === startType)
      .groupBy(keyCol).agg(min(col(tsCol)).as("__t0"))
    val ev = df.filter(col(typeCol) === eventType)
      .select(col(keyCol).as("__k2"), col(tsCol).as("__te"))
    val tp = t0.join(ev,
        col(keyCol) === col("__k2") && col("__te") >= col("__t0"), "left")
      .groupBy(col(keyCol), col("__t0")).agg(min(col("__te")).as("__t1"))
    // empty input (or all-null ts) → max day is NULL; short-circuit to
    // an empty curve instead of feeding a null Date into datediff
    val maxRow = df.agg(max(to_date(col(tsCol)))).head()
    if (maxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("duration_days", "n_risk", "n_events", "survival")
    val maxDay = maxRow.getDate(0)
    val days = tp.select(
        when(col("__t1").isNotNull,
          datediff(to_date(col("__t1")), to_date(col("__t0"))))
          .otherwise(datediff(lit(maxDay), to_date(col("__t0")))).as("d"),
        col("__t1").isNotNull.cast("int").as("ev"))
      .groupBy("d").agg(sum(col("ev")).as("d_i"), count(lit(1)).as("n_d"))
      .orderBy("d")
      .collect() // bounded: one row per distinct duration day
    def r6(x: Double) = graft.core.Round.r6(x)
    var nRisk = days.map(_.getLong(2)).sum
    var s = 1.0
    days.flatMap { r =>
      val (d, di, nd) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val row = if (di > 0) {
        s = s * (1 - di.toDouble / nRisk)
        Some((d.toLong, nRisk, di, r6(s)))
      } else None
      nRisk -= nd
      row
    }.toSeq.toDF("duration_days", "n_risk", "n_events", "survival")
  }

  /** RFM segmentation: per key, recency (µs from the key's last event
    * to the corpus max timestamp), frequency (event count), and
    * monetary (sum of `valueCol` over rows matching `monetaryFilter`,
    * rounded to 6 dp BEFORE ranking so float-sum ordering is
    * engine-portable), each ranked into `k` quantile scores where
    * 1 = best (most recent / most frequent / highest spend). Rank
    * buckets use exact integer arithmetic (1 + i*k div n) over the
    * 0-based distributed row index i (`core.PrefixSum.rowIndex`) — no
    * single-partition window touches the key-scale frame. */
  def rfm(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      monetaryFilter: Column, k: Int = 5): DataFrame = {
    val perKey = df.groupBy(keyCol).agg(
      max(col(tsCol)).as("__last"),
      count(lit(1)).as("frequency"),
      round(coalesce(sum(when(monetaryFilter, col(valueCol))), lit(0.0)), 6)
        .as("monetary"))
    val maxTs = perKey.agg(max(col("__last")).as("__mx"))
    val base = perKey.crossJoin(broadcast(maxTs))
      .select(col(keyCol),
        (unix_micros(col("__mx")) - unix_micros(col("__last"))).as("recency_us"),
        col("frequency"), col("monetary"))
      // lazy: the count below materializes it for the three rankings
      .localCheckpoint(false)
    val n = base.count()
    // rank each dimension on the per-key frame (already far smaller
    // than the event table, and the ranking itself is distributed)
    def rankOn(orderCols: Seq[Column], name: String): DataFrame =
      graft.core.PrefixSum.rowIndex(base, orderCols, None)._1
        .select(col(keyCol), (expr(s"__idx * $k DIV ${n}L") + 1L).as(name))
    // the three rankings are independent prefix-sum machines (each
    // pays a blocking offset collect inside rowIndex) over the
    // same pinned base — overlap them on the Par pool (round-18)
    val Seq(r, f, m) = graft.core.Par.mapPar(Seq(
      (Seq(col("recency_us"), col(keyCol)), "r_score"),
      (Seq(col("frequency").desc, col(keyCol)), "f_score"),
      (Seq(col("monetary").desc, col(keyCol)), "m_score"))) {
      case (cols, name) => rankOn(cols, name)
    }
    base.join(r, Seq(keyCol)).join(f, Seq(keyCol)).join(m, Seq(keyCol))
      .select(col(keyCol), col("recency_us"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
  }
}
