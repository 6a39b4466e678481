package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins and sessionization — the event-stream operators a
  * feature/training-data pipeline needs that Spark SQL has no native
  * operator for (as-of join, interval overlap join) or that deserve a
  * fixed scale-safe shape (gaps-and-islands sessionization).
  *
  * All three are compositions of built-in operators chosen so every
  * shuffle key is as fine as the data:
  *
  *  - `asofJoin` is the union-and-running-last formulation: one hash
  *    exchange on the key, one per-key ordered window — never a
  *    per-row subquery or a range join. This is how kdb's `aj` /
  *    pandas `merge_asof` semantics map onto a shuffle engine.
  *  - `rangeJoinCount` buckets time into granules so interval
  *    containment becomes an equi-join on the granule id — the plan
  *    Spark's optimizer cannot derive itself (a bare `BETWEEN` join
  *    with no equi key degenerates to BroadcastNestedLoopJoin,
  *    quadratic work at corpus scale).
  *  - `sessionize` is one per-user window + running sum of gap flags
  *    (gaps-and-islands), then a per-(user, session) aggregate.
  *
  * All second-resolution math uses integer microseconds
  * (`unix_micros` here, `epoch_us` in the DuckDB oracles) — exact on
  * both engines, no float-epoch drift.
  */
object Temporal {

  /** As-of join with full pandas `merge_asof` semantics: for every
    * probe row, the single nearest build row of the same `key` —
    * `direction="backward"` (default) takes the newest build row with
    * `build.ts <= probe.ts` (DuckDB `ASOF JOIN ... >=`), `"forward"`
    * the oldest with `build.ts >= probe.ts`; `toleranceSec` masks
    * matches farther than the tolerance to null; `emitBuildTs` adds
    * the matched row's timestamp as `asof_ts`. Probes with no match
    * keep null payloads.
    *
    * Build rows must be unique per (key, ts) — pre-aggregate ties
    * before calling (ASOF tie order is otherwise undefined in every
    * engine) — and `payload` names must not collide with probe
    * columns (rename on the build side first). Null build payload
    * values are skipped by the running `last(ignoreNulls)`, i.e.
    * treated as no observation.
    *
    * Shape: union the two sides with a side tag, then one window
    * `partitionBy(key).orderBy(ts, side)` with `last(payload,
    * ignoreNulls=true)` over the unbounded-preceding frame — build
    * rows sort before probe rows at equal ts, so an exact-ts match is
    * visible to its probe. One shuffle on `key`, partitions as fine
    * as the key cardinality, no range predicate anywhere. */
  def asofJoin(probes: DataFrame, build: DataFrame, key: String,
      ts: String, payload: Seq[String],
      direction: String = "backward",
      toleranceSec: Option[Long] = None,
      emitBuildTs: Boolean = false): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val pCols = probes.columns.toSeq
    require(payload.forall(!pCols.contains(_)),
      s"payload columns ${payload.mkString(",")} must not collide with probe columns")
    // the matched build row's own timestamp rides along as an internal
    // payload — it drives the tolerance mask and the optional asof_ts
    val allPayload = payload :+ "__bts"
    val probeSide = probes
      .withColumn("__side", lit(1))
      .withColumn("__bts", lit(null).cast(probes.schema(ts).dataType))
      .withColumns(payload.map(c => c -> lit(null).cast(
        build.schema(c).dataType)).toMap)
    val buildSide = build
      .select((key +: ts +: payload).map(col): _*)
      .withColumn("__side", lit(0))
      .withColumn("__bts", col(ts))
      .withColumns(pCols.filterNot(Set(key, ts))
        .map(c => c -> lit(null).cast(probes.schema(c).dataType)).toMap)
    // backward: newest build row at-or-before the probe — running last
    // over the preceding frame, build rows sorting BEFORE probes at
    // equal ts. forward: oldest build row at-or-after — first over the
    // following frame, build rows sorting AFTER probes at equal ts.
    val (w, pick) =
      if (direction == "backward") {
        val fr = Window.partitionBy(key)
          .orderBy(col(ts).asc, col("__side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (fr, (c: String) => last(col(c), ignoreNulls = true).over(fr))
      } else {
        val fr = Window.partitionBy(key)
          .orderBy(col(ts).asc, col("__side").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        (fr, (c: String) => first(col(c), ignoreNulls = true).over(fr))
      }
    val filled = probeSide.unionByName(buildSide)
      .withColumns(allPayload.map(c => s"__asof_$c" -> pick(c)).toMap)
    val within = toleranceSec match {
      case None => col(s"__asof___bts").isNotNull
      case Some(t) =>
        col(s"__asof___bts").isNotNull &&
          abs(unix_micros(col(s"__asof___bts")) - unix_micros(col(ts))) <=
            t * 1000000L
    }
    val outPayload = payload.map(c =>
      when(within, col(s"__asof_$c")).otherwise(lit(null)).as(s"asof_$c")) ++
      (if (emitBuildTs)
        Seq(when(within, col(s"__asof___bts")).otherwise(lit(null)).as("asof_ts"))
      else Nil)
    filled.filter(col("__side") === 1)
      .select(pCols.map(col) ++ outPayload: _*)
  }

  /** Interval-overlap join, aggregated: for every interval
    * [startCol, endCol) of `intervals`, the count and value-sum of
    * `points` rows with start <= pt < end — with NO equi key linking
    * the two sides.
    *
    * Scale shape: a bare non-equi join plans as
    * BroadcastNestedLoopJoin — |intervals| x |points| comparisons.
    * Instead, time is bucketed into `granuleSec` granules; each
    * interval explodes into the granules it overlaps (sequence over
    * the floor-divided bounds), each point maps to exactly ONE
    * granule, and the join is an equi-join on the granule id with the
    * exact containment predicate as a post-filter. Because a point
    * owns a single granule, no pair can match twice — no dedup pass.
    * Work is |intervals| x (span/granule + 1) + |points|, linear at
    * any scale while spans are bounded; the granule id is the shuffle
    * key, so skew maps to genuinely-hot time ranges only (AQE's skew
    * handling applies). */
  def rangeJoinCount(intervals: DataFrame, points: DataFrame,
      intervalId: String, startCol: String, endCol: String,
      ptTs: String, valueCol: String, granuleSec: Long): DataFrame = {
    val g = lit(granuleSec * 1000000L)
    val iGr = intervals.select(
        col(intervalId), col(startCol), col(endCol),
        explode(sequence(
          floor(unix_micros(col(startCol)) / g).cast("long"),
          floor(unix_micros(col(endCol)) / g).cast("long")))
          .as("__gran"))
    val pGr = points.select(
        col(ptTs).as("__pt"), col(valueCol).as("__pv"),
        floor(unix_micros(col(ptTs)) / g).cast("long").as("__gran"))
    val matched = iGr.join(pGr, Seq("__gran"))
      .filter(col("__pt") >= col(startCol) && col("__pt") < col(endCol))
      .groupBy(intervalId)
      // exact micro-unit sum: an interval over a hot granule can hold
      // corpus-scale points, where a float sum's partial-agg order
      // drifts past the 6-dp grain (the q1-family class)
      .agg(count(lit(1)).as("__n"),
        round(graft.core.ExactSum.micro(col("__pv")), 6).as("__sv"))
    // "for EVERY interval": an interval with zero in-window points
    // must appear with (0, 0.0), not vanish with the inner join —
    // callers joining results back per interval would silently lose
    // rows otherwise
    intervals.select(col(intervalId)).join(matched, Seq(intervalId), "left")
      .select(col(intervalId),
        coalesce(col("__n"), lit(0L)).as("n_points"),
        coalesce(col("__sv"), lit(0.0)).as("sum_value"))
  }

  /** Rolling event-time features: for every row, the count and value
    * sum of the SAME key's strictly-prior rows inside the trailing
    * `windowSec` seconds, plus the all-time prior count — the standard
    * leakage-safe aggregation-feature shape of a training pipeline
    * (current row excluded so a model never sees its own label
    * window).
    *
    * One window `partitionBy(key).orderBy(epoch_micros)` serves all
    * three features: the trailing pair uses a RANGE frame
    * [-windowSec·1e6, -1] (microsecond integers — exact, and peers at
    * the same timestamp are excluded on both engines), the lifetime
    * count a ROWS frame ending at -1. One shuffle on `key`, one sort,
    * no self-join — the naive formulation is a per-row range self-join
    * that degenerates to a nested loop at scale. */
  def rollingFeatures(events: DataFrame, key: String, ts: String,
      valueCol: String, windowSec: Long): DataFrame = {
    val us = unix_micros(col(ts))
    val ordered = Window.partitionBy(key).orderBy(us)
    val trailing = ordered.rangeBetween(-windowSec * 1000000L, -1L)
    // RANGE, not ROWS: a ROWS frame counts same-timestamp peers for
    // whichever row happens to sort later — nondeterministic and
    // inconsistent with the trailing frame, which excludes peers; the
    // RANGE frame is the documented strictly-prior (us' < us) count
    val lifetime = ordered.rangeBetween(Window.unboundedPreceding, -1L)
    events
      .withColumn("n_prior_win", count(lit(1)).over(trailing))
      .withColumn("sum_prior_win",
        round(coalesce(sum(col(valueCol)).over(trailing), lit(0.0)), 6))
      .withColumn("n_prior_total", count(lit(1)).over(lifetime))
  }

  /** Leakage-safe exponential time-decay feature: for every event, the
    * half-life-weighted sum of the SAME key's strictly-prior values,
    *   decayed(t) = Σ_{i : t_i < t-row} v_i · 2^(−(t − t_i)/halfLife)
    * — the standard recency-weighted engagement feature (older events
    * fade smoothly instead of falling off a window cliff, the
    * continuous counterpart of [[rollingFeatures]]'s trailing sums).
    *
    * Computed without a per-row rescan via the scaling identity
    * decayed(t) = e^(−λ(t−t0)) · Σ v_i·e^(λ(t_i−t0)) with λ = ln2/H
    * and t0 the key's first event: one per-key anchor min plus one
    * running prior-rows window sum — both over the SAME key partition,
    * so ONE hash shuffle, exactly the q117 shape. The scaled weights
    * grow like e^(λ·span); double range bounds the usable span to
    * ~500 half-lives per key (beyond ~60 half-lives a contribution is
    * 0.0 in double anyway, so longer histories should be chunked or
    * pre-filtered — at 100 TB you'd re-anchor per time-bucket). */
  def decayFeatures(events: DataFrame, key: String, ts: String,
      valueCol: String, halfLifeSec: Long): DataFrame = {
    val lam = math.log(2.0) / halfLifeSec
    val us = unix_micros(col(ts))
    val anchor = Window.partitionBy(key)
    // RANGE, not ROWS: the documented sum is over t_i < t — a ROWS
    // frame would include a same-timestamp peer for whichever row
    // sorts later, nondeterministically (streaming decayStream
    // applies the same tie rule: a tie group shares one prior sum)
    val prior = Window.partitionBy(key).orderBy(us)
      .rangeBetween(Window.unboundedPreceding, -1L)
    val relSec = (us - min(us).over(anchor)).cast("double") / lit(1e6)
    events
      .withColumn("__wv", exp(lit(lam) * relSec) * col(valueCol))
      .withColumn("decayed_sum",
        round(exp(lit(-lam) * relSec) *
          coalesce(sum(col("__wv")).over(prior), lit(0.0)), 6))
      .drop("__wv")
  }

  /** Gaps-and-islands sessionization: events of one `key` belong to
    * the same session while consecutive gaps stay under `gapSec`
    * (strictly-greater gap starts a new session). Output one row per
    * (key, session) with event count, start/end, integer-microsecond
    * duration, and the value sum; `session` is 1-based in time order
    * per key.
    *
    * One window `partitionBy(key).orderBy(ts)` computes the previous
    * timestamp (lag) and the running count of gap breaks — both over
    * the same per-key frame, so Spark executes ONE shuffle and one
    * sort; the session aggregate then groups by (key, session), keys
    * as fine as the data. No global window, no self-join. */
  def sessionize(events: DataFrame, key: String, ts: String,
      valueCol: String, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts).asc)
    val us = unix_micros(col(ts))
    val flagged = events.withColumn("__gap",
      when(us - lag(us, 1).over(w) > gapSec * 1000000L, 1).otherwise(0))
    flagged
      .withColumn("session",
        sum(col("__gap")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) + 1)
      .groupBy(col(key), col("session"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(ts)).as("session_start"),
        max(col(ts)).as("session_end"),
        (unix_micros(max(col(ts))) - unix_micros(min(col(ts))))
          .as("duration_us"),
        // order-independent (q1-family): a bot key's "session" can be
        // unbounded, and the float sum would drift with partition order
        round(graft.core.ExactSum.micro(col(valueCol)), 6).as("sum_value"))
  }

  /** Event funnel — greedy-earliest completion of an ordered step
    * sequence per key: step 1 anchors at the key's FIRST step-1 event;
    * each later step matches the first event of its type at-or-after
    * the previous step's match, masked to null (breaking the chain)
    * when the per-step wait exceeds `withinSec`. Greedy-earliest is
    * the standard funnel-analytics semantics: it never misses a
    * completion that any assignment would find at the same anchor,
    * and it is deterministic.
    *
    * Composition, not a new engine: one bounded per-key anchor
    * aggregate, then ONE forward as-of join (with tolerance) per
    * remaining step — each is `asofJoin`'s single key-shuffle
    * union-window plan, so an s-step funnel costs s-1 key shuffles of
    * the (bounded) per-key frontier plus the per-step event filters;
    * the corpus is never range-joined. Keys whose chain already broke
    * are split off before each join (a null probe timestamp must not
    * participate in the as-of window) and unioned back with null
    * matches.
    *
    * Output: (key, t_1 .. t_s, steps_completed, converted). */
  def funnel(events: DataFrame, key: String, ts: String, typeCol: String,
      steps: Seq[String], withinSec: Long): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    val tsType = events.schema(ts).dataType
    val anchors = events.filter(col(typeCol) === steps.head)
      .groupBy(key).agg(min(col(ts)).as("t_1"))
    val chained = steps.tail.zipWithIndex.foldLeft(anchors) {
      case (acc, (step, i)) =>
        val prev = s"t_${i + 1}"; val cur = s"t_${i + 2}"
        val build = events.filter(col(typeCol) === step)
          .select(col(key), col(ts).as(prev)).distinct()
        val alive = acc.filter(col(prev).isNotNull)
        val dead = acc.filter(col(prev).isNull)
          .withColumn(cur, lit(null).cast(tsType))
        asofJoin(alive, build, key, prev, Seq.empty,
            direction = "forward", toleranceSec = Some(withinSec),
            emitBuildTs = true)
          .withColumnRenamed("asof_ts", cur)
          .unionByName(dead)
    }
    val stepCols = steps.indices.map(i => col(s"t_${i + 1}"))
    chained.select(
      (col(key) +: stepCols) :+
        stepCols.map(c => c.isNotNull.cast("long")).reduce(_ + _)
          .as("steps_completed") :+
        stepCols.last.isNotNull.as("converted"): _*)
  }

  /** Peak session concurrency per day — the sweep-line read-out: how
    * many sessions were simultaneously active at the busiest instant
    * of each day. Sessions are the `gapSec` gaps-and-islands split;
    * each contributes (+1 at start_µs, −1 at end_µs+1 — closed
    * intervals). Deltas aggregate per distinct µs FIRST (so the
    * running value after each instant is well-defined regardless of
    * row order), then the global running sum rides the distributed
    * prefix sum (`core.PrefixSum.runningTotals` — range
    * partition + per-partition window + broadcast offsets, never a
    * single-partition window), and the per-day max is a day-keyed
    * aggregate. "Peak" is evaluated at session-boundary instants PLUS
    * each midnight in the span: concurrency is constant between
    * boundaries, so those are the only instants where it can change —
    * but a day whose busiest moment is CARRIED IN from the previous
    * day (sessions still open at 00:00, first boundary a session end)
    * has its peak at the day start, and a day with no boundaries at
    * all lies entirely inside open sessions; the zero-delta midnight
    * rows make both read the carried value. Midnights are one
    * day-span sequence (bounded by the corpus time span, the
    * funnelRates discipline). */
  def peakConcurrency(events: DataFrame, key: String, ts: String,
      valueCol: String, gapSec: Long): DataFrame = {
    val sess = sessionize(events, key, ts, valueCol, gapSec)
    val bounds = sess.agg(
      to_date(min(col("session_start"))).as("__d0"),
      to_date(max(col("session_end"))).as("__d1"))
    val midnights = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("__day"))
      .select(unix_micros(col("__day").cast("timestamp")).as("__t"),
        lit(0L).as("__d"))
    val deltas = sess
      .select(unix_micros(col("session_start")).as("__t"), lit(1L).as("__d"))
      .unionByName(sess.select(
        (unix_micros(col("session_end")) + 1L).as("__t"), lit(-1L).as("__d")))
      .unionByName(midnights)
      .groupBy("__t").agg(sum(col("__d")).as("__d"))
    graft.core.PrefixSum.runningTotals(
        deltas, Seq(col("__t")), Map("__c" -> col("__d")))
      .groupBy(to_date(timestamp_micros(col("__t"))).as("__day"))
      .agg(max(col("__c")).cast("long").as("peak_concurrency"))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("peak_concurrency"))
  }

  /** Exact inter-event gap quartiles per group: consecutive-event
    * waits (integer µs) under the (ts, tie) order WITHIN each
    * (group, key) timeline, then exact interpolated quartiles for
    * EVERY group in one plan via `Percentiles.groupedInterpolated`
    * (the distributed per-group CDF — no per-group driver loop, no
    * bounded-vocabulary contract: a high-cardinality group column
    * stays one fixed set of Spark jobs). Quarter-fraction
    * interpolation over integer µs is exactly representable, so both
    * engines emit identical bits with no rounding. Null groups have
    * no defined timeline label and are excluded; the group column
    * keeps its native type. */
  def groupGapPercentiles(df: DataFrame, groupCol: String, key: String,
      ts: String, tieCol: String): DataFrame = {
    val us = unix_micros(col(ts))
    val w = Window.partitionBy(col("__g"), col("__k"))
      .orderBy(col("__ts"), col("__tie"))
    val gaps = df
      .select(col(groupCol).as("__g"), col(key).as("__k"),
        us.as("__ts"), col(tieCol).as("__tie"))
      .withColumn("__gap",
        (col("__ts") - lag(col("__ts"), 1).over(w)).cast("double"))
      .filter(col("__gap").isNotNull)
    Percentiles.groupedInterpolated(gaps, "__g", "__gap", Seq(25, 50, 75))
      .select(col("__g").as(groupCol), col("n").as("n_gaps"),
        col("p25").as("p25_us"), col("p50").as("p50_us"),
        col("p75").as("p75_us"))
  }

  /** Cohort retention matrix — the other canonical funnel-adjacent
    * analytics deliverable: group every key (user) by the period of
    * its FIRST event (its cohort), then count how many distinct keys
    * of each cohort are active again `period` periods later. Output is
    * the long-form matrix (cohort, period, n_active, cohort_size,
    * retention) with period 0 = the cohort's own size; `periodDays`
    * sets the period width (7 = weekly periods since first activity;
    * the cohort label is the key's exact first-activity day, so
    * periods are aligned per key, not to a calendar grid).
    *
    * Shape: one per-key min aggregate (hash shuffle on the key — the
    * finest key in the data), one equi-join of the (key, period)
    * activity pairs back against it keyed by the same key, then a
    * count-distinct keyed by (cohort, period) — cardinality bounded
    * by (#periods)^2, so the final aggregate is tiny and the join
    * never fans out beyond the original activity rows. `n_active` is
    * exact distinct, not approx: the (cohort, period, key) distinct
    * pre-aggregate is map-side combinable and the result fits any
    * executor. No window over the whole corpus, no range join.
    */
  def cohortRetention(events: DataFrame, key: String, ts: String,
      periodDays: Int = 7, maxPeriods: Option[Long] = None): DataFrame = {
    val day = to_date(col(ts))
    val acts = events.select(col(key), day.as("__d")).distinct()
    val firsts = acts.groupBy(key).agg(min(col("__d")).as("cohort_start"))
    // maxPeriods: the batch face of the streaming horizon
    // (cohortRetentionStream(maxPeriods)) — pairs beyond period P are
    // pruned BEFORE the distinct/aggregate so the matrix restriction
    // also shrinks the shuffle; period-0 rows always survive, so
    // cohort sizes and retention of kept rows are unchanged. (The
    // stream adds re-acquisition rows for keys that REAPPEAR after
    // their horizon — a batch pass sees the whole history, so its
    // matrix is exactly this restriction; parity pinned in spec.)
    val joined0 = acts.join(firsts, key)
      .select(col(key), col("cohort_start").as("__cs"),
        (floor(datediff(col("__d"), col("cohort_start")) / periodDays))
          .cast("long").as("period"))
    val joined = maxPeriods.fold(joined0)(mp =>
      joined0.filter(col("period") <= mp)).distinct()
    val matrix = joined.groupBy(col("__cs").as("cohort"), col("period"))
      .agg(countDistinct(col(key)).as("n_active"))
    val sizes = matrix.filter(col("period") === 0)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    matrix.join(sizes, "cohort")
      .select(col("cohort"), col("period"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }
}
