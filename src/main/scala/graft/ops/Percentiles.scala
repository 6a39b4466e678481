package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.PrefixSum

/** A14: exact percentiles at scale. Spark's built-in exact `percentile`
  * aggregate materializes a value->count map per partition and merges
  * them — memory-unbounded on high-cardinality doubles (the 100 TB
  * failure mode). These implementations aggregate (value, count) first
  * and ride one `core.PrefixSum.runningTotals`, then read the
  * bracketing order statistics as conditional-min aggregates
  * (np.percentile linear interpolation = DuckDB quantile_cont). Cost:
  * one distinct-value-sized shuffle, O(1) driver data.
  */
object Percentiles {

  /** Per-group CDF over a distinct-value count frame (`g`, __v, __n):
    * the global running count over (g, __v) order minus each group's
    * base. The base and total fall out of that one prefix sum (base =
    * min over the group of cwg − n, total = max(cwg) − base), so one
    * hash aggregate stands in for a second prefix sum over the group
    * totals. Adds __cw (the per-group cumulative count) and __tot (the
    * group's row count), both long. */
  private def groupCdf(counts: DataFrame, g: String): DataFrame = {
    val cum = PrefixSum.runningTotals(
        counts, Seq(col(g), col("__v")), Map("__cwg" -> col("__n")))
      .localCheckpoint(false) // group bases and the CDF join both read it
    val gbase = cum.groupBy(g).agg(
        min(col("__cwg") - col("__n")).as("__base"),
        max(col("__cwg")).as("__top"))
      .withColumn("__tot", (col("__top") - col("__base")).cast("long"))
      .select(g, "__tot", "__base")
    cum.join(gbase, Seq(g))
      .withColumn("__cw", (col("__cwg") - col("__base")).cast("long"))
  }

  /** The two order statistics bracketing rank r = (n−1)·p for each
    * entry i of `ps`, as conditional-min aggregates `__lo<i>` (floor r)
    * and `__hi<i>` (ceil r) over a frame carrying __v, __cw and __tot:
    * 0-based order statistic j lives at the smallest value whose
    * cumulative count reaches j + 1. The in-plan floor/ceil run the
    * same IEEE double ops as [[interpolate]], so brackets and
    * fractions always agree. */
  private def brackets(ps: Seq[Double]): Seq[Column] =
    ps.zipWithIndex.flatMap { case (p, i) =>
      val r = (col("__tot") - 1).cast("double") * lit(p)
      Seq(min(when(col("__cw") >= floor(r).cast("long") + 1, col("__v")))
          .as(s"__lo$i"),
        min(when(col("__cw") >= ceil(r).cast("long") + 1, col("__v")))
          .as(s"__hi$i"))
    }

  /** (1−f)·a + f·b between the [[brackets]] of entry i in `row` — the
    * np.percentile / DuckDB quantile_cont form, the documented contract
    * of [[exact]] (callers comparing data against the result use the
    * tie-exact grouped variants). */
  private def interpolate(row: Row, i: Int, n: Long, p: Double): Double = {
    val r = (n - 1) * p
    val frac = r - math.floor(r)
    row.getDouble(row.fieldIndex(s"__lo$i")) * (1 - frac) +
      row.getDouble(row.fieldIndex(s"__hi$i")) * frac
  }

  /** Returns (percentile -> value) for non-null values of `c`.
    *
    * Shape: one (value, count) aggregate (map-side combinable, shuffle
    * is distinct-value-sized), the partition-bounded prefix sum of
    * `PrefixSum.runningTotals`, then every bracketing order statistic
    * as a conditional-min against its integer rank ([[brackets]]) — one
    * DataFrame plan, no RDD hop / zipWithIndex / row-scale cache. */
  def exact(df: DataFrame, c: String, ps: Seq[Double]): Map[Double, Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val dist = ps.distinct
    val counts = df.select(col(c).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__n"))
    val cum = PrefixSum.runningTotals(
        counts, Seq(col("__v")), Map("__cw" -> col("__n")))
      .withColumn("__cw", col("__cw").cast("long"))
    val tot = cum.agg(max(col("__cw")).as("__tot"))
    val aggCols = brackets(dist) :+ max(col("__tot")).as("n")
    val row = cum.crossJoin(broadcast(tot))
      .agg(aggCols.head, aggCols.tail: _*).head()
    require(!row.isNullAt(row.fieldIndex("n")), s"no non-null values in $c")
    val n = row.getLong(row.fieldIndex("n"))
    dist.zipWithIndex.map { case (p, i) => p -> interpolate(row, i, n, p) }.toMap
  }

  /** [[exact]] for SEVERAL columns in ONE distributed plan — the
    * pandas-describe shape (k quartile sets), which used to pay one
    * full counts-aggregate + prefix-sum machine per column. The
    * columns stack into a (column, value) long frame (one scan, k
    * struct projections), the per-column CDF is the groupedInterpolated
    * global-prefix-sum-minus-group-base construction keyed by the
    * column NAME, and the bracketing order statistics resolve exactly
    * as in [[exact]]: the same `(n−1)·p` double rank, the same
    * conditional-min brackets, the same driver-side `(1−f)·a + f·b`
    * interpolation — bit-identical results to k separate [[exact]]
    * calls (quantile_cont parity preserved), at one scan + one
    * value-keyed shuffle total. */
  def exactPerColumn(df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[(String, Double), Double] = {
    require(cols.nonEmpty, "exactPerColumn needs at least one column")
    val stacked = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("__c"), col(c).cast("double").as("__v"))): _*)).as("e"))
      .select(col("e.__c").as("__c"), col("e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    val counts = stacked.groupBy("__c", "__v").agg(count(lit(1)).as("__n"))
    exactPerColumnFromCounts(counts, cols, ps)
  }

  /** [[exactPerColumn]] over a pre-aggregated (__c, __v, __n)
    * distinct-value count frame — the shape callers that also derive
    * other statistics from the same counts (describeExact's moment
    * sums) already hold, so the whole describe() surface runs at ONE
    * scan of the data. */
  private[graft] def exactPerColumnFromCounts(counts: DataFrame,
      cols: Seq[String], ps: Seq[Double]): Map[(String, Double), Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val dist = ps.distinct
    val aggCols = brackets(dist) :+ max(col("__tot")).cast("long").as("__nv")
    val out = groupCdf(counts, "__c").groupBy("__c")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect().iterator.flatMap { row =>
        val c = row.getString(0)
        val n = row.getLong(row.fieldIndex("__nv"))
        dist.zipWithIndex.map { case (p, i) => (c, p) -> interpolate(row, i, n, p) }
      }.toMap
    // A column with zero non-null values simply vanishes from the
    // grouped result; fail with exact()'s explicit message instead of
    // letting a caller's map lookup surface a bare NoSuchElementException.
    val missing = cols.filterNot(c => out.contains((c, dist.head)))
    require(missing.isEmpty,
      s"no non-null values in ${missing.mkString(", ")}")
    out
  }

  /** Exact discrete (lower-quantile) percentiles PER GROUP with no
    * driver loop — the smallest value whose cumulative count reaches
    * p% of the group's rows, for every group at once. One (group,
    * value) count aggregate, one group-partitioned running total over
    * the DISTINCT values (frame = value cardinality per group, far
    * below row counts for discretized columns), then a conditional-min
    * per requested percent. Thresholds compare as pure integers
    * (cum·100 ≥ p·total), so there is no float boundary an engine pair
    * can disagree on. Percents are integers in (0, 100]. Scales to
    * millions of groups — this is the one to reach for when the
    * per-group loop (`exact` per group) stops being bounded. */
  def groupedDiscrete(df: DataFrame, groupCol: String, valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100))
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cw", sum(col("__n")).over(w))
    val tot = counts.groupBy("__g").agg(sum(col("__n")).as("__tot"))
    val pcols = percents.map(p =>
      min(when(col("__cw") * 100 >= lit(p.toLong) * col("__tot"), col("__v")))
        .as(s"p$p"))
    cum.join(tot, Seq("__g"))
      .groupBy(col("__g").as(groupCol))
      .agg(pcols.head, pcols.tail: _*)
  }

  /** Exact linearly-INTERPOLATED percentiles PER GROUP with no driver
    * loop and no single-task window — `exact`'s np.percentile /
    * quantile_cont semantics (rank r = (n-1)·p, interpolate the two
    * bracketing order statistics) delivered for every group in one
    * plan. Construction: one (group, value) count aggregate (map-side
    * combinable, keys as fine as the data), then the global prefix sum
    * over (group, value) order minus each group's base offset
    * ([[groupCdf]] on `PrefixSum.runningTotals` — every window
    * partition-bounded), so the per-group cumulative count never rides
    * a per-group window whose frame is the group's distinct-value
    * cardinality. The
    * bracketing order statistics resolve as conditional-min aggregates
    * against integer thresholds.
    *
    * `percents` are integers in (0, 100]; the interpolation fraction
    * is rem/100 with rem = ((n-1)·k) mod 100, so for quartile-style
    * percents (multiples of 25) over integer-valued data the result is
    * exactly representable and bit-identical to DuckDB quantile_cont.
    * Null groups and null values are excluded. Output: (groupCol,
    * n, p<k>...), group column keeps its native type. Scales to
    * millions of groups AND row-cardinality value columns. */
  def groupedInterpolated(df: DataFrame, groupCol: String, valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100))
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__n"))
    // conditional-min order statistics: 0-based index i lives at the
    // smallest v whose cumulative count reaches i+1. All thresholds
    // are exact long arithmetic; m/100 truncation is safe for
    // m < 2^53 (integer quotients are exactly representable).
    val aggCols = percents.flatMap { k =>
      val m = (col("__tot") - 1) * lit(k.toLong)
      val rem = m % lit(100L)
      val loIdx = ((m - rem) / lit(100L)).cast("long")
      val hiIdx = loIdx + when(rem > 0, lit(1L)).otherwise(lit(0L))
      Seq(min(when(col("__cw") >= loIdx + 1, col("__v"))).as(s"__lo$k"),
        min(when(col("__cw") >= hiIdx + 1, col("__v"))).as(s"__hi$k"))
    } :+ max(col("__tot")).cast("long").as("n")
    val agged = groupCdf(counts, "__g").groupBy(col("__g").as(groupCol))
      .agg(aggCols.head, aggCols.tail: _*)
    val pcols = percents.map { k =>
      val rem = ((col("n") - 1) * lit(k.toLong)) % lit(100L)
      val frac = rem.cast("double") / lit(100.0)
      // a + f*(b-a), the np.percentile / Spark-percentile form — exact
      // when the brackets tie, unlike (1-f)*a + f*b which drifts 1 ulp
      // off a tied bracket (the round-12 quantile_cont lesson)
      (col(s"__lo$k") + (col(s"__hi$k") - col(s"__lo$k")) * frac).as(s"p$k")
    }
    agged.select(col(groupCol) +: col("n") +: pcols: _*)
  }

  /** [[exact]]'s CONTINUOUS (np.percentile / quantile_cont) semantics
    * PER GROUP with no driver loop — `ps` are arbitrary doubles in
    * [0, 1] and the rank/interpolation arithmetic is op-for-op the
    * same IEEE double sequence as [[exact]] (r = (n−1)·p as a double
    * product, floor/ceil bracket thresholds, (1−f)·a + f·b), so a
    * grouped result is bit-equal to calling [[exact]] once per group —
    * at one (group, value) count aggregate + one value-keyed prefix
    * sum for EVERY group at once, instead of 3 jobs × n_groups over an
    * unbounded driver-collected vocabulary. This is the construction
    * that retired the engine's last per-group driver loops
    * (winsorizedMeans / robustOutliers).
    *
    * Output: (groupCol — native type, n, one double column per entry
    * of `names`). Null groups and null values are excluded. */
  def groupedContinuous(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], names: Seq[String]): DataFrame = {
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__n"))
      .localCheckpoint(false) // feeds the CDF AND the group totals
    groupedContinuousFromCounts(counts, ps, names)
      .withColumnRenamed("__g", groupCol)
  }

  /** [[groupedContinuous]] over a PRE-AGGREGATED distinct-value count
    * frame (__g, __v: double, __n) with one row per (group, value) —
    * the shape callers that also need weighted aggregates over the
    * same distinct values (winsorizedMeans, robustOutliers) already
    * hold. Sharing the frame keeps the whole statistic at ONE pass
    * over the data: everything after the first count aggregate is
    * distinct-value-sized. */
  private[graft] def groupedContinuousFromCounts(counts: DataFrame,
      ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    require(names.size == ps.size && names.distinct.size == names.size,
      "names must be distinct and pair 1:1 with ps")
    val dist = ps.distinct
    // exact()'s brackets verbatim, per group
    val aggCols = brackets(dist) :+ max(col("__tot")).cast("long").as("n")
    val agged = groupCdf(counts, "__g").groupBy(col("__g"))
      .agg(aggCols.head, aggCols.tail: _*)
    val pcols = names.zip(ps).map { case (name, p) =>
      val i = dist.indexOf(p)
      val r = (col("n") - 1).cast("double") * lit(p)
      val frac = r - floor(r)
      // (1−f)·a + f·b, exact()'s driver-side form — NOT the a+f·(b−a)
      // of groupedInterpolated: this function's contract is bit-parity
      // with exact() (and with it, quantile_cont), tied brackets and all
      (col(s"__lo$i") * (lit(1.0) - frac) + col(s"__hi$i") * frac).as(name)
    }
    agged.select(col("__g") +: col("n") +: pcols: _*)
  }

  /** Exact WEIGHTED percentile (lower weighted quantile: the smallest
    * value whose cumulative weight reaches p·W). Aggregates weight per
    * distinct value first, then one distributed prefix sum over the
    * value order (`PrefixSum.runningTotals` — no single-partition
    * window), then a bounded selection of the crossing value. Weights
    * must be non-negative; integer weights make the threshold
    * comparison exact. */
  def weightedExact(df: DataFrame, valueCol: String, weightCol: String,
      ps: Seq[Double]): Map[Double, Double] = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1))
    val g = df.select(col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("double").as("__w"))
      .filter(col("__v").isNotNull)
      .groupBy("__v").agg(sum(col("__w")).as("__w"))
    val cum = PrefixSum.runningTotals(
      g, Seq(col("__v")), Map("__cw" -> col("__w"))).localCheckpoint(false)
    val total = cum.agg(max(col("__cw"))).head().getDouble(0)
    // every crossing value in ONE conditional-min aggregate (the
    // exact() shape) — the round-16 form ran one filter+agg job per
    // requested percentile; the predicate is unchanged (same
    // driver-computed p·total threshold), so values are bit-identical
    val dist = ps.distinct
    val aggCols = dist.zipWithIndex.map { case (p, i) =>
      min(when(col("__cw") >= lit(p * total), col("__v"))).as(s"__p$i")
    }
    val row = cum.agg(aggCols.head, aggCols.tail: _*).head()
    dist.zipWithIndex.map { case (p, i) =>
      p -> row.getDouble(row.fieldIndex(s"__p$i"))
    }.toMap
  }
}
