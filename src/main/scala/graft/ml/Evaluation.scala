package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.PrefixSum

/** Model-evaluation and distribution-drift operators — the standard
  * model-monitoring set a production scoring pipeline runs next to the
  * reference's per-fold metric loop (modeling/prediction.py:813-822
  * resolves sklearn scorers by name; these extend that evaluation
  * surface with the diagnostics the scorer list implies but the
  * reference plots by hand):
  *
  *  - reliability / calibration bins (DeGroot & Fienberg 1983) with
  *    per-bin Brier contributions (Brier 1950),
  *  - the two-sample Kolmogorov-Smirnov statistic over score
  *    distributions (score drift between cohorts),
  *  - the Population Stability Index over a binned feature
  *    (the scorecard-monitoring drift measure, Siddiqi 2006),
  *  - cumulative gains / lift by score quantile.
  *
  * Scale design: everything either stays scan-local + a bounded-key
  * aggregate (calibration, PSI after the bounded breakpoint collect),
  * or rides the engine's distributed prefix sum (`core.PrefixSum`:
  * range-partition, per-partition totals, broadcast offsets) so no
  * row-scale frame ever collapses onto a single-partition global
  * window.
  */
object Evaluation {

  /** Reliability diagram: equal-width probability bins of `scoreCol`
    * (assumed in [0,1]); per bin the count, mean score, positive rate,
    * and mean squared error (the bin's Brier contribution). Scan-local
    * binning + an nBins-key aggregate — runs at read bandwidth. */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
      nBins: Int = 10): DataFrame = {
    val bin = least(floor(col(scoreCol) * nBins), lit(nBins - 1)).cast("long")
    df.select(bin.as("bin"), col(scoreCol).as("__s"),
        col(labelCol).cast("double").as("__y"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        round(avg(col("__y")), 6).as("frac_pos"),
        round(avg((col("__s") - col("__y")) * (col("__s") - col("__y"))), 6)
          .as("brier"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between the `scoreCol`
    * distributions of rows where `isA` is true vs false:
    * KS = max over x of |F_A(x) - F_B(x)|.
    *
    * Scale design: aggregate per distinct score first (cardinality-
    * bounded for rounded scores, and never larger than the data), then
    * ONE distributed prefix sum carries both groups' cumulative counts;
    * the maximum is a plain aggregate. Returns one row:
    * (ks, n_a, n_b). */
  def ksStatistic(df: DataFrame, scoreCol: String, isA: Column): DataFrame = {
    val g = df.groupBy(col(scoreCol).as("__s")).agg(
      sum(isA.cast("double")).as("__na"),
      sum(not(isA).cast("double")).as("__nb"))
    val cum = PrefixSum.runningTotals(g, Seq(col("__s")),
      Map("__ca" -> col("__na"), "__cb" -> col("__nb")))
    val tot = cum.agg(sum("__na").as("ta"), sum("__nb").as("tb")).head()
    val (ta, tb) = (tot.getDouble(0), tot.getDouble(1))
    require(ta > 0 && tb > 0, "ksStatistic needs both cohorts non-empty")
    cum.agg(
      round(max(abs(col("__ca") / ta - col("__cb") / tb)), 6).as("ks"),
      lit(ta.toLong).as("n_a"), lit(tb.toLong).as("n_b"))
  }

  /** Two-proportion z-test (the A/B-test significance check): success
    * rates of the `isA` vs not-`isA` units compared under the pooled
    * standard error, z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b)).
    * All inputs are exact integer counts, so the statistic derives
    * from a fixed double formula any engine reproduces bit-for-bit.
    * One bounded aggregate; returns one row. */
  def twoProportionZTest(df: DataFrame, isA: Column,
      successCol: String): DataFrame = {
    val r = df.agg(
      sum(isA.cast("long")).as("na"),
      sum(when(isA, col(successCol).cast("long")).otherwise(0L)).as("xa"),
      sum(not(isA).cast("long")).as("nb"),
      sum(when(not(isA), col(successCol).cast("long")).otherwise(0L)).as("xb"))
      .head()
    val (na, xa, nb, xb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    require(na > 0 && nb > 0, "both cohorts must be non-empty")
    // contract formulas (oracle replays verbatim)
    val pa = xa.toDouble / na
    val pb = xb.toDouble / nb
    val pp = (xa + xb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))
    def r6(x: Double): Double = graft.core.Round.r6(x)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((na, xa, nb, xb, r6(pa), r6(pb),
        math.signum(z) * r6(math.abs(z))))
      .toDF("n_a", "x_a", "n_b", "x_b", "p_a", "p_b", "z")
  }

  /** Mann-Whitney U test (rank-sum) between the `isA` and not-`isA`
    * score distributions, with average ranks for ties and the normal
    * approximation WITHOUT tie correction (the simple variant — the
    * contract the oracle replays): U = R_a - n_a(n_a+1)/2,
    * z = (U - n_a n_b / 2) / sqrt(n_a n_b (n_a + n_b + 1) / 12).
    * Rank sums ride the same distributed prefix sum as `ksStatistic` —
    * no row-scale global window. */
  def mannWhitney(df: DataFrame, scoreCol: String, isA: Column): DataFrame = {
    val g = df.groupBy(col(scoreCol).as("__s")).agg(
      count(lit(1)).as("__n"), sum(isA.cast("long")).as("__na"))
    val cum = PrefixSum.runningTotals(g, Seq(col("__s")), Map("__cum" -> col("__n")))
      .withColumn("__before", col("__cum") - col("__n"))
      .withColumn("__avg_rank", col("__before") + (col("__n") + 1) / 2.0)
    val r = cum.agg(
      sum(col("__na") * col("__avg_rank")).as("ra"),
      sum(col("__na")).as("n_a"),
      sum(col("__n") - col("__na")).as("n_b")).head()
    val (ra, na, nb) = (r.getDouble(0), r.getLong(1), r.getLong(2))
    require(na > 0 && nb > 0, "both cohorts must be non-empty")
    val u = ra - na.toDouble * (na + 1) / 2.0
    val z = (u - na.toDouble * nb / 2.0) /
      math.sqrt(na.toDouble * nb * (na + nb + 1.0) / 12.0)
    def r6(x: Double): Double = graft.core.Round.r6(x)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((r6(u), r6(z), na, nb)).toDF("u", "z", "n_a", "n_b")
  }

  /** Population Stability Index of `featureCol` for every value of
    * `groupCol`, against the distribution of the `refGroup` rows.
    * Bins are the reference cohort's `nBins`-quantile breakpoints
    * (exact percentiles, rounded to 6 dp so the bin assignment is
    * engine-portable); proportions are clamped at 1e-6 before the
    * (p_t - p_r) * ln(p_t / p_r) sum so empty bins contribute a large
    * finite penalty instead of an infinity.
    *
    * Scale design: breakpoints are a bounded (nBins-1)-value collect
    * via the order-statistic percentile op; binning is scan-local;
    * everything after is (groups × nBins)-sized. */
  def psiByGroup(df: DataFrame, groupCol: String, featureCol: String,
      refGroup: String, nBins: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fracs = (1 until nBins).map(_.toDouble / nBins)
    val breaks = graft.ops.Percentiles
      .exact(df.filter(col(groupCol) === refGroup), featureCol, fracs)
      .toSeq.sortBy(_._1).map { case (_, v) => graft.core.Round.r6(v) }
    val bin = breaks.foldLeft(lit(1L))((acc, b) =>
      acc + (col(featureCol) > lit(b)).cast("long"))
    val counts = df.select(col(groupCol).as("grp"), bin.as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("__n"))
    val totals = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("__tot"))
    val grid = totals.select("grp")
      .crossJoin(broadcast((1 to nBins).map(_.toLong).toDF("bin")))
    val props = grid
      .join(counts, Seq("grp", "bin"), "left")
      .join(totals, Seq("grp"))
      .select(col("grp"), col("bin"),
        greatest(coalesce(col("__n"), lit(0L)).cast("double") / col("__tot"),
          lit(1e-6)).as("__p"))
    val ref = props.filter(col("grp") === refGroup)
      .select(col("bin"), col("__p").as("__pr"))
    props.join(broadcast(ref), Seq("bin"))
      .groupBy(col("grp").as(groupCol))
      .agg(round(sum((col("__p") - col("__pr")) * log(col("__p") / col("__pr"))), 6)
        .as("psi"))
  }

  /** Cumulative gains / lift table: rows are ranked by (`scoreCol`
    * descending, `idCol` ascending — a total order, so the ranking is
    * engine-portable), split into `nTiles` rank buckets via exact
    * integer arithmetic (tile = 1 + (i*k) div n for the 0-based rank
    * i), and per tile the positive count, cumulative capture rate, tile
    * lift, and cumulative lift are reported.
    *
    * Scale design: the row-scale ranking is `PrefixSum.rowIndex` (no
    * global single-partition window; its collect also yields n); after
    * the nTiles-key aggregate the frame is k rows, where the cumulative
    * window is bounded by construction. */
  def liftGains(df: DataFrame, idCol: String, labelCol: String,
      scoreCol: String, nTiles: Int = 10): DataFrame = {
    val (ranked, n) = PrefixSum.rowIndex(
      df.select(col(idCol), col(labelCol).cast("double").as("__y"),
        col(scoreCol).as("__s")),
      Seq(col("__s").desc, col(idCol)), None)
    // exact integer arithmetic both here and in the oracle (DIV, not
    // float division) so tile boundaries are engine-portable
    val agg = ranked
      .select((expr(s"__idx * $nTiles DIV ${n}L") + 1L).as("tile"), col("__y"))
      .groupBy("tile").agg(count(lit(1)).as("n_rows"), sum(col("__y")).as("n_pos"))
    val tot = agg.agg(sum("n_rows").as("n"), sum("n_pos").as("tp")).head()
    val (totN, totP) = (tot.getLong(0), tot.getDouble(1))
    require(totP > 0, "liftGains needs at least one positive")
    val baseRate = totP / totN
    // k-row frame: the global cumulative window is bounded by nTiles.
    val w = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .select(col("tile"), col("n_rows"), col("n_pos").cast("long").as("n_pos"),
        round(col("cum_pos") / totP, 6).as("capture"),
        round((col("n_pos") / col("n_rows")) / baseRate, 6).as("lift"),
        round((col("cum_pos") / col("cum_rows")) / baseRate, 6).as("cum_lift"))
  }
}
