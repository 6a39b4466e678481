package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EDA / evaluation statistics operators (data_vis/visualization.py,
  * modeling/prediction.py:532-605). All distributed aggregates; outputs
  * are small stat frames.
  */
object Stats {

  /** J4: cross-tabulation with row normalization
    * (pd.crosstab(normalize='index'), visualization.py:188-189).
    * groupBy(f, t).count + window-normalize over f. Long layout
    * (f, t, cnt, share) instead of pandas' wide layout — equivalent
    * information, shuffle-friendly, and stable under unseen categories.
    */
  def crosstabNorm(df: DataFrame, f: String, t: String): DataFrame =
    df.groupBy(col(f), col(t))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("share",
        round(col("cnt") / sum(col("cnt")).over(Window.partitionBy(f)), 6))
      .orderBy(col(f), col(t))

  /** A18: pairwise Pearson correlation over numeric columns
    * (df.corr(), visualization.py:30-31). Emits the upper triangle as
    * (col_a, col_b, corr) — one aggregate job computes all pairs.
    */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val n = pairs.length
    row.select(expr(
      s"stack($n, ${pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ")}) as (col_a, col_b, corr)"))
      .orderBy("col_a", "col_b")
  }

  /** A19: fixed-width histogram per class (visualization.py:105-116).
    * Bucket index = floor(x / width) — equivalent to the reference's
    * pd.cut over a regular bin list (generic_tools/utils.py:103-119)
    * anchored at 0. Pure expression, no Bucketizer needed.
    */
  def histogram(df: DataFrame, valueCol: String, width: Double,
      classCol: String): DataFrame =
    df.groupBy(
      floor(col(valueCol) / width).cast("long").as("bin"),
      col(classCol))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin", classCol)

  /** A20: confusion matrix with optional row normalization
    * (prediction.py:532-605). Long layout (label, prediction, cnt,
    * share); sklearn's matrix layout is a driver-side pivot of this.
    */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol).as("label"), col(predCol).as("prediction"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("share",
        round(col("cnt") / sum(col("cnt")).over(Window.partitionBy("label")), 6))
      .orderBy("label", "prediction")

  /** A20: classification report (sklearn classification_report,
    * prediction.py:579-586) — per-class precision/recall/f1/support
    * plus `macro avg` and `weighted avg` rows. One row-scale
    * aggregation to the (label, prediction, cnt) frame (nclasses^2
    * rows); everything after is class-cardinality work. sklearn
    * zero-division convention: a class never predicted has
    * precision 0, a class with no true rows has recall 0.
    */
  def classificationReport(df: DataFrame, labelCol: String, predCol: String,
      decimals: Int = 6): DataFrame = {
    val cm = df.groupBy(col(labelCol).as("label"), col(predCol).as("prediction"))
      .agg(count(lit(1)).as("cnt"))
    val byLabel = cm.groupBy(col("label").as("cls")).agg(
      sum("cnt").as("support"),
      sum(when(col("label") === col("prediction"), col("cnt")).otherwise(0L)).as("tp"))
    val byPred = cm.groupBy(col("prediction").as("cls")).agg(sum("cnt").as("pred_cnt"))
    val perClass = byLabel.join(byPred, Seq("cls"), "full")
      .na.fill(0L, Seq("support", "tp", "pred_cnt"))
      .withColumn("precision",
        when(col("pred_cnt") > 0, col("tp") / col("pred_cnt")).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("support") > 0, col("tp") / col("support")).otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
    val avgs = perClass.agg(
      avg("precision").as("p_macro"), avg("recall").as("r_macro"), avg("f1").as("f_macro"),
      (sum(col("precision") * col("support")) / sum("support")).as("p_w"),
      (sum(col("recall") * col("support")) / sum("support")).as("r_w"),
      (sum(col("f1") * col("support")) / sum("support")).as("f_w"),
      sum("support").as("n"))
    val classRows = perClass.select(
      col("cls").cast("string").as("class"),
      round(col("precision"), decimals).as("precision"),
      round(col("recall"), decimals).as("recall"),
      round(col("f1"), decimals).as("f1"),
      col("support"))
    val avgRows = avgs.select(
      explode(array(
        struct(lit("macro avg").as("class"),
          round(col("p_macro"), decimals).as("precision"),
          round(col("r_macro"), decimals).as("recall"),
          round(col("f_macro"), decimals).as("f1"),
          col("n").as("support")),
        struct(lit("weighted avg").as("class"),
          round(col("p_w"), decimals).as("precision"),
          round(col("r_w"), decimals).as("recall"),
          round(col("f_w"), decimals).as("f1"),
          col("n").as("support")))).as("r"))
      .select(col("r.class"), col("r.precision"), col("r.recall"), col("r.f1"), col("r.support"))
    classRows.unionByName(avgRows).orderBy("class")
  }

  /** Chi-squared test of independence between two categorical columns
    * (Pearson 1900), with Cramér's V effect size — the categorical
    * counterpart of the correlation matrix (A18) for drift/association
    * checks between e.g. language and source. The full contingency
    * grid (including zero-observed cells, which still contribute E) is
    * the bounded cross join of the two category lists; everything
    * after the two count aggregates is category-scale. Returns one
    * row: (chi2, dof, cramers_v, n). */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // rows with a null in either variable are excluded up front (the
    // pandas.crosstab / scipy convention): a null key would inflate
    // the totals and n while the equality grid join can never match
    // it, silently corrupting chi2, dof, and V
    val obs = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      // lazy: the n aggregate below materializes it for all consumers
      .localCheckpoint(false)
    val rt = obs.groupBy("__a").agg(sum("__o").as("__rt"))
    val ct = obs.groupBy("__b").agg(sum("__o").as("__ct"))
    val n = obs.agg(sum("__o")).head().getLong(0)
    // multiply in decimal: row·column totals of a multi-billion-row
    // table square past the long range (identical doubles below it)
    val e = (col("__rt").cast("decimal(38,0)") * col("__ct").cast("decimal(38,0)"))
      .cast("double") / n.toDouble
    val chi = rt.crossJoin(broadcast(ct))
      .join(obs, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__o"))
      .agg(sum((col("__o") - e) * (col("__o") - e) / e)).head().getDouble(0)
    val (r, c) = (rt.count(), ct.count())
    val minDim = math.min(r - 1, c - 1)
    def r6(x: Double): Double = graft.core.Round.r6(x)
    Seq((r6(chi), (r - 1) * (c - 1), r6(math.sqrt(chi / (n * minDim))), n))
      .toDF("chi2", "dof", "cramers_v", "n")
  }

  /** Exact `describe()` in long format: per numeric column one row of
    * (column, n, mean, std, min, p25, p50, p75, max) — the pandas
    * describe surface. Moments use the exact micro-unit integer sums
    * (`Incremental.aggState` construction: any engine computing the
    * same double formula over the same integers reproduces every
    * bit); quartiles are the exact interpolated order statistics
    * (np.percentile = quantile_cont semantics, `Percentiles.exact`).
    * Population std (ddof = 0). One aggregate pass per column plus
    * the bounded percentile collects. */
  def describeExact(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describeExact needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = graft.core.Round.r6(x)
    // ONE scan total (round 17; the round-16 form paid one moment scan
    // + one percentile scan): the stacked (column, value) distinct
    // count frame feeds BOTH the quartile CDF (exactPerColumnFromCounts
    // — bit-identical to per-column exact() calls) and the moment sums,
    // since Σ over rows of f(v) = Σ over distinct values of f(v)·count
    // in exact integer arithmetic. The micro-unit integer is re-derived
    // from the stacked double by the same quantizer expression, so the
    // summed integers are identical to the per-row form.
    val stacked = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("__c"), col(c).cast("double").as("__v"))): _*)).as("e"))
      .select(col("e.__c").as("__c"), col("e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    val counts = stacked.groupBy("__c", "__v").agg(count(lit(1)).as("__n"))
      // eager: the moment sums and the quartile CDF below read it
      // concurrently
      .localCheckpoint()
    // multiply in decimal: a micro-unit value of 1e11 squares past the
    // long range; NULLs are already excluded (matches pandas describe)
    val vi = graft.core.ExactSum.quantLong(col("__v"))
    val vid = vi.cast("decimal(38,0)")
    // the quartile CDF (a chain of small prefix-sum jobs) and the moment
    // aggregate are independent reads of the checkpointed counts frame —
    // overlap them on the Par pool
    val evals = graft.core.Par.mapPar(Seq(true, false)) {
      case true =>
        Left(Percentiles.exactPerColumnFromCounts(counts, cols,
          Seq(0.25, 0.5, 0.75)))
      case false =>
        Right(counts.groupBy("__c").agg(
            sum(col("__n")).as("n"),
            sum(vid * col("__n")).as("s1"),
            sum((vid * vid).cast("decimal(38,0)") * col("__n")).as("s2"),
            min(vi).as("mn"), max(vi).as("mx"))
          .collect().map(r => r.getString(0) -> r).toMap)
    }
    val ps = evals.collectFirst { case Left(p) => p }.get
    val a = evals.collectFirst { case Right(m) => m }.get
    val rows = cols.map { c =>
      val r = a.getOrElse(c,
        throw new IllegalArgumentException(s"no non-null values in $c"))
      val n = r.getLong(r.fieldIndex("n"))
      val s1 = r.getDecimal(r.fieldIndex("s1")).doubleValue()
      val s2 = r.getDecimal(r.fieldIndex("s2")).doubleValue()
      val mean = s1 / 1e6 / n
      val variance = s2 / 1e12 / n - mean * mean
      (c, n, r6(mean), r6(math.sqrt(variance)),
        r6(r.getLong(r.fieldIndex("mn")) / 1e6),
        r6(ps((c, 0.25))), r6(ps((c, 0.5))), r6(ps((c, 0.75))),
        r6(r.getLong(r.fieldIndex("mx")) / 1e6))
    }
    rows.toDF("col_name", "n", "mean", "std", "min", "p25", "p50", "p75", "max")
  }

  /** Benford first-digit drift test: the observed leading-digit
    * distribution of a positive numeric column against Benford's law
    * (Newcomb 1881 / Benford 1938, the standard bookkeeping-fraud and
    * data-corruption screen). The leading digit is extracted from the
    * micro-unit integer's decimal string — exact and engine-portable,
    * no float log10 near powers of ten. One 9-key aggregate. Returns
    * (digit, n, obs_frac, exp_frac). */
  def benfordDigits(df: DataFrame, c: String): DataFrame = {
    val vi = graft.core.ExactSum.quantLong(col(c))
    val counts = df.select(vi.as("__vi")).filter(col("__vi") > 0)
      .select(substring(col("__vi").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n")).head().getLong(0).toDouble
    counts.select(col("digit"), col("n"),
      round(col("n") / total, 6).as("obs_frac"),
      round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("exp_frac"))
  }

  /** Per-group simple linear regression (closed-form OLS) of `yCol`
    * on `xCol`, EXACT: both variables are scaled to integer
    * micro-units and the five sufficient sums (n, Σx, Σy, Σxx, Σxy,
    * Σyy) accumulate as 38-digit decimals, so slope / intercept / r²
    * derive from exact integers by a fixed double formula — any
    * engine computing the same expression over the same sums
    * reproduces every bit (the `Incremental.aggState` construction
    * applied to regression). One hash aggregate; group keys as
    * fine-grained as the data. Returns (group, n, slope, intercept,
    * r2). Groups need n >= 2 and non-constant x. */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, xScale: Double = 1e6, yScale: Double = 1e6): DataFrame = {
    val xi = graft.core.ExactSum.quantLong(col(xCol), xScale)
    val yi = graft.core.ExactSum.quantLong(col(yCol), yScale)
    val d38 = "decimal(38,0)"
    val sums = df
      .select(col(groupCol).as("grp"), xi.as("__x"), yi.as("__y"))
      .groupBy("grp").agg(
        count(lit(1)).as("n"),
        sum(col("__x").cast(d38)).as("sx"),
        sum(col("__y").cast(d38)).as("sy"),
        // multiply in decimal: scaled values past ~3e9 square past the
        // long range and would silently wrap before the decimal cast
        sum((col("__x").cast(d38) * col("__x").cast(d38)).cast(d38)).as("sxx"),
        sum((col("__x").cast(d38) * col("__y").cast(d38)).cast(d38)).as("sxy"),
        sum((col("__y").cast(d38) * col("__y").cast(d38)).cast(d38)).as("syy"))
    val (n, sx, sy, sxx, sxy, syy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("sxy").cast("double"),
      col("syy").cast("double"))
    val covN = n * sxy - sx * sy   // n² × covariance, in scaled units²
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    // contract formulas (the oracle replays these verbatim):
    val slope = covN / varXN * lit(xScale / yScale)
    val intercept = sy / (n * lit(yScale)) - slope * (sx / (n * lit(xScale)))
    sums.filter(col("n") >= 2 && varXN > 0)
      .select(col("grp").as(groupCol), col("n"),
        round(slope, 9).as("slope"),
        round(intercept, 9).as("intercept"),
        when(varYN > 0, round(covN * covN / (varXN * varYN), 9)).as("r2"))
  }

  /** Robust outlier screen per group (Iglewicz & Hoaglin 1993): the
    * modified z-score M = 0.6745·(v − median)/MAD, where MAD is the
    * median absolute deviation from the group median; values with
    * |M| > `threshold` (3.5 is the published cutoff) count as
    * outliers. Medians are exact interpolated order statistics with
    * `Percentiles.exact`'s arithmetic, delivered for EVERY group at
    * once by the distributed per-group CDF
    * (`Percentiles.groupedContinuous`) — no driver-collected group
    * vocabulary, no per-group jobs, any group cardinality. Groups with
    * MAD = 0 (over half the values identical) report a null outlier
    * count — the score is undefined there. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    // ONE pass over the data: the distinct-value (group, value, count)
    // frame feeds the median CDF, the deviation counts (re-aggregated
    // distinct-sized, never a second data pass), the MAD CDF, and the
    // weighted outlier screen
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__n"))
      .localCheckpoint(false)
    val med = Percentiles.groupedContinuousFromCounts(counts,
        Seq(0.5), Seq("__med"))
      .select(col("__g"), col("__med"))
    // the med frame is group-cardinality-sized (AQE broadcasts it)
    val withMed = counts.join(med, Seq("__g"))
    val dev = withMed
      .groupBy(col("__g"), abs(col("__v") - col("__med")).as("__v"))
      .agg(sum(col("__n")).as("__n"))
    val mad = Percentiles.groupedContinuousFromCounts(dev,
        Seq(0.5), Seq("__mad"))
      .select(col("__g"), col("__mad"))
    withMed.join(mad, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).cast("long").as("n"),
        min(col("__med")).as("__m"), min(col("__mad")).as("__s"),
        // the MAD>0 branch guards the division (ANSI double /0 throws);
        // CaseWhen short-circuits, so the score is never evaluated for
        // a degenerate group
        sum(when(col("__mad") > 0,
          when(abs(lit(0.6745) * (col("__v") - col("__med")) /
            col("__mad")) > threshold, col("__n")).otherwise(0L))
          .otherwise(0L)).cast("long").as("__no"))
      .select(col("__g").cast("string").as(groupCol), col("n"),
        graft.core.Round.r6c(col("__m")).as("median"),
        graft.core.Round.r6c(col("__s")).as("mad"),
        when(col("__s") > 0, col("__no")).as("n_outliers"))
  }

  /** Winsorized statistics per group: values clipped at the exact
    * [pLo, pHi] interpolated order statistics, then the clipped mean
    * from exact micro-unit integer sums (`ExactSum.micro` — the
    * q1-family signum-corrected quantization, order/partition-
    * independent). The standard heavy-tail-robust alternative to
    * trimming — every row still counts, extremes just stop dominating.
    * Clip bounds come from the distributed per-group CDF
    * (`Percentiles.groupedContinuousFromCounts`, bit-parity with
    * `Percentiles.exact`), and both the CDF and the clipped sums ride
    * the same distinct-value count frame — ONE pass over the data at
    * ANY group cardinality, no driver-collected vocabulary, no
    * per-group jobs. */
  def winsorizedMeans(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    // ONE pass over the data: the distinct-value count frame feeds the
    // CDF and the weighted clip aggregate (micro(w copies of v) =
    // w·quant(v) exactly — quantization is per value)
    val counts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__n"))
      .localCheckpoint(false)
    val pct = Percentiles.groupedContinuousFromCounts(counts,
        Seq(pLo, pHi), Seq("__plo", "__phi"))
      .select(col("__g"), col("__plo"), col("__phi"))
    val clipped = least(greatest(col("__v"), col("__plo")), col("__phi"))
    // pct is group-cardinality-sized (AQE broadcasts it); decimal
    // micro-unit sums: totals of trillion-row groups exceed the long
    // range, and the integer sum is bit-equal under any partitioning
    counts.join(pct, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).cast("long").as("n"),
        min(col("__plo")).as("__lo"), min(col("__phi")).as("__hi"),
        graft.core.ExactSum.microWeighted(clipped, col("__n")).as("__sw"),
        graft.core.ExactSum.microWeighted(col("__v"), col("__n")).as("__sr"))
      .select(col("__g").cast("string").as(groupCol), col("n"),
        graft.core.Round.r6c(col("__lo")).as("p_lo"),
        graft.core.Round.r6c(col("__hi")).as("p_hi"),
        graft.core.Round.r6c(col("__sw") / col("n")).as("winsorized_mean"),
        graft.core.Round.r6c(col("__sr") / col("n")).as("raw_mean"))
  }

  /** Per-group quantile normalization: each value mapped to its
    * percent rank within its group ((rank - 1) / (n - 1), min rank for
    * ties — the sklearn QuantileTransformer-style uniformization, here
    * as the exact rank version). The window partitions by the group
    * key, so keys stay as fine-grained as the data. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      keepCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(valueCol)
    df.select((keepCols :+ groupCol :+ valueCol).distinct.map(col): _*)
      .withColumn("q_norm", round(percent_rank().over(w), 6))
  }
}
