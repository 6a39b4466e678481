package graft.fs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Materialize
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.ml.ModelWrapper

/** M10: feature selection by target permutation — the Spark-first
  * re-expression of modeling/feature_selection.py:64-480
  * (`FeatureSelectorByTargetPermutation`): actual-importance fit,
  * null-importance distribution over shuffled targets (A15), feature
  * scoring (A16), threshold-sweep CV (A17), and rank-based best
  * threshold (W1).
  *
  * Differences, documented: the explorer model is any tree
  * `ModelWrapper` (MLlib featureImportances) instead of LightGBM in RF
  * mode, and MLlib exposes ONE importance vector, so gain/split carry
  * the same values (the reference records both lgbm importance types,
  * feature_selection.py:166-168). The target shuffle is seeded for
  * testability where the reference is unseeded (R1 deviation, SURVEY
  * §7.4.7).
  */
object FeatureSelection {

  /** R1: random permutation of one column's values across rows,
    * seeded and partition-safe: both sides get a dense index from
    * `core.PrefixSum.rowIndex` (a range-partitioned sort, no
    * single-partition window, no RDD hop), then re-join on the index. */
  def shuffleColumn(df: DataFrame, c: String, seed: Long): DataFrame =
    permuted(df, c, Seq(lit(seed), lit("rows")), Seq(seed)).head

  /** Repeated permutations of the same column (the A15 null-importance
    * loop): the row side is indexed ONCE with a seed-independent key
    * and reused across every run — the composed permutation
    * rowOrder ∘ valsOrder(seed)⁻¹ is (re-)randomized entirely by the
    * per-seed value side, so each run pays one range shuffle of ONE
    * column instead of two of the whole frame. */
  def shuffleColumnRuns(df: DataFrame, c: String, seeds: Seq[Long]): Seq[DataFrame] =
    permuted(df, c, Seq(lit("rows")), seeds)

  /** One permutation of `c` per seed: the other columns indexed once in
    * the order of their hash salted by `rowSalt`, each seed's values in
    * the order of their seeded hash, joined on the index. */
  private def permuted(df: DataFrame, c: String, rowSalt: Seq[Column],
      seeds: Seq[Long]): Seq[DataFrame] = {
    def index(in: DataFrame, key: Column): DataFrame =
      graft.core.PrefixSum.rowIndex(in, Seq(key), None)._1
    val others = df.drop(c)
    val rest = index(others, xxhash64(rowSalt ++ others.columns.map(col): _*))
    seeds.map { s =>
      val vals = index(df.select(c), xxhash64(lit(s), lit("vals"), col(c)))
      rest.join(vals, Seq("__idx")).drop("__idx")
        .select(df.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** One explorer fit → (feature, importance_gain, importance_split)
    * (feature_selection.py:124-170). `shuffleSeed` Some(s) permutes the
    * target first (null-importance run). */
  def importancesOnce(
      train: DataFrame, features: Seq[String], target: String,
      model: ModelWrapper, seed: Long, shuffleSeed: Option[Long]): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val frame = shuffleSeed.fold(train)(s => shuffleColumn(train, target, s))
    val fitted = model.fit(frame, None, features, target, seed)
    val imps = fitted.featureImportances.getOrElse(
      throw new IllegalArgumentException(s"${model.name} has no feature importances"))
    imps.toDF("feature", "importance_gain")
      .withColumn("importance_split", col("importance_gain"))
  }

  /** The actual-importance fit (run 0) and the A15 null-importance
    * distribution — nbRuns explorer fits on shuffled targets, runs
    * 1..nbRuns (feature_selection.py:124-198) — in ONE concurrent
    * fan-out: every fit is independent, and the per-fit fixed overhead
    * is the measured cost of this family. Permutations come from
    * `shuffleColumnRuns`, so the feature side is indexed once across
    * all runs. */
  def importancesWithNulls(
      train: DataFrame, features: Seq[String], target: String,
      model: ModelWrapper, seed: Long, nbRuns: Int): DataFrame = {
    val frames =
      train +: shuffleColumnRuns(train, target, (1 to nbRuns).map(seed + _))
    graft.core.Par.mapPar(frames.zipWithIndex) { case (frame, i) =>
      importancesOnce(frame, features, target, model, seed, shuffleSeed = None)
        .withColumn("run", lit(i))
    }.reduce(_ unionByName _)
  }

  /** A16 default scoring function: log(1e-10 + act_mean /
    * (1 + percentile75(null))) (feature_selection.py:225-227). */
  def score(actMean: Column, nullP75: Column): Column =
    log(lit(1e-10) + actMean / (lit(1) + nullP75))

  /** A16 alternative: fraction of null importances strictly below the
    * actual mean ("samples away from the null distribution"). */
  def scoreByNullCount(actual: DataFrame, nulls: DataFrame): DataFrame = {
    val act = actual.groupBy("feature").agg(
      avg("importance_gain").as("act_gain"), avg("importance_split").as("act_split"))
    nulls.join(act, Seq("feature"))
      .groupBy("feature")
      .agg(
        round(avg((col("importance_gain") < col("act_gain")).cast("double")), 6).as("gain_score"),
        round(avg((col("importance_split") < col("act_split")).cast("double")), 6).as("split_score"))
      .orderBy("gain_score", "split_score", "feature")
  }

  /** A16: score every feature against its null distribution —
    * one aggregation per side, joined on feature
    * (feature_selection.py:200-233; sorted like its final frame). */
  def scoreFeatures(actual: DataFrame, nulls: DataFrame): DataFrame = {
    val act = actual.groupBy("feature").agg(
      avg("importance_gain").as("act_gain"), avg("importance_split").as("act_split"))
    val nul = nulls.groupBy("feature").agg(
      expr("percentile(importance_gain, 0.75)").as("null_gain_p75"),
      expr("percentile(importance_split, 0.75)").as("null_split_p75"))
    act.join(nul, Seq("feature"))
      .select(col("feature"),
        round(score(col("act_gain"), col("null_gain_p75")), 6).as("gain_score"),
        round(score(col("act_split"), col("null_split_p75")), 6).as("split_score"))
      .orderBy("gain_score", "split_score", "feature")
  }

  /** The reference's auto threshold grid (feature_selection.py:279-285):
    * the integer range from the rounded min to the rounded max gain score in
    * 5 steps; a degenerate spread gives one all-features threshold. */
  def autoThresholds(scores: DataFrame): Seq[Double] = {
    val mm = scores.agg(min("gain_score"), max("gain_score")).head()
    val (lo, hi) = (math.round(mm.getDouble(0)), math.round(mm.getDouble(1)))
    val step = math.max(1L, (hi - lo) / 5)
    val range = (lo until hi by step).map(_.toDouble)
    if (range.nonEmpty) range else Seq(lo.toDouble - 1)
  }

  /** A17: CV score per score-threshold: for each threshold keep
    * features scoring >= t, run k-fold CV, record (threshold,
    * cv_bst_score, cv_std_bst_score, n_features), one row per threshold
    * in input order (feature_selection.py:235-312, with our CV engine in
    * the role of lgbm.cv). Thresholds that keep the same features share
    * one CV: its seeded fits would repeat exactly, and the auto grid
    * often repeats a set (a zero-importance feature scores log(1e-10),
    * stretching the grid across an empty gap). */
  def thresholdSweep(
      train: DataFrame, target: String, idCol: String,
      scores: DataFrame, thresholds: Seq[Double],
      model: ModelWrapper, cvCfg: CvConfig, seed: Long,
      scoreCol: String = "gain_score"): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val scored = scores.select("feature", scoreCol).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val kept = thresholds.map { t =>
      val feats = scored.filter(_._2 >= t).map(_._1).toSeq.sorted
      require(feats.nonEmpty, s"threshold $t leaves no features")
      feats
    }
    // the distinct sets' CVs are independent seeded fits — run them
    // from the bounded driver pool so the fixed multi-job overhead of
    // each fit overlaps (the inner fold loop runs on the nested pool)
    val sets = kept.distinct
    val cv = sets.zip(graft.core.Par.mapPar(sets) { feats =>
      val r = CrossValidation.runCvOneSeed(
        train, None, feats, target, idCol, model, cvCfg, seed)
      (r.cvScore, r.cvStd)
    }).toMap
    thresholds.zip(kept).map { case (t, feats) =>
      val (cvScore, cvStd) = cv(feats)
      (t, cvScore, cvStd, feats.size)
    }.toDF("threshold", "cv_bst_score", "cv_std_bst_score", "n_features")
  }

  /** W1: rank thresholds by (cv score asc-rank) + (cv std desc-rank),
    * best = argmax of the total rank with numpy-argmax first-occurrence
    * tie-break over the threshold-sorted frame
    * (feature_selection.py:314-340). Returns the rank table; the window
    * input is the sweep result — a handful of rows. */
  def rankThresholds(sweep: DataFrame): DataFrame = {
    val byScore = Window.orderBy(col("cv_bst_score").asc)
    val byStd = Window.orderBy(col("cv_std_bst_score").desc)
    sweep
      .withColumn("cv_bst_score_rank", rank().over(byScore).cast("long"))
      .withColumn("cv_std_bst_score_rank", rank().over(byStd).cast("long"))
      .withColumn("total_rank", col("cv_bst_score_rank") + col("cv_std_bst_score_rank"))
      .orderBy("threshold")
  }

  /** Best threshold = first (lowest) threshold achieving the max total
    * rank (np.argmax first-occurrence semantics). */
  def bestThreshold(ranked: DataFrame): Double = {
    val r = ranked.orderBy(col("total_rank").desc, col("threshold").asc)
      .select("threshold").head()
    r.getDouble(0)
  }

  /** End-to-end M10: returns (selected features, scores table, sweep
    * rank table) — feature list ready for the S4 JSON sink. Empty
    * `thresholds` sweeps the `autoThresholds` grid. */
  def selectFeatures(
      train: DataFrame, features: Seq[String], target: String, idCol: String,
      explorer: ModelWrapper, cvModel: ModelWrapper, cvCfg: CvConfig,
      seed: Long, nbRuns: Int, thresholds: Seq[Double] = Nil): (Seq[String], DataFrame, DataFrame) = {
    val imps = importancesWithNulls(train, features, target, explorer, seed, nbRuns)
    Materialize.scoped(scoreFeatures(imps.filter(col("run") === 0),
        imps.filter(col("run") > 0))) { scores =>
      val ts = if (thresholds.nonEmpty) thresholds else autoThresholds(scores)
      val sweep = thresholdSweep(train, target, idCol, scores, ts, cvModel, cvCfg, seed)
      val ranked = rankThresholds(sweep)
      val best = bestThreshold(ranked)
      val feats = scores.filter(col("gain_score") >= best)
        .select("feature").collect().map(_.getString(0)).toSeq.sorted
      (feats, scores, ranked)
    }
  }
}
