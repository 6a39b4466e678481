package graft.ensemble

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize
import graft.cv.CrossValidation
import graft.cv.CrossValidation.{BaggedResult, CvConfig}
import graft.ml.{Metrics, ModelWrapper}

/** J2/M9/M8: ensembling — OOF loading + validation, stacking, and
  * weighted-vote blending (ensembling/{ensembler.py, stacking/
  * stacker.py, blending/blender.py}).
  *
  * The reference column-binds per-model OOF frames positionally
  * (pandas concat axis=1 with assert_series_equal checks,
  * ensembler.py:32-58); on Spark the bind is an equi join on the row
  * id, and the asserts become distributed except-is-empty /
  * count-equality validations.
  */
object Ensemble {

  /** J2: join per-model OOF prediction frames on the row id.
    * Each input: (modelId, frame with idCol + prediction columns
    * [+ target]). Prediction columns are prefixed `<modelId>_`
    * (ensembler.py:85-91); the target is taken from `base` (the frame
    * holding id + target), with consistency validated against every
    * model frame that carries it (ensembler.py:32-39).
    *
    * Scale design: the reference's per-model length/series asserts are
    * fused into the join itself — one full-outer join chain carrying a
    * presence marker (and the model's own target) per side, then a
    * SINGLE aggregate checks row alignment, id uniqueness, and target
    * equality for every model at once. No serial `count()`/`except()`
    * actions, no extra shuffles beyond the joins the output needs
    * anyway. `validate = false` skips the checks entirely (plain inner
    * joins) for trusted inputs at scale.
    */
  def joinOof(
      base: DataFrame, idCol: String, target: String,
      models: Seq[(String, DataFrame)], targetDecimals: Int = 6,
      validate: Boolean = true): DataFrame = {
    def preds(modelId: String, df: DataFrame): Seq[org.apache.spark.sql.Column] =
      df.columns.filterNot(c => c == idCol || c == target).toSeq
        .map(c => round(col(c), targetDecimals).as(s"${modelId}_$c"))
    val baseSel = base.select(col(idCol), col(target))
    if (!validate) {
      models.foldLeft(baseSel) { case (acc, (modelId, df)) =>
        acc.join(df.select((col(idCol) +: preds(modelId, df)): _*), Seq(idCol))
      }
    } else {
      val joined = models.foldLeft(baseSel.withColumn("__base_hit", lit(1))) {
        case (acc, (modelId, df)) =>
          val aux = lit(1).as(s"__hit_$modelId") +:
            (if (df.columns.contains(target))
              Seq(col(target).as(s"__tgt_$modelId"))
            else Nil)
          acc.join(
            df.select((col(idCol) +: (preds(modelId, df) ++ aux)): _*),
            Seq(idCol), "full_outer")
      }
      val checks =
        Seq(count(lit(1)).as("__rows"),
          count_distinct(col(idCol)).as("__ids"),
          sum(when(col("__base_hit").isNull, 1).otherwise(0)).as("__extra")) ++
        models.flatMap { case (modelId, df) =>
          sum(when(col(s"__hit_$modelId").isNull, 1).otherwise(0))
            .as(s"__miss_$modelId") +:
          (if (df.columns.contains(target))
            Seq(sum(when(!(col(target) <=> col(s"__tgt_$modelId")), 1)
              .otherwise(0)).as(s"__bad_$modelId"))
          else Nil)
        }
      val r = joined.agg(checks.head, checks.tail: _*).head()
      require(r.getAs[Long]("__rows") == r.getAs[Long]("__ids"),
        s"duplicate $idCol values across OOF frames (ensembler.py:32)")
      require(r.getAs[Long]("__extra") == 0L,
        s"${r.getAs[Long]("__extra")} OOF rows missing from base (ensembler.py:33)")
      models.foreach { case (modelId, df) =>
        require(r.getAs[Long](s"__miss_$modelId") == 0L,
          s"$modelId OOF misses ${r.getAs[Long](s"__miss_$modelId")} base rows (ensembler.py:33)")
        if (df.columns.contains(target))
          require(r.getAs[Long](s"__bad_$modelId") == 0L,
            s"$modelId target series differs from base on ${r.getAs[Long](s"__bad_$modelId")} rows (ensembler.py:36-37)")
      }
      // drop exactly the aux columns added above — user columns may
      // legitimately start with "__" (e.g. the pipeline's __row_id)
      joined.drop("__base_hit" +: models.flatMap { case (m, _) =>
        Seq(s"__hit_$m", s"__tgt_$m") }: _*)
    }
  }

  /** M9: stacker — the OOF matrix becomes the feature table of a
    * meta-model run through the same CV engine (stacker.py:13-33).
    * `_OOF`-suffixed feature names are stripped first so train/test
    * notations match (prediction.py:301-309). */
  def stack(
      trainOof: DataFrame, testOof: Option[DataFrame],
      target: String, idCol: String,
      metaModel: ModelWrapper, cfg: CvConfig, seeds: Seq[Long]): BaggedResult = {
    def stripOof(df: DataFrame): DataFrame =
      df.columns.foldLeft(df) { (acc, c) =>
        if (c.endsWith("_OOF")) acc.withColumnRenamed(c, c.stripSuffix("_OOF")) else acc
      }
    val train = stripOof(trainOof)
    val features = train.columns.filterNot(c => c == idCol || c == target).toSeq.sorted
    CrossValidation.runCvAndPrediction(
      train, testOof.map(stripOof), features, target, idCol, metaModel, cfg, seeds)
  }

  /** Result of a blender weight search. `history` rows:
    * (iteration, score, one weight column per model). */
  final case class BlendResult(
      weights: Map[String, Double], score: Double, history: DataFrame)

  /** Per-fold blender result (blender.py:338-398 attributes): blended
    * OOF frame, per-fold CV scores, overall score/std, and the
    * per-fold optimal-weights history. */
  final case class BlendCvResult(
      oof: DataFrame, foldScores: Seq[Double], cvScore: Double, cvStd: Double,
      foldWeights: Seq[(Int, Map[String, Double])])

  /** M8 full semantics: the reference's per-CV-fold weight search —
    * for each fold, optimize weights on the *other* folds' OOF rows,
    * vote on this fold with those weights, union the per-fold blended
    * predictions into a blender-OOF vector, and score it
    * (blender.py:338-398; per-fold weights come from the same
    * GP-surrogate search as `blend`). */
  def blendCv(
      oofMatrix: DataFrame, predCols: Seq[String], target: String, idCol: String,
      metricName: String, numFolds: Int, dataSplitSeed: Long, blenderSeed: Long,
      nIter: Int, stratified: Boolean = false, hardVote: Boolean = false,
      metricsDecimals: Int = 6): BlendCvResult = {
    import org.apache.spark.sql.functions.col
    val folds = graft.cv.Folds.assign(oofMatrix, numFolds, dataSplitSeed,
      if (stratified) Some(target) else None)
    val (oof, foldWeights) = Materialize.scoped(folds) { folded =>
      val perFold = (0 until numFolds).map { k =>
        val r = blend(folded.filter(col("fold") =!= k), predCols, target, metricName,
          nIter, blenderSeed, hardVote, metricsDecimals)
        val w = predCols.map(r.weights)
        val voted = folded.filter(col("fold") === k).withColumn("__blend",
          if (hardVote) graft.ops.RowOps.weightedVote(predCols.map(col), w).cast("double")
          else graft.ops.RowOps.weightedMean(predCols.map(col), w))
        (voted.select(col(idCol), col(target), col("fold"), col("__blend")),
          (k + 1) -> r.weights)
      }
      // it escapes in the result, and the scores below read it
      (Materialize.checkpoint(perFold.map(_._1).reduce(_ unionByName _)), perFold.map(_._2))
    }
    val cfg = CvConfig(numFolds = numFolds, metricName = metricName,
      metricsDecimals = metricsDecimals)
    val (foldScores, cvScore) = CrossValidation.scores(oof, target, "__blend", cfg)
    BlendCvResult(oof, foldScores, cvScore,
      CrossValidation.round6(CrossValidation.stdPop(foldScores), metricsDecimals), foldWeights)
  }

  /** M8: weighted-vote blender — GP-surrogate Bayesian search over the
    * [0,1]^k weight box maximizing the metric of the weighted vote on
    * the OOF frame, the same surrogate family as the reference's
    * per-weight bayes_opt search (blender.py:119-398); trial 0 is always the
    * uniform-weight baseline so the blend can never select worse than
    * equal weighting. Voting type mirrors `_detect_voting_type`
    * (blender.py:202-227): soft (weighted mean) when predictions are
    * fractional, hard (weighted argmax vote) when all are integer
    * labels.
    */
  def blend(
      oof: DataFrame, predCols: Seq[String], target: String,
      metricName: String, nIter: Int, seed: Long,
      hardVote: Boolean = false, metricsDecimals: Int = 6): BlendResult = {
    val spark = oof.sparkSession
    import spark.implicits._
    require(predCols.nonEmpty, "need prediction columns to blend")
    val metric = Metrics.registry(metricName)
    val better: (Double, Double) => Boolean =
      if (Metrics.greaterIsBetter(metricName)) _ > _ else _ < _
    val maximize = Metrics.greaterIsBetter(metricName)

    def normalize(raw: Seq[Double]): Seq[Double] = {
      val s = raw.sum
      val safe = if (s <= 0) raw.map(_ => 1.0 / raw.size) else raw.map(_ / s)
      safe.map(CrossValidation.round6(_, 3))
    }
    val trials = Materialize.scoped(oof) { cached =>
      // the score is a pure function of the normalized, rounded weights,
      // and trials repeat them (with one input, every trial is [1.0]):
      // one metric action per distinct vector
      val scored = scala.collection.mutable.Map.empty[Seq[Double], Double]
      def scoreOf(w: Seq[Double]): Double = scored.getOrElseUpdate(w, {
        val voted =
          if (hardVote)
            cached.withColumn("__blend",
              graft.ops.RowOps.weightedVote(predCols.map(col), w).cast("double"))
          else
            cached.withColumn("__blend", graft.ops.RowOps.weightedMean(predCols.map(col), w))
        CrossValidation.round6(metric(voted, target, "__blend"), metricsDecimals)
      })

      val uniform = normalize(predCols.map(_ => 1.0))
      val baseline = (0, scoreOf(uniform), uniform)
      val guidedBudget = nIter - 1
      val guidedTrials =
        if (guidedBudget <= 0) Seq.empty
        else {
          val space = graft.hpo.RandomSearch.Space(
            predCols.map(c => c -> (0.0, 1.0)).toMap, Set.empty)
          val init = math.max(1, guidedBudget / 2)
          // GP surrogate, like the reference's bayes_opt weight search
          // (blender.py:119-398)
          graft.hpo.Gp.optimizeFn(space,
              p => (scoreOf(normalize(predCols.map(p))), 0.0),
              seed, init, guidedBudget - init, maximize)
            .map { case (it, sc, _, p) => (it, sc, normalize(predCols.map(p))) }
        }
      baseline +: guidedTrials
    }

    val best = trials.reduce((a, b) => if (better(b._2, a._2)) b else a)
    val historyCols = col("iteration") +: col("score") +:
      predCols.zipWithIndex.map { case (c, i) =>
        element_at(col("weights"), i + 1).as(s"w_$c")
      }
    val history = trials.map { case (it, sc, w) => (it, sc, w) }
      .toDF("iteration", "score", "weights")
      .select(historyCols: _*)
    BlendResult(predCols.zip(best._3).toMap, best._2, history)
  }
}
