package graft.cv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Par}
import graft.ml.{FittedModel, Metrics, ModelWrapper}

/** A12/A13: the CV / out-of-fold prediction engine — the heart of the
  * reference (modeling/prediction.py:288-530 `run_cv_one_seed` /
  * `run_cv_and_prediction`), re-expressed on Spark:
  *
  *  - fold *slicing by position* (`iloc[train_idx]`, prediction.py:355-356)
  *    becomes a `fold` column + `filter` — no positional semantics;
  *  - the OOF scatter-write `oof_preds[valid_idx] = ...`
  *    (prediction.py:369-374) becomes a `unionByName` of per-fold scored
  *    validation frames keyed by a caller-supplied row id;
  *  - test prediction per fold + mean/mode aggregation
  *    (prediction.py:376-383,410-414) becomes a union of per-fold scored
  *    test frames reduced by `groupBy(id)` — mean when predicting
  *    probabilities, majority vote with scipy's smallest-value
  *    tie-break otherwise;
  *  - bagging over seeds (prediction.py:418-530) loops CV per seed and
  *    reduces per-seed OOF/test columns the same way (J1+A8/A10).
  *
  * The folded training frame is a scoped cache (`core.Materialize`)
  * that every (seed x fold) fit of one call reads and the call releases
  * — the reference re-slices pandas frames instead (SURVEY §4
  * physical-execution note). The OOF and bagged frames a call returns
  * are local checkpoints: the caller owns them, and their blocks go
  * with the caller's last reference.
  */
object CrossValidation {

  final case class CvConfig(
      numFolds: Int = 5,
      stratified: Boolean = false,
      dataSplitSeed: Long = 789987,
      predictProbability: Boolean = true,
      classLabel: Int = 1,
      metricName: String = "roc_auc_score",
      targetDecimals: Int = 6,
      metricsDecimals: Int = 6)

  /** Result of one seed's CV run (run_cv_one_seed return tuple,
    * prediction.py:416). `oof` columns: (id, target, fold, oof_score). */
  final case class SeedResult(
      oof: DataFrame,
      testPreds: Option[DataFrame],
      foldScores: Seq[Double],
      cvScore: Double,
      cvStd: Double,
      importances: Option[DataFrame])

  /** Bagged result (run_cv_and_prediction attributes,
    * prediction.py:503-530). `cvResults` rows: (seed, cv_mean_score,
    * cv_std, cv_score_per_each_fold); `oofBagged`/`testBagged` carry
    * one `seed_i` column per seed (the reference's
    * train_OOF_bagged.csv / test_bagged.csv shape,
    * prediction.py:168-184,444-445). */
  final case class BaggedResult(
      oof: DataFrame,
      testPreds: Option[DataFrame],
      oofBagged: DataFrame,
      testBagged: Option[DataFrame],
      cvResults: DataFrame,
      cvScore: Double,
      cvStd: Double,
      importances: Option[DataFrame])

  /** `x` rounded half-up to `d` decimals (the reference's metric
    * rounding). */
  private[graft] def round6(x: Double, d: Int): Double =
    BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Population std (numpy default ddof=0, prediction.py:405). */
  private[graft] def stdPop(xs: Seq[Double]): Double = {
    val m = xs.sum / xs.size
    math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
  }

  private def metric(cfg: CvConfig): (DataFrame, String, String) => Double =
    Metrics.registry.getOrElse(cfg.metricName,
      throw new IllegalArgumentException(s"unknown metric ${cfg.metricName}"))

  /** Per-fold scores and the total score of a pinned OOF frame with a
    * `fold` column in [0, cfg.numFolds), each rounded to
    * cfg.metricsDecimals. One grouped evaluation (`Metrics.byGroup`,
    * one action) scores the folds and the total together: every OOF row
    * counts under its fold and under the extra total group -1. */
  private[graft] def scores(oof: DataFrame, target: String, scoreCol: String,
      cfg: CvConfig): (Seq[Double], Double) = {
    val byGroup = Metrics.byGroup(cfg.metricName)(
      oof.withColumn("__scored", explode(array(col("fold"), lit(-1)))),
      "__scored", target, scoreCol)
    ((0 until cfg.numFolds).map(k => round6(byGroup(k), cfg.metricsDecimals)),
      round6(byGroup(-1), cfg.metricsDecimals))
  }

  /** Runs `body` on `train`'s (id, target, features) projection with a
    * `fold` column, held in a scoped cache: every fit of the body reads
    * the same assignment, and MLlib's random-forest bagging depends on
    * its partitioning. */
  private def withFolds[T](train: DataFrame, features: Seq[String], target: String,
      idCol: String, cfg: CvConfig)(body: DataFrame => T): T =
    Materialize.scoped(Folds.assign(
      train.select((idCol +: target +: features).map(col): _*),
      cfg.numFolds, cfg.dataSplitSeed,
      if (cfg.stratified) Some(target) else None))(body)

  /** One seed's k-fold CV. `train` must carry `idCol` (unique row key),
    * the features, and `target`. `preFolded` lets the bagging loop
    * reuse one fold assignment across seeds — fold membership depends
    * only on dataSplitSeed (prediction.py:329-336), so recomputing the
    * assignment shuffle per model seed is pure waste. */
  def runCvOneSeed(
      train: DataFrame,
      test: Option[DataFrame],
      features: Seq[String],
      target: String,
      idCol: String,
      model: ModelWrapper,
      cfg: CvConfig,
      seedVal: Long,
      preFolded: Option[DataFrame] = None): SeedResult = {
    def run(folded: DataFrame): SeedResult = {
      // Independent per-fold fits run concurrently (graft.core.Par):
      // the blocking MLlib fit dominates and its fixed multi-job
      // overhead overlaps across folds; scored frames are lazy plans.
      val perFold = Par.mapPar(0 until cfg.numFolds) { k =>
        val trainK = folded.filter(col("fold") =!= k)
        val validK = folded.filter(col("fold") === k)
        val fitted: FittedModel =
          model.fit(trainK, Some(validK), features, target, seedVal)

        val oofK = fitted
          .score(validK, cfg.predictProbability, cfg.classLabel)
          .select(col(idCol), col(target), col("fold"),
            col("__score").as("oof_score"))

        val subK = test.map { t =>
          fitted.scoreTest(t, cfg.predictProbability, cfg.classLabel)
            .select(col(idCol), col("__score").as("sub_score"))
        }

        val impsK = fitted.featureImportances.toList.flatMap { imps =>
          imps.map { case (f, v) => (f, v, k + 1) }
        }
        (oofK, subK, impsK)
      }
      val oofParts = perFold.map(_._1)
      val subParts = perFold.flatMap(_._2)
      val impRows = perFold.toList.flatMap(_._3)

      // the k + 1 metrics below read it, and so does the caller
      val oof = Materialize.checkpoint(oofParts.reduce(_ unionByName _))

      val (foldScores, cvScore) = scores(oof, target, "oof_score", cfg)
      val cvStd = round6(stdPop(foldScores), cfg.metricsDecimals)

      // Test reduction over folds: mean of probabilities, else majority
      // vote (ties -> smallest value, scipy.stats.mode; prediction.py:414).
      val sub = test.map { _ =>
        val all = subParts.reduce(_ unionByName _)
        if (cfg.predictProbability)
          all.groupBy(idCol).agg(avg("sub_score").as(target))
        else {
          val counts = all.groupBy(col(idCol), col("sub_score")).count()
          val w = Window.partitionBy(idCol)
            .orderBy(col("count").desc, col("sub_score").asc)
          counts.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .select(col(idCol), col("sub_score").as(target))
        }
      }

      val importances =
        if (impRows.nonEmpty) {
          val spark = train.sparkSession
          import spark.implicits._
          Some(impRows.toDF("feature", "importance", "fold"))
        } else None

      SeedResult(oof, sub, foldScores, cvScore, cvStd, importances)
    }
    preFolded.fold(withFolds(train, features, target, idCol, cfg)(run))(run)
  }

  /** Element-wise mean of an array column per key: posexplode →
    * per-position average → re-assemble in position order. The shape
    * reduction for probability-matrix predictions over folds/seeds. */
  private def elementwiseMean(df: DataFrame, key: String, arr: String, out: String): DataFrame =
    df.select(col(key), posexplode(col(arr)).as(Seq("__pos", "__v")))
      .groupBy(key, "__pos").agg(avg("__v").as("__m"))
      .groupBy(key).agg(
        transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
          x => x.getField("__m")).as(out))

  /** A12 with the class_label=None shape (prediction.py:340-346):
    * out-of-fold *probability matrices* — `oof` carries an
    * `oof_probs: array<double>` column (one probability per class),
    * per-fold and total scores come from a matrix metric
    * (multi_logloss), and the test prediction is the element-wise mean
    * of the per-fold probability vectors. */
  def runCvProbMatrix(
      train: DataFrame,
      test: Option[DataFrame],
      features: Seq[String],
      target: String,
      idCol: String,
      model: ModelWrapper,
      cfg: CvConfig,
      seedVal: Long): SeedResult = {
    require(model.isClassifier, "probability matrix requires a classifier")
    withFolds(train, features, target, idCol, cfg) { folded =>
      val perFold = Par.mapPar(0 until cfg.numFolds) { k =>
        val fitted = model.fit(folded.filter(col("fold") =!= k), None, features, target, seedVal)
        val oofK = fitted.scoreAll(folded.filter(col("fold") === k))
          .select(col(idCol), col(target), col("fold"), col("__probs").as("oof_probs"))
        val subK = test.map { t =>
          fitted.scoreAll(t)
            .select(col(idCol), col("__probs").as("sub_probs"))
        }
        (oofK, subK)
      }
      val oofParts = perFold.map(_._1)
      val subParts = perFold.flatMap(_._2)
      val oof = Materialize.checkpoint(oofParts.reduce(_ unionByName _))
      val (foldScores, cvScore) = scores(oof, target, "oof_probs", cfg)
      val sub = test.map { _ =>
        elementwiseMean(subParts.reduce(_ unionByName _), idCol, "sub_probs", "probs")
      }
      SeedResult(oof, sub, foldScores, cvScore,
        round6(stdPop(foldScores), cfg.metricsDecimals), None)
    }
  }

  /** Bagging over seeds (A13): run CV per seed, bind per-seed OOF/test
    * predictions as `seed_i` columns (J1 — here a groupBy-pivot on the
    * row id, one shuffle instead of n-1 joins), average (A8) or
    * majority-vote (A10) across seeds, and emit the per-seed CV results
    * table (prediction.py:490-493).
    */
  def runCvAndPrediction(
      train: DataFrame,
      test: Option[DataFrame],
      features: Seq[String],
      target: String,
      idCol: String,
      model: ModelWrapper,
      cfg: CvConfig,
      seeds: Seq[Long],
      preSeeded: Map[Long, SeedResult] = Map.empty): BaggedResult = {
    require(seeds.nonEmpty, "need at least one seed")
    val spark = train.sparkSession
    import spark.implicits._

    // Seedless models (hasSeedParam=false, model_wrappers.py:242-258
    // sklearn adapters without random_state) fit identically for every
    // seed — the reference still refits per seed; we run one CV and
    // reuse its result, which is observationally equivalent and k times
    // cheaper for a k-seed bag. A preSeeded entry for ANY seed serves
    // all of them in that case.
    val fresh =
      if (model.hasSeedParam) seeds.filterNot(preSeeded.contains)
      else if (preSeeded.isEmpty) seeds.take(1)
      else Nil
    // One fold assignment serves every fresh seed (membership is a
    // function of dataSplitSeed only); none is built when every needed
    // fit is already supplied via preSeeded — callers that memoize a
    // single-seed run (q31 -> q32) hand it in so the bagged query
    // refits nothing.
    val fitted = if (fresh.isEmpty) preSeeded else preSeeded ++
      withFolds(train, features, target, idCol, cfg) { folded =>
        Par.mapPar(fresh)(s => s -> runCvOneSeed(train, test, features, target,
          idCol, model, cfg, s, preFolded = Some(folded)))
      }
    val perSeed =
      if (model.hasSeedParam) seeds.map(s => s -> fitted(s))
      else seeds.map(_ -> fitted.values.head)

    val cvResults = perSeed.map { case (s, r) =>
      (s, r.cvScore, r.cvStd, r.foldScores)
    }.toDF("seed", "cv_mean_score", "cv_std", "cv_score_per_each_fold")

    val oofCol = s"${target}_OOF"
    val seedNames = seeds.indices.map(i => s"seed_${i + 1}")

    /** J1: per-seed predictions as `seed_i` columns — a groupBy-pivot
      * on the row id (one shuffle instead of n-1 joins). */
    def bagSeeds(frames: Seq[(Long, DataFrame)], scoreCol: String): DataFrame = {
      val tagged = frames.map { case (s, df) =>
        df.select(col(idCol), col(scoreCol).as("__v"), lit(s"seed_${seeds.indexOf(s) + 1}").as("__seed"))
      }.reduce(_ unionByName _)
      val seedVal = round(first(col("__v")), cfg.targetDecimals)
      tagged.groupBy(idCol)
        .pivot("__seed", seedNames)
        .agg(if (cfg.targetDecimals == 0) seedVal.cast("long") else seedVal)
    }

    /** A8/A10: mean (probabilities) or smallest-value-tie-break mode
      * (labels) across the seed columns. */
    def reduceSeedCols(bagged: DataFrame, outCol: String): DataFrame = {
      val seedCols = seedNames.map(col(_).cast("double"))
      val reduced =
        if (cfg.predictProbability || !model.isClassifier)
          seedCols.reduce(_ + _) / lit(seeds.size)
        else {
          val arr = array(seedCols: _*)
          aggregate(
            array_distinct(arr),
            struct(lit(-1).cast("int").as("cnt"), lit(Double.MaxValue).as("v")),
            (acc, x) => {
              val cnt = size(filter(arr, y => y === x)).cast("int")
              when(cnt > acc.getField("cnt") ||
                   (cnt === acc.getField("cnt") && x < acc.getField("v")),
                struct(cnt.as("cnt"), x.cast("double").as("v")))
                .otherwise(acc)
            },
            acc => acc.getField("v"))
        }
      val roundedV = round(reduced, cfg.targetDecimals)
      val finalV = if (cfg.targetDecimals == 0) roundedV.cast("long") else roundedV
      bagged.select(col(idCol), finalV.as(outCol))
    }

    // lazy checkpoints, owned by the caller: the metric below is the
    // first reader of oofBag (and of oofBagged under it), the caller's
    // writes read the pinned blocks
    val targetSide = perSeed.head._2.oof.select(col(idCol), col(target))
    val oofBagged = bagSeeds(perSeed.map { case (s, r) => s -> r.oof }, "oof_score")
      .join(targetSide, Seq(idCol)).localCheckpoint(false)
    val oofBag = reduceSeedCols(oofBagged, oofCol)
      .join(targetSide, Seq(idCol)).localCheckpoint(false)

    val subBagged = test.map { _ =>
      bagSeeds(perSeed.map { case (s, r) => s -> r.testPreds.get }, target)
        .localCheckpoint(false)
    }
    val subBag = subBagged.map(b => reduceSeedCols(b, target))

    val m = metric(cfg)
    val cvScore = round6(m(oofBag, target, oofCol), cfg.metricsDecimals)
    val cvStd = round6(stdPop(perSeed.map(_._2.cvScore)), cfg.metricsDecimals)

    val importances = {
      val imps = perSeed.flatMap { case (s, r) =>
        r.importances.map(_.withColumn("seed", lit(s)))
      }
      if (imps.nonEmpty) Some(imps.reduce(_ unionByName _)) else None
    }
    BaggedResult(oofBag, subBag, oofBagged, subBagged, cvResults, cvScore, cvStd, importances)
  }
}
