package graft.ml

import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M1-M4: model wrapper protocol over Spark MLlib — the Spark-first
  * re-expression of the reference's estimator adapters
  * (modeling/model_wrappers.py:7-57 protocol; LightGBM/XGBoost/sklearn
  * concrete wrappers at model_wrappers.py:60-323; string factory at
  * model_wrappers.py:389-406).
  *
  * Design notes (SURVEY §7.4.3-4):
  *  - LightGBM/XGBoost have no JVM analogue here; gradient-boosted trees
  *    (`GBTClassifier`/`GBTRegressor`) carry their role for binary
  *    classification/regression, `RandomForestClassifier` for
  *    multiclass (MLlib GBT is binary-only). Scores differ numerically
  *    from the reference — tests assert metric thresholds, not equality.
  *  - No native early stopping: `fit` receives the validation fold so
  *    GBT wrappers *can* use `validationIndicatorCol`; others ignore it.
  *  - The assembled feature vector column is built once per fit;
  *    importances map back to feature names by assembly order.
  */
trait ModelWrapper {
  def name: String
  /** Mirrors model_wrappers.py `has_seed_param`. */
  def hasSeedParam: Boolean = true
  /** True if the model emits class probabilities. */
  def isClassifier: Boolean
  def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
      labelCol: String, seed: Long): FittedModel
}

trait FittedModel {
  /** Adds a `__score` double column: probability of `classLabel` (or of
    * class 1) when predictProbability, else the predicted label —
    * mirroring run_prediction(predict_probability, class_label)
    * (model_wrappers.py:23-37). */
  def score(df: DataFrame, predictProbability: Boolean, classLabel: Int = 1): DataFrame
  /** class_label=None path (prediction.py:340-346): adds a `__probs`
    * array<double> column with the full per-class probability vector.
    * Classifiers only. */
  def scoreAll(df: DataFrame): DataFrame =
    throw new UnsupportedOperationException("probability matrix requires a classifier")
  /** feature -> importance, None for models without importances (e.g.
    * logistic regression — prediction.py:393-396 sets None). */
  def featureImportances: Option[Seq[(String, Double)]]
  /** Test-side scoring, defaulting to `score`. The reference predicts
    * test with `round(best_iter_in_fold * 1.1)` boosting rounds —
    * 10% past the validation optimum (prediction.py:376-383); GBT
    * wrappers with `testIterBoost` set reproduce that via a refit with
    * the extended round count (MLlib has no predict-with-first-n-trees
    * API, so the extension is a refit — a documented approximation). */
  def scoreTest(df: DataFrame, predictProbability: Boolean, classLabel: Int = 1): DataFrame =
    score(df, predictProbability, classLabel)
}

object Models {

  private[ml] def assemble(df: DataFrame, features: Seq[String]): DataFrame =
    new VectorAssembler().setInputCols(features.toArray).setOutputCol("__features")
      .setHandleInvalid("keep").transform(df)

  /** Shared scoring: classifiers expose `probability` vector + `prediction`. */
  private class FittedClassifier(
      model: org.apache.spark.ml.Model[_] with org.apache.spark.ml.param.Params,
      features: Seq[String],
      imps: Option[Seq[Double]]) extends FittedModel {
    def score(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame = {
      val scored = model.asInstanceOf[org.apache.spark.ml.Transformer]
        .transform(assemble(df, features))
      val s =
        if (predictProbability)
          vector_to_array(col("probability")).getItem(classLabel)
        else col("prediction")
      scored.withColumn("__score", s.cast("double"))
        .drop("__features", "rawPrediction", "probability", "prediction")
    }
    override def scoreAll(df: DataFrame): DataFrame =
      model.asInstanceOf[org.apache.spark.ml.Transformer]
        .transform(assemble(df, features))
        .withColumn("__probs", vector_to_array(col("probability")))
        .drop("__features", "rawPrediction", "probability", "prediction")
    def featureImportances: Option[Seq[(String, Double)]] =
      imps.map(v => features.zip(v))
  }

  private class FittedRegressor(
      model: org.apache.spark.ml.Model[_],
      features: Seq[String],
      imps: Option[Seq[Double]]) extends FittedModel {
    def score(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame = {
      require(!predictProbability, s"regressor cannot predict probabilities")
      model.asInstanceOf[org.apache.spark.ml.Transformer]
        .transform(assemble(df, features))
        .withColumn("__score", col("prediction").cast("double"))
        .drop("__features", "prediction")
    }
    def featureImportances: Option[Seq[(String, Double)]] =
      imps.map(v => features.zip(v))
  }

  /** M4 analogue of sklearn LogisticRegression (model_wrappers.py:242-323). */
  final case class LogReg(maxIter: Int = 100, regParam: Double = 0.0,
      elasticNetParam: Double = 0.0) extends ModelWrapper {
    val name = "logistic_regression"
    override def hasSeedParam: Boolean = false
    val isClassifier = true
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new LogisticRegression().setMaxIter(maxIter).setRegParam(regParam)
        .setElasticNetParam(elasticNetParam)
        .setFeaturesCol("__features").setLabelCol(labelCol)
      new FittedClassifier(est.fit(assemble(train, features)), features, None)
    }
  }

  /** M4 analogue of sklearn ExtraTreesClassifier (model_wrappers.py:242-258)
    * and the multiclass stand-in for LightGBM (SURVEY §7.4.4). */
  final case class RfClassifier(numTrees: Int = 100, maxDepth: Int = 5,
      subsamplingRate: Double = 1.0) extends ModelWrapper {
    val name = "random_forest_classifier"
    val isClassifier = true
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new RandomForestClassifier().setNumTrees(numTrees).setMaxDepth(maxDepth)
        .setSubsamplingRate(subsamplingRate).setSeed(seed)
        .setFeaturesCol("__features").setLabelCol(labelCol)
      val m = est.fit(assemble(train, features))
      new FittedClassifier(m, features, Some(m.featureImportances.toArray.toSeq))
    }
  }

  /** M2/M3 analogue of LightGBM/XGBoost binary classifiers
    * (model_wrappers.py:60-239): gradient-boosted trees with optional
    * validation-based stop (validationTol stands in for
    * early_stopping_rounds — an approximation, documented). */
  final case class GbtBinaryClassifier(maxIter: Int = 50, maxDepth: Int = 5,
      stepSize: Double = 0.1, validationTol: Option[Double] = None,
      testIterBoost: Option[Double] = None) extends ModelWrapper {
    val name = "gbt_classifier"
    val isClassifier = true
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new GBTClassifier().setMaxIter(maxIter).setMaxDepth(maxDepth)
        .setStepSize(stepSize).setSeed(seed)
        .setFeaturesCol("__features").setLabelCol(labelCol)
      val fitted = (valid, validationTol) match {
        case (Some(v), Some(tol)) =>
          est.setValidationIndicatorCol("__is_valid")
          est.set(est.validationTol, tol)
          val all = train.withColumn("__is_valid", lit(false))
            .unionByName(v.withColumn("__is_valid", lit(true)))
          est.fit(assemble(all, features))
        case _ => est.fit(assemble(train, features))
      }
      val base = new FittedClassifier(fitted, features,
        Some(fitted.featureImportances.toArray.toSeq))
      testIterBoost match {
        case None => base
        case Some(boost) =>
          // best-iteration x boost analogue (prediction.py:376-383):
          // the validation stop fixed the round count; the test-side
          // model refits on train alone with that count extended.
          val rounds = math.max(1, math.round(fitted.trees.length * boost).toInt)
          val est2 = new GBTClassifier().setMaxIter(rounds).setMaxDepth(maxDepth)
            .setStepSize(stepSize).setSeed(seed)
            .setFeaturesCol("__features").setLabelCol(labelCol)
          val boosted = new FittedClassifier(
            est2.fit(assemble(train, features)), features, None)
          new FittedModel {
            def score(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame =
              base.score(df, predictProbability, classLabel)
            override def scoreAll(df: DataFrame): DataFrame = base.scoreAll(df)
            override def scoreTest(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame =
              boosted.score(df, predictProbability, classLabel)
            def featureImportances: Option[Seq[(String, Double)]] =
              base.featureImportances
          }
      }
    }
  }

  /** M2/M3 multiclass analogue: one-vs-rest gradient-boosted trees —
    * closes the reference's multiclass objective (solution.conf:393,
    * LightGBM `num_class`) with the boosted-tree family itself instead
    * of the RandomForest stand-in (MLlib GBT is binary-only). K binary
    * GBTs fit on class-k-vs-rest indicators over ONE cached assembled
    * frame; scoring chains the K transforms in a single plan, normalizes
    * the per-class positive probabilities to a distribution, and takes
    * argmax (first-max on ties, numpy argmax convention). Importances
    * are the mean of the K binary models'. Labels must be 0-based class
    * indices (the labels_mapper contract, generic_tools/utils.py). */
  final case class OvrGbtClassifier(maxIter: Int = 50, maxDepth: Int = 5,
      stepSize: Double = 0.1, numClasses: Int = 0) extends ModelWrapper {
    val name = "ovr_gbt_classifier"
    val isClassifier = true
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val models = graft.core.Materialize.scoped(assemble(train, features)) { assembled =>
        // numClasses comes from the caller (Solution computes it over the
        // FULL frame) so a CV fold whose train split lacks the top class
        // can't silently train fewer one-vs-rest models; 0 = infer from
        // train.
        val seen = assembled.select(col(labelCol).cast("int")).distinct()
          .collect().map(_.getInt(0)).toSet
        require(seen.nonEmpty, "ovr_gbt got an empty train split")
        val nClasses = if (numClasses > 0) numClasses else seen.max + 1
        require(nClasses >= 2, s"ovr_gbt needs >=2 classes, got $nClasses")
        val outOfRange = seen.filter(k => k < 0 || k >= nClasses).toSeq.sorted
        require(outOfRange.isEmpty,
          s"ovr_gbt labels ${outOfRange.mkString(",")} are outside [0, $nClasses) " +
            "— check the labels_mapper / numClasses contract")
        // A fold whose train split lacks a class gets a constant-negative
        // stand-in for that class (probability 0 before normalization):
        // LightGBM trains regardless in this case (num_class objective),
        // so a non-stratified CV with a rare class must not abort here.
        val missing = (0 until nClasses).filterNot(seen)
        if (missing.nonEmpty)
          System.err.println(s"[ovr_gbt] train split is missing class(es) " +
            s"${missing.mkString(",")} of 0 until $nClasses; fitting " +
            "constant-negative stand-ins (reference parity: lightgbm trains regardless)")
        // Independent one-vs-rest fits run concurrently (graft.core.Par);
        // each is seeded `seed + k`, so output order and content are
        // identical to the sequential loop.
        graft.core.Par.mapPar(0 until nClasses) { k =>
          if (missing.contains(k)) None
          else {
            val est = new GBTClassifier().setMaxIter(maxIter).setMaxDepth(maxDepth)
              .setStepSize(stepSize).setSeed(seed + k)
              .setFeaturesCol("__features").setLabelCol("__ovr")
            val m = est.fit(assembled.withColumn("__ovr", (col(labelCol) === k).cast("double")))
            // per-class output column names so the K transforms can chain
            m.set(m.predictionCol, s"__pr_$k")
            m.set(m.rawPredictionCol, s"__raw_$k")
            m.set(m.probabilityCol, s"__pb_$k")
            Some(m)
          }
        }
      }
      val fitted = models.flatten
      val imps = features.indices
        .map(i => fitted.map(_.featureImportances.toArray(i)).sum / fitted.size)
      new FittedModel {
        private def withProbs(df: DataFrame): DataFrame = {
          val scored = fitted.foldLeft(assemble(df, features))(
            (acc, m) => m.transform(acc))
          val ps = models.zipWithIndex.map {
            case (Some(_), k) => vector_to_array(col(s"__pb_$k")).getItem(1)
            case (None, _)    => lit(0.0)
          }
          val total = ps.reduce(_ + _)
          scored
            .withColumn("__probs", array(ps.map(_ / total): _*))
            .drop("__features")
            .drop(fitted.flatMap(m =>
              Seq(m.getPredictionCol, m.getRawPredictionCol, m.getProbabilityCol)): _*)
        }
        def score(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame = {
          val s =
            if (predictProbability) element_at(col("__probs"), classLabel + 1)
            else array_position(col("__probs"), array_max(col("__probs"))) - 1
          withProbs(df).withColumn("__score", s.cast("double")).drop("__probs")
        }
        override def scoreAll(df: DataFrame): DataFrame = withProbs(df)
        def featureImportances: Option[Seq[(String, Double)]] =
          Some(features.zip(imps))
      }
    }
  }

  /** M4 analogue of sklearn LinearRegression. */
  final case class LinReg(regParam: Double = 0.0) extends ModelWrapper {
    val name = "linear_regression"
    override def hasSeedParam: Boolean = false
    val isClassifier = false
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new LinearRegression().setRegParam(regParam)
        .setFeaturesCol("__features").setLabelCol(labelCol)
      new FittedRegressor(est.fit(assemble(train, features)), features, None)
    }
  }

  /** Regression counterparts of the boosted/forest wrappers. */
  final case class GbtRegressorW(maxIter: Int = 50, maxDepth: Int = 5,
      stepSize: Double = 0.1) extends ModelWrapper {
    val name = "gbt_regressor"
    val isClassifier = false
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new GBTRegressor().setMaxIter(maxIter).setMaxDepth(maxDepth)
        .setStepSize(stepSize).setSeed(seed)
        .setFeaturesCol("__features").setLabelCol(labelCol)
      val m = est.fit(assemble(train, features))
      new FittedRegressor(m, features, Some(m.featureImportances.toArray.toSeq))
    }
  }

  final case class RfRegressor(numTrees: Int = 100, maxDepth: Int = 5) extends ModelWrapper {
    val name = "random_forest_regressor"
    val isClassifier = false
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val est = new RandomForestRegressor().setNumTrees(numTrees).setMaxDepth(maxDepth)
        .setSeed(seed).setFeaturesCol("__features").setLabelCol(labelCol)
      val m = est.fit(assemble(train, features))
      new FittedRegressor(m, features, Some(m.featureImportances.toArray.toSeq))
    }
  }

  /** sklearn DummyRegressor(strategy='mean') analogue: predicts the
    * training-set target mean. Closed-form and SQL-recomputable, which
    * makes the whole CV/OOF machinery oracle-checkable end-to-end
    * (every OOF value = mean of the other folds' targets). */
  final case class DummyMean() extends ModelWrapper {
    val name = "dummy_mean"
    override def hasSeedParam: Boolean = false
    val isClassifier = false
    def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
        labelCol: String, seed: Long): FittedModel = {
      val mean = train.agg(avg(col(labelCol))).head().getDouble(0)
      new FittedModel {
        def score(df: DataFrame, predictProbability: Boolean, classLabel: Int): DataFrame = {
          require(!predictProbability, "dummy_mean is a regressor")
          df.withColumn("__score", lit(mean))
        }
        def featureImportances: Option[Seq[(String, Double)]] = None
      }
    }
  }

  /** String factory mirroring model_wrappers.py:389-406 — reference
    * names map to their MLlib stand-ins. */
  def byName(name: String): ModelWrapper = name match {
    case "lightgbm" | "xgboost" | "gbt" => GbtBinaryClassifier()
    case "ovr_gbt" | "multiclass_gbt" => OvrGbtClassifier()
    case "et" | "random_forest" => RfClassifier()
    case "lr" | "logistic_regression" => LogReg()
    case "linreg" | "linear_regression" => LinReg()
    case "gbt_regressor" => GbtRegressorW()
    case "random_forest_regressor" => RfRegressor()
    case other => throw new IllegalArgumentException(
      s"unknown model '$other'; known: lightgbm,xgboost,gbt,ovr_gbt,multiclass_gbt,et,random_forest,lr,linreg,gbt_regressor,random_forest_regressor")
  }
}
