package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.ml.{Metrics, Models, ModelWrapper}

/** A12/A13 invariants on sf0.001 (prediction.py:288-530 semantics):
  * OOF covers every train row exactly once, fold metrics are finite,
  * determinism for a fixed seed, bagging produces the per-seed results
  * table and a better-than-chance combined score.
  */
class CrossValidationSpec extends SparkSpec {

  private lazy val frame = core.Tables.orders(spark, sf).select(
    col("o_orderkey").as("row_id"),
    (col("o_orderstatus") === "O").cast("int").as("target"),
    col("o_totalprice"), col("o_custkey").cast("double").as("o_custkey"),
    unix_timestamp(col("o_orderdate")).cast("double").as("o_epoch"))
  private val feats = Seq("o_totalprice", "o_custkey", "o_epoch")
  private val cfg = CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score")

  test("one-seed CV: OOF partition/coverage, metrics finite, deterministic") {
    val r = CrossValidation.runCvOneSeed(
      frame, None, feats, "target", "row_id", Models.LogReg(maxIter = 20), cfg, 27L)
    val n = frame.count()
    assert(r.oof.count() == n, "every row scored out-of-fold exactly once")
    assert(r.oof.select("row_id").distinct().count() == n, "no duplicate ids")
    assert(r.foldScores.size == 3 && r.foldScores.forall(s => s > 0 && s < 1))
    assert(r.cvScore > 0.45, s"roc_auc not degenerate: ${r.cvScore}")
    assert(r.cvStd >= 0)
    assert(r.importances.isEmpty, "logreg has no importances (prediction.py:393-396)")

    val r2 = CrossValidation.runCvOneSeed(
      frame, None, feats, "target", "row_id", Models.LogReg(maxIter = 20), cfg, 27L)
    assert(r.cvScore == r2.cvScore && r.foldScores == r2.foldScores, "deterministic")
  }

  test("test-set prediction: probability mean over folds") {
    val Array(tr, te) = frame.randomSplit(Array(0.8, 0.2), seed = 1)
    val r = CrossValidation.runCvOneSeed(
      tr, Some(te), feats, "target", "row_id", Models.LogReg(maxIter = 20), cfg, 27L)
    val sub = r.testPreds.get
    assert(sub.count() == te.count())
    val mm = sub.agg(min("target"), max("target")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0, "probabilities in [0,1]")
  }

  test("bagging over seeds: results table + combined OOF") {
    val r = CrossValidation.runCvAndPrediction(
      frame, None, feats, "target", "row_id", Models.LogReg(maxIter = 20), cfg,
      seeds = Seq(27L, 42L))
    assert(r.cvResults.count() == 2)
    assert(r.cvResults.columns.toSet ==
      Set("seed", "cv_mean_score", "cv_std", "cv_score_per_each_fold"))
    assert(r.oof.count() == frame.count())
    assert(r.oof.columns.contains("target_OOF"))
    assert(r.cvScore > 0.45)
  }

  test("tree model importances: one row per (feature, fold, seed)") {
    val r = CrossValidation.runCvOneSeed(
      frame, None, feats, "target", "row_id",
      Models.RfClassifier(numTrees = 5, maxDepth = 3), cfg, 27L)
    val imp = r.importances.get
    assert(imp.count() == feats.size * 3L)
    assert(imp.columns.toSet == Set("feature", "importance", "fold"))
  }

  test("ovr_gbt: multiclass CV with normalized probabilities and argmax labels") {
    // 3-class target from orderstatus -- boosted-tree multiclass via
    // one-vs-rest (the reference's LightGBM num_class objective).
    val mc = core.Tables.orders(spark, sf).select(
      col("o_orderkey").as("row_id"),
      when(col("o_orderstatus") === "O", 0)
        .when(col("o_orderstatus") === "F", 1).otherwise(2).as("target"),
      col("o_totalprice"), col("o_custkey").cast("double").as("o_custkey"))
    val model = Models.OvrGbtClassifier(maxIter = 5, maxDepth = 3)
    val fitted = model.fit(mc, None, Seq("o_totalprice", "o_custkey"), "target", 27L)
    val probs = fitted.scoreAll(mc)
    val badSum = probs.select(abs(aggregate(col("__probs"), lit(0.0), _ + _) - 1.0).as("d"))
      .filter(col("d") > 1e-9).count()
    assert(badSum == 0, "per-class probabilities normalize to 1")
    val labels = fitted.score(mc, predictProbability = false)
    val range = labels.agg(min("__score"), max("__score")).head()
    assert(range.getDouble(0) >= 0.0 && range.getDouble(1) <= 2.0, "argmax label in class range")
    val acc = Metrics.accuracy(labels.withColumn("__score", col("__score").cast("int")),
      "target", "__score")
    assert(acc > 0.4, s"ovr_gbt multiclass accuracy degenerate: $acc")
    assert(fitted.featureImportances.get.size == 2, "mean importances per feature")
  }

  test("grouped metrics equal per-group filtered evaluation") {
    // deterministic pseudo-predictions with ties (97 distinct scores)
    // over 3 groups — exercises the grouped rank prefix sum against the
    // single-group plan, and the scalar byGroup forms against filters
    // (multi_logloss reads the two-class probability vector `probs`)
    val preds = core.Tables.orders(spark, sf).select(
      (col("o_orderkey") % 3).cast("int").as("fold"),
      (((col("o_orderkey") * 2654435761L) % 97) / lit(96.0)).as("prob"),
      ((col("o_orderkey") + col("o_custkey")) % 3 === 0).cast("int").as("label"))
      .withColumn("probs", array(lit(1.0) - col("prob"), col("prob")))
    val byFold = Metrics.rocAucByGroup(preds, "fold", "label", "prob")
    (0 until 3).foreach { f =>
      val single = Metrics.rocAuc(preds.filter(col("fold") === f), "label", "prob")
      assert(math.abs(byFold(f) - single) < 1e-12,
        s"grouped AUC must match the single-group plan for fold $f")
    }
    for ((name, score) <- Seq("accuracy_score", "mean_absolute_error", "rmse",
        "log_loss").map(_ -> "prob") :+ ("multi_logloss" -> "probs")) {
      val grouped = Metrics.byGroup(name)(preds, "fold", "label", score)
      (0 until 3).foreach { f =>
        val single = Metrics.registry(name)(
          preds.filter(col("fold") === f), "label", score)
        assert(math.abs(grouped(f) - single) < 1e-12,
          s"$name byGroup must match filtered evaluation for fold $f")
      }
    }
  }

  test("scores: folds and total from one grouped action, equal to per-fold plus scalar evaluation") {
    val preds = core.Tables.orders(spark, sf).select(
      (col("o_orderkey") % 3).cast("int").as("fold"),
      (((col("o_orderkey") * 2654435761L) % 97) / lit(96.0)).as("prob"),
      ((col("o_orderkey") + col("o_custkey")) % 3 === 0).cast("int").as("label"))
      .withColumn("probs", array(lit(1.0) - col("prob"), col("prob")))
    for (name <- Metrics.registry.keys.toSeq.sorted) {
      val score = if (name == "multi_logloss") "probs" else "prob"
      val c = cfg.copy(metricName = name)
      val byFold = Metrics.byGroup(name)(preds, "fold", "label", score)
      val wantFolds = (0 until 3).map(k => CrossValidation.round6(byFold(k), c.metricsDecimals))
      val wantTotal = CrossValidation.round6(
        Metrics.registry(name)(preds, "label", score), c.metricsDecimals)
      var got: (Seq[Double], Double) = null
      assert(actionCount { got = CrossValidation.scores(preds, "label", score, c) } == 1,
        s"$name: one action for the folds and the total")
      val (folds, total) = got
      if (Set("roc_auc_score", "accuracy_score")(name))
        assert(folds == wantFolds && total == wantTotal, name)
      else (folds :+ total).zip(wantFolds :+ wantTotal).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"$name: $a vs $b")
      }
    }
  }

  test("the test side is not cached while a seed bag fits") {
    // Test scoring is lazy and first runs after the CV returns, so a
    // test-side cache never serves a read; under seed bagging the seeds
    // would also register and drop one shared entry from Par threads.
    val Array(tr, te) = frame.randomSplit(Array(0.8, 0.2), seed = 1)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val testPlan = te.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cachedAtFit = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val model = Models.LogReg(maxIter = 5)
    val probe = new ModelWrapper {
      val name = model.name
      val isClassifier = model.isClassifier
      def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
          labelCol: String, seed: Long) = {
        cachedAtFit.add(cacheManager.lookupCachedData(testPlan).nonEmpty)
        model.fit(train, valid, features, labelCol, seed)
      }
    }
    val r = CrossValidation.runCvAndPrediction(tr, Some(te), feats, "target",
      "row_id", probe, cfg, seeds = Seq(1L, 2L, 3L))
    assert(cachedAtFit.size == 9, "3 seeds x 3 folds")
    assert(!cachedAtFit.contains(true), "a fit ran while the test frame was cached")
    val bagged = r.testBagged.get
    assert(bagged.count() == te.count())
    assert(bagged.filter(col("seed_1").isNull || col("seed_2").isNull ||
      col("seed_3").isNull).isEmpty, "every seed scored every test row")
  }

  test("metric registry orientation") {
    assert(Metrics.greaterIsBetter("roc_auc_score"))
    assert(!Metrics.greaterIsBetter("log_loss"))
  }
}
