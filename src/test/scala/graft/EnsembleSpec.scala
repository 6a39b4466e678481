package graft

import org.apache.spark.sql.functions._
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.ensemble.Ensemble
import graft.hpo.RandomSearch
import graft.ml.Models

/** J2/M9/M8/M7 on sf0.001: OOF join validation, stacking through the
  * CV engine, blender weight search, HPO random search.
  */
class EnsembleSpec extends SparkSpec {

  private lazy val frame = core.Tables.orders(spark, sf).select(
    col("o_orderkey").as("row_id"),
    (col("o_orderstatus") === "O").cast("int").as("target"),
    col("o_totalprice"), col("o_custkey").cast("double").as("o_custkey"),
    unix_timestamp(col("o_orderdate")).cast("double").as("o_epoch"))
  private val feats = Seq("o_totalprice", "o_custkey", "o_epoch")
  private val cfg = CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score")

  private def oofOf(model: graft.ml.ModelWrapper, seed: Long) = {
    val r = CrossValidation.runCvOneSeed(frame, None, feats, "target", "row_id", model, cfg, seed)
    r.oof.select(col("row_id"), col("target"), col("oof_score").as("target_OOF"))
  }

  test("joinOof binds per-model predictions and validates consistency") {
    val base = frame.select("row_id", "target")
    val m1 = oofOf(Models.LogReg(maxIter = 10), 27L)
    val m2 = oofOf(Models.RfClassifier(numTrees = 5, maxDepth = 3), 27L)
    val joined = Ensemble.joinOof(base, "row_id", "target", Seq("lr" -> m1, "rf" -> m2))
    assert(joined.count() == base.count())
    assert(joined.columns.toSet ==
      Set("row_id", "target", "lr_target_OOF", "rf_target_OOF"))

    // row-count mismatch must be rejected (ensembler.py:33)
    val short = m1.limit(10)
    intercept[IllegalArgumentException] {
      Ensemble.joinOof(base, "row_id", "target", Seq("bad" -> short))
    }
    // corrupted target series must be rejected (ensembler.py:36-37)
    val corrupted = m1.withColumn("target", lit(1) - col("target"))
    intercept[IllegalArgumentException] {
      Ensemble.joinOof(base, "row_id", "target", Seq("bad" -> corrupted))
    }
  }

  test("stacker: meta-model CV over the OOF matrix") {
    val base = frame.select("row_id", "target")
    val joined = Ensemble.joinOof(base, "row_id", "target",
      Seq("lr" -> oofOf(Models.LogReg(maxIter = 10), 27L),
        "rf" -> oofOf(Models.RfClassifier(numTrees = 5, maxDepth = 3), 27L)))
    val stacked = Ensemble.stack(joined, None, "target", "row_id",
      Models.LogReg(maxIter = 10), cfg, Seq(27L))
    assert(stacked.oof.count() == base.count())
    assert(stacked.cvScore > 0.45, s"stacker roc_auc degenerate: ${stacked.cvScore}")
  }

  test("blender: seeded weight search improves on or matches uniform") {
    val base = frame.select("row_id", "target")
    val joined = Ensemble.joinOof(base, "row_id", "target",
      Seq("lr" -> oofOf(Models.LogReg(maxIter = 10), 27L),
        "rf" -> oofOf(Models.RfClassifier(numTrees = 5, maxDepth = 3), 27L))).cache()
    val r = Ensemble.blend(joined, Seq("lr_target_OOF", "rf_target_OOF"),
      "target", "roc_auc_score", nIter = 6, seed = 27L)
    assert(r.history.count() == 6)
    assert(math.abs(r.weights.values.sum - 1.0) < 0.01, s"weights: ${r.weights}")
    val uniform = r.history.filter(col("iteration") === 0).select("score").head().getDouble(0)
    assert(r.score >= uniform, "best >= uniform baseline (it is a candidate)")
    // deterministic
    val r2 = Ensemble.blend(joined, Seq("lr_target_OOF", "rf_target_OOF"),
      "target", "roc_auc_score", nIter = 6, seed = 27L)
    assert(r2.score == r.score && r2.weights == r.weights)
    joined.unpersist()
  }

  test("blender: one input scores its one weight vector once") {
    import spark.implicits._
    // 10 positives (odd ids) over 10 negatives, score = id / 20: 55 of
    // the 100 positive-negative pairs are ordered, AUC 0.55
    val oof = (0 until 20).map(i => (i.toLong, i % 2, i / 20.0)).toDF("row_id", "target", "m_OOF")
    var r: Ensemble.BlendResult = null
    val actions = actionCount {
      r = Ensemble.blend(oof, Seq("m_OOF"), "target", "roc_auc_score", nIter = 10, seed = 27L)
    }
    assert(actions == 1, "every trial normalizes to [1.0], one metric action")
    assert(r.weights == Map("m_OOF" -> 1.0) && r.score == 0.55)
    assert(r.history.collect().map(_.toSeq).toSeq == (0 until 10).map(i => Seq(i, 0.55, 1.0)))
  }

  test("per-fold blender: weights fit out-of-fold, blender-OOF covers all rows") {
    val base = frame.select("row_id", "target")
    val joined = Ensemble.joinOof(base, "row_id", "target",
      Seq("lr" -> oofOf(Models.LogReg(maxIter = 10), 27L),
        "rf" -> oofOf(Models.RfClassifier(numTrees = 5, maxDepth = 3), 27L)))
    val r = Ensemble.blendCv(joined, Seq("lr_target_OOF", "rf_target_OOF"),
      "target", "row_id", "roc_auc_score",
      numFolds = 3, dataSplitSeed = 789987L, blenderSeed = 27L, nIter = 4)
    assert(r.oof.count() == base.count(), "blender OOF covers every row once")
    assert(r.foldScores.size == 3 && r.foldWeights.size == 3)
    r.foldWeights.foreach { case (_, w) =>
      assert(math.abs(w.values.sum - 1.0) < 0.01)
    }
    assert(r.cvScore > 0.45 && r.cvStd >= 0)
  }

  test("hpo: seeded random search returns the argmax of its own history") {
    val space = RandomSearch.Space(
      bounds = Map("regParam" -> (0.0, 0.5), "maxIter" -> (5.0, 15.0)),
      intParams = Set("maxIter"))
    val r = RandomSearch.optimize(frame, feats, "target", "row_id", space,
      p => Models.LogReg(maxIter = p("maxIter").toInt, regParam = p("regParam")),
      cfg, seedVal = 27L, nTrials = 3)
    assert(r.history.count() == 3)
    val maxHist = r.history.agg(max("cv_score")).head().getDouble(0)
    assert(r.bestScore == maxHist)
    assert(r.bestParams("maxIter") == math.round(r.bestParams("maxIter")).toDouble,
      "int coercion applied")
  }

  test("labels_mapper registry: named + structural lambda forms, eval rejected") {
    import graft.ml.LabelMappers
    import spark.implicits._
    val scores = Seq(0.2, 0.5, 0.7).toDF("s")
    def apply(spec: String) = scores.select(LabelMappers.resolve(spec)(col("s")).as("m"))
      .collect().map(_.get(0).toString.toDouble.toInt).toSeq
    assert(apply("threshold(0.5)") == Seq(0, 0, 1))
    assert(apply("lambda x: 1 if x > 0.5 else 0") == Seq(0, 0, 1), "credit_scoring shape")
    assert(apply("lambda x: 1 if x >= 0.5 else 0") == Seq(0, 1, 1))
    assert(apply("round") == Seq(0, 1, 1)) // Spark round is HALF_UP: 0.5 -> 1
    intercept[IllegalArgumentException] {
      LabelMappers.resolve("lambda x: __import__('os')")
    }
  }

  test("hpo: TPE proposals concentrate near the optimum and beat random draws") {
    import graft.hpo.Tpe
    val space = RandomSearch.Space(
      bounds = Map("x" -> (0.0, 10.0), "y" -> (0.0, 10.0)), intParams = Set.empty)
    // maximize -((x-7)^2 + (y-3)^2): optimum at (7, 3)
    def f(p: Map[String, Double]): (Double, Double) =
      (-(math.pow(p("x") - 7, 2) + math.pow(p("y") - 3, 2)), 0.0)
    val trials = Tpe.optimizeFn(space, f _, seedVal = 27L,
      initPoints = 8, nIter = 24, maximize = true)
    assert(trials.size == 32)
    val bestTpe = trials.map(_._2).max
    // same-seed determinism
    val again = Tpe.optimizeFn(space, f _, seedVal = 27L,
      initPoints = 8, nIter = 24, maximize = true)
    assert(trials == again, "deterministic under a fixed seed")
    // pure random with the same budget and seed family
    val rng = new scala.util.Random(27L)
    val bestRnd = (1 to 32).map { _ =>
      f(Map("x" -> rng.nextDouble() * 10, "y" -> rng.nextDouble() * 10))._1
    }.max
    assert(bestTpe >= bestRnd, s"TPE ($bestTpe) not worse than random ($bestRnd)")
    assert(bestTpe > -1.0, s"TPE best $bestTpe should land near the optimum")
    // guided phase should concentrate: mean distance of the last 8
    // proposals to (7,3) is below that of the 8 warmup draws
    def dist(t: (Int, Double, Double, Map[String, Double])): Double =
      math.sqrt(math.pow(t._4("x") - 7, 2) + math.pow(t._4("y") - 3, 2))
    val warm = trials.take(8).map(dist).sum / 8
    val tail = trials.takeRight(8).map(dist).sum / 8
    assert(tail < warm, s"guided tail ($tail) tighter than warmup ($warm)")
  }

  test("hpo: GP posterior interpolates observations and is uncertain away from them") {
    import graft.hpo.Gp
    // 1-D smooth objective sampled at 6 points in [0,1]
    val xs = Array(0.0, 0.2, 0.4, 0.6, 0.8, 1.0).map(Array(_))
    val ys = xs.map(x => math.sin(3 * x(0)))
    val (meanVar, ls) = Gp.fitPosterior(xs, ys)
    assert(ls > 0)
    xs.zip(ys).foreach { case (x, y) =>
      val (mu, v) = meanVar(x)
      assert(math.abs(mu - y) < 1e-3, s"posterior mean $mu interpolates $y at ${x(0)}")
      assert(v < 1e-4, s"near-zero variance $v at an observed point")
    }
    // between observations the variance is strictly larger than at them
    val (_, vMid) = meanVar(Array(0.5))
    val vObs = xs.map(meanVar(_)._2).max
    assert(vMid > vObs, s"mid-point variance $vMid exceeds observed-point max $vObs")
  }

  test("hpo: GP proposals concentrate near the optimum and beat random draws") {
    import graft.hpo.Gp
    val space = RandomSearch.Space(
      bounds = Map("x" -> (0.0, 10.0), "y" -> (0.0, 10.0)), intParams = Set.empty)
    def f(p: Map[String, Double]): (Double, Double) =
      (-(math.pow(p("x") - 7, 2) + math.pow(p("y") - 3, 2)), 0.0)
    val trials = Gp.optimizeFn(space, f _, seedVal = 27L,
      initPoints = 8, nIter = 24, maximize = true)
    assert(trials.size == 32)
    val bestGp = trials.map(_._2).max
    val again = Gp.optimizeFn(space, f _, seedVal = 27L,
      initPoints = 8, nIter = 24, maximize = true)
    assert(trials == again, "deterministic under a fixed seed")
    val rng = new scala.util.Random(27L)
    val bestRnd = (1 to 32).map { _ =>
      f(Map("x" -> rng.nextDouble() * 10, "y" -> rng.nextDouble() * 10))._1
    }.max
    assert(bestGp >= bestRnd, s"GP ($bestGp) not worse than random ($bestRnd)")
    assert(bestGp > -0.5, s"GP best $bestGp should land near the optimum")
    // minimize orientation: same machinery on a positive bowl
    def g(p: Map[String, Double]): (Double, Double) =
      (math.pow(p("x") - 2, 2) + math.pow(p("y") - 8, 2), 0.0)
    val minTrials = Gp.optimizeFn(space, g _, seedVal = 27L,
      initPoints = 8, nIter = 16, maximize = false)
    assert(minTrials.map(_._2).min < 1.0,
      s"minimize orientation converges, got ${minTrials.map(_._2).min}")
  }
}
