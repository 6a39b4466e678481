package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.fs.FeatureSelection
import graft.ml.{Models, ModelWrapper}

/** M10 end-to-end on sf0.001 plus shuffle/scoring invariants. */
class FeatureSelectionSpec extends SparkSpec {

  private lazy val frame = core.Tables.orders(spark, sf).select(
    col("o_orderkey").as("row_id"),
    (col("o_orderstatus") === "O").cast("int").as("target"),
    col("o_totalprice"),
    col("o_custkey").cast("double").as("o_custkey"),
    unix_timestamp(col("o_orderdate")).cast("double").as("o_epoch"),
    (col("o_orderkey") % 97).cast("double").as("noise"))
  private val feats = Seq("o_totalprice", "o_custkey", "o_epoch", "noise")

  test("shuffleColumn permutes values (same multiset, different pairing)") {
    val shuffled = FeatureSelection.shuffleColumn(frame, "target", seed = 5L)
    assert(shuffled.count() == frame.count())
    // same multiset of targets
    val a = frame.groupBy("target").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = shuffled.groupBy("target").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b, "value multiset preserved")
    // pairing against row_id changed for a solid share of rows
    val moved = frame.select(col("row_id"), col("target").as("t0"))
      .join(shuffled.select(col("row_id"), col("target").as("t1")), "row_id")
      .filter(col("t0") =!= col("t1")).count()
    assert(moved > frame.count() / 4, s"only $moved rows changed pairing")
    // deterministic
    val again = FeatureSelection.shuffleColumn(frame, "target", seed = 5L)
      .select("row_id", "target")
    assert(shuffled.select("row_id", "target").except(again).isEmpty)
  }

  test("selectFeatures end-to-end: real signal ranks above shuffled noise") {
    val explorer = Models.RfClassifier(numTrees = 10, maxDepth = 4)
    val (selected, scores, ranked) = FeatureSelection.selectFeatures(
      frame, feats, "target", "row_id",
      explorer, cvModel = Models.LogReg(maxIter = 10),
      cvCfg = CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score"),
      seed = 27L, nbRuns = 3, thresholds = Seq(-25.0, -10.0, -3.0))
    assert(selected.nonEmpty && selected.toSet.subsetOf(feats.toSet))
    assert(scores.count() == feats.size)
    assert(scores.columns.toSet == Set("feature", "gain_score", "split_score"))
    assert(ranked.count() == 3)
    assert(ranked.columns.contains("total_rank"))
  }

  test("thresholdSweep runs one CV per distinct feature set") {
    import spark.implicits._
    val model = Models.LogReg(maxIter = 10)
    val counting = new ModelWrapper {
      val fits = new java.util.concurrent.atomic.AtomicInteger()
      val name = model.name
      val isClassifier = model.isClassifier
      def fit(train: DataFrame, valid: Option[DataFrame], features: Seq[String],
          labelCol: String, seed: Long) = {
        fits.incrementAndGet(); model.fit(train, valid, features, labelCol, seed)
      }
    }
    val cfg = CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score")
    // -25 and -20 keep the same three features; -2.5 drops o_epoch
    val scored = Seq("o_totalprice" -> -1.0, "o_custkey" -> -2.0, "o_epoch" -> -3.0,
      "noise" -> -30.0)
    val thresholds = Seq(-25.0, -20.0, -2.5)
    val sweep = FeatureSelection.thresholdSweep(frame, "target", "row_id",
      scored.toDF("feature", "gain_score"), thresholds, counting, cfg, seed = 27L)
    assert(counting.fits.get == 2 * cfg.numFolds, "one CV per distinct feature set")
    val expected = thresholds.map { t =>
      val fs = scored.filter(_._2 >= t).map(_._1).sorted
      val r = CrossValidation.runCvOneSeed(frame, None, fs, "target", "row_id", model, cfg, 27L)
      r.oof.unpersist()
      (t, r.cvScore, r.cvStd, fs.size)
    }
    assert(sweep.as[(Double, Double, Double, Int)].collect().toSeq == expected)
  }

  test("scoreByNullCount is a rate in [0,1]") {
    import spark.implicits._
    val actual = Seq(("f1", 10.0, 10.0), ("f2", 0.1, 0.1))
      .toDF("feature", "importance_gain", "importance_split")
    val nulls = (1 to 5).flatMap(r => Seq(("f1", 1.0, 1.0, r), ("f2", 1.0, 1.0, r)))
      .toDF("feature", "importance_gain", "importance_split", "run")
    val out = FeatureSelection.scoreByNullCount(actual, nulls).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("f1") == 1.0 && out("f2") == 0.0)
  }
}
