package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.PrefixSum

/** A21: metric scorer registry — the Spark-first replacement for the
  * reference's resolve-sklearn-metric-by-name
  * (generic_tools/utils.py:74-89; config `eval_metric`,
  * examples/.../solution.conf:263). The set actually referenced by the
  * reference: accuracy_score, roc_auc_score, log_loss,
  * mean_absolute_error (modeling/prediction.py:813-822); rmse added for
  * the regression wrappers.
  *
  * Every metric is a single distributed aggregation over a predictions
  * DataFrame — no collect of row-level data, one Spark action per
  * evaluation. `rocAuc` uses the rank-statistic (Mann-Whitney)
  * formulation with average ranks for ties, aggregated per distinct
  * score first and ranked by the distributed rank sum
  * (`core.PrefixSum.rankSums`), never a global window; it raises on a
  * label outside {0, 1}, a null label and a null or NaN score, as
  * sklearn's `roc_auc_score` does.
  */
object Metrics {

  type Metric = (DataFrame, String, String) => Double

  /** sklearn's default probability clipping (eps = 1e-15,
    * sklearn.metrics.log_loss). */
  private def clip(p: Column): Column = least(greatest(p, lit(1e-15)), lit(1.0 - 1e-15))

  /** Every aggregate metric, written once as (label, prediction) →
    * aggregate column: the [[registry]] scorers, [[byGroup]] and
    * [[report]] all derive from these. For the probability metrics the
    * second column is the probability; multi_logloss (the
    * class_label=None shape, prediction.py:340-346) reads a per-class
    * probability array and 0-based class-index labels. */
  private val aggregates: Map[String, (Column, Column) => Column] = Map(
    "accuracy_score" -> ((l, p) => avg((l === p).cast("double"))),
    "mean_absolute_error" -> ((l, p) => avg(abs(l - p))),
    "rmse" -> ((l, p) => sqrt(avg(pow(l - p, 2)))),
    "log_loss" -> ((l, p) =>
      -avg(l * log(clip(p)) + (lit(1) - l) * log(lit(1) - clip(p)))),
    "multi_logloss" -> ((l, p) =>
      -avg(log(clip(element_at(p, l.cast("int") + 1))))))

  private def scalar(name: String)(df: DataFrame, label: String, pred: String): Double =
    df.agg(aggregates(name)(col(label), col(pred)).cast("double")).head().getDouble(0)

  /** Fraction of rows where prediction equals label. */
  def accuracy(df: DataFrame, label: String, pred: String): Double =
    scalar("accuracy_score")(df, label, pred)

  /** Binary ROC AUC via the rank statistic:
    * AUC = (sum of average ranks of positives - nPos(nPos+1)/2) / (nPos*nNeg).
    * Average rank of a tied group = cumulative count before the group +
    * (groupSize + 1)/2. The one-group case of [[rocAucByGroup]]'s plan.
    */
  def rocAuc(df: DataFrame, label: String, score: String): Double = {
    val byGroup = auc(df, lit(0), label, score)
    require(byGroup.nonEmpty, "rocAuc needs both classes present")
    byGroup(0)
  }

  /** Per-group binary ROC AUC in ONE distributed plan — the per-fold CV
    * scoring shape, which would otherwise cost one rank plan per fold. */
  def rocAucByGroup(df: DataFrame, group: String, label: String,
      score: String): Map[Int, Double] =
    auc(df, col(group).cast("int"), label, score)

  /** Scale design: one `PrefixSum.rankSums` action — the per-(group,
    * distinct score) pre-aggregate is ranked within each group by a
    * range-partitioned pass, never a global window, and only
    * (partitions × groups) partial sums reach the driver. The same
    * pre-aggregate counts the rows sklearn's `roc_auc_score` rejects
    * (a label outside {0, 1}, a null label, a null or NaN score), so the
    * checks cost no extra job. */
  private def auc(df: DataFrame, group: Column, label: String,
      score: String): Map[Int, Double] = {
    val (y, s) = (col(label), col(score))
    val ranks = PrefixSum.rankSums(df, group, s, y,
      Seq(y.isNotNull && !y.isin(0, 1), y.isNull, s.isNull || isnan(s)))
    Seq(s"$label outside {0, 1}", s"null $label", s"null or NaN $score").zipWithIndex
      .foreach { case (what, i) =>
        val bad = ranks.values.map(_.counts(i)).sum
        require(bad == 0, s"rocAuc: $bad rows with $what")
      }
    ranks.map { case (g, r) =>
      val (np, nn) = (r.weight, r.n - r.weight)
      require(np > 0 && nn > 0, s"rocAuc needs both classes in group $g")
      g -> (r.rankSum - np * (np + 1) / 2.0) / (np * nn)
    }
  }

  /** Per-group evaluation of a registry metric in one action (one
    * grouped aggregate for the aggregate metrics, one grouped rank sum
    * for AUC) — what the CV engine uses for its k per-fold scores and
    * the total instead of k + 1 filtered re-evaluations. */
  def byGroup(name: String): (DataFrame, String, String, String) => Map[Int, Double] =
    if (name == "roc_auc_score") rocAucByGroup _
    else {
      val agg = aggregates.getOrElse(name,
        throw new IllegalArgumentException(s"unknown metric $name"))
      (df: DataFrame, g: String, label: String, pred: String) =>
        df.groupBy(col(g).cast("int").as("__g"))
          .agg(agg(col(label), col(pred)).cast("double").as("__v"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }

  /** Fused scalar-metric report: accuracy, log loss, MAE and RMSE in a
    * SINGLE aggregation pass (one job, one scan) — the shape to prefer
    * when several metrics are wanted from one predictions frame at
    * scale. AUC stays separate (rank-based, needs its own shuffle). */
  def report(df: DataFrame, label: String, pred: String, prob: String): Map[String, Double] = {
    val (l, p) = (col(label), col(prob))
    val r = df.agg(
      aggregates("accuracy_score")(l, col(pred)).as("accuracy"),
      aggregates("log_loss")(l, p).as("log_loss"),
      aggregates("mean_absolute_error")(l, p).as("mae"),
      aggregates("rmse")(l, p).as("rmse")).head()
    Map("accuracy" -> r.getDouble(0), "log_loss" -> r.getDouble(1),
      "mae" -> r.getDouble(2), "rmse" -> r.getDouble(3))
  }

  /** Name → scorer, mirroring the reference's string-keyed metric lookup
    * (utils.py:74-89). For probability metrics the third argument is the
    * probability/score column; for the others the prediction column. */
  val registry: Map[String, Metric] =
    aggregates.keys.map(n => n -> (scalar(n) _)).toMap +
      ("roc_auc_score" -> (rocAuc _))

  /** True if bigger values of the metric are better (prediction.py uses
    * this to orient HPO/FS comparisons). */
  def greaterIsBetter(name: String): Boolean = name match {
    case "mean_absolute_error" | "rmse" | "log_loss" | "multi_logloss" => false
    case _ => true
  }
}
