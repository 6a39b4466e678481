package graft.hpo

import org.apache.spark.sql.DataFrame
import graft.cv.CrossValidation.CvConfig
import graft.ml.ModelWrapper

/** M7: hyper-parameter optimization. The reference uses
  * bayes_opt.BayesianOptimization over box bounds with per-model dtype
  * coercion (hyper_parameters_optimization.py:100-170;
  * model_wrappers.py:62-72). This is the documented v1 stand-in
  * (SURVEY §7.3): seeded random search over the same box with the same
  * coercion contract — identical API shape (space, init points +
  * iterations, history table, best params), different proposal rule.
  */
object RandomSearch {

  /** A parameter box: [lo, hi] per name; `intParams` are coerced to
    * integers like `_adjust_hyperparameters_datatypes`. */
  final case class Space(bounds: Map[String, (Double, Double)], intParams: Set[String]) {
    def coerce(raw: Map[String, Double]): Map[String, Double] =
      raw.map { case (k, v) => k -> (if (intParams.contains(k)) math.round(v).toDouble else v) }
  }

  final case class HpoResult(
      bestParams: Map[String, Double], bestScore: Double, history: DataFrame)

  /** Maximize (or minimize, per metric orientation) the CV score of
    * `build(params)` over `nTrials` seeded uniform draws from the box:
    * `Gp.optimize` with every trial an initial point, so the draws,
    * the objective (the full CV engine with predictTest disabled,
    * mirroring hp_optimizer, hyper_parameters_optimization.py:122-139),
    * the best pick and the history table are the GP driver's own.
    */
  def optimize(
      train: DataFrame, features: Seq[String], target: String, idCol: String,
      space: Space, build: Map[String, Double] => ModelWrapper,
      cfg: CvConfig, seedVal: Long, nTrials: Int): HpoResult =
    Gp.optimize(train, features, target, idCol, space, build, cfg, seedVal,
      initPoints = nTrials, nIter = 0)
}
