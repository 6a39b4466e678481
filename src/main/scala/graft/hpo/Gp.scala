package graft.hpo

import org.apache.spark.sql.DataFrame
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.ml.{Metrics, ModelWrapper}
import graft.hpo.RandomSearch.{HpoResult, Space}

/** M7: Gaussian-process Bayesian optimization — the same surrogate
  * family as the reference's bayes_opt.BayesianOptimization
  * (hyper_parameters_optimization.py:100-170, which drives the public
  * fmfn/BayesianOptimization package: GP with a Matérn ν=2.5 kernel,
  * normalized targets, and an upper-confidence-bound acquisition,
  * κ=2.576 by default). Math per Rasmussen & Williams, "Gaussian
  * Processes for Machine Learning" (2006): posterior mean/variance via
  * a Cholesky solve (eq. 2.25-2.26), kernel length-scale picked by
  * maximizing the log marginal likelihood (eq. 2.30) over a small grid
  * instead of multi-restart gradient ascent — history is ≤ a few dozen
  * points, so the exact-GP linear algebra is microscopic driver-side
  * work while each probe's objective (a full CV run) executes on the
  * cluster, identical placement to the reference.
  *
  * Differences from the package, documented: the acquisition argmax is
  * a seeded dense random sweep over the box (the package warms up with
  * 10k random probes then L-BFGS-refines; with ≤25 observations the
  * sweep finds the same basin), and minimize-oriented metrics negate
  * the objective rather than flipping the acquisition. Deterministic
  * under `seedVal`. Seeded TPE (`Tpe.optimizeFn`) remains available as
  * the lighter-weight alternative proposal rule.
  */
object Gp {

  /** Matérn 5/2 on pre-scaled coordinates: k(r) = (1 + √5 r + 5r²/3) e^{-√5 r}. */
  private def matern52(a: Array[Double], b: Array[Double], lengthScale: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    val r = math.sqrt(s) / lengthScale
    val sr5 = math.sqrt(5.0) * r
    (1.0 + sr5 + 5.0 * r * r / 3.0) * math.exp(-sr5)
  }

  /** In-place lower-Cholesky of a small dense SPD matrix. */
  private def cholesky(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val l = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = 0.0
        var k = 0
        while (k < j) { s += l(i)(k) * l(j)(k); k += 1 }
        if (i == j) l(i)(i) = math.sqrt(math.max(m(i)(i) - s, 1e-12))
        else l(i)(j) = (m(i)(j) - s) / l(j)(j)
        j += 1
      }
      i += 1
    }
    l
  }

  /** Solve L y = b (forward), then Lᵀ x = y (backward). */
  private def cholSolve(l: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = l.length
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i); var k = 0
      while (k < i) { s -= l(i)(k) * y(k); k += 1 }
      y(i) = s / l(i)(i); i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i); var k = i + 1
      while (k < n) { s -= l(k)(i) * x(k); k += 1 }
      x(i) = s / l(i)(i); i -= 1
    }
    x
  }

  /** Fitted exact GP over normalized inputs: posterior `mean` and
    * `variance` at a point, per R&W eq. 2.25-2.26 with noise `alpha`. */
  private final class Posterior(
      xs: Array[Array[Double]], ys: Array[Double],
      val lengthScale: Double, alpha: Double) {
    private val n = xs.length
    private val yMean = ys.sum / n
    private val yStd = {
      val v = ys.map(y => (y - yMean) * (y - yMean)).sum / n
      val s = math.sqrt(v); if (s > 1e-12) s else 1.0
    }
    private val yn = ys.map(y => (y - yMean) / yStd)
    private val l = {
      val k = Array.tabulate(n, n)((i, j) => matern52(xs(i), xs(j), lengthScale))
      var i = 0
      while (i < n) { k(i)(i) += alpha; i += 1 }
      cholesky(k)
    }
    private val alphaVec = cholSolve(l, yn)

    /** Log marginal likelihood of the normalized targets (R&W eq. 2.30),
      * used to pick the length-scale. */
    val logMarginal: Double = {
      var quad = 0.0; var logDet = 0.0
      var i = 0
      while (i < n) { quad += yn(i) * alphaVec(i); logDet += math.log(l(i)(i)); i += 1 }
      -0.5 * quad - logDet - 0.5 * n * math.log(2 * math.Pi)
    }

    def meanVar(x: Array[Double]): (Double, Double) = {
      val ks = Array.tabulate(n)(i => matern52(xs(i), x, lengthScale))
      var mu = 0.0
      var i = 0
      while (i < n) { mu += ks(i) * alphaVec(i); i += 1 }
      // v = L⁻¹ k*; var = k(x,x) - vᵀv
      val v = new Array[Double](n)
      i = 0
      while (i < n) {
        var s = ks(i); var k = 0
        while (k < i) { s -= l(i)(k) * v(k); k += 1 }
        v(i) = s / l(i)(i); i += 1
      }
      val varN = math.max(1.0 - v.map(z => z * z).sum, 0.0)
      (mu * yStd + yMean, varN * yStd * yStd)
    }
  }

  private val lengthScaleGrid = Seq(0.1, 0.2, 0.5, 1.0, 2.0)

  private def fit(xs: Array[Array[Double]], ys: Array[Double], alpha: Double): Posterior =
    lengthScaleGrid.map(ls => new Posterior(xs, ys, ls, alpha))
      .maxBy(_.logMarginal)

  /** Test probe: the fitted posterior's (mean, variance) function and
    * its marginal-likelihood-selected length-scale. */
  private[graft] def fitPosterior(
      xs: Array[Array[Double]], ys: Array[Double], alpha: Double = 1e-6)
      : (Array[Double] => (Double, Double), Double) = {
    val p = fit(xs, ys, alpha)
    (p.meanVar _, p.lengthScale)
  }

  /** Core loop over an abstract objective — same contract as
    * `Tpe.optimizeFn`: `initPoints` seeded uniform draws, then `nIter`
    * GP-guided proposals maximizing UCB = μ + κσ over a seeded random
    * sweep of the box. `objective` returns (score, std). */
  def optimizeFn(
      space: Space, objective: Map[String, Double] => (Double, Double),
      seedVal: Long, initPoints: Int, nIter: Int, maximize: Boolean,
      kappa: Double = 2.576, nCandidates: Int = 1000,
      alpha: Double = 1e-6): Seq[(Int, Double, Double, Map[String, Double])] = {
    require(initPoints >= 1 && nIter >= 0)
    val rng = new scala.util.Random(seedVal)
    val names = space.bounds.keys.toSeq.sorted
    val los = names.map(n => space.bounds(n)._1).toArray
    val his = names.map(n => space.bounds(n)._2).toArray

    def drawUnit(): Array[Double] = Array.fill(names.size)(rng.nextDouble())
    def toParams(u: Array[Double]): Map[String, Double] =
      names.indices.map(i => names(i) -> (los(i) + u(i) * (his(i) - los(i)))).toMap
    // evaluated points are stored in COERCED form (ints rounded), so the
    // surrogate models the objective actually seen, like the package's
    // history of probed params
    def toUnit(p: Map[String, Double]): Array[Double] =
      names.indices.map { i =>
        val w = his(i) - los(i)
        if (w > 0) (p(names(i)) - los(i)) / w else 0.0
      }.toArray

    var xs = Vector.empty[Array[Double]]
    var ys = Vector.empty[Double]

    def propose(): Map[String, Double] = {
      val sign = if (maximize) 1.0 else -1.0
      val post = fit(xs.toArray, ys.map(_ * sign).toArray, alpha)
      val best = (1 to nCandidates).map { _ => drawUnit() }.maxBy { u =>
        val (mu, v) = post.meanVar(u)
        mu + kappa * math.sqrt(v)
      }
      toParams(best)
    }

    (1 to (initPoints + nIter)).map { it =>
      val raw = if (it <= initPoints) toParams(drawUnit()) else propose()
      val params = space.coerce(raw)
      val (score, std) = objective(params)
      xs :+= toUnit(params)
      ys :+= score
      (it, score, std, params)
    }
  }

  /** Reference-shaped entry (BayesHyperParamsOptimization.run,
    * hyper_parameters_optimization.py:143-170): maximize (or minimize,
    * per metric orientation) the CV score of `build(params)`; returns
    * best params, best score, and the hpo_history table. */
  def optimize(
      train: DataFrame, features: Seq[String], target: String, idCol: String,
      space: Space, build: Map[String, Double] => ModelWrapper,
      cfg: CvConfig, seedVal: Long, initPoints: Int = 10, nIter: Int = 15): HpoResult = {
    val spark = train.sparkSession
    import spark.implicits._
    val maximize = Metrics.greaterIsBetter(cfg.metricName)
    val trials = optimizeFn(space,
      params => {
        val r = CrossValidation.runCvOneSeed(
          train, None, features, target, idCol, build(params), cfg, seedVal)
        (r.cvScore, r.cvStd)
      },
      seedVal, initPoints, nIter, maximize)
    val best = trials.reduce((a, b) =>
      if (if (maximize) b._2 > a._2 else b._2 < a._2) b else a)
    val names = space.bounds.keys.toSeq.sorted
    import org.apache.spark.sql.functions.{col, element_at}
    val historyCols = col("iteration") +: col("cv_score") +: col("cv_std") +:
      names.zipWithIndex.map { case (n, i) => element_at(col("params"), i + 1).as(n) }
    val history = trials.map { case (it, sc, sd, p) => (it, sc, sd, names.map(p)) }
      .toDF("iteration", "cv_score", "cv_std", "params")
      .select(historyCols: _*)
    HpoResult(best._4, best._2, history)
  }
}
