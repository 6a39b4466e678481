package graft.hpo

import graft.hpo.RandomSearch.Space

/** M7: sequential model-based HPO over an abstract objective — the
  * lighter-weight alternative to `Gp`'s proposal rule, with the same
  * `optimizeFn` contract (seeded optimizer over box bounds,
  * `init_points` warmup + `n_iter` guided proposals, dtype coercion via
  * the space; hyper_parameters_optimization.py:100-170). The CV-driven
  * entry with the history table is `Gp.optimize`.
  *
  * The proposal rule is TPE (tree-structured Parzen estimator,
  * Bergstra et al., NeurIPS 2011) rather than a Gaussian process:
  * history splits at the gamma-quantile into good/bad sets, candidates
  * are drawn from a per-dimension Gaussian-kernel mixture over the good
  * points, and the candidate maximizing the good/bad density ratio is
  * evaluated next. Fully deterministic under `seedVal`; the objective
  * (a full CV run) executes on the cluster while the proposal math is
  * driver-side — identical placement to the reference, where bayes_opt
  * runs in the driver process and each probe trains models.
  */
object Tpe {

  private final case class Trial(params: Map[String, Double], score: Double, std: Double)

  /** Core loop over an abstract objective (public: usable for any
    * driver-side objective, e.g. blender weight search; unit-testable
    * without model fits). `objective` returns (score, std). */
  def optimizeFn(
      space: Space, objective: Map[String, Double] => (Double, Double),
      seedVal: Long, initPoints: Int, nIter: Int,
      maximize: Boolean, gamma: Double = 0.25, nCandidates: Int = 24): Seq[(Int, Double, Double, Map[String, Double])] = {
    require(initPoints >= 1 && nIter >= 0)
    val rng = new scala.util.Random(seedVal)
    val names = space.bounds.keys.toSeq.sorted
    var history = Vector.empty[Trial]

    def draw(): Map[String, Double] = names.map { n =>
      val (lo, hi) = space.bounds(n)
      n -> (lo + rng.nextDouble() * (hi - lo))
    }.toMap

    def gauss(x: Double, mu: Double, sigma: Double): Double = {
      val z = (x - mu) / sigma
      math.exp(-0.5 * z * z) / sigma
    }

    /** Per-dimension kernel-mixture density of `pts` at `x`
      * (bandwidth ~ box width / sqrt(n), floored to 1e-6). */
    def density(pts: Seq[Map[String, Double]], x: Map[String, Double]): Double =
      names.map { n =>
        val (lo, hi) = space.bounds(n)
        val bw = math.max((hi - lo) / math.sqrt(pts.size.toDouble + 1), 1e-6)
        pts.map(p => gauss(x(n), p(n), bw)).sum / pts.size
      }.product

    def propose(): Map[String, Double] = {
      val ordered = history.sortBy(t => if (maximize) -t.score else t.score)
      val nGood = math.max(1, math.ceil(gamma * history.size).toInt)
      val (good, bad) = (ordered.take(nGood), ordered.drop(nGood))
      if (bad.isEmpty) return draw()
      val candidates = (1 to nCandidates).map { _ =>
        // sample from the good mixture: pick a good point, perturb per-dim
        val center = good(rng.nextInt(good.size)).params
        names.map { n =>
          val (lo, hi) = space.bounds(n)
          val bw = math.max((hi - lo) / math.sqrt(good.size.toDouble + 1), 1e-6)
          n -> math.min(hi, math.max(lo, center(n) + rng.nextGaussian() * bw))
        }.toMap
      }
      candidates.maxBy(c =>
        density(good.map(_.params), c) / math.max(density(bad.map(_.params), c), 1e-300))
    }

    (1 to (initPoints + nIter)).map { it =>
      val raw = if (it <= initPoints) draw() else propose()
      val params = space.coerce(raw)
      val (score, std) = objective(params)
      history :+= Trial(params, score, std)
      (it, score, std, params)
    }
  }
}
