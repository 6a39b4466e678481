package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.ml.{Metrics, Models}

/** Driver-checked queries for the ML layer (metrics A21, exact
  * percentile A14, and downstream CV outputs). Metric queries run over a
  * *deterministic pseudo-prediction frame* derived arithmetically from
  * the orders table, so a DuckDB oracle can recompute the identical
  * values — the metric math is what's under test, mirroring
  * generic_tools/utils.py:74-89 / prediction.py:398-408.
  */
object MlQueries {

  /** Deterministic "predictions": prob in [0,1] from a multiplicative
    * hash of o_orderkey, binary label from (o_orderkey+o_custkey)%3. */
  private def pseudoPreds(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      (((col("o_orderkey") * lit(2654435761L)) % 997) / lit(996.0)).as("prob"),
      ((col("o_orderkey") + col("o_custkey")) % 3 === 0).cast("int").as("label"))
      .withColumn("pred", (col("prob") >= 0.5).cast("int"))

  private val pseudoPredsSql =
    """SELECT ((o_orderkey * 2654435761) % 997) / 996.0 AS prob,
      |       CAST((o_orderkey + o_custkey) % 3 = 0 AS INT) AS label,
      |       CAST(((o_orderkey * 2654435761) % 997) / 996.0 >= 0.5 AS INT) AS pred
      |FROM orders""".stripMargin

  /** A21 metric registry exercised end-to-end: one row per metric.
    * The four scalar metrics come from the fused single-pass report
    * (one job); AUC runs its rank-based plan separately. */
  def metrics(s: SparkSession, d: String): DataFrame = {
    val rows = graft.core.Materialize.scoped(pseudoPreds(s, d)) { preds =>
      val fused = Metrics.report(preds, "label", "pred", "prob")
      Seq(
        ("accuracy", fused("accuracy")),
        ("log_loss", fused("log_loss")),
        ("mae", fused("mae")),
        ("rmse", fused("rmse")),
        ("roc_auc", Metrics.rocAuc(preds, "label", "prob")))
    }
    import s.implicits._
    rows.toDF("metric", "value")
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy("metric")
  }

  val metricsSql: String =
    s"""WITH preds AS ($pseudoPredsSql),
      |clipped AS (
      |  SELECT label, pred, prob,
      |         least(greatest(prob, 1e-15), 1 - 1e-15) AS cp
      |  FROM preds
      |),
      |base AS (
      |  SELECT avg(CASE WHEN label = pred THEN 1.0 ELSE 0.0 END) AS acc,
      |         -avg(label * ln(cp) + (1 - label) * ln(1 - cp)) AS ll,
      |         avg(abs(label - prob)) AS mae,
      |         sqrt(avg((label - prob) * (label - prob))) AS rmse
      |  FROM clipped
      |),
      |g AS (
      |  SELECT prob AS s, count(*) AS n, sum(CAST(label AS DOUBLE)) AS pos
      |  FROM preds GROUP BY prob
      |),
      |r AS (
      |  SELECT pos,
      |         sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n + (n + 1) / 2.0 AS avg_rank,
      |         n
      |  FROM g
      |),
      |auc AS (
      |  SELECT (sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1) / 2.0)
      |         / (sum(pos) * sum(n - pos)) AS v
      |  FROM r
      |)
      |SELECT metric, value FROM (
      |  SELECT 'accuracy' AS metric, round(acc, 6) AS value FROM base
      |  UNION ALL SELECT 'log_loss', round(ll, 6) FROM base
      |  UNION ALL SELECT 'mae', round(mae, 6) FROM base
      |  UNION ALL SELECT 'rmse', round(rmse, 6) FROM base
      |  UNION ALL SELECT 'roc_auc', round(v, 6) FROM auc
      |) ORDER BY metric""".stripMargin

  /** A14: exact percentiles (np.percentile linear interpolation =
    * DuckDB quantile_cont), used by the feature-selection scoring path
    * (feature_selection.py:218-233). Sort-based implementation — the
    * built-in exact `percentile` aggregate's value-count map does not
    * survive high-cardinality columns at scale (Percentiles.scala). */
  def percentiles(s: SparkSession, d: String): DataFrame = {
    val r = graft.ops.Percentiles.exact(
      Tables.lineitem(s, d), "l_extendedprice", Seq(0.25, 0.5, 0.75))
    import s.implicits._
    Seq((r(0.25), r(0.5), r(0.75))).toDF("p25", "p50", "p75")
      .select(round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
        round(col("p75"), 4).as("p75"))
  }

  val percentilesSql: String =
    """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------------------
  // A12/A13: CV/OOF engine (prediction.py:288-530). Model outputs are
  // not SQL-expressible -> no oracle (driver records rows-only);
  // invariants are asserted in CrossValidationSpec.
  // -------------------------------------------------------------------

  /** Orders framed as a supervised problem: predict orderstatus='O'
    * from numeric columns. o_orderkey is the natural unique row id. */
  private def cvFrame(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("row_id"),
      (col("o_orderstatus") === "O").cast("int").as("target"),
      col("o_totalprice"), col("o_custkey").cast("double").as("o_custkey"),
      unix_timestamp(col("o_orderdate")).cast("double").as("o_epoch"))

  private val cvFeatures = Seq("o_totalprice", "o_custkey", "o_epoch")

  /** The single fitted CV run (seed 27) that q31 publishes and q32/q72
    * reuse: fits are deterministic (seeded), so the SeedResult — cached
    * OOF plus its already-computed fold/total metrics — is memoized per
    * session+dir and shared instead of refit. Profiled at sf0.1: one
    * run is ~7 s (3 LogReg fits + stratified fold assign + 4 rank-AUC
    * evaluations); before this memo q32 repaid all of it on top of its
    * own bagged tail (PLANS.md round-7 note). */
  private def cvSeedResult(s: SparkSession, d: String): CrossValidation.SeedResult =
    graft.core.Memo.getOrElseUpdate(
        s"cv_seed27:${s.sparkContext.applicationId}:$d") {
      CrossValidation.runCvOneSeed(
        cvFrame(s, d), test = None, cvFeatures, "target", "row_id",
        Models.LogReg(maxIter = 10),
        CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score"),
        seedVal = 27)
    }

  /** q31: one-seed CV OOF table — every train row scored exactly once
    * by a model that never saw it (run_cv_one_seed). */
  def cvOof(s: SparkSession, d: String): DataFrame =
    cvSeedResult(s, d).oof.select(col("row_id"), col("target"), col("fold"),
      round(col("oof_score"), 4).as("oof_score")).orderBy("row_id")

  /** q32: bagged CV results table (seed, cv_mean_score, cv_std,
    * cv_score_per_each_fold) — prediction.py:490-493. The seed-27 leg
    * is the memoized q31 run (LogReg is seedless, so it serves every
    * seed of the bag — zero refits here). */
  def cvScores(s: SparkSession, d: String): DataFrame = {
    val r = CrossValidation.runCvAndPrediction(
      cvFrame(s, d), test = None, cvFeatures, "target", "row_id",
      Models.LogReg(maxIter = 10),
      CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score"),
      seeds = Seq(27, 42),
      preSeeded = Map(27L -> cvSeedResult(s, d)))
    // Serialize the fold-score array: the driver's pandas harness cannot
    // sort an array column (same shape Solution.scala uses for the CSV sink).
    r.cvResults
      .withColumn("cv_score_per_each_fold",
        concat_ws(",", col("cv_score_per_each_fold")))
      .orderBy("seed")
  }

  // -------------------------------------------------------------------
  // A13 seeded-bag path, oracle-checked (q89 dump + q91 replay): the
  // bagged pivot/vote engine (CrossValidation.bagSeeds/reduceSeedCols)
  // run with a model whose per-seed outputs GENUINELY differ — RF with
  // subsampling, seeds 27/42 — in the hard-label shape
  // (predict_probability=false, target_decimals=0, prediction.py:410-414):
  // labels are integers, so the DuckDB pivot + smallest-tie-break vote
  // replay from q89's dump is exact, with no float-rounding boundary.
  // q32 covers the seedless-reuse branch; this covers hasSeedParam=true.
  // -------------------------------------------------------------------
  // 3 shallow trees: enough for per-seed outputs to differ (what the
  // oracle needs); the fit cost is bench-visible, the model quality is
  // not under test here.
  private def bagModel = Models.RfClassifier(
    numTrees = 3, maxDepth = 3, subsamplingRate = 0.7)
  private def bagCfg = CvConfig(numFolds = 3, stratified = true,
    predictProbability = false, metricName = "accuracy_score",
    targetDecimals = 0)
  private val bagSeedList = Seq(27L, 42L)

  /** Both seeds' CV runs over one shared fold assignment, memoized:
    * q89 dumps them long-form, q91 feeds them to the bagging engine
    * via preSeeded (zero refits). The frame is a deterministic quarter
    * of the corpus: the oracle checks the pivot/vote MATH, which is
    * size-independent, and the 6 RF fits dominate the query's cost. */
  private def rfBagResults(
      s: SparkSession, d: String): Map[Long, CrossValidation.SeedResult] =
    graft.core.Memo.getOrElseUpdate(
        s"rf_bag:${s.sparkContext.applicationId}:$d") {
      val frame = cvFrame(s, d).filter(col("row_id") % 4 === 0)
      val folds = graft.cv.Folds.assign(
        frame.select(("row_id" +: "target" +: cvFeatures).map(col): _*),
        bagCfg.numFolds, bagCfg.dataSplitSeed, Some("target"))
      // both seeds' CVs are independent seeded fits — run them from the
      // outer Par pool; the inner fold loop fans out on the second-level
      // pool, so all 2×3 RF fits overlap (round-18 two-level Par)
      graft.core.Materialize.scoped(folds, eager = true) { folded =>
        graft.core.Par.mapPar(bagSeedList) { seed =>
          seed -> CrossValidation.runCvOneSeed(
            frame, test = None, cvFeatures, "target", "row_id",
            bagModel, bagCfg, seedVal = seed, preFolded = Some(folded))
        }.toMap
      }
    }

  /** q89: both seeds' OOF label predictions, long form — the dump q91's
    * oracle pivots. Model outputs are not SQL-expressible -> rows-only,
    * like q31. */
  def bagOof(s: SparkSession, d: String): DataFrame = {
    val r = rfBagResults(s, d)
    bagSeedList.zipWithIndex.map { case (seed, i) =>
      r(seed).oof.select(col("row_id"), col("target"), col("fold"),
        lit(s"seed_${i + 1}").as("seed"),
        col("oof_score").cast("long").as("oof_label"))
    }.reduce(_ unionByName _).orderBy("seed", "row_id")
  }

  /** q91: the REAL bagging engine (pivot to seed_i columns + majority
    * vote with scipy's smallest-value tie-break) over the q89 runs —
    * the oracle recomputes both from q89's dumped parquet. With two
    * seeds the vote is agreement-or-smallest, i.e. least(). */
  def bagVote(s: SparkSession, d: String): DataFrame = {
    val r = CrossValidation.runCvAndPrediction(
      cvFrame(s, d), test = None, cvFeatures, "target", "row_id",
      bagModel, bagCfg, seeds = bagSeedList, preSeeded = rfBagResults(s, d))
    r.oofBagged.join(r.oof.select(col("row_id"), col("target_OOF")), "row_id")
      .select(col("row_id"), col("target"), col("seed_1"), col("seed_2"),
        col("target_OOF"))
      .orderBy("row_id")
  }

  val bagVoteSql: String =
    """WITH o AS (
      |  SELECT row_id, target, seed, oof_label
      |  FROM read_parquet('__VERIFY_OUT__/q89_bag_oof/*.parquet')
      |),
      |p AS (
      |  SELECT row_id, any_value(target) AS target,
      |         max(CASE WHEN seed = 'seed_1' THEN oof_label END) AS seed_1,
      |         max(CASE WHEN seed = 'seed_2' THEN oof_label END) AS seed_2
      |  FROM o GROUP BY row_id
      |)
      |SELECT row_id, target, seed_1, seed_2,
      |       least(seed_1, seed_2) AS target_OOF
      |FROM p ORDER BY row_id""".stripMargin

  // -------------------------------------------------------------------
  // A16/M10: feature scoring math on deterministic synthetic importance
  // frames (the model-driven loop is exercised in FeatureSelectionSpec;
  // the scoring/rank math is exactly oracle-able).
  // -------------------------------------------------------------------
  def featureScores(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val actual = orders.groupBy(col("o_orderpriority").as("feature")).agg(
      avg("o_totalprice").as("importance_gain"),
      avg("o_custkey").as("importance_split"))
    val nulls = orders.withColumn("run", col("o_orderkey") % 7)
      .groupBy(col("o_orderpriority").as("feature"), col("run")).agg(
        avg("o_totalprice").as("importance_gain"),
        avg("o_custkey").as("importance_split"))
    graft.fs.FeatureSelection.scoreFeatures(actual, nulls)
  }

  val featureScoresSql: String =
    """WITH actual AS (
      |  SELECT o_orderpriority AS feature,
      |         avg(o_totalprice) AS ig, avg(o_custkey) AS isp
      |  FROM orders GROUP BY 1
      |),
      |nulls AS (
      |  SELECT o_orderpriority AS feature, o_orderkey % 7 AS run,
      |         avg(o_totalprice) AS ig, avg(o_custkey) AS isp
      |  FROM orders GROUP BY 1, 2
      |),
      |nullagg AS (
      |  SELECT feature, quantile_cont(ig, 0.75) AS g75, quantile_cont(isp, 0.75) AS s75
      |  FROM nulls GROUP BY feature
      |)
      |SELECT a.feature,
      |       round(ln(1e-10 + a.ig / (1 + n.g75)), 6) AS gain_score,
      |       round(ln(1e-10 + a.isp / (1 + n.s75)), 6) AS split_score
      |FROM actual a JOIN nullagg n ON a.feature = n.feature
      |ORDER BY gain_score, split_score, a.feature""".stripMargin

  /** W1: threshold rank table on a deterministic pseudo-sweep frame. */
  def rankPick(s: SparkSession, d: String): DataFrame = {
    val sweep = Tables.lineitem(s, d)
      .groupBy(col("l_linenumber").cast("double").as("threshold")).agg(
        round(avg("l_extendedprice"), 4).as("cv_bst_score"),
        round(avg("l_discount"), 6).as("cv_std_bst_score"),
        count(lit(1)).as("n_features"))
    graft.fs.FeatureSelection.rankThresholds(sweep)
  }

  val rankPickSql: String =
    """WITH sweep AS (
      |  SELECT CAST(l_linenumber AS DOUBLE) AS threshold,
      |         round(avg(l_extendedprice), 4) AS cv_bst_score,
      |         round(avg(l_discount), 6) AS cv_std_bst_score,
      |         count(*) AS n_features
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT threshold, cv_bst_score, cv_std_bst_score, n_features,
      |       rank() OVER (ORDER BY cv_bst_score ASC) AS cv_bst_score_rank,
      |       rank() OVER (ORDER BY cv_std_bst_score DESC) AS cv_std_bst_score_rank,
      |       rank() OVER (ORDER BY cv_bst_score ASC)
      |         + rank() OVER (ORDER BY cv_std_bst_score DESC) AS total_rank
      |FROM sweep ORDER BY threshold""".stripMargin

  // -------------------------------------------------------------------
  // J2: OOF ensemble join on deterministic pseudo-model predictions —
  // exercises Ensemble.joinOof's join+validation path end-to-end.
  // -------------------------------------------------------------------
  def oofJoin(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(
      col("o_orderkey").as("row_id"),
      (col("o_orderstatus") === "O").cast("int").as("target"))
    def pseudo(mult: Long, mod: Long): DataFrame = base.withColumn(
      "target_OOF", ((col("row_id") * mult) % mod) / lit((mod - 1).toDouble))
    graft.ensemble.Ensemble.joinOof(base, "row_id", "target",
        Seq("m1" -> pseudo(7919L, 983L), "m2" -> pseudo(104729L, 991L)))
      .orderBy("row_id")
  }

  val oofJoinSql: String =
    """SELECT o_orderkey AS row_id,
      |       CAST(o_orderstatus = 'O' AS INT) AS target,
      |       round(((o_orderkey * 7919) % 983) / 982.0, 6) AS m1_target_OOF,
      |       round(((o_orderkey * 104729) % 991) / 990.0, 6) AS m2_target_OOF
      |FROM orders ORDER BY row_id""".stripMargin

  // -------------------------------------------------------------------
  // J1+A8: seed column-bind — per-seed prediction frames pivoted into
  // seed_i columns and row-averaged, on deterministic pseudo
  // predictions so the whole bind+reduce is oracle-checkable.
  // -------------------------------------------------------------------
  def seedBind(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey").as("row_id"))
    // values on a 1e-3 grid -> the mean is on a 5e-4 grid, so the
    // round(6) below never sits on a rounding boundary (engine
    // half-up/half-even conventions cannot disagree)
    def pseudoSeed(i: Int, mult: Long): DataFrame = base.select(
      col("row_id"), lit(s"seed_$i").as("__seed"),
      (((col("row_id") * mult) % 1000) / lit(1000.0)).as("__v"))
    val tagged = pseudoSeed(1, 6151L).unionByName(pseudoSeed(2, 3571L))
    tagged.groupBy("row_id")
      .pivot("__seed", Seq("seed_1", "seed_2"))
      .agg(round(first(col("__v")), 6))
      .withColumn("bagged_mean",
        round((col("seed_1") + col("seed_2")) / 2, 6))
      .orderBy("row_id")
  }

  val seedBindSql: String =
    """SELECT o_orderkey AS row_id,
      |       round(((o_orderkey * 6151) % 1000) / 1000.0, 6) AS seed_1,
      |       round(((o_orderkey * 3571) % 1000) / 1000.0, 6) AS seed_2,
      |       round((((o_orderkey * 6151) % 1000) / 1000.0
      |            + ((o_orderkey * 3571) % 1000) / 1000.0) / 2, 6) AS bagged_mean
      |FROM orders ORDER BY row_id""".stripMargin

  // -------------------------------------------------------------------
  // A12 fully oracle-checked: the CV engine run with modulo folds
  // (KFold shuffle=False path) and the closed-form mean model — every
  // OOF value is the mean of the other folds' targets, exactly
  // SQL-recomputable. This checks the engine's fold slicing, per-fold
  // fit/score wiring, and OOF union against SQL, not just row counts.
  // -------------------------------------------------------------------
  def cvDummyOof(s: SparkSession, d: String): DataFrame = {
    val frame = Tables.orders(s, d).select(
      col("o_orderkey").as("row_id"),
      col("o_totalprice").as("target"),
      col("o_custkey").cast("double").as("o_custkey"))
    val folded = graft.cv.Folds.assignModulo(frame, 3, "row_id")
    val r = CrossValidation.runCvOneSeed(
      frame, test = None, Seq("o_custkey"), "target", "row_id",
      Models.DummyMean(),
      CvConfig(numFolds = 3, predictProbability = false,
        metricName = "mean_absolute_error"),
      seedVal = 27, preFolded = Some(folded))
    r.oof.select(col("row_id"), col("fold"),
      round(col("oof_score"), 2).as("oof_score")).orderBy("row_id")
  }

  val cvDummyOofSql: String =
    """WITH f AS (
      |  SELECT o_orderkey AS row_id, o_totalprice AS target,
      |         o_orderkey % 3 AS fold
      |  FROM orders
      |),
      |oof AS (
      |  SELECT a.fold, avg(b.target) AS m
      |  FROM (SELECT DISTINCT fold FROM f) a
      |  JOIN f b ON b.fold <> a.fold
      |  GROUP BY a.fold
      |)
      |SELECT row_id, CAST(f.fold AS INT) AS fold, round(oof.m, 2) AS oof_score
      |FROM f JOIN oof ON f.fold = oof.fold
      |ORDER BY row_id""".stripMargin

  // -------------------------------------------------------------------
  // A12 metric table, oracle-checked against the REAL model's OOF:
  // the driver dumps q31's result parquet, and this query recomputes the
  // cvResults table (prediction.py:398-408, 490-493) from the same
  // rounded OOF scores — so the DuckDB oracle can replay the identical
  // per-fold rank-AUC + mean/std from the dumped file (path templated by
  // Verify as __VERIFY_OUT__). Fits stay MLlib-only; the metric math is
  // what is hash-checked.
  // -------------------------------------------------------------------
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def cvMetricReplay(s: SparkSession, d: String): DataFrame = {
    val (foldScores, fullOof) = graft.core.Materialize.scoped(cvOof(s, d)
        .select(col("fold"), col("target"), col("oof_score"))) { oof =>
      val byFold = Metrics.rocAucByGroup(oof, "fold", "target", "oof_score")
      // cv_mean_score is the metric over the FULL OOF (prediction.py:405,
      // CrossValidation.cvScore), not the mean of per-fold scores; cv_std
      // stays the population std of the fold scores (prediction.py:482).
      ((0 until 3).map(f => round6(byFold(f))),
        round6(Metrics.rocAuc(oof, "target", "oof_score")))
    }
    val mean = foldScores.sum / foldScores.size
    val std = math.sqrt(
      foldScores.map(v => (v - mean) * (v - mean)).sum / foldScores.size)
    import s.implicits._
    Seq((27, fullOof, round6(std),
        foldScores(0), foldScores(1), foldScores(2)))
      .toDF("seed", "cv_mean_score", "cv_std",
        "fold0_score", "fold1_score", "fold2_score")
  }

  /** Replays the identical metric from q31's driver-dumped parquet; the
    * `__VERIFY_OUT__` placeholder is replaced with the absolute verify
    * out-dir by graft.Verify at dump time. Same average-rank AUC shape
    * as metricsSql, partitioned per fold for the fold columns and
    * unpartitioned for cv_mean_score (the full-OOF metric,
    * prediction.py:405); population std over the rounded fold scores
    * with an unrounded mean, exactly as the Spark side computes it. */
  val cvMetricReplaySql: String =
    """WITH oof AS (
      |  SELECT fold, CAST(target AS DOUBLE) AS t, oof_score AS s
      |  FROM read_parquet('__VERIFY_OUT__/q31_cv_oof/*.parquet')
      |),
      |g AS (
      |  SELECT fold, s, count(*) AS n, sum(t) AS pos
      |  FROM oof GROUP BY fold, s
      |),
      |r AS (
      |  SELECT fold, pos, n,
      |         sum(n) OVER (PARTITION BY fold ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n + (n + 1) / 2.0 AS avg_rank
      |  FROM g
      |),
      |auc AS (
      |  SELECT fold,
      |         round((sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1) / 2.0)
      |               / (sum(pos) * sum(n - pos)), 6) AS v
      |  FROM r GROUP BY fold
      |),
      |gf AS (
      |  SELECT s, count(*) AS n, sum(t) AS pos FROM oof GROUP BY s
      |),
      |rf AS (
      |  SELECT pos, n,
      |         sum(n) OVER (ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n + (n + 1) / 2.0 AS avg_rank
      |  FROM gf
      |),
      |aucfull AS (
      |  SELECT round((sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1) / 2.0)
      |               / (sum(pos) * sum(n - pos)), 6) AS v
      |  FROM rf
      |),
      |m AS (SELECT avg(v) AS mu FROM auc)
      |SELECT 27 AS seed,
      |       (SELECT v FROM aucfull) AS cv_mean_score,
      |       round(sqrt((SELECT avg((v - mu) * (v - mu)) FROM auc, m)), 6) AS cv_std,
      |       max(CASE WHEN fold = 0 THEN v END) AS fold0_score,
      |       max(CASE WHEN fold = 1 THEN v END) AS fold1_score,
      |       max(CASE WHEN fold = 2 THEN v END) AS fold2_score
      |FROM auc""".stripMargin

  // -------------------------------------------------------------------
  // M5: SHAP values, natively (prediction.py:256-286 runs the shap
  // library over LightGBM models; here TreeSHAP over MLlib GBT trees,
  // graft.ml.Shap). The recursion itself is pinned to brute-force
  // Shapley values in ShapSpec; the driver-level check replays the
  // additivity identity bias + sum(phi) = raw margin: `check` is
  // round(margin, 6) computed by MLlib's own predictor on the Spark
  // side, and round(bias + sum of the dumped shap columns, 6) on the
  // DuckDB side — the two agree only if the attribution is exact.
  // -------------------------------------------------------------------
  def treeShapQ(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.getOrElseUpdate(
        s"q73_tree_shap:${s.sparkContext.applicationId}:$d") {
      val frame = cvFrame(s, d).withColumn("__label",
        col("target").cast("double"))
      val assembled = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(cvFeatures.toArray).setOutputCol("__features")
        .transform(frame)
      val m = new org.apache.spark.ml.classification.GBTClassifier()
        .setMaxIter(5).setMaxDepth(3).setSeed(27)
        .setFeaturesCol("__features").setLabelCol("__label")
        .fit(assembled)
      val shap = graft.ml.Shap.treeShap(
        frame.drop("__label"), graft.ml.Shap.gbtEnsemble(m), cvFeatures)
      val margin = m.transform(assembled).select(col("row_id"),
        org.apache.spark.ml.functions
          .vector_to_array(col("rawPrediction")).getItem(1).as("margin"))
      shap.join(margin, "row_id")
        .select(col("row_id"), col("shap_o_totalprice"), col("shap_o_custkey"),
          col("shap_o_epoch"), col("shap_bias"),
          round(col("margin"), 6).as("check"))
        .orderBy("row_id")
        // lazy checkpoint: the memo previously stored only the LAZY plan,
        // so the GBT fit was shared but every consumer (q73's own dump
        // AND q75's aggregate) re-executed the whole transform + SHAP
        // expression chain; whichever query evaluates first now
        // materializes it once (round-18)
        .localCheckpoint(false)
    }

  val treeShapSql: String =
    """SELECT row_id, shap_o_totalprice, shap_o_custkey, shap_o_epoch,
      |       shap_bias,
      |       round(shap_bias + shap_o_totalprice + shap_o_custkey
      |             + shap_o_epoch, 6) AS check
      |FROM read_parquet('__VERIFY_OUT__/q73_tree_shap/*.parquet')
      |ORDER BY row_id""".stripMargin

  /** M5 summary table: mean |shap| per feature — the data behind the
    * reference's shap summary output. Single aggregate pass over the
    * memoized q73 frame; oracle recomputes from q73's dump. */
  def shapImportance(s: SparkSession, d: String): DataFrame = {
    val shap = treeShapQ(s, d)
    val aggs = cvFeatures.map(f =>
      round(avg(abs(col(s"shap_$f"))), 6).as(f))
    shap.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"""stack(${cvFeatures.size},
           |${cvFeatures.map(f => s"'$f', $f").mkString(", ")})
           |AS (feature, mean_abs_shap)""".stripMargin)
      .orderBy("feature")
  }

  val shapImportanceSql: String =
    """WITH s AS (
      |  SELECT * FROM read_parquet('__VERIFY_OUT__/q73_tree_shap/*.parquet')
      |)
      |SELECT feature, mean_abs_shap FROM (
      |  SELECT 'o_totalprice' AS feature,
      |         round(avg(abs(shap_o_totalprice)), 6) AS mean_abs_shap FROM s
      |  UNION ALL SELECT 'o_custkey', round(avg(abs(shap_o_custkey)), 6) FROM s
      |  UNION ALL SELECT 'o_epoch', round(avg(abs(shap_o_epoch)), 6) FROM s
      |) ORDER BY feature""".stripMargin

  // -------------------------------------------------------------------
  // M5 linear branch: LinearSHAP with a genuinely external oracle. The
  // single-feature OLS slope has the closed form covar_pop/var_pop, so
  // DuckDB recomputes the identical attribution from the raw table —
  // no dump replay involved. (MLlib LinearRegression's coefficient
  // equals this slope; ShapSpec ties the model-object path in.)
  // -------------------------------------------------------------------
  def linearShapQ(s: SparkSession, d: String): DataFrame = {
    val df = Tables.orders(s, d).select(
      col("o_orderkey").as("row_id"),
      col("o_custkey").cast("double").as("x"),
      col("o_totalprice").as("y"))
    val r = df.agg(
      (covar_pop(col("x"), col("y")) / var_pop(col("x"))).as("coef"),
      avg("x").as("mx"), avg("y").as("my")).head()
    val coef = r.getDouble(0); val mx = r.getDouble(1); val my = r.getDouble(2)
    graft.ml.Shap.linearShap(df, Seq("x"),
        Array(coef), Array(mx), intercept = my - coef * mx)
      .select(col("row_id"), round(col("shap_x"), 4).as("shap_x"),
        round(col("shap_bias"), 4).as("shap_bias"))
      .orderBy("row_id")
  }

  val linearShapSql: String =
    """WITH s AS (
      |  SELECT covar_pop(o_custkey, o_totalprice) / var_pop(o_custkey) AS c,
      |         avg(o_custkey) AS mx, avg(o_totalprice) AS my
      |  FROM orders
      |)
      |SELECT o_orderkey AS row_id,
      |       round(s.c * (o_custkey - s.mx), 4) AS shap_x,
      |       round(s.my, 4) AS shap_bias
      |FROM orders, s ORDER BY row_id""".stripMargin

  // -------------------------------------------------------------------
  // A15/A16 with REAL fits, oracle-checked via dump-replay (the q89
  // pattern): q96 dumps the actual-importance fit (run=0) plus 3
  // null-importance fits on permuted targets (runs 1-3) — model
  // outputs, rows-only; q97 runs the scoring math over that dump and
  // its DuckDB oracle recomputes act-mean / null-p75 / log-score from
  // the same parquet. q37 oracles the scoring math on synthetic
  // frames; this pair oracles it over the real permutation engine.
  // -------------------------------------------------------------------
  private def fsExplorer = Models.RfClassifier(
    numTrees = 3, maxDepth = 3, subsamplingRate = 0.7)

  private def nullImpDump(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.getOrElseUpdate(
        s"null_imp:${s.sparkContext.applicationId}:$d") {
      val frame = cvFrame(s, d).filter(col("row_id") % 4 === 0)
      // all 4 explorer fits (actual run 0 + 3 null runs) overlap in one
      // Par fan-out — row-identical to the sequential actual-then-nulls
      // form (round-18)
      graft.fs.FeatureSelection.importancesWithNulls(
          frame, cvFeatures, "target", fsExplorer, 27L, nbRuns = 3)
        .select(col("feature"), round(col("importance_gain"), 6).as("importance_gain"),
          round(col("importance_split"), 6).as("importance_split"), col("run"))
        .localCheckpoint(false)
    }

  /** q96: the dumped importance runs (rows-only — model outputs). */
  def nullImportancesDump(s: SparkSession, d: String): DataFrame =
    nullImpDump(s, d).orderBy("run", "feature")

  /** q97: A16 scoring over the dump — DuckDB replays act-mean,
    * null-p75 and the log score from q96's parquet. */
  def nullImportanceScores(s: SparkSession, d: String): DataFrame = {
    val dump = nullImpDump(s, d)
    graft.fs.FeatureSelection.scoreFeatures(
      dump.filter(col("run") === 0), dump.filter(col("run") > 0))
  }

  val nullImportanceScoresSql: String =
    """WITH dump AS (
      |  SELECT feature, importance_gain, importance_split, run
      |  FROM read_parquet('__VERIFY_OUT__/q96_null_imp_dump/*.parquet')
      |),
      |act AS (
      |  SELECT feature, avg(importance_gain) AS act_gain,
      |         avg(importance_split) AS act_split
      |  FROM dump WHERE run = 0 GROUP BY feature
      |),
      |nul AS (
      |  SELECT feature, quantile_cont(importance_gain, 0.75) AS p_gain,
      |         quantile_cont(importance_split, 0.75) AS p_split
      |  FROM dump WHERE run > 0 GROUP BY feature
      |)
      |SELECT feature,
      |       round(ln(1e-10 + act_gain / (1 + p_gain)), 6) AS gain_score,
      |       round(ln(1e-10 + act_split / (1 + p_split)), 6) AS split_score
      |FROM act JOIN nul USING (feature)
      |ORDER BY gain_score, split_score, feature""".stripMargin

  // -------------------------------------------------------------------
  // A17/W1 end-to-end, oracle-checked via dump-replay (the q96/q97
  // pattern): q126 dumps the per-threshold CV sweep table from REAL
  // fits (model outputs — rows-only), sweeping one threshold per
  // distinct feature score so every threshold keeps a non-empty,
  // different-sized feature set; q127 replays the W1 rank-and-pick
  // (asc score rank + desc std rank, argmax total with first-occurrence
  // tie-break) over that dump, recomputed exactly in DuckDB. Closes the
  // last uncovered surface of feature_selection.py:235-340.
  // -------------------------------------------------------------------
  private def sweepDump(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.getOrElseUpdate(
        s"fs_sweep:${s.sparkContext.applicationId}:$d") {
      val frame = cvFrame(s, d).filter(col("row_id") % 4 === 0)
      val dump = nullImpDump(s, d)
      val scores = graft.fs.FeatureSelection.scoreFeatures(
        dump.filter(col("run") === 0), dump.filter(col("run") > 0))
      // one threshold per distinct score: keeps 3, 2, 1 features in turn
      val ts = scores.select("gain_score").collect()
        .map(_.getDouble(0)).distinct.sorted.toSeq
      graft.fs.FeatureSelection.thresholdSweep(
          frame, "target", "row_id", scores, ts, fsExplorer,
          CvConfig(numFolds = 3, stratified = true, metricName = "roc_auc_score"),
          seed = 27L)
        // round BEFORE ranking so q127's Spark ranks and the DuckDB
        // replay rank the identical dumped values (no float boundary)
        .select(round(col("threshold"), 6).as("threshold"),
          round(col("cv_bst_score"), 6).as("cv_bst_score"),
          round(col("cv_std_bst_score"), 6).as("cv_std_bst_score"),
          col("n_features").cast("long").as("n_features"))
        .localCheckpoint(false)
    }

  /** q126: the dumped sweep table (rows-only — CV scores are model
    * outputs). */
  def thresholdSweepDump(s: SparkSession, d: String): DataFrame =
    sweepDump(s, d).orderBy("threshold")

  /** q127: W1 rank table + best-threshold pick over the q126 dump. */
  def thresholdRank(s: SparkSession, d: String): DataFrame = {
    val ranked = graft.fs.FeatureSelection.rankThresholds(sweepDump(s, d))
    val best = graft.fs.FeatureSelection.bestThreshold(ranked)
    ranked.withColumn("is_best", col("threshold") === lit(best))
      .orderBy("threshold")
  }

  val thresholdRankSql: String =
    """WITH sweep AS (
      |  SELECT threshold, cv_bst_score, cv_std_bst_score, n_features
      |  FROM read_parquet('__VERIFY_OUT__/q126_threshold_sweep/*.parquet')
      |),
      |r AS (
      |  SELECT *,
      |    CAST(rank() OVER (ORDER BY cv_bst_score ASC) AS BIGINT)
      |      AS cv_bst_score_rank,
      |    CAST(rank() OVER (ORDER BY cv_std_bst_score DESC) AS BIGINT)
      |      AS cv_std_bst_score_rank
      |  FROM sweep
      |),
      |t AS (SELECT *, cv_bst_score_rank + cv_std_bst_score_rank
      |        AS total_rank FROM r),
      |b AS (SELECT threshold AS best_t FROM t
      |      ORDER BY total_rank DESC, threshold ASC LIMIT 1)
      |SELECT threshold, cv_bst_score, cv_std_bst_score, n_features,
      |       cv_bst_score_rank, cv_std_bst_score_rank, total_rank,
      |       threshold = (SELECT best_t FROM b) AS is_best
      |FROM t ORDER BY threshold""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_threshold_sweep" -> (thresholdSweepDump _),
    "q127_threshold_rank" -> (thresholdRank _),
    "q96_null_imp_dump" -> (nullImportancesDump _),
    "q97_null_imp_scores" -> (nullImportanceScores _),
    "q63_cv_dummy_oof" -> (cvDummyOof _),
    "q62_seed_bind" -> (seedBind _),
    "q36_metrics" -> (metrics _),
    "q39_percentile" -> (percentiles _),
    "q31_cv_oof" -> (cvOof _),
    "q32_cv_scores" -> (cvScores _),
    "q89_bag_oof" -> (bagOof _),
    "q91_bag_vote" -> (bagVote _),
    "q37_feature_scores" -> (featureScores _),
    "q48_rank_pick" -> (rankPick _),
    "q38_oof_join" -> (oofJoin _),
    "q72_cv_metric_replay" -> (cvMetricReplay _),
    "q73_tree_shap" -> (treeShapQ _),
    "q74_linear_shap" -> (linearShapQ _),
    "q75_shap_importance" -> (shapImportance _))

  val oracles: Map[String, String] = Map(
    "q127_threshold_rank" -> thresholdRankSql,
    "q97_null_imp_scores" -> nullImportanceScoresSql,
    "q91_bag_vote" -> bagVoteSql,
    "q72_cv_metric_replay" -> cvMetricReplaySql,
    "q73_tree_shap" -> treeShapSql,
    "q74_linear_shap" -> linearShapSql,
    "q75_shap_importance" -> shapImportanceSql,
    "q63_cv_dummy_oof" -> cvDummyOofSql,
    "q62_seed_bind" -> seedBindSql,
    "q36_metrics" -> metricsSql,
    "q39_percentile" -> percentilesSql,
    "q37_feature_scores" -> featureScoresSql,
    "q48_rank_pick" -> rankPickSql,
    "q38_oof_join" -> oofJoinSql)
}
