package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize
import graft.cv.CrossValidation
import graft.cv.CrossValidation.CvConfig
import graft.io.{Hocon, ProjectPaths, Sources}
import graft.ml.{Models, ModelWrapper}

/** Entry point 1: `BuildSolution` — the config-driven single-model
  * pipeline (solution_pipeline/create_solution.py:32-377,822-832),
  * stage-for-stage on the Pipeline file-target DAG:
  *
  *   TrainDataIngestion  (S1 scan + A1 downcast -> train_new/test_new.csv)
  *   RunSingleModelPrediction (A12/A13 CV -> train_OOF.csv, test.csv,
  *     cv_results.csv, config copy, OOF manifest)
  *
  * Artifact names match the reference byte-for-byte
  * (prediction.py:26-34: train_OOF.csv, test.csv, cv_results.csv) so
  * the memoization contract survives a switchover. FS/HPO stages hook
  * in through graft.fs / graft.hpo when enabled.
  *
  * Shared frames, each pinned through `core.Materialize.deferred` (read
  * and cached by the first task that asks, released when its owner
  * returns or throws, never read when every task is skipped):
  *  - a model's training frame, its class count and feature list: owned
  *    by that model's step of [[build]], shared by its FeatureSelection,
  *    RunSingleModelHPO and RunSingleModelPrediction tasks;
  *  - the single models' joined, validated OOF matrix and joined test
  *    matrix: owned by [[buildSolution]]'s ensemble stage, shared by
  *    every stacker and by the blender when it blends the single models.
  *    The blender reads the OOF matrix last, and `Ensemble.blend`'s own
  *    `Materialize.scoped` releases that pin when it returns; the
  *    stage's release of it is then a no-op.
  */
object Solution {

  /** Reference metric-name -> registry key (utils.py:74-89 resolves
    * sklearn names; ours are keyed the same). */
  private def metricKey(name: String): String = name match {
    case "accuracy_score" | "accuracy" | "multi_error" => "accuracy_score"
    case "roc_auc_score" | "auc" => "roc_auc_score"
    case "log_loss" | "logloss" | "multi_logloss" => "log_loss"
    case "mean_absolute_error" | "mae" => "mean_absolute_error"
    case "rmse" => "rmse"
    case other => other
  }

  /** Model factory honoring the multiclass gap (MLlib GBT is
    * binary-only, so gbt-family names fall back to RandomForest when
    * the target has more than two classes, SURVEY §7.4.4) and the
    * hyper-parameter translation from the reference's sklearn/lgbm
    * names (hp_optimization spaces, solution.conf:106-211) to their
    * MLlib analogues. Unknown names are ignored (the reference coerces
    * dtypes per model the same way, model_wrappers.py:62-72). */
  private def modelFor(name: String, nClasses: Long,
      params: Map[String, Double] = Map.empty): ModelWrapper = {
    def i(k: String, d: Int): Int = params.get(k).map(_.toInt).getOrElse(d)
    def f(k: String, d: Double): Double = params.getOrElse(k, d)
    val treeDepth = i("max_depth", 6)
    val nTrees = i("n_estimators", 50)
    name match {
      case "lightgbm" | "xgboost" | "gbt" if nClasses <= 2 =>
        Models.GbtBinaryClassifier(maxIter = i("n_estimators", 50),
          maxDepth = treeDepth, stepSize = f("learning_rate", 0.1))
      case "lightgbm" | "xgboost" | "gbt" =>
        // multiclass objective (solution.conf num_class): one-vs-rest
        // boosted trees, the boosted-family answer instead of the old
        // RandomForest stand-in. Boost rounds default low: each round is
        // K sequential tree fits, and CV x seeds x HPO multiplies them.
        Models.OvrGbtClassifier(maxIter = i("n_estimators", 10),
          maxDepth = treeDepth, stepSize = f("learning_rate", 0.1),
          numClasses = nClasses.toInt)
      case "et" | "random_forest" =>
        Models.RfClassifier(numTrees = nTrees, maxDepth = treeDepth,
          subsamplingRate = f("subsample", 1.0))
      case "logistic_regression" | "lr" =>
        // sklearn C is inverse regularization strength
        Models.LogReg(maxIter = i("max_iter", 100),
          regParam = params.get("C").map(c => 1.0 / c).getOrElse(0.0))
      case "linear_regression" | "linreg" =>
        Models.LinReg(regParam = params.get("C").map(c => 1.0 / c).getOrElse(0.0))
      case other => Models.byName(other)
    }
  }

  /** HPO box for a model from the config's hpo_space (only dimensions
    * with an MLlib analogue; ints per the reference's dtype coercion). */
  private def hpoSpaceFor(cfg: Hocon.Config, model: String): Option[graft.hpo.RandomSearch.Space] = {
    val base = s"hp_optimization.bayes.hpo_space.single_model_solution.$model"
    if (!cfg.has(base)) return None
    val known = Set("max_depth", "learning_rate", "n_estimators", "subsample", "C", "tol")
    val intParams = Set("max_depth", "n_estimators")
    val bounds = cfg.getConfig(base).keys().collect {
      case k if known.contains(k) =>
        val lst = cfg.getList(s"$base.$k").collect { case Hocon.Num(d, _) => d }
        k -> (lst.head, lst.last)
    }.toMap
    if (bounds.isEmpty) None
    else Some(graft.hpo.RandomSearch.Space(bounds, intParams intersect bounds.keySet))
  }

  final case class ModelRun(
      model: String, outputDir: String, cvScore: Double, cvStd: Double,
      report: Pipeline.Report)

  final case class BuildResult(
      models: Seq[ModelRun], stackers: Seq[ModelRun], blender: Option[ModelRun])

  /** BuildSolution root: single models, then the stacking branch
    * (create_solution.py:409-636) and blending branch
    * (create_solution.py:639-797) when enabled. */
  def buildSolution(spark: SparkSession, projectLocation: String,
      configDirectory: String, configFile: String): BuildResult = {
    val models = build(spark, projectLocation, configDirectory, configFile)
    val cfgPath = Paths.get(projectLocation, configDirectory, configFile).toString
    val cfg = Hocon.parseFile(cfgPath)
    val paths = new ProjectPaths(cfg)
    val target = cfg.getString("raw_data_settings.target_column")
    val idCol = cfg.getStringOrNull("raw_data_settings.index_column").getOrElse("__row_id")

    def loadOofMatrix(inputs: Seq[(String, String)]): DataFrame = {
      // (modelId, dir) -> join train_OOF.csv frames on the row id (J2)
      val frames = inputs.map { case (m, dir) =>
        m -> Sources.readCsv(spark, s"$dir/train_OOF.csv")
      }
      val base = frames.head._2.select(col(idCol), col(target))
      graft.ensemble.Ensemble.joinOof(base, idCol, target, frames)
    }

    /** Join per-model test.csv predictions on the row id (no target
      * column on the test side — prediction columns keep the plain
      * target name, prediction.py:301-309). */
    def loadTestMatrix(inputs: Seq[(String, String)]): DataFrame = {
      val frames = inputs.map { case (m, dir) =>
        m -> Sources.readCsv(spark, s"$dir/test.csv")
      }
      frames.foldLeft(frames.head._2.select(col(idCol))) {
        case (acc, (m, df)) =>
          val preds = df.columns.filterNot(_ == idCol)
          acc.join(df.select(
            (col(idCol) +: preds.map(c => col(c).as(s"${m}_$c"))).toSeq: _*), Seq(idCol))
      }
    }

    val predictTestGlobal =
      !cfg.has("modeling_settings.predict_test") || cfg.getBool("modeling_settings.predict_test")
    val singleInputs = models.map(r => r.model -> r.outputDir)

    // The single models' OOF and test matrices are read, joined and
    // validated once, by the first task that asks, and held until the
    // ensemble stage ends; on a complete project nothing reads them.
    Materialize.deferred(loadOofMatrix(singleInputs)) { singleOof =>
      Materialize.deferred(loadTestMatrix(singleInputs)) { singleTest =>
        lazy val nClasses = singleOof.get.select(target).distinct().count()

        // ---- stacking branch -------------------------------------------
        val stackers: Seq[ModelRun] =
          if (!cfg.getBool("modeling_settings.run_stacking")) Seq.empty
          else cfg.getStringList("stacker.meta_models").map { meta =>
            val (runHpo, runBagging) = paths.stackerFlags(meta)
            val (_, stackDir) = paths.stackedSolutionDir(meta, runHpo, runBagging)
            val outDir = Paths.get(projectLocation, stackDir).toString
            var score = (0.0, 0.0)
            val task = Pipeline.Task(s"RunSingleStacker_$meta",
              Seq(s"$outDir/train_OOF.csv", s"$outDir/cv_results.csv") ++
                (if (predictTestGlobal) Seq(s"$outDir/test.csv") else Seq.empty))(() => {
              val sc = cfg.getConfig("stacker.cv_params")
              val cc = CvConfig(
                numFolds = sc.getInt("num_folds"),
                stratified = sc.getBool("stratified"),
                dataSplitSeed = cfg.getLong("modeling_settings.data_split_seed"),
                predictProbability =
                  cfg.getBool(s"stacker.$meta.predict_probability") && nClasses == 2,
                metricName = metricKey(cfg.getString(s"stacker.$meta.metrics_scorer")),
                targetDecimals = cfg.getInt(s"stacker.$meta.target_decimals"),
                metricsDecimals = cfg.getInt(s"stacker.$meta.metrics_decimals"))
              val seeds = cfg.getLongList("modeling_settings.model_seeds_list")
              val usedSeeds = if (runBagging) seeds else seeds.take(1)
              val testOof = if (predictTestGlobal) Some(singleTest.get) else None
              val r = graft.ensemble.Ensemble.stack(singleOof.get, testOof, target, idCol,
                modelFor(meta, nClasses), cc, usedSeeds)
              score = (r.cvScore, r.cvStd)
              val decimals = Some(cc.targetDecimals).filter(_ > 0)
              Sources.writeCsv(r.oof, s"$outDir/train_OOF.csv", decimals, sortBy = Seq(idCol))
              r.testPreds.foreach(tp =>
                Sources.writeCsv(tp, s"$outDir/test.csv", decimals, sortBy = Seq(idCol)))
              Sources.writeCsv(r.cvResults.withColumn("cv_score_per_each_fold",
                  concat_ws(",", col("cv_score_per_each_fold"))),
                s"$outDir/cv_results.csv",
                floatDecimals = Some(cc.metricsDecimals).filter(_ > 0))
            })
            val report = Pipeline.execute(task) // must run before reading `score`
            ModelRun(meta, outDir, score._1, score._2, report)
          }

        // ---- blending branch -------------------------------------------
        val blender: Option[ModelRun] =
          if (!cfg.getBool("modeling_settings.run_blending")) None
          else {
            val method = cfg.getString("modeling_settings.blender_method")
            val (_, blendDir) = paths.blendedSolutionDir(method)
            val outDir = Paths.get(projectLocation, blendDir).toString
            val blendTest = predictTestGlobal
            var score = 0.0
            val task = Pipeline.Task(s"RunSingleBlender_$method",
              Seq(s"$outDir/blend_weights.txt", s"$outDir/blend_history.csv") ++
                (if (blendTest) Seq(s"$outDir/test.csv") else Seq.empty))(() => {
              val useStacked = cfg.getBool("modeling_settings.blend_stacked_results") &&
                stackers.nonEmpty
              val stackedInputs = stackers.map(r => r.model -> r.outputDir)
              val oofMatrix = if (useStacked) loadOofMatrix(stackedInputs) else singleOof.get
              val predCols = oofMatrix.columns.filterNot(c => c == idCol || c == target).toSeq
              // voting type auto-detect (blender.py:202-227): all-integer
              // prediction columns -> hard vote, else soft
              val hard = predCols.forall { c =>
                oofMatrix.schema(c).dataType.typeName match {
                  case "integer" | "long" | "short" | "byte" => true
                  case _ => false
                }
              }
              val r = graft.ensemble.Ensemble.blend(oofMatrix, predCols, target,
                metricKey(cfg.getString("modeling_settings.cv_params.metrics_scorer")),
                nIter = 10, seed = cfg.getLong("modeling_settings.blender_seed"),
                hardVote = hard)
              score = r.score
              Sources.writeJsonManifest(s"$outDir/blend_weights.txt",
                r.weights.map { case (k, v) => k -> v.toString })
              Sources.writeCsv(r.history, s"$outDir/blend_history.csv", floatDecimals = None)
              // test-side blend: apply the optimal weights to the joined
              // per-model test predictions (blender.py:369-384)
              if (blendTest) {
                val joined = if (useStacked) loadTestMatrix(stackedInputs) else singleTest.get
                // OOF weight keys carry the reference's _OOF suffix; test
                // prediction columns do not (prediction.py:301-309)
                val wByCol = r.weights.map { case (k, v) => k.stripSuffix("_OOF") -> v }
                val predCols = joined.columns.filterNot(_ == idCol).toSeq
                val w = predCols.map(c => wByCol.getOrElse(c, 0.0))
                val blendedCol =
                  if (hard) graft.ops.RowOps.weightedVote(predCols.map(col), w).cast("double")
                  else graft.ops.RowOps.weightedMean(predCols.map(col), w)
                Sources.writeCsv(joined.withColumn(target, blendedCol).select(col(idCol), col(target)),
                  s"$outDir/test.csv", floatDecimals = None, sortBy = Seq(idCol))
              }
            })
            val report = Pipeline.execute(task) // must run before reading `score`
            Some(ModelRun(method, outDir, score, 0.0, report))
          }
        BuildResult(models, stackers, blender)
      }
    }
  }

  /** Run every model in `modeling_settings.models` through
    * ingest -> CV -> sinks under `projectLocation`. */
  def build(spark: SparkSession, projectLocation: String, configDirectory: String,
      configFile: String): Seq[ModelRun] = {
    val cfgPath = Paths.get(projectLocation, configDirectory, configFile).toString
    val cfg = Hocon.parseFile(cfgPath)
    val paths = new ProjectPaths(cfg)
    val target = cfg.getString("raw_data_settings.target_column")
    val indexCol = cfg.getStringOrNull("raw_data_settings.index_column")
    val seeds = cfg.getLongList("modeling_settings.model_seeds_list")
    val cvP = cfg.getConfig("modeling_settings.cv_params")
    // debug mode: nrows-limited ingest (create_solution.py:43-56)
    val debugRows: Option[Int] =
      if (cfg.has("modeling_settings.debug") && cfg.getBool("modeling_settings.debug"))
        Some(cfg.getInt("modeling_settings.num_rows"))
      else None
    val predictTest =
      !cfg.has("modeling_settings.predict_test") || cfg.getBool("modeling_settings.predict_test")
    // P1 exclusion list (prediction.py:311-317); target handled separately
    val colsToExclude: Set[String] =
      if (cfg.has("modeling_settings.cols_to_exclude"))
        cfg.getStringList("modeling_settings.cols_to_exclude").toSet
      else Set.empty

    cfg.getStringList("modeling_settings.models").map { model =>
      val (runFs, runHpo, runBagging) = paths.singleModelFlags(model)
      val (_, fgDir) = paths.featureGenerationDir(model)
      val (_, solDir) = paths.solutionDir(model, runFs, runHpo, runBagging)
      val outDir = Paths.get(projectLocation, solDir).toString
      val ingestDir = Paths.get(projectLocation, fgDir).toString

      val trainCsv = s"$ingestDir/${cfg.getString("features_generation.train_file")}"
      val testCsv = s"$ingestDir/${cfg.getString("features_generation.test_file")}"
      val trainNew = s"$ingestDir/train_new.csv"
      val testNew = s"$ingestDir/test_new.csv"

      // Stage 1: TrainDataIngestion (create_solution.py:32-69)
      val ingest = Pipeline.Task(s"TrainDataIngestion_$model",
        Seq(trainNew, testNew))(() => {
        Sources.writeCsv(Sources.readCsv(spark, trainCsv, debugRows, downcast = true),
          trainNew, None)
        Sources.writeCsv(Sources.readCsv(spark, testCsv, debugRows, downcast = true),
          testNew, None)
      })

      // shared frame loading for the FS/HPO/predict stages
      val idCol = indexCol.getOrElse("__row_id")
      def withId(df: DataFrame): DataFrame = indexCol match {
        // synthesize a stable 1-based row id when the dataset declares
        // none (SURVEY §7.4.1): the dense index of the deterministic
        // content-hash order (core.PrefixSum) — no single-partition
        // window at any size
        case Some(_) => df
        case None =>
          val (indexed, _) = graft.core.PrefixSum.rowIndex(
            df.withColumn("__h", xxhash64(df.columns.map(col).toSeq: _*)),
            Seq(col("__h")), None)
          indexed.withColumn(idCol, col("__idx") + 1).drop("__h", "__idx")
      }
      def cvConfigFor(nClasses: Long): CvConfig = {
        val predictProb = cfg.getBool(s"modeling_settings.$model.predict_probability")
        CvConfig(
          numFolds = cvP.getInt("num_folds"),
          stratified = cvP.getBool("stratified"),
          dataSplitSeed = cfg.getLong("modeling_settings.data_split_seed"),
          predictProbability = predictProb && nClasses == 2,
          classLabel = if (cfg.has(s"modeling_settings.$model.class_label"))
            cfg.getInt(s"modeling_settings.$model.class_label") else 1,
          metricName = metricKey(cvP.getString("metrics_scorer")),
          targetDecimals = cvP.getInt("target_decimals"),
          metricsDecimals = cvP.getInt("metrics_decimals"))
      }

      // The FS, HPO and prediction tasks share one training frame, its
      // class count and its feature list: loaded by the first task that
      // runs, released when this model's DAG returns or throws.
      var score = (0.0, 0.0)
      val report = Materialize.deferred(withId(Sources.readCsv(spark, trainNew))) { train =>
        lazy val nClasses = train.get.select(target).distinct().count()
        lazy val allFeatures = train.get.columns
          .filterNot(c => c == target || c == idCol || colsToExclude.contains(c)).toSeq.sorted

        // Stage FeatureSelection (create_solution.py:72-171, when run_fs)
        val (_, fsDir) = paths.featureSelectionDir(model, runFs)
        val fsOut = Paths.get(projectLocation, fsDir).toString
        val fsTask: Option[Pipeline.Task] = if (!runFs) None else Some(
          Pipeline.Task(s"FeatureSelection_$model",
            Seq(s"$fsOut/optimal_features.txt"), deps = Seq(ingest))(() => {
            val nbRuns = cfg.getInt(
              "features_selection.target_permutation.nb_target_permutation_runs")
            val seed = cfg.getLong("modeling_settings.fs_seed_value")
            val (keep, _, _) = graft.fs.FeatureSelection.selectFeatures(
              train.get, allFeatures, target, idCol,
              Models.RfClassifier(numTrees = 20, maxDepth = 6),
              modelFor(model, nClasses), cvConfigFor(nClasses), seed, nbRuns)
            Sources.writeJsonList(s"$fsOut/optimal_features.txt", keep)
          }))
        // P2: optimal-feature projection when FS ran (create_solution.py:236-237)
        def features: Seq[String] = fsTask.fold(allFeatures)(_ =>
          Sources.readJsonList(s"$fsOut/optimal_features.txt").toSeq)

        // Stage RunSingleModelHPO (create_solution.py:257-298, when run_hpo)
        val (_, hpoDirRel) = paths.hpoDir(model, runFs, runHpo)
        val hpoOut = Paths.get(projectLocation, hpoDirRel).toString
        val hpoSpace = if (runHpo) hpoSpaceFor(cfg, model) else None
        val hpoTask: Option[Pipeline.Task] = hpoSpace.map { space =>
          Pipeline.Task(s"RunSingleModelHPO_$model",
            Seq(s"$hpoOut/optimized_hp.txt"), deps = Seq(ingest) ++ fsTask.toSeq)(() => {
            val hpoCfgBase = "hp_optimization.bayes.hpo_space.single_model_solution"
            // hpo_method='bayes' -> the GP surrogate, the same family as
            // the reference's bayes_opt (init_points warmup + n_iter
            // UCB-guided proposals)
            val r = graft.hpo.Gp.optimize(
              train.get, features, target, idCol, space,
              p => modelFor(model, nClasses, p),
              cvConfigFor(nClasses), cfg.getLong("modeling_settings.hpo_seed_value"),
              initPoints = cfg.getInt(s"$hpoCfgBase.init_points"),
              nIter = cfg.getInt(s"$hpoCfgBase.n_iter"))
            Sources.writeJsonManifest(s"$hpoOut/optimized_hp.txt",
              r.bestParams.map { case (k, v) => k -> v.toString })
          })
        }

        val bagging = runBagging && seeds.size > 1
        // predict_test=False -> CV only, no test artifacts
        // (modeling_settings.predict_test; prediction.py run_cv_one_seed
        // predict_test flag)
        val testOutputs =
          (if (predictTest) Seq(s"$outDir/test.csv") else Seq.empty) ++
            (if (bagging) Seq(s"$outDir/train_OOF_bagged.csv") else Seq.empty) ++
            (if (bagging && predictTest) Seq(s"$outDir/test_bagged.csv") else Seq.empty)
        // Stage 2: RunSingleModelPrediction (create_solution.py:301-377)
        val predict = Pipeline.Task(s"RunSingleModelPrediction_$model",
          Seq(s"$outDir/train_OOF.csv", s"$outDir/cv_results.csv",
            s"$outDir/$configFile", s"$outDir/${model}_oof_data_info.txt") ++ testOutputs,
          deps = Seq(ingest) ++ fsTask.toSeq ++ hpoTask.toSeq)(() => {
          val test = withId(Sources.readCsv(spark, testNew))
          // reinit with optimized params when HPO ran (create_solution.py:328-334)
          val params: Map[String, Double] = hpoTask.fold(Map.empty[String, Double])(_ =>
            Sources.readJsonManifest(s"$hpoOut/optimized_hp.txt")
              .map { case (k, v) => k -> v.toDouble })
          val cc = cvConfigFor(nClasses)
          val usedSeeds = if (runBagging) seeds else seeds.take(1)
          val r = CrossValidation.runCvAndPrediction(
            train.get, if (predictTest) Some(test) else None, features, target, idCol,
            modelFor(model, nClasses, params), cc, usedSeeds)
          score = (r.cvScore, r.cvStd)
          val decimals = Some(cc.targetDecimals).filter(_ > 0)
          Sources.writeCsv(r.oof, s"$outDir/train_OOF.csv", decimals, sortBy = Seq(idCol))
          r.testPreds.foreach(tp =>
            Sources.writeCsv(tp, s"$outDir/test.csv", decimals, sortBy = Seq(idCol)))
          Sources.writeCsv(r.cvResults.withColumn("cv_score_per_each_fold",
              concat_ws(",", col("cv_score_per_each_fold"))),
            s"$outDir/cv_results.csv", floatDecimals = Some(cc.metricsDecimals).filter(_ > 0))
          // S8-as-tables: the reference plots a confusion matrix from the
          // OOF predictions (prediction.py:532-605, labels_mapper applied
          // when predicting probabilities, create_solution.py:345-349);
          // we emit the underlying table. Mapper specs resolve through
          // the closed LabelMappers registry — never eval'd.
          if (nClasses <= 20) {
            val oofCol = s"${target}_OOF"
            val predLabels = cfg.getStringOrNull("modeling_settings.labels_mapper") match {
              case Some(spec) if cc.predictProbability =>
                graft.ml.LabelMappers.resolve(spec)(col(oofCol))
              case _ if cc.predictProbability && nClasses == 2 =>
                when(col(oofCol) > 0.5, 1).otherwise(0) // reference default cut
              case _ => col(oofCol)
            }
            Sources.writeCsv(
              graft.ops.Stats.confusion(
                r.oof.withColumn("__pred", predLabels), target, "__pred"),
              s"$outDir/confusion_matrix.csv", floatDecimals = None)
          }
          if (bagging) {
            // per-seed tables (prediction.py:444-445; FILENAME_*_BAGGED)
            Sources.writeCsv(r.oofBagged, s"$outDir/train_OOF_bagged.csv", decimals,
              sortBy = Seq(idCol))
            r.testBagged.foreach(tb =>
              Sources.writeCsv(tb, s"$outDir/test_bagged.csv", decimals, sortBy = Seq(idCol)))
          }
          Sources.copyConfig(cfgPath, outDir)
          Sources.writeJsonManifest(s"$outDir/${model}_oof_data_info.txt",
            Map("model" -> model, "path" -> solDir,
              "files" -> "train_OOF.csv,test.csv,cv_results.csv"))
        })
        Pipeline.execute(predict)
      }
      ModelRun(model, outDir, score._1, score._2, report)
    }
  }
}
