package graft

import java.nio.file.{Files, Paths}
import graft.io.{Hocon, ProjectPaths, Sources}

/** S1-S7 sources/sinks + HOCON config + path deriver. The parser is
  * exercised against an iris solution.conf laid out like the reference's
  * (in-repo fixture under src/test/resources) and the path deriver
  * against the directory examples documented in config_parser.py:45-147.
  */
class IoSpec extends SparkSpec {

  private val irisConf = "src/test/resources/iris/configs/solution.conf"

  test("hocon: parses the reference's full solution.conf") {
    val cfg = Hocon.parseFile(irisConf)
    assert(cfg.getString("project_structure.RAW_DATA_DIR") == "raw_data")
    assert(cfg.getString("raw_data_settings.target_column") == "TARGET")
    assert(cfg.getStringOrNull("raw_data_settings.index_column").isEmpty, "null literal")
    assert(cfg.getString("features_generation.train_file") == "train.csv")
    assert(cfg.getStringList("modeling_settings.models") ==
      List("lightgbm", "xgboost", "et", "logistic_regression"))
    assert(cfg.getBool("modeling_settings.lightgbm.run_hpo"))
    assert(!cfg.getBool("modeling_settings.lightgbm.run_fs"))
    assert(cfg.getInt("modeling_settings.fs_seed_value") == 27)
    assert(cfg.getLongList("modeling_settings.model_seeds_list") == List(27L, 99999L, 2018L))
    // substitution: fs lgbm metric references modeling_settings.lightgbm.eval_metric
    val sub = cfg.getString(
      "features_selection.target_permutation.lgbm_params.feats_exploration.metric")
    assert(sub == cfg.getString("modeling_settings.lightgbm.eval_metric"),
      s"substitution resolved: $sub")
  }

  test("hocon: dotted keys, comments, arrays, types") {
    val cfg = Hocon.parse(
      """a.b.c = 5 // trailing
        |a.b.d = 1.5
        |lst = [1, 2, 3] # comment
        |s = hello world
        |flag = True
        |empty = null
        |""".stripMargin)
    assert(cfg.getInt("a.b.c") == 5)
    assert(cfg.getDouble("a.b.d") == 1.5)
    assert(cfg.getLongList("lst") == List(1L, 2L, 3L))
    assert(cfg.getString("s") == "hello world")
    assert(cfg.getBool("flag"))
    assert(cfg.getStringOrNull("empty").isEmpty)
  }

  test("path deriver matches the reference's documented taxonomy") {
    val paths = new ProjectPaths(Hocon.parseFile(irisConf))
    // config_parser.py:52-53 example
    assert(paths.featureGenerationDir("lightgbm")._2 ==
      "features_generation/features_dataset_001")
    // run_fs=False branch -> no_feat_selection (config_parser.py:89)
    assert(paths.featureSelectionDir("lightgbm", runFs = false)._2 ==
      "features_selection/features_dataset_001/no_feat_selection")
    // run_fs=True branch: <method>_<name_fs_dir> (config_parser.py:84-88)
    assert(paths.featureSelectionDir("lightgbm", runFs = true)._2 ==
      "features_selection/features_dataset_001/target_permutation_fs_001")
    // hpo on: <model>/<fs>/<hpo_method>_<name_hpo_dir> (config_parser.py:112-116)
    assert(paths.hpoDir("lightgbm", runFs = true, runHpo = true)._2 ==
      "hyper_parameters_optimization/lightgbm/features_dataset_001/target_permutation_fs_001/bayes_hpo_001")
    // solution dir + bagging subdir (config_parser.py:141-146)
    assert(paths.solutionDir("lightgbm", runFs = false, runHpo = true, runBagging = true)._2 ==
      "single_model_solution/lightgbm/features_dataset_001/no_feat_selection/bayes_hpo_001/bagging_on")
    val params = paths.singleModelParameters
    assert(params.map(_("model")) ==
      Seq("lightgbm", "xgboost", "et", "logistic_regression"))
  }

  test("csv round-trip with float_format parity") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, 0.123456789, "a"), (2L, 2.5, "b")).toDF("id", "score", "tag")
    Sources.writeCsv(df, s"$dir/out", floatDecimals = Some(4))
    val files = new java.io.File(s"$dir/out").listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "single-file artifact like the reference's to_csv")
    val lines = Files.readAllLines(files.head.toPath)
    assert(lines.get(0) == "id,score,tag")
    assert(lines.contains("1,0.1235,a"), s"'%.4f' formatting: $lines")
    val back = Sources.readCsv(spark, s"$dir/out", downcast = true)
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "byte", "downcast applied")
  }

  test("a sorted single-file write equals orderBy then write, byte for byte") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sorted").toString
    val df = (1 to 300).map(i => ((i * 7919L) % 1000, i / 7.0)).toDF("id", "score")
      .repartition(4)
    assert(df.rdd.getNumPartitions == 4)
    Sources.writeCsv(df, s"$dir/sorted", floatDecimals = Some(3), sortBy = Seq("id"))
    Sources.writeCsv(df.orderBy("id"), s"$dir/ordered", floatDecimals = Some(3))
    def bytes(out: String) = {
      val parts = new java.io.File(out).listFiles.filter(_.getName.endsWith(".csv"))
      assert(parts.length == 1, s"one part file in $out")
      Files.readAllBytes(parts.head.toPath).toSeq
    }
    assert(bytes(s"$dir/sorted") == bytes(s"$dir/ordered"))
  }

  test("csv debug row limit (S1 nrows) is applied at the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dbg").toString
    Sources.writeCsv((1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      s"$dir/data", floatDecimals = None)
    val limited = Sources.readCsv(spark, s"$dir/data", debugRows = Some(20))
    assert(limited.count() == 20)
    // the limit reaches the physical scan (GlobalLimit over the file
    // source, not a post-read filter of all rows)
    assert(limited.queryExecution.executedPlan.toString.contains("Limit"))
  }

  test("json manifest reader round-trips values with commas") {
    val dir = Files.createTempDirectory("graft_jm").toString
    val m = Map("files" -> "a.csv,b.csv,c.csv", "model" -> "lgbm")
    Sources.writeJsonManifest(s"$dir/m.txt", m)
    assert(Sources.readJsonManifest(s"$dir/m.txt") == m)
  }

  test("json manifest/list round-trip escaped content (quotes, backslashes, newlines, tabs)") {
    // the writer escapes; the reader must UNESCAPE or round-tripping
    // silently corrupts any value with a special character
    val dir = Files.createTempDirectory("graft_jesc").toString
    val m = Map(
      "quoted" -> """say "hi", then "bye"""",
      "path" -> """C:\tmp\x""",
      "multi" -> "line1\nline2",
      "ctl" -> "a\tb")
    Sources.writeJsonManifest(s"$dir/m.json", m)
    assert(Sources.readJsonManifest(s"$dir/m.json") == m)
    val items = Seq("plain", """with "quote"""", "with, comma", "back\\slash")
    Sources.writeJsonList(s"$dir/l.json", items)
    assert(Sources.readJsonList(s"$dir/l.json") == items)
  }

  test("json manifest read survives a value ending with a comma and a key with a colon") {
    // a regex split on `,(?=\s*")` fires on the comma that ENDS a value
    // (lookahead sees the value's own closing quote), and split(":", 2)
    // breaks a key containing a colon — the escape-aware scanner must
    // round-trip both
    val dir = Files.createTempDirectory("graft_jedge").toString
    val m = Map("k" -> "a,", "ns:param" -> "v", "trail" -> "x, ")
    Sources.writeJsonManifest(s"$dir/m.json", m)
    assert(Sources.readJsonManifest(s"$dir/m.json") == m)
    val items = Seq("a,", "b", ", ")
    Sources.writeJsonList(s"$dir/l.json", items)
    assert(Sources.readJsonList(s"$dir/l.json") == items)
  }

  test("json manifest/list round-trip property: arbitrary strings survive") {
    // seeded generator biased toward the parser's danger characters
    // (quotes, backslashes, commas, colons, braces, controls, unicode)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val danger = Gen.oneOf('"', '\\', ',', ':', '\n', '\t', '{', '}', '[', ']', ' ')
    val ch = Gen.frequency(
      4 -> Gen.alphaNumChar, 3 -> danger,
      1 -> Gen.choose(1.toChar, 31.toChar), 1 -> Gen.choose('¡', 'ퟻ'))
    val str = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, ch)).map(_.mkString)
    def sample[A](g: Gen[A], i: Int): A =
      g.apply(Gen.Parameters.default, Seed(7000L + i))
        .getOrElse(fail(s"generator exhausted retries at seed $i"))
    val dir = Files.createTempDirectory("graft_jprop").toString
    (1 to 60).foreach { i =>
      val m = sample(Gen.mapOfN(4, Gen.zip(str, str)), i)
      Sources.writeJsonManifest(s"$dir/m$i.json", m)
      assert(Sources.readJsonManifest(s"$dir/m$i.json") == m, s"manifest seed $i: $m")
      val items = sample(Gen.listOfN(5, str), i)
      Sources.writeJsonList(s"$dir/l$i.json", items)
      assert(Sources.readJsonList(s"$dir/l$i.json") == items, s"list seed $i: $items")
    }
  }

  test("json manifest: foreign-writer short escapes decode (\\t \\r \\b \\f \\/)") {
    // the own writer emits controls as \u00XX; a standard JSON writer
    // (e.g. Python json) emits the short forms — the reader must
    // decode BOTH to the same bytes, not preserve literal backslash
    // pairs
    val dir = Files.createTempDirectory("graft_jforeign").toString
    val foreign = "{\"k\\t1\": \"a\\tb\\rc\\bd\\fe\\/f\\ng\", \"p\": \"\\u0041\\\\x\"}"
    Files.writeString(Paths.get(s"$dir/f.json"), foreign)
    assert(Sources.readJsonManifest(s"$dir/f.json") ==
      Map("k\t1" -> "a\tb\rc\bd\fe/f\ng", "p" -> "A\\x"))
  }

  test("oof ingest renames prediction columns with the model prefix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_oof").toString
    val df = Seq((1L, 0.9, 1), (2L, 0.2, 0)).toDF("id", "target_OOF", "target")
    Sources.writeCsv(df, s"$dir/m1", floatDecimals = None)
    val loaded = Sources.readOofCsv(spark, s"$dir/m1", "lgbm1", keepCols = Set("id", "target"))
    assert(loaded.columns.toSet == Set("id", "lgbm1_target_OOF", "target"))
  }

  test("hocon + path deriver handle the second reference config (credit_scoring)") {
    val conf = "src/test/resources/credit_scoring/configs/solution.conf"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(conf))) {
      val cfg = Hocon.parseFile(conf)
      assert(cfg.getString("raw_data_settings.target_column").nonEmpty)
      val paths = new ProjectPaths(cfg)
      val models = cfg.getStringList("modeling_settings.models")
      assert(models.nonEmpty)
      // every model derives a full consistent path set without throwing
      paths.singleModelParameters.foreach { p =>
        assert(p("solution_output_dir").startsWith(
          cfg.getString("project_structure.SOLUTION_DIR")))
      }
    }
  }

  test("timestamp string + seeded model id (F14/F15)") {
    assert(graft.ops.Misc.timestampString(0L) == "1970-01-01_00-00")
    assert(graft.ops.Misc.modelId(27L) == graft.ops.Misc.modelId(27L))
    assert(graft.ops.Misc.modelId(27L).matches("model_\\d{4}"))
  }

  test("json manifest + list round trip; config copy") {
    val dir = Files.createTempDirectory("graft_json").toString
    Sources.writeJsonList(s"$dir/feats.txt", Seq("f1", "f2"))
    assert(Sources.readJsonList(s"$dir/feats.txt") == Seq("f1", "f2"))
    Sources.writeJsonManifest(s"$dir/manifest.txt", Map("model" -> "lgbm", "path" -> "/x/y"))
    val txt = new String(Files.readAllBytes(Paths.get(s"$dir/manifest.txt")), "UTF-8")
    assert(txt == """{"model": "lgbm", "path": "/x/y"}""")
    Sources.copyConfig(irisConf, s"$dir/results")
    assert(Files.exists(Paths.get(s"$dir/results/solution.conf")))
  }

  test("orc and parquet columnar round-trips, partitioned layout prunes") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
      .toDF("id", "grp", "v")
    for (fmt <- Seq("parquet", "orc")) {
      val dir = Files.createTempDirectory(s"graft_$fmt").toString + "/t"
      Sources.writeColumnar(df, dir, fmt, partitionBy = Seq("grp"))
      val back = Sources.readColumnar(spark, dir, fmt)
      assert(back.count() == 3)
      assert(back.select("id", "grp", "v").orderBy("id").collect().map(_.getLong(0)).toSeq
        == Seq(1L, 2L, 3L))
      // partition pruning: the grp filter must reach the file listing
      val pruned = back.filter(org.apache.spark.sql.functions.col("grp") === "a")
      assert(pruned.count() == 2)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(!plan.contains("grp#") || plan.contains("PartitionFilters"),
        s"grp filter should prune partitions in $fmt:\n${plan.take(400)}")
    }
  }

  test("writeCompacted: file count follows the size target, content preserved") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, s"payload_$i" * 5))
      .toDF("id", "payload").repartition(16) // pathological input layout
    def files(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    // huge target -> single file regardless of input partitioning
    val one = Files.createTempDirectory("graft_cmp1").toString + "/t"
    Sources.writeCompacted(df, one, targetFileBytes = 1L << 40)
    assert(files(one) == 1, s"one big target must compact to one file")
    // small target -> several files, and the data survives intact
    val many = Files.createTempDirectory("graft_cmp2").toString + "/t"
    Sources.writeCompacted(df, many, targetFileBytes = 64 * 1024)
    assert(files(many) > 1, "small target must split the write")
    val back = Sources.readColumnar(spark, many)
    assert(back.count() == 5000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      == 5000L * 5001 / 2)
  }
}
