package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.Evaluation
import graft.ops.EventAnalytics

/** Hand-computed cases + distributed-ranking parity + plan guards for
  * the evaluation/drift family (`ml/Evaluation.scala`) and the event
  * analytics family (`ops/EventAnalytics.scala`). */
class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  // -----------------------------------------------------------------
  // calibration
  // -----------------------------------------------------------------
  test("calibrationBins: hand-computed bins, counts, brier") {
    val df = Seq((0.05, 0.0), (0.15, 1.0), (0.18, 0.0), (0.95, 1.0), (1.0, 1.0))
      .toDF("score", "y")
    val got = Evaluation.calibrationBins(df, "y", "score", 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(0L, 1L, 9L))
    assert(got(0L) == ((1L, 0.05, 0.0, 0.0025)))
    assert(got(1L) == ((2L, 0.165, 0.5, 0.377450)))
    // score 1.0 clamps into the top bin: least(floor(10.0), 9)
    assert(got(9L) == ((2L, 0.975, 1.0, 0.001250)))
  }

  // -----------------------------------------------------------------
  // KS
  // -----------------------------------------------------------------
  test("ksStatistic: interleaved samples, hand KS = 0.5") {
    val df = Seq((1.0, "a"), (3.0, "a"), (2.0, "b"), (4.0, "b"))
      .toDF("s", "g")
    val r = Evaluation.ksStatistic(df, "s", col("g") === "a").head()
    assert(r.getDouble(0) == 0.5)
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
  }

  test("ksStatistic: identical distributions give KS = 0") {
    val df = (1 to 40).map(i => (i % 10 * 1.0, i <= 20)).toDF("s", "a")
    val r = Evaluation.ksStatistic(df, "s", col("a")).head()
    assert(r.getDouble(0) == 0.0)
  }

  // -----------------------------------------------------------------
  // PSI
  // -----------------------------------------------------------------
  test("psiByGroup: identical distribution scores 0, shifted scores the hand value") {
    val ref = Seq(1.0, 2.0, 3.0, 4.0).map(("ref", _))
    val same = Seq(1.0, 2.0, 3.0, 4.0).map(("same", _))
    val shifted = Seq(1.0, 1.5, 2.0, 3.0).map(("shift", _))
    val df = (ref ++ same ++ shifted).toDF("g", "x")
    val got = Evaluation.psiByGroup(df, "g", "x", "ref", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("ref") == 0.0)
    assert(got("same") == 0.0)
    // ref median 2.5 -> bins: shift has 3 of 4 below -> p=(0.75,0.25)
    val expected = math.floor(
      ((0.75 - 0.5) * math.log(0.75 / 0.5) +
       (0.25 - 0.5) * math.log(0.25 / 0.5)) * 1e6 + 0.5) / 1e6
    assert(math.abs(got("shift") - expected) < 1e-9)
  }

  test("psiByGroup: an empty bin contributes the clamped finite penalty") {
    // ref spans both halves; 'hi' sits entirely above the median
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("ref", _)) ++
      Seq(3.0, 4.0).map(("hi", _))).toDF("g", "x")
    val got = Evaluation.psiByGroup(df, "g", "x", "ref", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = math.floor(
      ((1e-6 - 0.5) * math.log(1e-6 / 0.5) +
       (1.0 - 0.5) * math.log(1.0 / 0.5)) * 1e6 + 0.5) / 1e6
    assert(math.abs(got("hi") - expected) < 1e-9)
  }

  // -----------------------------------------------------------------
  // lift / gains
  // -----------------------------------------------------------------
  test("liftGains: hand-computed 10-row, 5-tile table") {
    val labels = Seq(1, 1, 0, 1, 0, 0, 0, 1, 0, 0)
    val df = labels.zipWithIndex.map { case (y, i) =>
      (i.toLong, y.toDouble, (10 - i).toDouble) }.toDF("id", "y", "s")
    val got = Evaluation.liftGains(df, "id", "y", "s", 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got(1L) == ((2L, 2L, 0.5, 2.5, 2.5)))
    assert(got(2L) == ((2L, 1L, 0.75, 1.25, 1.875)))
    assert(got(3L) == ((2L, 0L, 0.75, 0.0, 1.25)))
    assert(got(4L) == ((2L, 1L, 1.0, 1.25, 1.25)))
    assert(got(5L) == ((2L, 0L, 1.0, 0.0, 1.0)))
  }

  // -----------------------------------------------------------------
  // event analytics
  // -----------------------------------------------------------------
  test("transitionMatrix: hand-computed pairs and row-normalized probabilities") {
    val df = Seq(
      (1L, ts(10), 1L, "A"), (1L, ts(20), 2L, "B"),
      (1L, ts(30), 3L, "A"), (1L, ts(40), 4L, "B"),
      (2L, ts(10), 5L, "B"), (2L, ts(20), 6L, "B"))
      .toDF("user_id", "ts", "event_id", "t")
    val got = EventAnalytics.transitionMatrix(df, "user_id", "ts", "t", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("A", "B") -> ((2L, 1.0)),
      ("B", "A") -> ((1L, 0.5)),
      ("B", "B") -> ((1L, 0.5))))
  }

  test("transitionMatrix: equal-ts events are ordered by the tie column") {
    val df = Seq(
      (1L, ts(10), 1L, "A"), (1L, ts(10), 2L, "B"), (1L, ts(10), 3L, "C"))
      .toDF("user_id", "ts", "event_id", "t")
    val got = EventAnalytics.transitionMatrix(df, "user_id", "ts", "t", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("A", "B"), ("B", "C")))
  }

  test("burstiness: periodic key hits B = -1, sub-2-event keys drop") {
    val df = Seq(
      (1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L), // periodic
      (2L, ts(5), 4L),                                     // single event
      (3L, ts(0), 5L), (3L, ts(1), 6L), (3L, ts(100), 7L)) // bursty
      .toDF("user_id", "ts", "event_id")
    val got = EventAnalytics.burstiness(df, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(got.keySet == Set(1L, 3L))
    // user 1: gaps 10s, 10s -> mean 1e7 us, std 0 -> B = -1
    assert(got(1L) == ((2L, 10000000L, 0L, Some(-1.0))))
    // user 3: gaps 1s, 99s -> mean 5e7, std 4.9e7
    val (n, mean, std, b) = got(3L)
    assert(n == 2L && mean == 50000000L && std == 49000000L)
    // B = (4.9e7 - 5e7) / (4.9e7 + 5e7) = -1/99 -> -0.010101
    assert(b.contains(-0.010101))
  }

  test("rfm: hand-computed quintiles with deterministic tie-breaks") {
    val rows = Seq(
      (1L, ts(1000), "purchase", 10.0),
      (2L, ts(1500), "view", 0.0), (2L, ts(2000), "view", 0.0),
      (3L, ts(900), "purchase", 5.0), (3L, ts(1000), "view", 0.0), (3L, ts(3000), "view", 0.0),
      (4L, ts(100), "purchase", 20.0), (4L, ts(200), "purchase", 20.0),
      (4L, ts(300), "view", 0.0), (4L, ts(4000), "view", 0.0),
      (5L, ts(10), "purchase", 1.0), (5L, ts(20), "view", 0.0), (5L, ts(30), "view", 0.0),
      (5L, ts(40), "view", 0.0), (5L, ts(5000), "view", 0.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = EventAnalytics.rfm(rows, "user_id", "ts", "value",
        col("event_type") === "purchase", 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // recency: u5 newest .. u1 oldest; frequency: u5 most .. u1 least;
    // monetary: u4=40 > u1=10 > u3=5 > u5=1 > u2=0
    assert(got(1L) == ((4000000000L, 1L, 10.0, 5L, 5L, 2L)))
    assert(got(2L) == ((3000000000L, 2L, 0.0, 4L, 4L, 5L)))
    assert(got(3L) == ((2000000000L, 3L, 5.0, 3L, 3L, 3L)))
    assert(got(4L) == ((1000000000L, 4L, 40.0, 2L, 2L, 1L)))
    assert(got(5L) == ((0L, 5L, 1.0, 1L, 1L, 4L)))
  }

  test("dailyAnomaly: warm-up days null, spike day hand z-score") {
    // days 1..7 counts [1,2,1,2,1,2,1]; day 8 count 10
    val rows = (1 to 7).flatMap { d =>
      val k = if (d % 2 == 0) 2 else 1
      (1 to k).map(_ => Timestamp.valueOf(f"2024-01-0$d 00:00:00"))
    } ++ (1 to 10).map(_ => Timestamp.valueOf("2024-01-08 00:00:00"))
    val got = graft.ops.EventAnalytics.dailyAnomaly(
        rows.map(Tuple1(_)).toDF("ts"), "ts", 7, 2.0)
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
    assert(got("2024-01-03") == ((None, None, None))) // warm-up
    val (mean, z, flag) = got("2024-01-08")
    // trailing mean 10/7; var 12/49; z = (10 - 10/7) / (sqrt(12)/7)
    assert(mean.contains(1.428571))
    assert(z.contains(17.320508))
    assert(flag.contains(true))
  }

  test("stratifiedSample: exact n per group, layout-independent") {
    val df = (1 to 60).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "id")
    val a = graft.ops.Misc.stratifiedSample(df, "g", 4, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a.groupBy(_._1).forall(_._2.size == 4))
    val b = graft.ops.Misc.stratifiedSample(df.repartition(7), "g", 4, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
    // undersized group returns all of it
    val small = Seq(("g", 1L), ("g", 2L)).toDF("g", "id")
    assert(graft.ops.Misc.stratifiedSample(small, "g", 5, Seq("id")).count() == 2)
  }

  test("chi2Independence: zero for independence, hand value for a diagonal") {
    val indep = (for (a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 10)
      yield (a, b)).toDF("a", "b")
    val r0 = graft.ops.Stats.chi2Independence(indep, "a", "b").head()
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 1L && r0.getDouble(2) == 0.0)
    val diag = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q"))).toDF("a", "b")
    val r1 = graft.ops.Stats.chi2Independence(diag, "a", "b").head()
    // E = 5 in every cell: chi2 = 4 * 25/5 = 20; V = sqrt(20/20) = 1
    assert(r1.getDouble(0) == 20.0 && r1.getLong(1) == 1L &&
      r1.getDouble(2) == 1.0 && r1.getLong(3) == 20L)
  }

  test("chi2Independence: null categories are excluded, not zero-filled") {
    // a null key inflates totals but can never match the equality grid
    // join — the operator must behave as if the null rows were absent
    // (pandas.crosstab semantics)
    val clean = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q"))).toDF("a", "b")
    val withNulls = clean.unionByName(
      Seq((null.asInstanceOf[String], "p"), ("x", null.asInstanceOf[String]))
        .toDF("a", "b"))
    val r0 = graft.ops.Stats.chi2Independence(clean, "a", "b").head()
    val r1 = graft.ops.Stats.chi2Independence(withNulls, "a", "b").head()
    assert(r0 == r1, s"null rows must not change the statistic: $r0 vs $r1")
    assert(r1.getLong(3) == 20L, "n must exclude null-category rows")
  }

  test("oneHot: a null row gets 0 in every value indicator (get_dummies parity)") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
      .toDF("id", "c")
    val got = graft.ops.Encode.oneHot(df, "c")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    // columns: c_a, c_b, c_nan — a plain === would leave row 3's value
    // indicators NULL instead of get_dummies' 0
    assert(got(3L) == ((0, 0, 1)), s"null row must be (0, 0, 1): $got")
    assert(got(1L) == ((1, 0, 0)) && got(2L) == ((0, 1, 0)))
  }

  test("labelEncode above the cardinality threshold: dense lexicographic codes") {
    // 100 001 distinct zero-padded values (a permutation of 0..n-1, four
    // of them repeated) plus one null take the distributed dense-index
    // branch; every value's code is its rank, which is its number
    val n = 100001L
    val df = spark.range(n + 5).select(
      when(col("id") === n + 4, lit(null).cast("string"))
        .otherwise(lpad(((col("id") * 7919) % n).cast("string"), 6, "0")).as("c"))
    val got = graft.ops.Encode.labelEncode(df, "c", "code")
    assert(got.schema("code").dataType == org.apache.spark.sql.types.LongType)
    assert(got.count() == n + 5)
    val wrong = got.filter(col("code") =!= coalesce(col("c").cast("long"), lit(-1L)))
    assert(wrong.isEmpty, s"codes off their rank: ${wrong.limit(5).collect().toSeq}")
  }

  test("intLike: negative near-integers truncate toward zero like int(x)") {
    import spark.implicits._
    // int(-2.000000001) = -2 (|diff| 1e-9, int-like); floor would give
    // -3 and a spurious 0.999... difference. The epsilon-BELOW case
    // (1.999999999, int(x) = 1) is NOT int-like — the reference's own
    // truncation semantics, preserved
    val df = Seq((-2.000000001, 1.999999999)).toDF("neg_near", "below")
    val got = graft.ops.Preprocess.intLike(df, Seq("neg_near", "below"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("neg_near" -> 1, "below" -> 0), s"got $got")
  }

  test("quantileNormalize: exact percent rank with min-rank ties") {
    val df = Seq((1L, "g", 10.0), (2L, "g", 20.0), (3L, "g", 20.0), (4L, "g", 30.0))
      .toDF("doc_id", "src", "v")
    val got = graft.ops.Stats.quantileNormalize(df, "src", "v", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 0.333333, 3L -> 0.333333, 4L -> 1.0))
  }

  test("weightedSampleTopN: exact n, layout-independent, weight-biased") {
    val df = (1 to 200).map(i =>
      (i.toLong, if (i <= 100) 10.0 else 0.1)).toDF("id", "w")
    val a = graft.ops.Misc.weightedSampleTopN(df, 20, "w", Seq("id"))
      .collect().map(_.getLong(0)).toSet
    assert(a.size == 20)
    val b = graft.ops.Misc.weightedSampleTopN(df.repartition(9), 20, "w", Seq("id"))
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // 100:1 weight ratio: the heavy half must dominate the sample
    assert(a.count(_ <= 100) >= 16, s"heavy-weight ids under-sampled: $a")
  }

  test("groupOls: perfect line recovered exactly; degenerate groups dropped") {
    val line = (1 to 5).map(i => ("g", i.toDouble, 2.0 * i + 1.0))
    val constX = Seq(("cx", 3.0, 1.0), ("cx", 3.0, 2.0)) // zero x-variance
    val single = Seq(("s1", 1.0, 1.0))                   // n = 1
    val df = (line ++ constX ++ single).toDF("grp", "x", "y")
    val rows = graft.ops.Stats.groupOls(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.keySet == Set("g"))
    assert(rows("g") == ((5L, 2.0, 1.0, 1.0)))
  }

  test("groupOls: values past the long-square boundary (|x| >= ~3038) stay exact") {
    // xi = 4000e6 squares to 1.6e25 — far past Long.MaxValue; a long
    // multiply would silently wrap and corrupt slope/intercept/r2
    val line = Seq(4000.0, 5000.0, 6000.0).map(x => ("g", x, 2.0 * x + 1.0))
    val rows = graft.ops.Stats.groupOls(line.toDF("grp", "x", "y"),
        "grp", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows("g")._1 == 3L)
    assert(math.abs(rows("g")._2 - 2.0) < 1e-6, s"slope wrapped: ${rows("g")}")
    assert(math.abs(rows("g")._3 - 1.0) < 1e-4, s"intercept wrapped: ${rows("g")}")
    assert(math.abs(rows("g")._4 - 1.0) < 1e-9, s"r2 wrapped: ${rows("g")}")
  }

  test("describeExact: NULLs excluded from n, moments, and quartiles") {
    val df = Seq(Some(1.0), None, Some(2.0), Some(3.0), None, Some(4.0))
      .toDF("v")
    val r = graft.ops.Stats.describeExact(df, Seq("v")).head()
    assert(r.getLong(1) == 4L, s"n must count non-null only: ${r.getLong(1)}")
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 1.118034)
    assert(r.getDouble(5) == 1.75 && r.getDouble(6) == 2.5 &&
      r.getDouble(7) == 3.25)
  }

  test("fuzzyJoinBlocked: same-block pairs only, hand distance, size cap") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha bXta gamma delta"), // distance 1 from doc 1
      (3L, "gamma beta gamma delta"), // other block
      (4L, "alpha completely different text here")) // same block, far
      .toDF("doc_id", "text")
    val blk = split(trim(col("text")), "\\s+").getItem(0)
    val got = graft.dedup.Dedup.fuzzyJoinBlocked(df, "doc_id", "text",
        blk, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map((1L, 2L) -> 1))
    // cap of 1 drops every block with more than one member -> no pairs
    assert(graft.dedup.Dedup.fuzzyJoinBlocked(df, "doc_id", "text", blk,
      maxDistance = 50, maxBlockSize = 1).count() == 0)
  }

  test("seasonalBacktest: lag-by-calendar-day, gaps excluded") {
    def day(d: Int, k: Int) =
      (1 to k).map(_ => Timestamp.valueOf(f"2024-01-$d%02d 09:00:00"))
    // day 1 -> 10 events, day 8 -> 12 (lag exists); day 9 has no day-2
    val df = (day(1, 10) ++ day(8, 12) ++ day(9, 5)).map(Tuple1(_)).toDF("ts")
    val got = graft.ops.EventAnalytics.seasonalBacktest(df, "ts", 7)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map("2024-01-08" -> ((12L, 10L, 2L, 0.166667))))
  }

  test("describeExact: hand moments and quartiles") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(Tuple1(_)).toDF("v")
    val r = graft.ops.Stats.describeExact(df, Seq("v")).head()
    assert(r.getString(0) == "v" && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5)            // mean
    assert(r.getDouble(3) == 1.118034)       // pop std = sqrt(1.25)
    assert(r.getDouble(4) == 1.0 && r.getDouble(8) == 4.0)
    assert(r.getDouble(5) == 1.75 && r.getDouble(6) == 2.5 &&
      r.getDouble(7) == 3.25)
  }

  test("topSequences: session-bounded trigrams with cross-user counts") {
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val df = (Seq(
      (1L, t(0), 1L, "A"), (1L, t(1), 2L, "B"),
      (1L, t(2), 3L, "C"), (1L, t(3), 4L, "D")) ++
      // same user, new session (gap > 30 min): too short for a trigram
      Seq((1L, Timestamp.valueOf("2024-01-01 12:00:00"), 5L, "E"),
        (1L, Timestamp.valueOf("2024-01-01 12:01:00"), 6L, "F")) ++
      Seq((2L, t(0), 7L, "A"), (2L, t(1), 8L, "B"), (2L, t(2), 9L, "C")))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.EventAnalytics.topSequences(df, "user_id", "ts",
        "event_type", "event_id", gapSec = 1800L, n = 3, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A>B>C" -> 2L, "B>C>D" -> 1L))
  }

  test("twoProportionZTest: hand-computed z") {
    val df = Seq((true, 1L), (true, 0L), (false, 1L), (false, 1L))
      .toDF("a", "conv")
    val r = Evaluation.twoProportionZTest(df, col("a"), "conv").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 2L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 1.0)
    // z = -0.5 / sqrt(0.75 * 0.25 * 1) = -1.154701
    assert(r.getDouble(6) == -1.154701)
  }

  test("mannWhitney: hand U and z, with and without ties") {
    val plain = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("s", "a")
    val r1 = Evaluation.mannWhitney(plain, "s", col("a")).head()
    assert(r1.getDouble(0) == 1.0)       // U = R_A - n(n+1)/2 = 4 - 3
    assert(r1.getDouble(1) == -0.774597) // (1-2)/sqrt(20/12)
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("s", "a")
    val r2 = Evaluation.mannWhitney(tied, "s", col("a")).head()
    assert(r2.getDouble(0) == 0.5)       // avg-rank ties: R_A = 1 + 2.5
    assert(r2.getDouble(1) == -1.161895)
  }

  test("benfordDigits: string-extracted leading digits, hand fractions") {
    val df = Seq(1.0, 19.0, 120.0, 0.25).map(Tuple1(_)).toDF("v")
    val got = graft.ops.Stats.benfordDigits(df, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1) == ((3L, 0.75, 0.30103)))  // log10(2)
    assert(got(2)._1 == 1L && got(2)._2 == 0.25)
  }

  test("degreeDistribution: star graph hand counts") {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val got = graft.ops.Graph.degreeDistribution(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 1L, 1L -> 2L))
  }

  test("laggedCrossCorrelation: shifted series peaks at its lag; constants dropped") {
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 08:00:00")
    // purchases on days 1..4 with counts 1,2,4,8; errors = same, one day later
    val rows =
      (1 to 4).flatMap(d => (1 to (1 << (d - 1))).map(_ => (t(d), "purchase"))) ++
      (2 to 5).flatMap(d => (1 to (1 << (d - 2))).map(_ => (t(d), "error"))) ++
      (1 to 5).map(d => (t(d), "view")) // constant series
    val df = rows.toDF("ts", "event_type")
    val got = graft.ops.EventAnalytics.laggedCrossCorrelation(
        df, "ts", "event_type", "purchase", "error", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, 1.0))) // y(d+1) = x(d) exactly
    // constant error series never occurs; but a constant-x lag pairing
    // would be filtered: check via the view series
    val viewCorr = graft.ops.EventAnalytics.laggedCrossCorrelation(
      df, "ts", "event_type", "view", "error", 1)
    assert(viewCorr.count() == 0) // x-variance 0 at every lag
  }

  test("intervalUnion: overlap merge, touching intervals, island counts") {
    val df = Seq((1L, 0L, 10L), (1L, 5L, 15L), (1L, 20L, 25L), (2L, 3L, 4L))
      .toDF("k", "s", "e")
    val got = graft.ops.EventAnalytics.intervalUnion(df, "k", col("s"), col("e"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 20L)), 2L -> ((1L, 1L))))
    // touching ([0,10) then [10,12)) merges: start == running max is NOT >
    val touch = Seq((1L, 0L, 10L), (1L, 10L, 12L)).toDF("k", "s", "e")
    val t = graft.ops.EventAnalytics.intervalUnion(touch, "k", col("s"), col("e")).head()
    assert(t.getLong(1) == 1L && t.getLong(2) == 12L)
  }

  test("weightedExact: lower weighted quantiles by hand") {
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 2.0)).toDF("v", "w")
    val ps = graft.ops.Percentiles.weightedExact(df, "v", "w",
      Seq(0.25, 0.5, 0.75, 1.0))
    assert(ps == Map(0.25 -> 1.0, 0.5 -> 2.0, 0.75 -> 3.0, 1.0 -> 3.0))
  }

  test("dailyOhlc: deterministic open/close under the (ts, tie) order") {
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val df = Seq(
      (t(0), 1L, "p", 5.0), (t(1), 2L, "p", 9.0), (t(2), 3L, "p", 2.0),
      // equal-ts tie: event 4 before 5 -> open 7, close 1
      (t(0), 4L, "q", 7.0), (t(0), 5L, "q", 1.0))
      .toDF("ts", "event_id", "event_type", "value")
    val got = graft.ops.EventAnalytics.dailyOhlc(df, "ts", "event_id",
        "event_type", "value")
      .collect().map(r => r.getString(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7)))).toMap
    assert(got("p") == ((5.0, 9.0, 2.0, 2.0, 16.0, 3L)))
    assert(got("q") == ((7.0, 7.0, 1.0, 1.0, 8.0, 2L)))
  }

  test("attribution: first/last touch inside the window, nulls outside") {
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val df = Seq(
      (7L, t(100), 1L, "view", 0.0), (7L, t(200), 2L, "view", 0.0),
      (7L, t(250), 3L, "purchase", 9.0),  // both views in window
      (7L, t(50), 4L, "purchase", 1.0),   // no prior view
      (8L, t(0), 5L, "view", 0.0),
      (8L, t(2000), 6L, "purchase", 2.0)) // view aged out (window 1000s)
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = graft.ops.EventAnalytics.attribution(df, "user_id", "ts",
        "event_id", "value", "purchase", "view", "event_type", 1000L)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got(3L) == ((Some(150000000L), Some(50000000L))))
    assert(got(4L) == ((None, None)))
    assert(got(6L) == ((None, None)))
  }

  test("attribution: heavy key — many touches x many conversions stays correct") {
    // One key with months of history: 200 touches at t=0..199s, 50
    // conversions at t=1000+10i with a 100s window. Each conversion
    // sees only the touches inside its own horizon (none after t=199),
    // so first/last waits are computable in closed form.
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val touches = (0L until 200L).map(i => (1L, t(i), 10000L + i, "view", 0.0))
    val convs = (0 until 50).map { i =>
      (1L, t(1000L + 10L * i), 20000L + i, "purchase", 1.0 * i)
    }
    val df = (touches ++ convs)
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = graft.ops.EventAnalytics.attribution(df, "user_id", "ts",
        "event_id", "value", "purchase", "view", "event_type", 1000L)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got.size == 50)
    for (i <- 0 until 50) {
      val cts = 1000L + 10L * i
      if (cts - 1000L <= 199L) {
        // window [cts-1000, cts] clips to touches [max(0,cts-1000), 199]
        val first = math.max(0L, cts - 1000L)
        assert(got(20000L + i) ==
          ((Some((cts - first) * 1000000L), Some((cts - 199L) * 1000000L))))
      } else assert(got(20000L + i) == ((None, None)))
    }
  }

  test("attributionCredit: linear and U-shaped weights, exact micro-units") {
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    // one conversion (value 12) with 4 in-window touches: linear 3 each;
    // U-shape 4.8 / 1.2 / 1.2 / 4.8; first+last are views, middles clicks
    val df = Seq(
      (1L, t(10), 1L, "view", 0.0), (1L, t(20), 2L, "click", 0.0),
      (1L, t(30), 3L, "click", 0.0), (1L, t(40), 4L, "view", 0.0),
      (1L, t(50), 5L, "purchase", 12.0),
      // another user: single view touch -> full credit both models
      (2L, t(10), 6L, "view", 0.0), (2L, t(20), 7L, "purchase", 5.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = graft.ops.EventAnalytics.attributionCredit(df, "user_id",
        "ts", "event_id", "value", "purchase", Seq("click", "view"),
        "event_type", windowSec = 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("view") == ((3L, 11.0, 14.6))) // 3+3+5 / 4.8+4.8+5
    assert(got("click") == ((2L, 6.0, 2.4)))  // 3+3 / 1.2+1.2
  }

  test("cusumDaily: a sustained shift alarms; the flat head does not") {
    def day(d: Int, k: Int) = (1 to k).map(_ =>
      Tuple1(Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")))
    // 10 flat days at 10, then 4 shifted days at 20: mean 12.857,
    // σ 4.518 -> S⁺ gains 4.884/shifted day, crossing 4σ = 18.07 on
    // day 14 (19.54) but not day 13 (14.65)
    val df = ((1 to 10).flatMap(day(_, 10)) ++ (11 to 14).flatMap(day(_, 20)))
      .toDF("ts")
    val got = graft.ops.EventAnalytics.cusumDaily(df, "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(4)))).toMap
    assert(got("2024-01-01")._3 == false && got("2024-01-05")._3 == false)
    assert(got("2024-01-13")._3 == false, s"ramp must not alarm early: $got")
    assert(got("2024-01-14")._3, s"sustained shift must alarm: $got")
    // cusum_pos is monotone over the shifted run
    assert(got("2024-01-14")._2 > got("2024-01-12")._2)
  }

  test("typeEntropy: uniform mixing hits ln(k); single behavior is 0") {
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val df = (Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d")) ++
      (1 to 5).map(_ => (2L, "a")))
      .zipWithIndex.map { case ((u, et), i) => (u, t(i), et) }
      .toDF("user_id", "ts", "event_type")
    val got = graft.ops.EventAnalytics.typeEntropy(df, "user_id", "event_type")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._1 == 4L && got(1L)._2 == 4L)
    assert(math.abs(got(1L)._3 - math.log(4.0)) < 1e-6)
    assert(got(2L) == ((5L, 1L, 0.0)))
  }

  test("bollingerDaily: full-window bands from hand moments; warmup rows null") {
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    // 3-day window over closes 1,2,3,4: day 3 mean 2, pop sd sqrt(2/3);
    // day 4 mean 3
    val df = (1 to 4).map(d => (t(d), d.toLong, "p", d.toDouble))
      .toDF("ts", "event_id", "event_type", "value")
    val rows = graft.ops.EventAnalytics.bollingerDaily(df, "ts", "event_id",
        "event_type", "value", trailingDays = 3, k = 2.0)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(rows("2024-01-02")._2.isEmpty, "warmup day must emit null sma")
    assert(rows("2024-01-03")._2 == Some(2.0))
    val sd = math.sqrt(2.0 / 3.0)
    assert(math.abs(rows("2024-01-03")._3.get - (2.0 + 2 * sd)) < 1e-6)
    assert(rows("2024-01-04")._2 == Some(3.0))
  }

  test("bollingerDaily: closes past the long-square boundary stay exact") {
    // vi = 5000e6 squares to 2.5e19 > Long.MaxValue — a long multiply
    // would silently corrupt the band variance
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    val closes = Seq(5000.0, 6000.0, 7000.0)
    val df = closes.zipWithIndex.map { case (v, i) =>
      (t(i + 1), (i + 1).toLong, "p", v)
    }.toDF("ts", "event_id", "event_type", "value")
    val r = graft.ops.EventAnalytics.bollingerDaily(df, "ts", "event_id",
        "event_type", "value", trailingDays = 3, k = 2.0)
      .filter(col("day") === "2024-01-03").head()
    assert(r.getDouble(3) == 6000.0, s"sma ${r.getDouble(3)}")
    // replicate the contract double formula with exact BigInt squares
    val s2 = closes.map(v => BigInt((v * 1e6).toLong).pow(2)).sum
    val sd = math.sqrt(s2.toDouble / 1e12 / 3 - 6000.0 * 6000.0)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == r6(6000.0 + 2 * sd), s"upper ${r.getDouble(4)}")
  }

  test("groupGapPercentiles: hand quartiles over per-key same-type gaps") {
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    // type a, one user: events at 0,10,30,60 -> gaps 10,20,30 s;
    // quartiles of {10,20,30}e6 µs = 15e6 / 20e6 / 25e6
    val df = Seq((1L, t(0), 1L, "a"), (1L, t(10), 2L, "a"),
      (1L, t(30), 3L, "a"), (1L, t(60), 4L, "a"),
      (2L, t(0), 5L, "b"), (2L, t(7), 6L, "b")) // single 7 s gap
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.Temporal.groupGapPercentiles(df, "event_type",
        "user_id", "ts", "event_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") == ((3L, 15000000.0, 20000000.0, 25000000.0)))
    assert(got("b") == ((1L, 7000000.0, 7000000.0, 7000000.0)))
  }

  test("robustOutliers: one far value flagged; constant group has null count") {
    // g: values 1..9 plus 100 -> median 5.5, MAD 2.5; only 100 has
    // |0.6745·(v−5.5)/2.5| > 3.5. c: constant -> MAD 0 -> null count.
    val df = ((1 to 9).map(i => ("g", i.toDouble)) ++ Seq(("g", 100.0)) ++
      Seq.fill(4)(("c", 7.0)))
      .toDF("event_type", "value")
    val got = graft.ops.Stats.robustOutliers(df, "event_type", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got("g") == ((10L, 5.5, 2.5, Some(1L))))
    assert(got("c") == ((4L, 7.0, 0.0, None)), "constant group: MAD 0 -> null")
  }

  test("kaplanMeier: hand curve with censoring") {
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    // u1,u2 convert on day 2; u4 on day 4; u3 never (censored at the
    // corpus max = day 4). KM: S(2) = 1·(1−2/4) = 0.5,
    // S(4) = 0.5·(1−1/2) = 0.25
    val df = Seq(
      (1L, t(1), 1L, "view"), (1L, t(3), 2L, "purchase"),
      (2L, t(1), 3L, "view"), (2L, t(3), 4L, "purchase"),
      (3L, t(1), 5L, "view"),
      (4L, t(1), 6L, "view"), (4L, t(5), 7L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.EventAnalytics.kaplanMeier(df, "user_id", "ts",
        "event_type", "view", "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(2L -> ((4L, 2L, 0.5)), 4L -> ((2L, 1L, 0.25))))
  }

  test("winsorizedMeans: clip at exact order statistics, exact clipped mean") {
    // values 1..10 and 1000: p05 = 1.5, p95 = 505 -> clipped sum
    // 1.5 + (2+..+10) + 505 = 560.5 -> mean 50.954545
    val df = ((1 to 10).map(i => ("g", i.toDouble)) :+ (("g", 1000.0)))
      .toDF("event_type", "value")
    val r = graft.ops.Stats.winsorizedMeans(df, "event_type", "value").head()
    assert(r.getString(0) == "g" && r.getLong(1) == 11L)
    assert(r.getDouble(2) == 1.5 && r.getDouble(3) == 505.0)
    assert(r.getDouble(4) == 50.954545)
    assert(r.getDouble(5) == 95.909091)
  }

  // np.percentile linear interpolation, the documented contract of
  // Percentiles.exact — op-for-op the same IEEE sequence, so the
  // comparisons below assert BIT equality, not approximation
  private def npPct(vs: Seq[Double], p: Double): Double = {
    val s = vs.sorted
    val r = (s.size - 1) * p
    val frac = r - math.floor(r)
    s(math.floor(r).toInt) * (1 - frac) + s(math.ceil(r).toInt) * frac
  }

  test("groupedContinuous: bit-parity with per-group np.percentile, ties and all, 10 seeds") {
    val ps = Seq(0.0, 0.05, 1.0 / 3, 0.5, 0.95, 1.0)
    val names = Seq("q0", "q05", "q33", "q50", "q95", "q100")
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(1600L + seed)
      // coarse 0.5 grid over few values -> dense exact ties (lo == hi
      // brackets), plus negative values and singleton groups
      val rows = (1 to 120).map { _ =>
        (s"g${rnd.nextInt(7)}", (rnd.nextInt(17) - 5) * 0.5)
      } :+ (("solo", 2.5))
      val df = rows.toDF("g", "v")
      val got = graft.ops.Percentiles.groupedContinuous(df, "g", "v", ps, names)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), names.indices.map(i => r.getDouble(2 + i))))).toMap
      val want = rows.groupBy(_._1).map { case (g, gs) =>
        g -> ((gs.size.toLong, ps.map(p => npPct(gs.map(_._2), p))))
      }
      assert(got == want, s"seed=$seed")
    }
  }

  test("winsorizedMeans/robustOutliers: randomized parity with in-memory reference, 10 seeds") {
    def r6(x: Double) = graft.core.Round.r6(x)
    def microMean(vs: Seq[Double]): Double = {
      val s = vs.map(v => (math.signum(v) * math.floor(math.abs(v) * 1e6 + 0.5)).toLong).sum
      r6(s.toDouble / 1e6 / vs.size)
    }
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(1700L + seed)
      // negative values exercise the signum-corrected quantizer
      val rows = (1 to 150).map { _ =>
        (s"g${rnd.nextInt(6)}", (rnd.nextInt(41) - 10) * 0.25)
      }
      val df = rows.toDF("g", "v")
      val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

      val gotW = graft.ops.Stats.winsorizedMeans(df, "g", "v", 0.1, 0.9)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      val wantW = byG.map { case (g, vs) =>
        val (lo, hi) = (npPct(vs, 0.1), npPct(vs, 0.9))
        g -> ((vs.size.toLong, r6(lo), r6(hi),
          microMean(vs.map(v => math.min(math.max(v, lo), hi))),
          microMean(vs)))
      }
      assert(gotW == wantW, s"winsorized seed=$seed")

      val gotR = graft.ops.Stats.robustOutliers(df, "g", "v", 2.0)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      val wantR = byG.map { case (g, vs) =>
        val med = npPct(vs, 0.5)
        val mad = npPct(vs.map(v => math.abs(v - med)), 0.5)
        val nOut = if (mad > 0)
          Some(vs.count(v => math.abs(0.6745 * (v - med) / mad) > 2.0).toLong)
        else None
        g -> ((vs.size.toLong, r6(med), r6(mad), nOut))
      }
      assert(gotR == wantR, s"robust seed=$seed")
    }
  }

  test("groupedDiscrete: lower-quantile per group, integer thresholds") {
    // g: 1..10 -> p25 = smallest v with cum >= 2.5 -> 3; p50 -> 5;
    // p90 -> 9. h: {1,1,1,9}: p50 -> cum(1)=3 >= 2 -> 1; p90 -> 9
    val df = ((1 to 10).map(i => ("g", i.toDouble)) ++
      Seq(("h", 1.0), ("h", 1.0), ("h", 1.0), ("h", 9.0)))
      .toDF("event_type", "value")
    val got = graft.ops.Percentiles.groupedDiscrete(df, "event_type",
        "value", Seq(25, 50, 90))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("g") == ((3.0, 5.0, 9.0)))
    assert(got("h") == ((1.0, 1.0, 9.0)))
  }

  test("groupedInterpolated: matches Percentiles.exact per group; " +
      "high-cardinality groups; native group type") {
    // 120 long-keyed groups of varying size (1..8 values) — the shape
    // the per-group-loop version could not serve; parity against the
    // audited single-column Percentiles.exact on sampled groups.
    val rnd = new scala.util.Random(42)
    val rows = (0 until 120).flatMap { g =>
      (0 to g % 8).map(_ => (g.toLong, (rnd.nextInt(1000000) * 1000).toDouble))
    }
    val df = rows.toDF("gid", "v")
    val got = graft.ops.Percentiles.groupedInterpolated(df, "gid", "v",
        Seq(25, 50, 75))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 120)
    for (g <- Seq(0L, 7L, 63L, 118L, 119L)) {
      val sub = rows.filter(_._1 == g).map(_._2)
      val exp = graft.ops.Percentiles.exact(
        sub.map(Tuple1(_)).toDF("v"), "v", Seq(0.25, 0.5, 0.75))
      val (n, p25, p50, p75) = got(g)
      assert(n == sub.size.toLong, s"group $g n")
      assert(p25 == exp(0.25) && p50 == exp(0.5) && p75 == exp(0.75),
        s"group $g: got ${(p25, p50, p75)} expected $exp")
    }
  }

  test("exactPerColumn: bit-identical to per-column Percentiles.exact, " +
      "nulls excluded per column") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (rnd.nextInt(100) / 4.0,
        if (i % 7 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rnd.nextInt(1000) / 8.0),
        rnd.nextGaussian() * 100)
    }
    val df = rows.toDF("a", "b", "c")
    val ps = Seq(0.25, 0.5, 0.75, 0.99)
    val got = graft.ops.Percentiles.exactPerColumn(df, Seq("a", "b", "c"), ps)
    for (c <- Seq("a", "b", "c")) {
      val exp = graft.ops.Percentiles.exact(df, c, ps)
      for (p <- ps)
        assert(got((c, p)) == exp(p), s"col $c p$p: ${got((c, p))} vs ${exp(p)}")
    }
  }

  test("exactPerColumn / describeExact: degenerate inputs fail with the explicit message") {
    // a column with zero non-null values vanishes from the grouped
    // result — the error must name it, not surface a bare
    // NoSuchElementException from a caller's map lookup (ADVICE r14)
    val df = Seq(
      (1.0, null.asInstanceOf[java.lang.Double]),
      (2.0, null.asInstanceOf[java.lang.Double])).toDF("ok", "allnull")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Percentiles.exactPerColumn(df, Seq("ok", "allnull"), Seq(0.5))
    }
    assert(e1.getMessage.contains("no non-null values in allnull"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Stats.describeExact(df, Seq("allnull"))
    }
    assert(e2.getMessage.contains("no non-null values"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Stats.describeExact(df, Seq.empty)
    }
    assert(e3.getMessage.contains("at least one column"), e3.getMessage)
  }

  test("canonicalPick: best score wins, id breaks ties") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "quality")
    val got = graft.dedup.Dedup.canonicalPick(clusters, scores, "doc_id", "quality")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 0.9, 3L))) // quality tie 2 vs 3 -> lower id
    assert(got(9L) == ((9L, 0.1, 1L)))
  }

  test("sessionQuality: bounce and conversion by session-start day") {
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // user 1, day 1: session of 3 with a purchase
      (1L, t("2024-01-01 10:00:00"), 1L, "view"),
      (1L, t("2024-01-01 10:05:00"), 2L, "click"),
      (1L, t("2024-01-01 10:10:00"), 3L, "purchase"),
      // user 1, later same day: bounce (single event, no purchase)
      (1L, t("2024-01-01 15:00:00"), 4L, "view"),
      // user 2, day 2: bounce
      (2L, t("2024-01-02 09:00:00"), 5L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.EventAnalytics.sessionQuality(df, "user_id", "ts",
        "event_id", "event_type", "purchase", 1800L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("2024-01-01") == ((2L, 0.5, 0.5)))
    assert(got("2024-01-02") == ((1L, 1.0, 0.0)))
  }

  test("new-family query plans: no nested-loop join, no cartesian product") {
    val names = Seq("q158_lift_gains", "q161_rfm_segments", "q162_copurchase_edges",
      "q163_part_pagerank", "q166_daily_anomaly", "q172_rolling_active",
      "q175_fuzzy_join", "q182_ab_test")
    val all = graft.Queries.registry
    for (n <- names) {
      val df = all(n)(spark, sf)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$n must stay equi-join/broadcast:\n$plan")
    }
  }

  // -----------------------------------------------------------------
  // invariant properties on seeded random data
  // -----------------------------------------------------------------
  test("properties: KS in [0,1] and symmetric; U bounded; PSI nonnegative") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 400).map(i =>
      (math.floor(rnd.nextDouble() * 1e6) / 1e6, rnd.nextBoolean())).toDF("s", "a")
    val ks1 = Evaluation.ksStatistic(df, "s", col("a")).head().getDouble(0)
    val ks2 = Evaluation.ksStatistic(df, "s", !col("a")).head().getDouble(0)
    assert(ks1 >= 0 && ks1 <= 1 && ks1 == ks2)
    val mw = Evaluation.mannWhitney(df, "s", col("a")).head()
    val (u, na, nb) = (mw.getDouble(0), mw.getLong(2), mw.getLong(3))
    assert(u >= 0 && u <= na.toDouble * nb)
    // PSI: every term (pt-pr)·ln(pt/pr) is nonnegative by sign agreement
    val pdf = (1 to 300).map(i =>
      (s"g${i % 3}", math.floor(rnd.nextDouble() * 500))).toDF("g", "x")
    Evaluation.psiByGroup(pdf, "g", "x", "g0", 5)
      .collect().foreach(r => assert(r.getDouble(1) >= 0.0))
  }

  test("properties: lift capture is monotone and ends at 1; RFM tiles balanced") {
    val rnd = new scala.util.Random(41)
    val df = (1 to 500).map(i =>
      (i.toLong, if (rnd.nextDouble() < 0.3) 1.0 else 0.0,
        math.floor(rnd.nextDouble() * 1e6) / 1e6)).toDF("id", "y", "s")
    val rows = Evaluation.liftGains(df, "id", "y", "s", 10)
      .orderBy("tile").collect()
    val captures = rows.map(_.getDouble(3))
    assert(captures.zip(captures.tail).forall { case (a, b) => b >= a })
    assert(captures.last == 1.0)
    assert(rows.map(_.getLong(1)).sum == 500L)
    // rfm quintiles: every score in 1..5, class sizes differ by <= 1
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = (1 to 97).map(i => (i.toLong, t(rnd.nextInt(100000).toLong),
      if (rnd.nextBoolean()) "purchase" else "view", rnd.nextInt(100).toDouble))
      .toDF("user_id", "ts", "event_type", "value")
    val rfm = graft.ops.EventAnalytics.rfm(ev, "user_id", "ts", "value",
      col("event_type") === "purchase", 5).collect()
    for (cIdx <- 4 to 6) {
      val hist = rfm.map(_.getLong(cIdx)).groupBy(identity).view.mapValues(_.size)
      assert(hist.keys.forall(s => s >= 1 && s <= 5))
      assert(hist.values.max - hist.values.min <= 1)
    }
  }

  test("properties: transition rows sum to ~1; burstiness in [-1,1]; union bounded") {
    val rnd = new scala.util.Random(53)
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = (1 to 400).map(i => ((i % 13).toLong, t(rnd.nextInt(50000).toLong),
      i.toLong, s"e${rnd.nextInt(4)}")).toDF("user_id", "ts", "event_id", "t")
    val trans = graft.ops.EventAnalytics
      .transitionMatrix(ev, "user_id", "ts", "t", "event_id")
      .groupBy("prev_type").agg(sum("p").as("rowsum")).collect()
    trans.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4))
    graft.ops.EventAnalytics.burstiness(ev, "user_id", "ts", "event_id")
      .collect().foreach { r =>
        if (!r.isNullAt(4)) assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0)
      }
    // interval union: max single length <= covered <= sum of lengths
    val iv = (1 to 200).map { i =>
      val s = rnd.nextInt(10000).toLong
      ((i % 7).toLong, s, s + 1 + rnd.nextInt(500).toLong)
    }.toDF("k", "s", "e")
    val sums = iv.groupBy("k").agg(
      sum(col("e") - col("s")).as("tot"), max(col("e") - col("s")).as("mx"))
    graft.ops.EventAnalytics.intervalUnion(iv, "k", col("s"), col("e"))
      .join(sums, "k").collect().foreach { r =>
        val (covered, tot, mx) = (r.getLong(2), r.getLong(3), r.getLong(4))
        assert(covered <= tot && covered >= mx)
      }
  }

  test("properties: PageRank mass conserved on random graphs") {
    val rnd = new scala.util.Random(61)
    val edges = (1 to 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b) + 41L, 1L + rnd.nextInt(3)) // bipartite-ish, no self loop
    }.distinct.toDF("src", "dst", "w")
    val ranks = graft.ops.Graph.pageRank(edges, iters = 3).collect()
    val meanRank = ranks.map(_.getDouble(1)).sum / ranks.length
    assert(math.abs(meanRank - 1.0) < 1e-3) // normalized mean stays 1
  }

  // -----------------------------------------------------------------
  // plan guards: the row-scale ranking never crosses a single-partition
  // global window — every Window over the ranked frame carries __pid
  // -----------------------------------------------------------------
  test("distributed ranking plans: row-scale windows partition by __pid") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 200).map(i => (rnd.nextDouble(), i.toLong)).toDF("v", "id")
    val ranked = core.PrefixSum.runningTotals(df, Seq(col("v").desc, col("id")),
      Map("rn" -> lit(1.0)))
    val plan = ranked.queryExecution.explainString(ExplainMode.fromString("simple"))
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(l => assert(l.contains("__pid"),
      s"row-scale window must partition by __pid:\n$l"))
    val indexed = core.PrefixSum.rowIndex(df, Seq(col("v").desc, col("id")), None)._1
    assert(!indexed.queryExecution.explainString(ExplainMode.fromString("simple"))
      .contains("Window"), "rowIndex ranks from the partition counter, with no window")
  }

  // -----------------------------------------------------------------
  // round-11 hardening: oracle-exact negative rounding, null-group
  // exclusion, degenerate-input guards
  // -----------------------------------------------------------------
  test("Round.r6: negative half-micro boundaries round away from zero") {
    // DuckDB round(x, 6) rounds half AWAY from zero; the naive
    // floor(x·1e6 + 0.5) form rounds toward +inf and diverges on
    // negatives (verified against DuckDB: round(-2.5e-6,6) = -3e-6)
    assert(graft.core.Round.r6(-2.5e-6) == -3e-6)
    assert(graft.core.Round.r6(-5e-7) == -1e-6)
    assert(graft.core.Round.r6(-1.5e-6) == -2e-6)
    assert(graft.core.Round.r6(2.5e-6) == 3e-6)   // positive unchanged
    assert(graft.core.Round.r6(0.0) == 0.0)
    assert(graft.core.Round.r6(-7.25) == -7.25)   // on-grid passthrough
  }

  test("bollingerDaily: constant full window emits zero-width bands, not NaN") {
    // E[x²]−E[x]² can cancel to a tiny negative double on a constant
    // window of large closes; the greatest(·, 0) clamp keeps sqrt real
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    val df = (1 to 5).map(d => (t(d), d.toLong, "p", 2747.123451))
      .toDF("ts", "event_id", "event_type", "value")
    val rows = graft.ops.EventAnalytics.bollingerDaily(df, "ts", "event_id",
        "event_type", "value", trailingDays = 3, k = 2.0)
      .filter(col("sma").isNotNull).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (sma, up, lo) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(!up.isNaN && !lo.isNaN, s"NaN band at ${r.getString(0)}")
      // cancellation noise is ~1e-9 in the variance (≲1e-4 in the
      // band) and the clamp forbids the negative side entirely; both
      // engines replay the identical double formula so parity holds
      assert(up >= sma && lo <= sma && up - sma < 1e-3)
    }
  }

  test("robustOutliers/groupGapPercentiles: null groups excluded, no NPE") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0),
        (null.asInstanceOf[String], 9.0))
      .toDF("event_type", "value")
    val got = graft.ops.Stats.robustOutliers(df, "event_type", "value")
      .collect()
    assert(got.map(_.getString(0)).toSeq == Seq("g"))
    def t(s: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val ev = Seq((1L, t(0), 1L, "a"), (1L, t(10), 2L, "a"),
        (2L, t(0), 3L, null.asInstanceOf[String]),
        (2L, t(5), 4L, null.asInstanceOf[String]))
      .toDF("user_id", "ts", "event_id", "event_type")
    val gp = graft.ops.Temporal.groupGapPercentiles(ev, "event_type",
        "user_id", "ts", "event_id").collect()
    assert(gp.map(_.getString(0)).toSeq == Seq("a"))
  }

  test("per-group loops: non-string group columns re-filter by typed literal") {
    // an integer group column must not be matched via string casts
    val df = Seq((10L, 1.0), (10L, 2.0), (10L, 3.0), (20L, 5.0), (20L, 7.0))
      .toDF("gid", "value")
    val got = graft.ops.Stats.winsorizedMeans(df, "gid", "value",
        pLo = 0.0, pHi = 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("10" -> 3L, "20" -> 2L))
  }

  test("kaplanMeier: empty input yields empty curve, not NPE") {
    val df = Seq.empty[(Long, Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.EventAnalytics.kaplanMeier(df, "user_id", "ts",
      "event_type", "view", "purchase")
    assert(got.count() == 0)
    assert(got.columns.toSeq ==
      Seq("duration_days", "n_risk", "n_events", "survival"))
  }
}
