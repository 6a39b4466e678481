package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ml.Evaluation
import graft.ops.EventAnalytics

/** Driver-checked queries for the model-evaluation / drift family
  * (`ml/Evaluation.scala`) and the behavioral event-analytics family
  * (`ops/EventAnalytics.scala`).
  *
  * The evaluation queries need a deterministic, engine-portable
  * (score, label) pair, so they score documents with the q44 quality
  * expression (whose DuckDB rendering `LlmQueries.qualitySql` is
  * already oracle-pinned) against the binary label lang = 'en' — every
  * number in the chain is then exactly replayable in SQL, unlike a
  * trained model's outputs. The event queries run over the normalized
  * events table.
  */
object EvalQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  private def events(s: SparkSession, d: String): DataFrame =
    graft.streaming.Events.normalize(Tables.events(s, d))

  /** Documents scored by the q44 quality expression with the binary
    * en/no-en label. */
  private def scoredDocs(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    graft.text.TextOps.qualityScore(dd, "doc_id", "text")
      .join(dd.select(col("doc_id"),
        (col("lang") === "en").cast("double").as("label")), "doc_id")
  }

  // -------------------------------------------------------------------
  // q155: reliability / calibration bins of the quality score against
  // the en-label, with per-bin Brier contributions.
  // -------------------------------------------------------------------
  def calibration(s: SparkSession, d: String): DataFrame =
    Evaluation.calibrationBins(scoredDocs(s, d), "label", "quality", 10)
      .orderBy("bin")

  val calibrationSql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |l AS (SELECT q.doc_id, q.quality,
      |             CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |      FROM q JOIN documents d USING (doc_id)),
      |b AS (SELECT CAST(least(floor(quality * 10), 9) AS BIGINT) AS bin,
      |             quality, y FROM l)
      |SELECT bin, count(*) AS n, round(avg(quality), 6) AS mean_score,
      |       round(avg(y), 6) AS frac_pos,
      |       round(avg((quality - y) * (quality - y)), 6) AS brier
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // q156: two-sample Kolmogorov-Smirnov statistic between the en and
  // non-en quality-score distributions (score drift between cohorts).
  // Spark side is the distributed prefix-sum CDF; the oracle is the
  // naive global-window CDF DuckDB can afford at sf0.01.
  // -------------------------------------------------------------------
  def ksDrift(s: SparkSession, d: String): DataFrame =
    Evaluation.ksStatistic(scoredDocs(s, d), "quality", col("label") === 1.0)

  val ksDriftSql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |l AS (SELECT q.quality, d.lang = 'en' AS a
      |      FROM q JOIN documents d USING (doc_id)),
      |g AS (SELECT quality AS s,
      |             sum(CASE WHEN a THEN 1.0 ELSE 0.0 END) AS na,
      |             sum(CASE WHEN a THEN 0.0 ELSE 1.0 END) AS nb
      |      FROM l GROUP BY 1),
      |c AS (SELECT sum(na) OVER (ORDER BY s) AS ca,
      |             sum(nb) OVER (ORDER BY s) AS cb FROM g),
      |t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM g)
      |SELECT round(max(abs(ca / ta - cb / tb)), 6) AS ks,
      |       CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b
      |FROM c, t GROUP BY ta, tb""".stripMargin

  // -------------------------------------------------------------------
  // q157: Population Stability Index of n_chars per source vs src0 —
  // the scorecard drift measure over reference-decile bins.
  // -------------------------------------------------------------------
  def psiDrift(s: SparkSession, d: String): DataFrame =
    Evaluation.psiByGroup(docs(s, d), "source", "n_chars", "src0", 10)
      .orderBy("source")

  val psiDriftSql: String =
    """WITH br AS (
      |  SELECT round(b, 6) AS br
      |  FROM (SELECT unnest(quantile_cont(n_chars,
      |          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS b
      |        FROM documents WHERE source = 'src0')
      |),
      |binned AS (
      |  SELECT d.source,
      |         1 + (SELECT count(*) FROM br WHERE d.n_chars > br.br) AS bin
      |  FROM documents d
      |),
      |tot AS (SELECT source, count(*) AS t FROM documents GROUP BY 1),
      |cnt AS (SELECT source, bin, count(*) AS n FROM binned GROUP BY 1, 2),
      |grid AS (SELECT t.source, gs.bin
      |         FROM tot t CROSS JOIN (SELECT unnest(range(1, 11)) AS bin) gs),
      |props AS (
      |  SELECT g.source, g.bin,
      |         greatest(coalesce(cnt.n, 0) * 1.0 / t.t, 1e-6) AS p
      |  FROM grid g
      |  LEFT JOIN cnt ON cnt.source = g.source AND cnt.bin = g.bin
      |  JOIN tot t ON t.source = g.source
      |),
      |ref AS (SELECT bin, p AS pr FROM props WHERE source = 'src0')
      |SELECT p.source, round(sum((p.p - r.pr) * ln(p.p / r.pr)), 6) AS psi
      |FROM props p JOIN ref r USING (bin)
      |GROUP BY 1 ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q158: cumulative gains / lift by quality decile against the
  // en-label. Spark ranks via the distributed row index
  // (`core.PrefixSum.rowIndex`);
  // the oracle uses the naive global row_number with the identical
  // (quality DESC, doc_id) total order and identical integer tile
  // arithmetic.
  // -------------------------------------------------------------------
  def liftGains(s: SparkSession, d: String): DataFrame =
    Evaluation.liftGains(scoredDocs(s, d), "doc_id", "label", "quality", 10)
      .orderBy("tile")

  val liftGainsSql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |l AS (SELECT q.doc_id, q.quality,
      |             CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |      FROM q JOIN documents d USING (doc_id)),
      |r AS (SELECT quality, doc_id, y,
      |        row_number() OVER (ORDER BY quality DESC, doc_id) AS rn,
      |        count(*) OVER () AS n, sum(y) OVER () AS tp
      |      FROM l),
      |a AS (SELECT 1 + (rn - 1) * 10 // n AS tile, count(*) AS n_rows,
      |             sum(y) AS n_pos, max(n) AS n, max(tp) AS tp
      |      FROM r GROUP BY 1)
      |SELECT tile, n_rows, CAST(n_pos AS BIGINT) AS n_pos,
      |  round(sum(n_pos) OVER (ORDER BY tile) / tp, 6) AS capture,
      |  round((n_pos / n_rows) / (tp / n), 6) AS lift,
      |  round((sum(n_pos) OVER (ORDER BY tile)
      |         / sum(n_rows) OVER (ORDER BY tile)) / (tp / n), 6) AS cum_lift
      |FROM a ORDER BY tile""".stripMargin

  // -------------------------------------------------------------------
  // q159: first-order Markov transition matrix of event types per user
  // timeline (ties broken by event_id), with row-normalized
  // probabilities.
  // -------------------------------------------------------------------
  def transitions(s: SparkSession, d: String): DataFrame =
    EventAnalytics.transitionMatrix(events(s, d), "user_id", "ts",
        "event_type", "event_id")
      .orderBy("prev_type", "next_type")

  val transitionsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev
      |  FROM events
      |),
      |c AS (SELECT prev AS prev_type, event_type AS next_type, count(*) AS n
      |      FROM o WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |       round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------------------------------------
  // q160: per-user inter-event burstiness (Goh & Barabási 2008).
  // The reported mean gap is exact integer division (µs-magnitude
  // doubles have ULP > 1e-6, so a 6-dp round is engine noise); the
  // exact double mean feeds the ratio. The std is rounded to whole µs
  // on BOTH sides before the ratio so the engines' different variance
  // summation orders cannot flip a 6-dp rounding.
  // -------------------------------------------------------------------
  def burstiness(s: SparkSession, d: String): DataFrame =
    EventAnalytics.burstiness(events(s, d), "user_id", "ts", "event_id")
      .orderBy("user_id")

  val burstinessSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events
      |),
      |a AS (
      |  SELECT user_id, count(*) AS n_gaps,
      |         sum(gap) * 1.0 / count(*) AS mean_gap,
      |         CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_us,
      |         CAST(round(stddev_pop(gap), 0) AS BIGINT) AS std_gap_us
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1
      |)
      |SELECT user_id, n_gaps, mean_gap_us, std_gap_us,
      |       CASE WHEN std_gap_us + mean_gap > 0
      |            THEN round((std_gap_us - mean_gap) / (std_gap_us + mean_gap), 6)
      |       END AS burstiness
      |FROM a ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q161: RFM segmentation of users — recency / frequency / monetary
  // quintile scores (1 = best) under explicit deterministic total
  // orders and exact integer tile arithmetic.
  // -------------------------------------------------------------------
  def rfmSegments(s: SparkSession, d: String): DataFrame =
    EventAnalytics.rfm(events(s, d), "user_id", "ts", "value",
        col("event_type") === "purchase", 5)
      .orderBy("user_id")

  val rfmSegmentsSql: String =
    """WITH u AS (
      |  SELECT user_id, max(ts) AS last_ts, count(*) AS frequency,
      |         round(coalesce(sum(CASE WHEN event_type = 'purchase'
      |                                 THEN value END), 0), 6) AS monetary
      |  FROM events GROUP BY 1
      |),
      |mx AS (SELECT max(last_ts) AS m FROM u),
      |s AS (SELECT user_id, epoch_us(m) - epoch_us(last_ts) AS recency_us,
      |             frequency, monetary
      |      FROM u, mx),
      |r AS (SELECT *,
      |        row_number() OVER (ORDER BY recency_us, user_id) AS rr,
      |        row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
      |        row_number() OVER (ORDER BY monetary DESC, user_id) AS rm,
      |        count(*) OVER () AS n
      |      FROM s)
      |SELECT user_id, recency_us, frequency, monetary,
      |       1 + (rr - 1) * 5 // n AS r_score,
      |       1 + (rf - 1) * 5 // n AS f_score,
      |       1 + (rm - 1) * 5 // n AS m_score
      |FROM r ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q166: trailing-7-day volume anomaly over daily event counts.
  // Integer-exact window moments keep the z-score engine-portable.
  // -------------------------------------------------------------------
  def dailyAnomaly(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.dailyAnomaly(events(s, d), "ts", 7, 2.0)
      .orderBy("day")

  val dailyAnomalySql: String =
    """WITH dly AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
      |             FROM events GROUP BY 1),
      |w AS (SELECT day, n_events,
      |        count(*) OVER tw AS c,
      |        avg(n_events * 1.0) OVER tw AS m,
      |        avg(n_events * n_events * 1.0) OVER tw AS m2
      |      FROM dly
      |      WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
      |  CASE WHEN c >= 7 THEN round(m, 6) END AS trailing_mean,
      |  CASE WHEN c >= 7 AND m2 - m * m > 0
      |       THEN round((n_events - m) / sqrt(m2 - m * m), 6) END AS z,
      |  CASE WHEN c >= 7 AND m2 - m * m > 0
      |       THEN abs((n_events - m) / sqrt(m2 - m * m)) > 2.0 END AS is_anomaly
      |FROM w ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // q167: stratified exact-n sample — first 5 docs per source under
  // the content-hash order (reproducible on any cluster layout).
  // -------------------------------------------------------------------
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Misc.stratifiedSample(docs(s, d), "source", 5, Seq("doc_id"))
      .select("source", "doc_id")
      .orderBy("source", "doc_id")

  val stratifiedSampleSql: String =
    """WITH h AS (SELECT doc_id, source,
      |                  md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
      |r AS (SELECT doc_id, source,
      |        row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
      |      FROM h)
      |SELECT source, doc_id FROM r WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q168: chi-squared independence of lang × source with Cramér's V.
  // -------------------------------------------------------------------
  def chi2(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.chi2Independence(docs(s, d), "lang", "source")

  val chi2Sql: String =
    """WITH dd AS (SELECT lang, source FROM documents
      |            WHERE lang IS NOT NULL AND source IS NOT NULL),
      |o AS (SELECT lang, source, count(*) AS obs
      |      FROM dd GROUP BY 1, 2),
      |rt AS (SELECT lang, sum(obs) AS r FROM o GROUP BY 1),
      |ct AS (SELECT source, sum(obs) AS c FROM o GROUP BY 1),
      |nn AS (SELECT count(*) * 1.0 AS n FROM dd),
      |g AS (SELECT rt.lang, ct.source, rt.r, ct.c FROM rt CROSS JOIN ct),
      |f AS (SELECT g.lang, g.source, coalesce(o.obs, 0) AS obs,
      |             g.r * g.c / nn.n AS e
      |      FROM g LEFT JOIN o ON o.lang = g.lang AND o.source = g.source, nn),
      |s AS (SELECT sum((obs - e) * (obs - e) / e) AS chi2 FROM f),
      |d AS (SELECT (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
      |             least(count(DISTINCT lang) - 1,
      |                   count(DISTINCT source) - 1) AS mindim
      |      FROM dd)
      |SELECT round(s.chi2, 6) AS chi2, CAST(d.dof AS BIGINT) AS dof,
      |       round(sqrt(s.chi2 / (nn.n * d.mindim)), 6) AS cramers_v,
      |       CAST(nn.n AS BIGINT) AS n
      |FROM s, d, nn""".stripMargin

  // -------------------------------------------------------------------
  // q169: per-source quantile normalization of n_chars (exact percent
  // rank, min-rank ties).
  // -------------------------------------------------------------------
  def quantileNormalize(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.quantileNormalize(docs(s, d), "source", "n_chars",
        Seq("doc_id"))
      .select("doc_id", "source", "n_chars", "q_norm")
      .orderBy("doc_id")

  val quantileNormalizeSql: String =
    """SELECT doc_id, source, n_chars,
      |       round(percent_rank() OVER
      |         (PARTITION BY source ORDER BY n_chars), 6) AS q_norm
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q173: deterministic weighted sample without replacement — the
  // Efraimidis-Spirakis exponential-key top-50 weighted by the q44
  // quality score, with the uniform drawn from the doc_id md5 coin.
  // -------------------------------------------------------------------
  def weightedTopN(s: SparkSession, d: String): DataFrame = {
    val q = graft.text.TextOps.qualityScore(docs(s, d), "doc_id", "text")
    graft.ops.Misc.weightedSampleTopN(q, 50, "quality", Seq("doc_id"))
      .select("doc_id", "quality")
      .orderBy("doc_id")
  }

  val weightedTopNSql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |k AS (SELECT doc_id, quality,
      |        ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |            % 1000000 + 0.5) / 1000000.0) / quality AS es_key
      |      FROM q),
      |top AS (SELECT doc_id, quality FROM k
      |        ORDER BY es_key DESC, doc_id LIMIT 50)
      |SELECT doc_id, quality FROM top ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q174: per-source OLS of quality on n_chars — slope / intercept /
  // r² from exact integer sufficient sums (x already integer, y in
  // micro-units), so the oracle reproduces every bit.
  // -------------------------------------------------------------------
  def groupOls(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val j = dd.select("doc_id", "source", "n_chars")
      .join(graft.text.TextOps.qualityScore(dd, "doc_id", "text"), "doc_id")
    graft.ops.Stats.groupOls(j, "source", "n_chars", "quality",
        xScale = 1.0, yScale = 1e6)
      .orderBy("source")
  }

  val groupOlsSql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |j AS (SELECT d.source, d.n_chars AS xi,
      |             CAST(sign(q.quality)
      |                  * floor(abs(q.quality) * 1000000.0 + 0.5)
      |                  AS BIGINT) AS yi
      |      FROM documents d JOIN q USING (doc_id)),
      |a AS (SELECT source, count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
      |             sum(xi * xi) AS sxx, sum(xi * yi) AS sxy,
      |             sum(yi * yi) AS syy
      |      FROM j GROUP BY 1),
      |f AS (SELECT source, n,
      |        ((n * 1.0) * (sxy * 1.0) - (sx * 1.0) * (sy * 1.0))
      |          / ((n * 1.0) * (sxx * 1.0) - (sx * 1.0) * (sx * 1.0))
      |          * (1.0 / 1000000.0) AS slope,
      |        (n * 1.0) * (sxy * 1.0) - (sx * 1.0) * (sy * 1.0) AS covn,
      |        (n * 1.0) * (sxx * 1.0) - (sx * 1.0) * (sx * 1.0) AS varxn,
      |        (n * 1.0) * (syy * 1.0) - (sy * 1.0) * (sy * 1.0) AS varyn,
      |        sx * 1.0 AS sxd, sy * 1.0 AS syd
      |      FROM a WHERE n >= 2
      |        AND (n * 1.0) * (sxx * 1.0) - (sx * 1.0) * (sx * 1.0) > 0)
      |SELECT source, n, round(slope, 9) AS slope,
      |  round(syd / ((n * 1.0) * 1000000.0) - slope * (sxd / ((n * 1.0) * 1.0)), 9)
      |    AS intercept,
      |  CASE WHEN varyn > 0
      |       THEN round(covn * covn / (varxn * varyn), 9) END AS r2
      |FROM f ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q175: blocked fuzzy join (record linkage) — candidate pairs share
  // the first whitespace token, compared by edit distance over 40-char
  // prefixes.
  // -------------------------------------------------------------------
  /** q175's candidate pairs feed q194's cluster pass too — build once
    * per (session, sf) and checkpoint (the co-purchase edge-memo
    * pattern). */
  private def fuzzyPairs(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.getOrElseUpdate(
        s"fuzzypairs:${s.sparkContext.applicationId}:$d") {
      graft.dedup.Dedup.fuzzyJoinBlocked(docs(s, d), "doc_id", "text",
          split(trim(col("text")), "\\s+").getItem(0),
          maxDistance = 10, prefixLen = 40)
        .localCheckpoint(false)
    }

  def fuzzyJoin(s: SparkSession, d: String): DataFrame =
    fuzzyPairs(s, d).orderBy("id_1", "id_2")

  /** q223: the answer-volume knob on the fuzzy-join family — the
    * ascending arm of Dedup.budgetPairs (keep the CLOSEST pairs per
    * anchor, ties by id_2; drops counted on every kept row), closing
    * the q69/q175-class budget ask on its second member. Shares q175's
    * memoized pairs; budget=1 engages at sf0.01 (anchors carry up to
    * 2 pairs) so the oracle verifies the cap, not a pass-through. */
  def fuzzyBudget(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.budgetPairs(fuzzyPairs(s, d), "distance",
        budget = 1, ascending = true)
      .orderBy("id_1", "id_2")

  /** q224: the loud half of the fuzzy-join skew guard — the
    * (n_groups_dropped, n_rows_dropped) stats frame of
    * `fuzzyJoinBlockedWithStats` over the TWO-token block key
    * (`Dedup.tokenBlockKey`, the sf10 finding's recipe for
    * low-diversity corpora), with `maxBlockSize = 3` so the guard
    * ENGAGES at gate scale (two-token blocks reach size 4-5) and the
    * oracle verifies nonzero drop counts, not a (0, 0) pass-through.
    * Closes the r13 no-silent-caps ask: a 100%-dropped corpus now
    * answers with its drop counts instead of only an empty pair
    * table. */
  def fuzzyGuardStats(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.fuzzyJoinBlockedWithStats(docs(s, d), "doc_id",
      "text", graft.dedup.Dedup.tokenBlockKey(col("text"), 2),
      maxDistance = 10, prefixLen = 40, maxBlockSize = 3)._2

  val fuzzyGuardStatsSql: String =
    """WITH k AS (
      |  SELECT array_to_string(
      |           (string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))[1:2], ' ') AS blk
      |  FROM documents),
      |s AS (SELECT blk, count(*) AS sz FROM k GROUP BY blk)
      |SELECT count(*) AS n_groups_dropped,
      |       CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_rows_dropped
      |FROM s WHERE sz > 3""".stripMargin

  val fuzzyBudgetSql: String =
    """WITH k0 AS (
      |  SELECT doc_id AS id, substr(text, 1, 40) AS pfx,
      |         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')[1] AS blk
      |  FROM documents
      |),
      |ok AS (SELECT blk FROM k0 GROUP BY blk HAVING count(*) <= 10000),
      |k AS (SELECT k0.* FROM k0 JOIN ok USING (blk)),
      |pairs AS (
      |  SELECT a.id AS id_1, b.id AS id_2,
      |         levenshtein(a.pfx, b.pfx) AS distance
      |  FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
      |  WHERE levenshtein(a.pfx, b.pfx) <= 10)
      |SELECT id_1, id_2, distance,
      |       greatest(0, cnt - 1) AS n_dropped
      |FROM (SELECT *,
      |        row_number() OVER (PARTITION BY id_1
      |                           ORDER BY distance ASC, id_2) AS rn,
      |        count(*) OVER (PARTITION BY id_1) AS cnt
      |      FROM pairs) z
      |WHERE rn <= 1 ORDER BY id_1, id_2""".stripMargin

  // the ok CTE mirrors the operator's maxBlockSize=10000 skew guard:
  // at a scale factor where a first-token block exceeds the cap the
  // engine drops it, so the oracle must drop it too
  val fuzzyJoinSql: String =
    """WITH k0 AS (
      |  SELECT doc_id AS id, substr(text, 1, 40) AS pfx,
      |         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')[1] AS blk
      |  FROM documents
      |),
      |ok AS (SELECT blk FROM k0 GROUP BY blk HAVING count(*) <= 10000),
      |k AS (SELECT k0.* FROM k0 JOIN ok USING (blk))
      |SELECT a.id AS id_1, b.id AS id_2,
      |       levenshtein(a.pfx, b.pfx) AS distance
      |FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
      |WHERE levenshtein(a.pfx, b.pfx) <= 10
      |ORDER BY id_1, id_2""".stripMargin

  // -------------------------------------------------------------------
  // q176: seasonal-naive forecast backtest over daily event counts.
  // -------------------------------------------------------------------
  def seasonalBacktest(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.seasonalBacktest(events(s, d), "ts", 7)
      .orderBy("day")

  val seasonalBacktestSql: String =
    """WITH dly AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |             FROM events GROUP BY 1)
      |SELECT strftime(a.day, '%Y-%m-%d') AS day, a.n AS n_events,
      |       b.n AS forecast, abs(a.n - b.n) AS abs_err,
      |       round(abs(a.n - b.n) * 1.0 / a.n, 6) AS ape
      |FROM dly a JOIN dly b ON b.day = a.day - 7
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // q177: exact describe() over the numeric lineitem columns — moments
  // from exact integer sums, quartiles as exact order statistics.
  // -------------------------------------------------------------------
  def describe(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.describeExact(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name")

  val describeSql: String = {
    def block(c: String): String =
      s"""SELECT '$c' AS col_name, count(vi) AS n,
        |  round((sum(vi) * 1.0) / 1000000.0 / count(vi), 6) AS mean,
        |  round(sqrt((sum(vi * vi) * 1.0) / 1e12 / count(vi)
        |    - ((sum(vi) * 1.0) / 1000000.0 / count(vi))
        |      * ((sum(vi) * 1.0) / 1000000.0 / count(vi))), 6) AS std,
        |  round(min(vi) / 1000000.0, 6) AS min,
        |  round(quantile_cont(v, 0.25), 6) AS p25,
        |  round(quantile_cont(v, 0.5), 6) AS p50,
        |  round(quantile_cont(v, 0.75), 6) AS p75,
        |  round(max(vi) / 1000000.0, 6) AS max
        |FROM (SELECT CAST(sign($c) * floor(abs($c) * 1000000.0 + 0.5)
        |               AS HUGEINT) AS vi,
        |             $c * 1.0 AS v FROM lineitem)""".stripMargin
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      .map(block).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // -------------------------------------------------------------------
  // q178: top within-session event-type trigrams (30-minute sessions,
  // deterministic tie-break, TakeOrdered top-20).
  // -------------------------------------------------------------------
  def eventTrigrams(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.topSequences(events(s, d), "user_id", "ts",
        "event_type", "event_id", gapSec = 1800L, n = 3, topK = 20)
      .orderBy(col("n_occurrences").desc, col("sequence"))

  val eventTrigramsSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |      THEN 1 ELSE 0 END AS gap
      |  FROM events),
      |s AS (SELECT user_id, ts, event_id, event_type,
      |        sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING) AS session
      |      FROM o),
      |g AS (SELECT event_type || '>' ||
      |        lead(event_type, 1) OVER w || '>' ||
      |        lead(event_type, 2) OVER w AS sequence,
      |        lead(event_type, 2) OVER w AS t2
      |      FROM s
      |      WINDOW w AS (PARTITION BY user_id, session ORDER BY ts, event_id)),
      |c AS (SELECT sequence, count(*) AS n_occurrences FROM g
      |      WHERE t2 IS NOT NULL GROUP BY 1)
      |SELECT sequence, n_occurrences FROM c
      |ORDER BY n_occurrences DESC, sequence LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q182: two-proportion z-test — purchase conversion of even- vs
  // odd-keyed users (the A/B-test read-out over exact counts).
  // -------------------------------------------------------------------
  def abTest(s: SparkSession, d: String): DataFrame = {
    val units = events(s, d).groupBy("user_id").agg(
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    Evaluation.twoProportionZTest(units, col("user_id") % 2 === 0, "conv")
  }

  val abTestSql: String =
    """WITH u AS (SELECT user_id,
      |                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
      |                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |                    AS conv
      |           FROM events GROUP BY user_id),
      |a AS (SELECT sum(CASE WHEN ga = 1 THEN 1 ELSE 0 END) AS na,
      |             sum(CASE WHEN ga = 1 THEN conv ELSE 0 END) AS xa,
      |             sum(CASE WHEN ga = 0 THEN 1 ELSE 0 END) AS nb,
      |             sum(CASE WHEN ga = 0 THEN conv ELSE 0 END) AS xb
      |      FROM u)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
      |       CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
      |  round(xa * 1.0 / na, 6) AS p_a, round(xb * 1.0 / nb, 6) AS p_b,
      |  round((xa * 1.0 / na - xb * 1.0 / nb)
      |        / sqrt(((xa + xb) * 1.0 / (na + nb))
      |               * (1 - (xa + xb) * 1.0 / (na + nb))
      |               * (1.0 / na + 1.0 / nb)), 6) AS z
      |FROM a""".stripMargin

  // -------------------------------------------------------------------
  // q183: Mann-Whitney U (rank-sum, average ranks for ties, normal
  // approximation without tie correction) between en and non-en
  // quality distributions.
  // -------------------------------------------------------------------
  def mannWhitney(s: SparkSession, d: String): DataFrame =
    Evaluation.mannWhitney(scoredDocs(s, d), "quality", col("label") === 1.0)

  val mannWhitneySql: String =
    s"""WITH q AS (${LlmQueries.qualitySql}),
      |l AS (SELECT q.quality, d.lang = 'en' AS a
      |      FROM q JOIN documents d USING (doc_id)),
      |g AS (SELECT quality AS s, count(*) AS n,
      |             sum(CASE WHEN a THEN 1 ELSE 0 END) AS na
      |      FROM l GROUP BY 1),
      |c AS (SELECT s, n, na, sum(n) OVER (ORDER BY s) - n AS cumbefore FROM g),
      |r AS (SELECT sum(na * (cumbefore + (n + 1) / 2.0)) AS ra,
      |             sum(na) AS na2, sum(n - na) AS nb2 FROM c)
      |SELECT round(ra - na2 * (na2 + 1) / 2.0, 6) AS u,
      |  round((ra - na2 * (na2 + 1) / 2.0 - na2 * 1.0 * nb2 / 2.0)
      |        / sqrt(na2 * 1.0 * nb2 * (na2 + nb2 + 1.0) / 12.0), 6) AS z,
      |  CAST(na2 AS BIGINT) AS n_a, CAST(nb2 AS BIGINT) AS n_b
      |FROM r""".stripMargin

  // -------------------------------------------------------------------
  // q185: Benford first-digit drift over l_extendedprice — leading
  // digit from the micro-unit integer's decimal string (no float
  // log10 edge cases).
  // -------------------------------------------------------------------
  def benford(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.benfordDigits(Tables.lineitem(s, d), "l_extendedprice")
      .orderBy("digit")

  val benfordSql: String =
    """WITH v AS (SELECT CAST(sign(l_extendedprice)
      |                        * floor(abs(l_extendedprice) * 1e6 + 0.5)
      |                        AS BIGINT) AS vi
      |           FROM lineitem),
      |c AS (SELECT CAST(substr(CAST(vi AS VARCHAR), 1, 1) AS INT) AS digit,
      |             count(*) AS n
      |      FROM v WHERE vi > 0 GROUP BY 1),
      |t AS (SELECT sum(n) * 1.0 AS tot FROM c)
      |SELECT digit, n, round(n / tot, 6) AS obs_frac,
      |       round(log10(1.0 + 1.0 / digit), 6) AS exp_frac
      |FROM c, t ORDER BY digit""".stripMargin

  // -------------------------------------------------------------------
  // q187: lagged cross-correlation of daily purchase vs error counts
  // (lead/lag discovery) — Pearson r from exact integer sums per lag.
  // -------------------------------------------------------------------
  def crossCorrelation(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.laggedCrossCorrelation(events(s, d), "ts",
        "event_type", "purchase", "error", 3)
      .orderBy("lag")

  val crossCorrelationSql: String =
    """WITH p AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events
      |           WHERE event_type = 'purchase' GROUP BY 1),
      |e AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events
      |      WHERE event_type = 'error' GROUP BY 1),
      |l AS (SELECT unnest(range(-3, 4)) AS lag),
      |j AS (SELECT l.lag, p.x, e.y
      |      FROM p CROSS JOIN l JOIN e ON e.day = p.day + CAST(l.lag AS INT)),
      |a AS (SELECT lag, count(*) AS n_days, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      |      FROM j GROUP BY 1)
      |SELECT lag, n_days,
      |  round(((n_days * 1.0) * (sxy * 1.0) - (sx * 1.0) * (sy * 1.0))
      |        / sqrt(((n_days * 1.0) * (sxx * 1.0) - (sx * 1.0) * (sx * 1.0))
      |               * ((n_days * 1.0) * (syy * 1.0) - (sy * 1.0) * (sy * 1.0))),
      |        6) AS r
      |FROM a
      |WHERE (n_days * 1.0) * (sxx * 1.0) - (sx * 1.0) * (sx * 1.0) > 0
      |  AND (n_days * 1.0) * (syy * 1.0) - (sy * 1.0) * (sy * 1.0) > 0
      |ORDER BY lag""".stripMargin

  // -------------------------------------------------------------------
  // q188: interval union — total non-double-counted active time per
  // user when every event opens a 5-minute activity window.
  // -------------------------------------------------------------------
  def intervalUnion(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    graft.ops.EventAnalytics.intervalUnion(events(s, d), "user_id",
        us, us + 300000000L)
      .orderBy("user_id")
  }

  val intervalUnionSql: String =
    """WITH i AS (SELECT user_id, epoch_us(ts) AS s,
      |                  epoch_us(ts) + 300000000 AS e FROM events),
      |o AS (SELECT user_id, s, e,
      |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM i),
      |f AS (SELECT user_id, s, e,
      |        sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY s, e
      |                ROWS UNBOUNDED PRECEDING) AS island
      |      FROM o),
      |m AS (SELECT user_id, island, min(s) AS i0, max(e) AS i1
      |      FROM f GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_intervals,
      |       CAST(sum(i1 - i0) AS BIGINT) AS covered_us
      |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q189: exact weighted percentiles (lower weighted quantile) of
  // price weighted by quantity — the distributed prefix-sum CDF again.
  // -------------------------------------------------------------------
  def weightedPercentiles(s: SparkSession, d: String): DataFrame = {
    val ps = graft.ops.Percentiles.weightedExact(
      Tables.lineitem(s, d), "l_extendedprice", "l_quantity",
      Seq(0.25, 0.5, 0.75))
    def r6(x: Double): Double = graft.core.Round.r6(x)
    import s.implicits._
    Seq((r6(ps(0.25)), r6(ps(0.5)), r6(ps(0.75)))).toDF("p25", "p50", "p75")
  }

  val weightedPercentilesSql: String =
    """WITH g AS (SELECT l_extendedprice AS v, sum(l_quantity) AS w
      |           FROM lineitem GROUP BY 1),
      |c AS (SELECT v, sum(w) OVER (ORDER BY v) AS cw, sum(w) OVER () AS tot
      |      FROM g)
      |SELECT round(min(CASE WHEN cw >= 0.25 * tot THEN v END), 6) AS p25,
      |       round(min(CASE WHEN cw >= 0.5 * tot THEN v END), 6) AS p50,
      |       round(min(CASE WHEN cw >= 0.75 * tot THEN v END), 6) AS p75
      |FROM c""".stripMargin

  // -------------------------------------------------------------------
  // q190: daily OHLC bars per event type — deterministic open/close
  // via struct-min/max under the (ts, event_id) total order.
  // -------------------------------------------------------------------
  def ohlc(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.dailyOhlc(events(s, d), "ts", "event_id",
        "event_type", "value")
      .orderBy("day", "event_type")

  val ohlcSql: String =
    """WITH b AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, value,
      |    first_value(value) OVER (PARTITION BY CAST(ts AS DATE), event_type
      |      ORDER BY ts, event_id) AS o,
      |    first_value(value) OVER (PARTITION BY CAST(ts AS DATE), event_type
      |      ORDER BY ts DESC, event_id DESC) AS c
      |  FROM events)
      |SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
      |  round(max(o), 6) AS open, round(max(value), 6) AS high,
      |  round(min(value), 6) AS low, round(max(c), 6) AS close,
      |  round(CAST(sum(CAST(sign(value) * floor(abs(value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000, 6) AS volume, count(*) AS n
      |FROM b GROUP BY day, event_type ORDER BY day, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q191: first/last-touch attribution — every purchase attributed to
  // the same user's first and last view inside the trailing 7-day
  // window, waits in exact integer µs.
  // -------------------------------------------------------------------
  def attribution(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.attribution(events(s, d), "user_id", "ts",
        "event_id", "value", "purchase", "view", "event_type",
        windowSec = 604800L)
      .orderBy("event_id")

  val attributionSql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS cts, value
      |           FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, epoch_us(ts) AS tts FROM events
      |      WHERE event_type = 'view'),
      |j AS (SELECT c.event_id, c.user_id, c.cts, c.value,
      |        CASE WHEN t.tts IS NOT NULL AND t.tts <= c.cts
      |                  AND t.tts >= c.cts - 604800000000 THEN t.tts END AS tin
      |      FROM c LEFT JOIN t ON t.user_id = c.user_id)
      |SELECT event_id, user_id, round(value, 6) AS value,
      |       cts - min(tin) AS first_touch_wait_us,
      |       cts - max(tin) AS last_touch_wait_us
      |FROM j GROUP BY event_id, user_id, cts, value
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q198: multi-touch attribution credit — every purchase's value
  // fractionally distributed over its trailing-7-day views and clicks
  // under the linear and U-shaped position models, totalled per
  // channel in exact micro-units.
  // -------------------------------------------------------------------
  def attributionCredit(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.attributionCredit(events(s, d), "user_id",
        "ts", "event_id", "value", "purchase", Seq("click", "view"),
        "event_type", windowSec = 604800L)
      .orderBy("channel")

  val attributionCreditSql: String =
    """WITH c AS (SELECT user_id, event_id AS cid, epoch_us(ts) AS cts,
      |             CAST(sign(CAST(value AS DOUBLE))
      |                  * floor(abs(CAST(value AS DOUBLE)) * 1e6 + 0.5)
      |                  AS BIGINT) AS vi
      |           FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id AS tid, epoch_us(ts) AS tts,
      |             event_type AS channel
      |      FROM events WHERE event_type IN ('click', 'view')),
      |j AS (SELECT c.cid, c.vi, t.tid, t.tts, t.channel
      |      FROM c JOIN t ON t.user_id = c.user_id
      |        AND t.tts <= c.cts AND t.tts >= c.cts - 604800000000),
      |r AS (SELECT channel, vi,
      |        count(*) OVER (PARTITION BY cid) AS k,
      |        row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn
      |      FROM j)
      |SELECT channel, count(*) AS n_touches,
      |  (sum(CAST(floor(vi * (1.0 / k) + 0.5) AS BIGINT)) * 1.0) / 1e6
      |    AS linear_credit,
      |  (sum(CAST(floor(vi * (CASE WHEN k = 1 THEN 1.0
      |                             WHEN k = 2 THEN 0.5
      |                             WHEN rn = 1 OR rn = k THEN 0.4
      |                             ELSE 0.2 / (k - 2) END) + 0.5) AS BIGINT))
      |   * 1.0) / 1e6 AS position_credit
      |FROM r GROUP BY 1 ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // q199: tabular CUSUM drift detection over daily event counts — the
  // sequential recursion replayed by a recursive CTE; mean/σ from the
  // exact integer moments of the whole series.
  // -------------------------------------------------------------------
  def cusumDrift(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.cusumDaily(events(s, d), "ts",
        slackSigma = 0.5, alarmSigma = 4.0)
      .orderBy("day")

  val cusumDriftSql: String =
    """WITH RECURSIVE dly AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
      |),
      |idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM dly),
      |st AS (SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM dly),
      |p AS (SELECT (sx * 1.0) / n AS mean,
      |             sqrt((sxx * 1.0) / n - ((sx * 1.0) / n) * ((sx * 1.0) / n))
      |               AS sd
      |      FROM st),
      |rec(rn, day, x, sp, sn) AS (
      |  SELECT i.rn, i.day, i.x,
      |         greatest(0, i.x - p.mean - 0.5 * p.sd),
      |         greatest(0, p.mean - i.x - 0.5 * p.sd)
      |  FROM idx i, p WHERE i.rn = 1
      |  UNION ALL
      |  SELECT i.rn, i.day, i.x,
      |         greatest(0, r.sp + i.x - p.mean - 0.5 * p.sd),
      |         greatest(0, r.sn + p.mean - i.x - 0.5 * p.sd)
      |  FROM idx i JOIN rec r ON i.rn = r.rn + 1, p
      |)
      |SELECT strftime(rec.day, '%Y-%m-%d') AS day, rec.x AS n_events,
      |       round(rec.sp, 6) AS cusum_pos, round(rec.sn, 6) AS cusum_neg,
      |       (rec.sp > 4.0 * p.sd OR rec.sn > 4.0 * p.sd) AS is_alarm
      |FROM rec, p ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // q202: per-user event-type entropy — behavioral diversity from
  // exact integer type counts via H = ln(n) − (Σ c·ln c)/n.
  // -------------------------------------------------------------------
  def typeEntropy(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.typeEntropy(events(s, d), "user_id",
        "event_type")
      .orderBy("user_id")

  val typeEntropySql: String =
    """WITH c AS (SELECT user_id, event_type, count(*) AS c
      |           FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |       count(*) AS n_types,
      |       round(ln(sum(c) * 1.0)
      |             - sum((c * 1.0) * ln(c * 1.0)) / (sum(c) * 1.0), 6)
      |         AS entropy
      |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q203: Bollinger bands over the per-type daily close — 7-bar SMA
  // ± 2σ from exact micro-unit window sums.
  // -------------------------------------------------------------------
  def bollinger(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.bollingerDaily(events(s, d), "ts",
        "event_id", "event_type", "value", trailingDays = 7, k = 2.0)
      .orderBy("day", "event_type")

  val bollingerSql: String =
    """WITH r AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type AS grp, value,
      |         row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |d AS (SELECT day, grp, value AS close,
      |        CAST(sign(CAST(value AS DOUBLE))
      |             * floor(abs(CAST(value AS DOUBLE)) * 1e6 + 0.5)
      |             AS BIGINT) AS vi
      |      FROM r WHERE rn = 1),
      |w AS (SELECT day, grp, close,
      |        count(*) OVER win AS cnt,
      |        sum(vi) OVER win AS s1,
      |        sum(vi * vi) OVER win AS s2
      |      FROM d
      |      WINDOW win AS (PARTITION BY grp ORDER BY day
      |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT strftime(day, '%Y-%m-%d') AS day, grp AS event_type,
      |  round(close, 6) AS close,
      |  CASE WHEN cnt = 7 THEN round((s1 * 1.0) / 1e6 / cnt, 6) END AS sma,
      |  CASE WHEN cnt = 7 THEN round((s1 * 1.0) / 1e6 / cnt
      |    + 2.0 * sqrt(greatest((s2 * 1.0) / 1e12 / cnt
      |        - ((s1 * 1.0) / 1e6 / cnt) * ((s1 * 1.0) / 1e6 / cnt),
      |        0.0)), 6)
      |  END AS upper_band,
      |  CASE WHEN cnt = 7 THEN round((s1 * 1.0) / 1e6 / cnt
      |    - 2.0 * sqrt(greatest((s2 * 1.0) / 1e12 / cnt
      |        - ((s1 * 1.0) / 1e6 / cnt) * ((s1 * 1.0) / 1e6 / cnt),
      |        0.0)), 6)
      |  END AS lower_band
      |FROM w ORDER BY day, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q205: robust outlier screen per event type — modified z-score
  // (0.6745·(v − median)/MAD, Iglewicz-Hoaglin) with the 3.5 cutoff;
  // medians are exact interpolated order statistics.
  // -------------------------------------------------------------------
  def robustOutliers(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.robustOutliers(events(s, d), "event_type", "value",
        threshold = 3.5)
      .orderBy("event_type")

  val robustOutliersSql: String =
    """WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
      |           FROM events WHERE value IS NOT NULL),
      |m AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM v GROUP BY 1),
      |d AS (SELECT v.grp, v.v, m.med, abs(v.v - m.med) AS ad
      |      FROM v JOIN m USING (grp)),
      |md AS (SELECT grp, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT d.grp AS event_type, count(*) AS n,
      |  round(any_value(d.med), 6) AS median,
      |  round(any_value(md.mad), 6) AS mad,
      |  CASE WHEN any_value(md.mad) > 0 THEN
      |    CAST(sum(CASE WHEN abs(0.6745 * (d.v - d.med) / md.mad) > 3.5
      |              THEN 1 ELSE 0 END) AS BIGINT)
      |  END AS n_outliers
      |FROM d JOIN md USING (grp) GROUP BY d.grp ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q206: Kaplan-Meier survival of time-to-conversion — days from each
  // user's first view to their first subsequent purchase, censored at
  // the corpus max day; the recursion replayed by a recursive CTE.
  // -------------------------------------------------------------------
  def kaplanMeier(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.kaplanMeier(events(s, d), "user_id", "ts",
        "event_type", "view", "purchase")
      .orderBy("duration_days")

  val kaplanMeierSql: String =
    """WITH RECURSIVE t0 AS (
      |  SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |),
      |tp AS (
      |  SELECT t0.user_id, min(e.ts) AS t1
      |  FROM t0 JOIN events e ON e.user_id = t0.user_id
      |    AND e.event_type = 'purchase' AND e.ts >= t0.t0
      |  GROUP BY 1
      |),
      |mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
      |subj AS (
      |  SELECT CASE WHEN tp.t1 IS NOT NULL
      |           THEN date_diff('day', CAST(t0.t0 AS DATE), CAST(tp.t1 AS DATE))
      |           ELSE date_diff('day', CAST(t0.t0 AS DATE), mx.md) END AS d,
      |         CASE WHEN tp.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM t0 LEFT JOIN tp USING (user_id), mx
      |),
      |days AS (SELECT d, sum(ev) AS d_i, count(*) AS n_d FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT d, d_i,
      |    sum(n_d) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |  FROM days
      |),
      |evd AS (SELECT d, d_i, n_risk, row_number() OVER (ORDER BY d) AS rn
      |        FROM risk WHERE d_i > 0),
      |rec(rn, d, d_i, n_risk, s) AS (
      |  SELECT rn, d, d_i, n_risk, 1.0 * (1 - (d_i * 1.0) / n_risk)
      |  FROM evd WHERE rn = 1
      |  UNION ALL
      |  SELECT e.rn, e.d, e.d_i, e.n_risk, r.s * (1 - (e.d_i * 1.0) / e.n_risk)
      |  FROM evd e JOIN rec r ON e.rn = r.rn + 1
      |)
      |SELECT CAST(d AS BIGINT) AS duration_days,
      |       CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(d_i AS BIGINT) AS n_events,
      |       round(s, 6) AS survival
      |FROM rec ORDER BY duration_days""".stripMargin

  // -------------------------------------------------------------------
  // q207: winsorized means per event type — values clipped at the
  // exact [p05, p95] order statistics, clipped/raw means from exact
  // micro-unit sums.
  // -------------------------------------------------------------------
  def winsorized(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.winsorizedMeans(events(s, d), "event_type", "value",
        pLo = 0.05, pHi = 0.95)
      .orderBy("event_type")

  val winsorizedSql: String =
    """WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      |           FROM events WHERE value IS NOT NULL),
      |p AS (SELECT g, quantile_cont(v, 0.05) AS lo,
      |             quantile_cont(v, 0.95) AS hi
      |      FROM v GROUP BY 1),
      |c AS (SELECT v.g, p.lo, p.hi,
      |        CAST(sign(least(greatest(v.v, p.lo), p.hi))
      |          * floor(abs(least(greatest(v.v, p.lo), p.hi)) * 1e6 + 0.5)
      |          AS HUGEINT) AS wi,
      |        CAST(sign(v.v) * floor(abs(v.v) * 1e6 + 0.5) AS HUGEINT) AS ri
      |      FROM v JOIN p USING (g))
      |SELECT g AS event_type, count(*) AS n,
      |  round(any_value(lo), 6) AS p_lo, round(any_value(hi), 6) AS p_hi,
      |  round((sum(wi) * 1.0) / 1e6 / count(*), 6) AS winsorized_mean,
      |  round((sum(ri) * 1.0) / 1e6 / count(*), 6) AS raw_mean
      |FROM c GROUP BY g ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q210: per-type exact discrete percentiles with NO driver loop —
  // the distributed per-group CDF; thresholds compare as integers so
  // no float boundary exists between engines.
  // -------------------------------------------------------------------
  def groupedPercentiles(s: SparkSession, d: String): DataFrame =
    graft.ops.Percentiles.groupedDiscrete(events(s, d), "event_type",
        "value", Seq(25, 50, 75, 90))
      .orderBy("event_type")

  val groupedPercentilesSql: String =
    """WITH c AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
      |             count(*) AS n
      |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT g, v, n,
      |          sum(n) OVER (PARTITION BY g ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |        FROM c),
      |t AS (SELECT g, sum(n) AS tot FROM c GROUP BY 1)
      |SELECT cum.g AS event_type,
      |  min(CASE WHEN cw * 100 >= 25 * tot THEN v END) AS p25,
      |  min(CASE WHEN cw * 100 >= 50 * tot THEN v END) AS p50,
      |  min(CASE WHEN cw * 100 >= 75 * tot THEN v END) AS p75,
      |  min(CASE WHEN cw * 100 >= 90 * tot THEN v END) AS p90
      |FROM cum JOIN t USING (g) GROUP BY 1 ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q192: canonical-document selection — each near-dup cluster keeps
  // its highest-quality member (doc_id tie-break); the oracle reads
  // q66's verified cluster dump and re-ranks with the SQL-pinned
  // quality expression.
  // -------------------------------------------------------------------
  def canonicalDocs(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.canonicalPick(
        LlmQueries.dupClusters(s, d),
        graft.text.TextOps.qualityScore(docs(s, d), "doc_id", "text"),
        "doc_id", "quality")
      .orderBy("cluster")

  val canonicalDocsSql: String =
    s"""WITH cl AS (
      |  SELECT doc_id, cluster
      |  FROM read_parquet('__VERIFY_OUT__/q66_dup_clusters/*.parquet')
      |),
      |q AS (${LlmQueries.qualitySql}),
      |j AS (SELECT cl.cluster, cl.doc_id, q.quality
      |      FROM cl JOIN q USING (doc_id)),
      |r AS (SELECT cluster, doc_id, quality,
      |        row_number() OVER (PARTITION BY cluster
      |                           ORDER BY quality DESC, doc_id) AS rn,
      |        count(*) OVER (PARTITION BY cluster) AS n_members
      |      FROM j)
      |SELECT cluster, doc_id AS canonical_doc_id, quality, n_members
      |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  // -------------------------------------------------------------------
  // q193: per-day session quality — sessions (30-min gaps) assigned to
  // their start day with bounce and purchase-conversion rates.
  // -------------------------------------------------------------------
  def sessionQuality(s: SparkSession, d: String): DataFrame =
    graft.ops.EventAnalytics.sessionQuality(events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase", gapSec = 1800L)
      .orderBy("day")

  val sessionQualitySql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |      THEN 1 ELSE 0 END AS gap
      |  FROM events),
      |s AS (SELECT user_id, ts, event_type,
      |        sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING) AS session
      |      FROM o),
      |g AS (SELECT user_id, session, min(ts) AS start, count(*) AS n,
      |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |      FROM s GROUP BY 1, 2)
      |SELECT strftime(CAST(start AS DATE), '%Y-%m-%d') AS day,
      |  count(*) AS n_sessions,
      |  round(avg(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END), 6) AS bounce_rate,
      |  round(avg(conv * 1.0), 6) AS conversion_rate
      |FROM g GROUP BY 1 ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // q194: fuzzy-linkage clusters — connected components over the q175
  // blocked-levenshtein pairs (the record-linkage resolution step);
  // the oracle rebuilds the same pairs in SQL and closes them with a
  // recursive CTE, exactly like q66 does for the MinHash pairs.
  // -------------------------------------------------------------------
  def fuzzyClusters(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.duplicateClusters(fuzzyPairs(s, d))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val fuzzyClustersSql: String = {
    val pairsCte = fuzzyJoinSql.replace("ORDER BY id_1, id_2", "")
    s"""WITH RECURSIVE pairs AS ($pairsCte),
      |edges AS (
      |  SELECT id_1 AS src, id_2 AS dst FROM pairs
      |  UNION ALL SELECT id_2, id_1 FROM pairs
      |),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
      |)
      |SELECT id AS doc_id, min(lbl) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q196: activity heatmap — event counts by weekday name × hour (the
  // seasonality read-out; weekday as a NAME string on both engines to
  // dodge the 0-vs-1-based day-number conventions).
  // -------------------------------------------------------------------
  def activityHeatmap(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_format(col("ts"), "EEEE").as("dow"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy("dow", "hour")

  val activityHeatmapSql: String =
    """SELECT strftime(ts, '%A') AS dow,
      |       CAST(date_part('hour', ts) AS INT) AS hour, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_calibration" -> (calibration _),
    "q156_ks_drift" -> (ksDrift _),
    "q157_psi_drift" -> (psiDrift _),
    "q158_lift_gains" -> (liftGains _),
    "q159_event_transitions" -> (transitions _),
    "q160_burstiness" -> (burstiness _),
    "q161_rfm_segments" -> (rfmSegments _),
    "q166_daily_anomaly" -> (dailyAnomaly _),
    "q167_stratified_sample" -> (stratifiedSample _),
    "q168_chi2_independence" -> (chi2 _),
    "q169_quantile_normalize" -> (quantileNormalize _),
    "q173_weighted_topn" -> (weightedTopN _),
    "q174_group_ols" -> (groupOls _),
    "q175_fuzzy_join" -> (fuzzyJoin _),
    "q223_fuzzy_budget" -> (fuzzyBudget _),
    "q224_fuzzy_guard_stats" -> (fuzzyGuardStats _),
    "q176_seasonal_backtest" -> (seasonalBacktest _),
    "q177_describe" -> (describe _),
    "q178_event_trigrams" -> (eventTrigrams _),
    "q182_ab_test" -> (abTest _),
    "q183_mann_whitney" -> (mannWhitney _),
    "q185_benford" -> (benford _),
    "q187_lagged_xcorr" -> (crossCorrelation _),
    "q188_interval_union" -> (intervalUnion _),
    "q189_weighted_percentiles" -> (weightedPercentiles _),
    "q190_daily_ohlc" -> (ohlc _),
    "q191_attribution" -> (attribution _),
    "q192_canonical_docs" -> (canonicalDocs _),
    "q193_session_quality" -> (sessionQuality _),
    "q194_fuzzy_clusters" -> (fuzzyClusters _),
    "q196_activity_heatmap" -> (activityHeatmap _),
    "q198_attribution_credit" -> (attributionCredit _),
    "q199_cusum_drift" -> (cusumDrift _),
    "q202_type_entropy" -> (typeEntropy _),
    "q203_bollinger" -> (bollinger _),
    "q205_robust_outliers" -> (robustOutliers _),
    "q206_kaplan_meier" -> (kaplanMeier _),
    "q207_winsorized" -> (winsorized _),
    "q210_grouped_percentiles" -> (groupedPercentiles _))

  val oracles: Map[String, String] = Map(
    "q155_calibration" -> calibrationSql,
    "q156_ks_drift" -> ksDriftSql,
    "q157_psi_drift" -> psiDriftSql,
    "q158_lift_gains" -> liftGainsSql,
    "q159_event_transitions" -> transitionsSql,
    "q160_burstiness" -> burstinessSql,
    "q161_rfm_segments" -> rfmSegmentsSql,
    "q166_daily_anomaly" -> dailyAnomalySql,
    "q167_stratified_sample" -> stratifiedSampleSql,
    "q168_chi2_independence" -> chi2Sql,
    "q169_quantile_normalize" -> quantileNormalizeSql,
    "q173_weighted_topn" -> weightedTopNSql,
    "q174_group_ols" -> groupOlsSql,
    "q175_fuzzy_join" -> fuzzyJoinSql,
    "q223_fuzzy_budget" -> fuzzyBudgetSql,
    "q224_fuzzy_guard_stats" -> fuzzyGuardStatsSql,
    "q176_seasonal_backtest" -> seasonalBacktestSql,
    "q177_describe" -> describeSql,
    "q178_event_trigrams" -> eventTrigramsSql,
    "q182_ab_test" -> abTestSql,
    "q183_mann_whitney" -> mannWhitneySql,
    "q185_benford" -> benfordSql,
    "q187_lagged_xcorr" -> crossCorrelationSql,
    "q188_interval_union" -> intervalUnionSql,
    "q189_weighted_percentiles" -> weightedPercentilesSql,
    "q190_daily_ohlc" -> ohlcSql,
    "q191_attribution" -> attributionSql,
    "q192_canonical_docs" -> canonicalDocsSql,
    "q193_session_quality" -> sessionQualitySql,
    "q194_fuzzy_clusters" -> fuzzyClustersSql,
    "q196_activity_heatmap" -> activityHeatmapSql,
    "q198_attribution_credit" -> attributionCreditSql,
    "q199_cusum_drift" -> cusumDriftSql,
    "q202_type_entropy" -> typeEntropySql,
    "q203_bollinger" -> bollingerSql,
    "q205_robust_outliers" -> robustOutliersSql,
    "q206_kaplan_meier" -> kaplanMeierSql,
    "q207_winsorized" -> winsorizedSql,
    "q210_grouped_percentiles" -> groupedPercentilesSql)
}
