package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * the LLM-data extension family required beyond the reference's
  * operator set (BASELINE.json north star; reference has only pandas
  * `drop_duplicates`-free workflows, so everything here is Spark-first
  * design, not a port).
  *
  * Scale design: nothing in this module materializes an all-pairs
  * product. Near-dup candidates come from MinHash band buckets (the
  * classic LSH banding scheme); exact Jaccard is computed only on
  * candidate pairs via two key-equi joins on the shingle table. Every
  * join is a hash/sort-merge equi join on bounded keys; skewed buckets
  * can be capped via `maxBucketSize`.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.dedup")

  /** Whitespace tokens — ONE definition with [[graft.text.TextOps
    * .tokens]] (regex-trimmed over ALL whitespace, not just 0x20, so
    * a leading tab/newline cannot inject a phantom empty token into
    * block keys, shingles, or simhash token sets). */
  def tokens(text: Column): Column = graft.text.TextOps.tokens(text)

  /** First-`nTokens` blocking key for [[fuzzyJoinBlocked]]: the first
    * `nTokens` whitespace tokens joined by a single space (one split +
    * one slice — never re-tokenizes per reference). Block-key ARITY is
    * the fuzzy family's scale lever: expected block size is
    * corpus / (token-vocabulary ^ arity), so on low-diversity corpora
    * a single-token key collapses — the sf10 rehearsal measured every
    * first-token block above the 10k cap (the guard then correctly
    * drops ALL of them and the join answers empty; see
    * [[fuzzyJoinBlockedWithStats]] for the loud counterpart), while
    * the two-token key gave ~vocab² blocks of ~520 docs. Pick the
    * smallest arity whose expected block size sits well under
    * `maxBlockSize`; texts with fewer than `nTokens` tokens key on
    * the tokens they have. */
  def tokenBlockKey(textCol: Column, nTokens: Int = 2): Column =
    concat_ws(" ", slice(tokens(textCol), 1, nTokens))

  /** One-row drop-stats frame (n_groups_dropped, n_rows_dropped) from
    * a (group, size) aggregate and a cap — the loud counterpart of the
    * skew guards, whose dropped groups produce NO output rows (unlike
    * [[budgetPairs]], which carries `n_dropped` on kept rows). */
  private def dropStats(sizes: DataFrame, sizeCol: String, cap: Int): DataFrame =
    sizes.filter(col(sizeCol) > cap)
      .agg(count(lit(1)).as("n_groups_dropped"),
        coalesce(sum(sizeCol), lit(0L)).as("n_rows_dropped"))

  /** Exact dedup (keep one row per distinct content). With full-row
    * duplicates any representative is identical, so `dropDuplicates`
    * semantics are deterministic content-wise. */
  def exact(df: DataFrame, contentCols: Seq[String]): DataFrame =
    df.dropDuplicates(contentCols)

  /** Exact dedup keeping the *first* row per key group under an
    * explicit deterministic ordering (the distributed replacement for
    * pandas-style keep='first', which relies on row order Spark does
    * not have). One hash-partitioned window, no global sort. */
  def keepFirst(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Word k-shingle occurrences: (id, shingle) — duplicates retained.
    * The token array is materialized in its own projection first: the
    * shingle lambda references it k+2 times, and inlining the regex
    * split into every reference re-tokenizes the document per shingle
    * element (measured ~6x slowdown; CollapseProject keeps the barrier
    * because split is not a cheap expression). Consumers needing set
    * semantics apply `.distinct()` themselves — the minhash signature
    * path deliberately does NOT (min over a multiset equals min over
    * its set, and skipping the distinct removes a corpus-scale shuffle
    * before the map-side-combinable signature aggregation). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val tok = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__w"))
    val w = col("__w")
    val sh = when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(w, i + j + 1)): _*)))
      .otherwise(array())
    tok.select(col("id"), explode(sh).as("s"))
  }

  /** Shingle occurrences with 64-bit-hashed shingles: every downstream
    * join and minhash runs on fixed-width longs instead of multi-word
    * strings — a large shuffle/compare win; set semantics survive
    * hashing up to a ~1e-19 per-pair collision probability. Computed
    * by the native HashedShingles expression (one pass over the byte
    * buffer, no token/shingle string materialization; whitespace-
    * normalized like the concat_ws form — see NgramHash). Multiset
    * (see shingles). */
  private[dedup] def hashedShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"), explode(
        graft.functions.GraftFunctions.hashedShingles(
          df.sparkSession, col(textCol), k)).as("s"))

  /** Per-doc word-shingle hash arrays (id, __gs) — the UNEXPLODED
    * counterpart of [[hashedShingles]]: one native-expression pass per
    * document, no corpus-scale (id, gram) row stream. The minhash
    * pipeline consumes this shape since round 17 (signature and
    * exact-verify unit set are both per-document functions — see
    * [[minHashOverGramsCore]]). */
  private[dedup] def shingleArrays(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.hashedShingles(
          df.sparkSession, col(textCol), k).as("__gs"))

  /** Per-doc char-n-gram hash arrays (id, __gs) — the unexploded
    * counterpart of [[hashedCharNgrams]] (same trim, same native
    * hasher). */
  private[graft] def charNgramArrays(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.hashedNgrams(
          df.sparkSession, trim(col(textCol)), n).as("__gs"))

  /** MinHash near-duplicate pairs with exact-Jaccard verification.
    *
    * 1. signatures: numHashes seeded xxhash64 min-hashes per id, one
    *    aggregation pass over the shingle table;
    * 2. banding: `bands` bands of `rowsPerBand` hashes; ids sharing any
    *    band signature become candidates (bucket self-join — never
    *    all-pairs). Miss probability for a pair with Jaccard j is
    *    (1 - j^r)^b — at j>=0.9, r=2, b=16 it is < 1e-17. The measured
    *    recall contract of the default (16,2) at threshold 0.5 (the
    *    sf10/100x PairSlice record, 500k docs): soundness exact on all
    *    120,982 reported pairs, completeness 12,634/12,750 (99.1%) on
    *    the slice replay with every miss confined to the published
    *    S-curve tail j in [0.50, 0.571] and zero false extras — a pair
    *    above j ~ 0.57 is effectively never missed;
    * 3. verify: exact Jaccard on candidates only, via joins against the
    *    shingle table; keep pairs with jaccard >= threshold.
    *
    * `minBandAgreements` (default 1 = classic banding, exact for the
    * gate corpora) is the dense-background knob: requiring k >= 2
    * agreeing bands (the MMDS multi-collision rule, Leskovec-
    * Rajaraman-Ullman ch. 3) turns the candidate stage into THIN-row
    * counting and crushes background leakage quadratically — the sf10
    * census measured the default at 8.1e8 candidate pairs (each
    * shipping two gram arrays to verify: the disk-spill cliff) vs
    * ~1e6 at k=2, while a pair at j=0.9 is missed with probability
    * P[Binom(b, j^r) <= 1] (0.35% at b=12, r=6). At 100 TB, pick
    * (bands, rowsPerBand, minBandAgreements) from the
    * [[graft.ProbeBanding]] census of the corpus's own similarity
    * profile (runMain graft.ProbeBanding <docsDir> [BxR ...]).
    *
    * Returns (id_1, id_2, jaccard) with id_1 < id_2.
    */
  def minHashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000, minBandAgreements: Int = 1): DataFrame =
    minHashOverGrams(shingleArrays(df, idCol, textCol, shingleK),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements)

  /** [[minHashNearDup]] plus the `maxBucketSize` guard's drop stats: a
    * one-row (n_groups_dropped, n_rows_dropped) frame counting dropped
    * (band, bsig) buckets and the SIGNATURE rows (id × band
    * memberships) inside them, computed eagerly from the cheap half of
    * the pipeline (one extra aggregate over the cached gram table) and
    * logged as a warning when nonzero — the no-silent-caps rule for a
    * guard whose drops otherwise only show as missing pairs. */
  def minHashNearDupWithStats(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000,
      minBandAgreements: Int = 1): (DataFrame, DataFrame) =
    minHashOverGramsCore(shingleArrays(df, idCol, textCol, shingleK),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements,
      wantStats = true) match { case (p, s) => (p, s.get) }

  /** Character n-gram occurrences as hashed Jaccard units: (id, s)
    * with s = xxhash64 of each n-char window of the trimmed text,
    * computed by the native HashedNgrams expression — one pass over
    * the UTF-8 buffer, hashing windows in place, instead of the
    * substr-per-window formulation that allocates a UTF8String copy
    * per gram (a 1000-char doc = ~1000 allocations) inside an
    * interpreted higher-order lambda. The character-level variant
    * catches near-dups word shingles miss (reorderings/typos inside
    * tokens, whitespace-insensitive). Multiset — see shingles for why
    * the distinct is deferred. */
  private[graft] def hashedCharNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"), trim(col(textCol)).as("__t"))
    t.select(col("id"), explode(
      graft.functions.GraftFunctions.hashedNgrams(
        df.sparkSession, col("__t"), n)).as("s"))
  }

  /** N-gram Jaccard near-dup: the MinHash/banding/exact-verify pipeline
    * over character n-gram sets instead of word shingles. Same scale
    * properties (bucketed candidates, never all-pairs). */
  def ngramJaccardNearDup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000, minBandAgreements: Int = 1): DataFrame =
    minHashOverGrams(charNgramArrays(df, idCol, textCol, n),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements)

  /** [[ngramJaccardNearDup]] with the guard drop stats of
    * [[minHashNearDupWithStats]] (same semantics, char-n-gram units). */
  def ngramJaccardNearDupWithStats(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000,
      minBandAgreements: Int = 1): (DataFrame, DataFrame) =
    minHashOverGramsCore(charNgramArrays(df, idCol, textCol, n),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements,
      wantStats = true) match { case (p, s) => (p, s.get) }

  /** Deterministic per-anchor output budget for verified pair tables —
    * the answer-volume knob for the output-bound pair generators
    * (char-gram Jaccard, fuzzy-join candidates): at corpus scale the
    * TRUE pair count (C(k,2) per dup family) can exceed storage even
    * when every plan stage is linear in the answer, so consumers opt
    * into "at most `budget` pairs per anchor". Keeps the
    * highest-`simCol` pairs, ties broken by `tieCol` ascending — fully
    * deterministic — and every kept row carries `n_dropped`, the count
    * of pairs truncated for its anchor (the no-silent-caps rule: an
    * engaged budget is visible in the output, never inferred). One
    * hash shuffle on the anchor; window partitions are answer-bounded
    * (pairs per anchor, already capped upstream by maxBucketSize),
    * never corpus-bounded. */
  def budgetPairs(pairs: DataFrame, simCol: String, budget: Int,
      anchorCol: String = "id_1", tieCol: String = "id_2",
      ascending: Boolean = false): DataFrame = {
    require(budget > 0, s"pair budget must be positive, got $budget")
    // descending for similarity scores (keep the MOST similar),
    // ascending for distances (keep the CLOSEST)
    val ranked = Window.partitionBy(anchorCol)
      .orderBy(if (ascending) col(simCol).asc else col(simCol).desc,
        col(tieCol).asc)
    pairs.withColumn("__rn", row_number().over(ranked))
      .withColumn("n_dropped",
        greatest(lit(0L),
          count(lit(1)).over(Window.partitionBy(anchorCol)) - budget))
      .filter(col("__rn") <= budget).drop("__rn")
  }

  /** Shared MinHash LSH core over any hashed unit table (id, s: long).
    * The input may be a multiset: the signature min-aggregation is
    * idempotent over duplicates (and map-side combinable, so the gram
    * explosion never crosses the shuffle at corpus scale), and the
    * exact-verification path applies set semantics AFTER restricting to
    * candidate ids — a corpus-scale `.distinct()` up front would be a
    * full shuffle spent mostly on documents that never reach a bucket
    * pair. */
  private def minHashOverGrams(
      docGrams: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      minBandAgreements: Int = 1): DataFrame =
    minHashOverGramsCore(docGrams, threshold, bands, rowsPerBand,
      maxBucketSize, minBandAgreements, wantStats = false)._1

  /** The MinHash banding sizing rule, factored pure for spec-ability —
    * the [[simHashSizingIssue]] analogue, fed by MEASURED bucket
    * statistics rather than a uniform-hash model (band signatures live
    * in a 64-bit space, so saturation here is a property of corpus
    * diversity, not signature width). None = the shape fits.
    * Some((fatal, msg)):
    *  - FATAL when the over-cap buckets hold the MAJORITY of the
    *    banding index's signature rows — the `maxBucketSize` skew
    *    guard would then drop most of the corpus from the candidate
    *    search and near-dup recall collapses corpus-wide (the
    *    low-diversity / template-corpus failure mode), so the call
    *    must fail rather than silently discard the data;
    *  - non-fatal WARN when the kept candidate mass Σ C(bucket, 2)
    *    exceeds 100·n (100+ banding candidates per doc — the measured
    *    saturation onset shared with the SimHash rule): the verify
    *    join still runs, but the (bands, rowsPerBand,
    *    minBandAgreements) shape is mis-sized for this corpus.
    * Both messages point at the knobs that fix the shape (rowsPerBand
    * sharpens the per-band collision probability j^r;
    * minBandAgreements >= 2 crushes background mass quadratically) and
    * at [[graft.ProbeBanding]], which prices candidates against the
    * corpus's own similarity profile.
    *
    * Long-running drivers (a foreachBatch loop calling the batch path
    * per micro-batch) should treat the fatal as per-CALL, not
    * per-query: catch the IllegalArgumentException, log it, and skip
    * the batch — one transiently skewed micro-batch is a degraded
    * batch, not a reason to kill the stream. The dedicated streaming
    * operator ([[graft.streaming.StreamingDedup]]) never throws here:
    * its per-bucket cap degrades with a warning instead, because its
    * state outlives any single batch. */
  private[graft] def minHashSizingIssue(
      nDocs: Long, bands: Int, rowsPerBand: Int, minBandAgreements: Int,
      maxBucketSize: Int, totalRows: Long, overCapRows: Long,
      keptCandidateMass: Long): Option[(Boolean, String)] = {
    if (nDocs <= 0) return None
    if (overCapRows * 2 > totalRows) Some((true,
      s"minHashNearDup: banding at (b=$bands, r=$rowsPerBand) puts " +
        s"$overCapRows of $totalRows signature rows in buckets above " +
        s"maxBucketSize=$maxBucketSize — the skew cap would drop the " +
        s"MAJORITY of the banding index and near-dup recall collapses " +
        s"corpus-wide (low-diversity corpus). Raise rowsPerBand (per-" +
        s"band collision prob is j^r), raise the cap, or require " +
        s"minBandAgreements >= 2 — graft.ProbeBanding prices the " +
        s"shapes against this corpus."))
    else if (keptCandidateMass > 100.0 * nDocs) Some((false,
      s"minHashNearDup: banding at (b=$bands, r=$rowsPerBand, k=" +
        f"$minBandAgreements) yields $keptCandidateMass%,d kept band-" +
        f"collision candidates over $nDocs%,d docs (${keptCandidateMass * 1.0 / nDocs}%.0f" +
        s"/doc before the verify join) — the shape is saturated for " +
        s"this corpus; raise rowsPerBand or minBandAgreements " +
        s"(graft.ProbeBanding prices the candidate mass)"))
    else None
  }

  /** (id, __gs sorted-distinct array, __sig minhash array) per doc —
    * computed SCAN-LOCAL in one projection: both the exact-verify unit
    * set and the signature are per-document functions, so nothing here
    * shuffles. Docs with no grams (short/NULL text) carry a NULL
    * signature and are dropped, exactly as the exploded form produced
    * no rows for them. */
  private def enrichedGrams(docGrams: DataFrame, numHashes: Int): DataFrame =
    docGrams.select(col("id"),
        sort_array(array_distinct(col("__gs"))).as("__gs"),
        graft.functions.GraftFunctions.minhashSignature(
          docGrams.sparkSession, col("__gs"), numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)

  /** Thin (id, band, bsig) banded frame from a __sig minhash-array
    * column — bit-identical to [[bandedSignatures]]' output (element_at
    * yields the same LongType hash columns the aggregate produced, so
    * the band hash chain is unchanged). */
  private def bandedFromSig(enriched: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("bsig"))
    }
    enriched.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.bsig"))
  }

  private def minHashOverGramsCore(
      docGrams: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      minBandAgreements: Int,
      wantStats: Boolean): (DataFrame, Option[DataFrame]) = {
    require(minBandAgreements >= 1 && minBandAgreements <= bands,
      s"minBandAgreements must be in [1, $bands], got $minBandAgreements")
    // ONE corpus-scale cache: (id, sorted-distinct grams, signature),
    // all scan-local. The round-16 shape exploded grams to corpus-scale
    // (id, gram) rows and re-aggregated them twice (signature min-agg,
    // verify collect_list) — two full shuffles of data that never
    // needed to leave its document. Same bytes cached (arrays vs rows),
    // two shuffles and one aggregation machine fewer.
    val enriched = enrichedGrams(docGrams, bands * rowsPerBand).cache()
    val banded = bandedFromSig(enriched, bands, rowsPerBand)

    // Plan-time sizing enforcement (the simHashNearDup discipline,
    // round 16): one bucket-count aggregate — filling the enriched
    // cache every later stage reads — measures the index BEFORE the
    // quadratic candidate join is paid. It yields the sizing-rule
    // inputs AND the skew-guard drop stats in the same pass. The
    // bucket-count frame is kept (cached, bucket-cardinality-bounded)
    // because the skew-guard filter below reuses it as an anti-join
    // list — replacing the round-16 window count over the banded frame
    // (one full sort saved; over-cap keys number at most
    // totalRows / maxBucketSize, so the anti-join side is always the
    // small one).
    val bc = banded.groupBy("band", "bsig").agg(count(lit(1)).as("__n"))
      .cache()
    val m = bc.agg(
      coalesce(sum(col("__n")), lit(0L)).as("rows"),
      coalesce(sum(when(col("__n") > maxBucketSize, col("__n"))), lit(0L))
        .as("over_rows"),
      coalesce(sum(when(col("__n") > maxBucketSize, 1L)), lit(0L))
        .as("over_groups"),
      // n·(n−1) is even; shiftright halves it in exact long arithmetic
      // (Column./ is double division)
      coalesce(sum(when(col("__n") <= maxBucketSize,
        shiftright(col("__n") * (col("__n") - 1), 1))), lit(0L))
        .as("kept_mass"))
      .head()
    val (totalRows, overRows, overGroups, keptMass) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
    minHashSizingIssue(totalRows / bands, bands, rowsPerBand,
        minBandAgreements, maxBucketSize, totalRows, overRows, keptMass)
      .foreach {
        case (true, msg)  => throw new IllegalArgumentException(msg)
        case (false, msg) => log.warn(msg)
      }
    // skew-guard drops are loud on EVERY path now that the numbers are
    // free (no-silent-caps rule); the WithStats variant additionally
    // surfaces them as a frame
    if (overGroups > 0) log.warn(
      s"minhash LSH maxBucketSize=$maxBucketSize dropped $overGroups " +
        s"bucket(s) spanning $overRows signature rows; near-dups " +
        "colliding only there are not searched - raise the cap or " +
        "re-band (graft.ProbeBanding prices the shapes)")
    val stats = if (!wantStats) None else {
      val spark = docGrams.sparkSession
      Some(spark.range(1).select(lit(overGroups).as("n_groups_dropped"),
        lit(overRows).as("n_rows_dropped")))
    }

    // drop pathological buckets (stop-shingle skew guard at scale) by
    // anti-joining the over-cap bucket list measured above — identical
    // keep-set to the round-16 per-bucket window count, minus its sort.
    // The sizing aggregate already counted the over-cap buckets, so
    // when there are NONE (the common healthy-corpus case) the
    // anti-join is provably the identity and is skipped outright —
    // one exchange + join stage fewer per call (guide §2.4).
    val sized =
      if (overGroups == 0L) banded
      else banded.join(
        bc.filter(col("__n") > maxBucketSize).select("band", "bsig"),
        Seq("band", "bsig"), "left_anti")

    // the self-join output is THIN (two longs per row) — the k-band
    // agreement count folds it before anything wide (gram arrays)
    // ships: candidates that collide in only one band are background
    // at dense-similarity corpora and never reach the verify stage
    // when minBandAgreements >= 2
    val candBase = sized.as("a").join(sized.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"))
    val cand = if (minBandAgreements <= 1) candBase.distinct()
      else candBase.groupBy("id_1", "id_2")
        .agg(count(lit(1)).as("__k"))
        .filter(col("__k") >= minBandAgreements).drop("__k")

    // exact Jaccard on candidates: attach each side's sorted-distinct
    // gram array straight from the enriched cache (the inner join IS
    // the candidate restriction — the round-16 semi-join + per-doc
    // re-distinct + collect_list re-aggregation are gone, the arrays
    // already exist)
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCount(docGrams.sparkSession, col("gs1"), col("gs2"))
    val verifiedPlan = cand
      .join(enriched.select(col("id").as("id_1"), col("__gs").as("gs1")),
        Seq("id_1"))
      .join(enriched.select(col("id").as("id_2"), col("__gs").as("gs2")),
        Seq("id_2"))
      .select(col("id_1"), col("id_2"),
        inter.as("i"), size(col("gs1")).as("n1"), size(col("gs2")).as("n2"))
      .select(col("id_1"), col("id_2"),
        (col("i") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // the registry-level Bench --explain sees only Scan ExistingRDD past the
    // checkpoint below — this mark is the real pre-checkpoint plan
    graft.core.PlanTrace.mark("minHashNearDup_verified", verifiedPlan)
    val verified =
      verifiedPlan.localCheckpoint() // materialize before releasing the caches below
    bc.unpersist()
    enriched.unpersist()
    (verified, stats)
  }

  /** Exact Jaccard for candidate pairs against a DISTINCT (id, s)
    * unit table. Each candidate doc's unit set is aggregated once into
    * a sorted long array; pairs join to their two arrays and the
    * native SortedIntersectCount merge computes |A∩B| in codegen. The
    * earlier formulation re-exploded every pair into (pair, gram) rows
    * and counted matches with a second join — ~|pairs| x |grams/doc|
    * intermediate rows (240M at sf0.1); here the shuffle is bounded by
    * the candidate-doc count and the per-pair work is one O(|A|+|B|)
    * merge. Array size is bounded by document length, not corpus size,
    * so rows stay small at any scale. */
  /** (id, band, bsig) rows of the banded MinHash signature over a
    * hashed unit table (id, s) — the shared front half of the LSH
    * pipeline and the persisted band index.
    *
    * One-pass signature: min over units of each seeded hash.
    * Deliberately bands·rowsPerBand INDEPENDENT xxhash64 evaluations —
    * the cheaper Kirsch-Mitzenmacher double-hashing derivation
    * (h1 + j*h2) was tried and reverted: h_j linear in j makes the
    * per-band argmin follow the lower envelope of lines across j, so
    * band collisions correlate and banding recall collapses (a
    * planted J=1/3 pair missed all 16 r=1 bands in spec). */
  private[graft] def bandedSignatures(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val hashAggs = (0 until numHashes).map(j => min(xxhash64(lit(j), col("s"))).as(s"h$j"))
    val sig = sh.groupBy("id").agg(hashAggs.head, hashAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("bsig"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.bsig"))
  }

  /** Persist a MinHash band index for INCREMENTAL dedup — the
    * corpus-growth path: the existing corpus is shingled, min-hashed
    * and banded exactly once; every future batch dedups against the
    * index by joining its (band, bsig) rows and re-verifying against
    * the stored sorted gram arrays, without ever touching the old
    * corpus text again. Layout: `bands/` partitioned by `band`
    * (bounded cardinality) and `grams/` with the set-semantics sorted
    * arrays used for exact verification, plus a one-row `manifest/`
    * carrying (shingleK, bands, rowsPerBand) — the query side
    * validates against it, because probing with a DIFFERENT banding
    * config than the index was written with makes every bsig hash
    * miss and the join silently return (almost) nothing. */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2): Unit = {
    // scan-local per-doc arrays + signatures (the minHashOverGramsCore
    // shape) — same rows written, no corpus-scale explode/re-aggregation
    val g = enrichedGrams(
      shingleArrays(df, idCol, textCol, shingleK), bands * rowsPerBand)
      .cache()
    // cluster by the partition column before the partitionBy write:
    // without it every write task holds every band and emits one file
    // per (task, band) — 512 tiny files at 32 tasks × 16 bands, whose
    // per-file open cost then dominates every probe's bands scan
    // (guide's small-files rule). `splits` sub-buckets each band by a
    // deterministic bsig hash so file sizing follows the session's
    // shuffle parallelism instead of collapsing each band to a single
    // task at cluster scale.
    val spark0 = df.sparkSession
    val shuffleParts = spark0.conf.get("spark.sql.shuffle.partitions").toInt
    val splits = math.max(1, shuffleParts / bands)
    bandedFromSig(g, bands, rowsPerBand)
      .repartition(bands * splits, col("band"),
        pmod(xxhash64(col("bsig")), lit(splits)))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    g.select(col("id"), col("__gs").as("gs"))
      .write.mode("overwrite").parquet(s"$path/grams")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((shingleK, bands, rowsPerBand))
      .toDF("shingle_k", "bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
    g.unpersist()
  }

  /** Verified near-dup pairs between a NEW batch and a persisted band
    * index (id_1 = indexed doc, id_2 = new doc; ids must be disjoint
    * from the indexed set). Only the new batch is shingled/hashed; the
    * candidate join moves |new bands| + matching index buckets, and
    * exact verification joins the stored gram arrays — incremental
    * cost is proportional to the batch, not the corpus. The same
    * `maxBucketSize` skew guard caps pathological buckets, counted
    * over the combined (indexed + new) bucket population exactly like
    * the batch pipeline — and the same plan-time sizing rule
    * ([[minHashSizingIssue]]) runs on every call: fail-fast when the
    * over-cap buckets hold the majority of the combined index (the
    * low-diversity corpus-drift case, where the cap would silently
    * discard most of the search space), warn at candidate saturation
    * (measured as kept old×new pairs per new doc), and drop counts
    * log unconditionally. */
  def nearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.5, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2, maxBucketSize: Int = 10000): DataFrame =
    nearDupAgainstIndexCore(spark, newDocs, idCol, textCol, path,
      threshold, shingleK, bands, rowsPerBand, maxBucketSize,
      wantStats = false)._1

  /** [[nearDupAgainstIndex]] plus the `maxBucketSize` guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats over the COMBINED
    * (indexed + new) bucket population — collected eagerly from the
    * banded frames (cheap: index bands are read, only the new batch is
    * hashed) and logged when nonzero, same contract as
    * [[minHashNearDupWithStats]]. */
  def nearDupAgainstIndexWithStats(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.5, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) =
    nearDupAgainstIndexCore(spark, newDocs, idCol, textCol, path,
      threshold, shingleK, bands, rowsPerBand, maxBucketSize,
      wantStats = true) match { case (p, s) => (p, s.get) }

  private def nearDupAgainstIndexCore(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double, shingleK: Int, bands: Int,
      rowsPerBand: Int, maxBucketSize: Int,
      wantStats: Boolean): (DataFrame, Option[DataFrame]) = {
    // validate the banding config against the index manifest: a
    // mismatched probe makes every bsig miss and silently returns
    // (almost) nothing. Pre-manifest indexes (no manifest/ dir) skip
    // the check for layout compatibility — probed by explicit path
    // existence, so a PRESENT-but-corrupt manifest fails the read
    // loudly instead of silently skipping validation.
    val manifestPath = new org.apache.hadoop.fs.Path(s"$path/manifest")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(manifestPath)) {
      val m = spark.read.parquet(s"$path/manifest").head()
      val (mk, mb, mr) = (m.getInt(0), m.getInt(1), m.getInt(2))
      require(mk == shingleK && mb == bands && mr == rowsPerBand,
        s"band index at $path was written with (shingleK=$mk, bands=$mb, " +
          s"rowsPerBand=$mr) but probed with ($shingleK, $bands, " +
          s"$rowsPerBand) — a mismatched probe finds no candidates")
    }
    // scan-local per-doc arrays + signatures for the NEW batch (the
    // minHashOverGramsCore shape — no explode/re-aggregation)
    val gNew = enrichedGrams(
      shingleArrays(newDocs, idCol, textCol, shingleK), bands * rowsPerBand)
      .cache()
    val bNew = bandedFromSig(gNew, bands, rowsPerBand)
    val bOld = spark.read.parquet(s"$path/bands")
    // cache the THIN combined banded frame (3 longs + flag per row):
    // the sizing aggregate below and the bucket-size window both read
    // it, so the new batch's signature aggregation and the index
    // parquet scan each run exactly once.
    val combined = bOld.withColumn("__new", lit(false))
      .unionByName(bNew.withColumn("__new", lit(true)))
      .cache()
    // Plan-time sizing enforcement over the COMBINED (indexed + new)
    // bucket population — the batch path's discipline on the
    // corpus-growth path, where it matters MOST: a drifting corpus
    // going low-diversity is exactly when the persisted index's
    // buckets blow past the cap, and silently filtering them would
    // drop the majority of the index from the candidate search. One
    // bucket-count aggregate (filling the cache every later stage
    // reads) yields the sizing-rule inputs AND the skew-guard drop
    // stats; kept candidate mass is the true incremental form
    // n_old·n_new per kept bucket (old-old pairs are never searched
    // here), measured per NEW doc.
    val bc = combined.groupBy("band", "bsig").agg(
        count(lit(1)).as("__n"),
        coalesce(sum(when(col("__new"), 1L)), lit(0L)).as("__nn"))
      .cache() // sizing aggregate + the skew-guard anti-join list below
    val m = bc
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("rows"),
        coalesce(sum(when(col("__n") > maxBucketSize, col("__n"))), lit(0L))
          .as("over_rows"),
        coalesce(sum(when(col("__n") > maxBucketSize, 1L)), lit(0L))
          .as("over_groups"),
        coalesce(sum(when(col("__n") <= maxBucketSize,
          (col("__n") - col("__nn")) * col("__nn"))), lit(0L))
          .as("kept_mass"),
        coalesce(sum(col("__nn")), lit(0L)).as("new_rows"))
      .head()
    val (totalRows, overRows, overGroups, keptMass, newRows) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3), m.getLong(4))
    minHashSizingIssue(newRows / bands, bands, rowsPerBand,
        minBandAgreements = 1, maxBucketSize, totalRows, overRows, keptMass)
      .foreach {
        case (true, msg)  => throw new IllegalArgumentException(
          s"[band-index probe at $path] $msg")
        case (false, msg) => log.warn(s"[band-index probe at $path] $msg")
      }
    // skew-guard drops are loud on EVERY path (no-silent-caps rule);
    // the WithStats variant additionally surfaces them as a frame
    if (overGroups > 0) log.warn(
      s"band-index probe maxBucketSize=$maxBucketSize dropped $overGroups " +
        s"bucket(s) spanning $overRows signature rows (indexed + new " +
        "combined); near-dups colliding only there are not searched")
    val stats = if (!wantStats) None else
      Some(spark.range(1).select(lit(overGroups).as("n_groups_dropped"),
        lit(overRows).as("n_rows_dropped")))
    // skew-guard filter as an anti-join against the over-cap bucket
    // list measured above (identical keep-set to the per-bucket window
    // count it replaces, minus its sort — the batch-path change,
    // round 17). The explicit join-key repartition matters here: the
    // old↔new join's two sides differ only by the __new filter ABOVE
    // this point, so one shared exchange (ReuseExchange) feeds both —
    // without it each side pays its own (band, bsig) shuffle. Explicit
    // partition count opts out of AQE coalescing (the banded frame is
    // doc-count-thin pre-join — the spread() lesson).
    // When the sizing aggregate counted ZERO over-cap buckets (the
    // common healthy-corpus case) the anti-join is provably the
    // identity and is skipped outright — one exchange + join stage
    // fewer per probe call (guide §2.4).
    val capped =
      if (overGroups == 0L) combined
      else combined.join(
        bc.filter(col("__n") > maxBucketSize).select("band", "bsig"),
        Seq("band", "bsig"), "left_anti")
    val sized = capped.repartition(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      col("band"), col("bsig"))
    val cand = sized.filter(!col("__new")).as("a")
      .join(sized.filter(col("__new")).as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2")).distinct()
      .cache()
    // the new batch's sorted-distinct gram arrays already exist in the
    // enriched cache; the indexed side still semi-joins down to
    // candidate ids before its (heavy-array) parquet read joins. No
    // .distinct() on the key sides: left_semi already has at-most-once
    // semantics, so the pre-aggregation bought nothing but a shuffle
    // each (guide §2.4 — a distinct on data whose duplicates cannot
    // affect the result).
    val gsNew = gNew.select(col("id"), col("__gs").as("gs"))
      .join(cand.select(col("id_2").as("id")), Seq("id"), "left_semi")
    val gsOld = spark.read.parquet(s"$path/grams")
      .join(cand.select(col("id_1").as("id")), Seq("id"), "left_semi")
    val verifiedPlan = jaccardFromGramSets(cand, gsOld.unionByName(gsNew))
      .filter(col("jaccard") >= threshold)
    graft.core.PlanTrace.mark("nearDupAgainstIndex_verified", verifiedPlan)
    val verified = verifiedPlan.localCheckpoint()
    cand.unpersist()
    bc.unpersist()
    combined.unpersist()
    gNew.unpersist()
    (verified, stats)
  }

  private[graft] def exactJaccardOnPairs(pairs: DataFrame, sh: DataFrame): DataFrame =
    jaccardFromGramSets(pairs, sh.groupBy("id")
      .agg(sort_array(collect_list(col("s"))).as("gs")))

  /** The pair-join + merge-count over pre-aggregated (id, gs sorted
    * array) gram sets — shared by the in-corpus verification path and
    * the persisted-index incremental path (whose indexed side stores
    * the arrays directly). */
  private[graft] def jaccardFromGramSets(pairs: DataFrame, gramSets: DataFrame): DataFrame = {
    val spark = gramSets.sparkSession
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCount(spark, col("gs1"), col("gs2"))
    pairs
      .join(gramSets.select(col("id").as("id_1"), col("gs").as("gs1")), Seq("id_1"))
      .join(gramSets.select(col("id").as("id_2"), col("gs").as("gs2")), Seq("id_2"))
      .select(col("id_1"), col("id_2"),
        inter.as("i"), size(col("gs1")).as("n1"), size(col("gs2")).as("n2"))
      .select(col("id_1"), col("id_2"),
        (col("i") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
  }

  /** SimHash (Charikar) document signature over the distinct-token set.
    * Per-token 60-bit hash = first 15 hex chars of md5 (chosen for
    * SQL-oracle parity: identical in Spark and ANSI SQL); signature bit
    * i is set iff sum over tokens of (+-1 for token-bit i) >= 0. `bits`
    * defaults to 32 (of the 60 available).
    *
    * PRECONDITION: one row per id. The signature is computed per ROW
    * (scan-local); a corpus with the same id on multiple rows gets one
    * signature per row, whereas the pre-round-14 explode→distinct→
    * groupBy(id) form silently merged the rows' token sets into one
    * signature per id. Callers with duplicate ids must pre-aggregate
    * (or dedupe) before calling — downstream simHashNearDup self-joins
    * on id and would otherwise see duplicate, possibly differing,
    * signatures per id. Docs whose text is NULL or tokenizes to
    * nothing produce no row (both forms agree). */
  def simHash(df: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame = {
    require(bits <= 60, "only 60 bits available from a 15-hex-char hash")
    // scan-local via the native simhash_tokens expression: the earlier
    // distributed form (explode → distinct → groupBy with `bits`
    // conditional sums) shuffled the full (id, token) stream twice to
    // compute a per-document-local function; now the signature runs at
    // read bandwidth with zero Exchange (measured q60 6.0 s → see
    // PLANS round-14). Same token-set semantics, same replayable
    // md5-prefix hash, same >=0 tie rule — the DuckDB oracle is
    // unchanged. Docs with NULL text produce no row, exactly as the
    // explode-based form (tokens(null) explodes to nothing).
    graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.simhashTokens(
          df.sparkSession, tokens(col(textCol)), bits).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Hamming distance between two long-encoded signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxHamming,
    * found by LOSSLESS banding: split the `bits`-bit signature into
    * `maxHamming + 1` bands — by pigeonhole, any pair within
    * maxHamming differing bits shares at least one untouched band, so
    * the band-bucket self-join (never all-pairs) has perfect recall;
    * exact hamming verification then removes false candidates.
    *
    * SIZING RULE at scale (the Manku-et-al. table-count trade, probed
    * at sf10 by SimhashProbe): each band key has only
    * 2^(bits / (maxHamming+1)) values, so the bucket space must be
    * sized to the corpus — 32-bit / 4-band signatures give 256 values
    * per band and SATURATE near 10^5 docs (sf10 measured: 1,010 of the
    * 1,024 possible buckets occupied, max bucket 77k, candidate mass
    * 2.15e10 — the cap then drops most of the corpus). Raise `bits`
    * toward the 60-bit maximum as the corpus grows: at sf10 (500k
    * docs), 60-bit / 4-band = 2^15 values per band → candidate mass
    * 2.23e9 and the full pipeline completes answer-bounded (20.1M
    * verified pairs, 283 s). Per-band expected bucket size is
    * corpus / 2^(bits/(maxHamming+1)) — keep it answer-scale.
    *
    * The rule is ENFORCED at plan time from a cheap corpus count (one
    * pass over the signature frame, which populates the cache banding
    * reads anyway): when even the UNIFORM candidate mass
    * nBands * n² / 2^(bandBits+1) exceeds 100·n — i.e. the average
    * doc would meet 100+ banding candidates before skew — a warning
    * names the width that fits; when the EXPECTED bucket
    * n / 2^bandBits itself exceeds `maxBucketSize`, the cap would
    * drop the average bucket (the run silently degrades to discarding
    * nearly the whole corpus), so the call fails fast instead. */
  def simHashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 32,
      maxBucketSize: Int = 10000): DataFrame =
    simHashNearDupCore(df, idCol, textCol, maxHamming, bits,
      maxBucketSize)._1

  /** [[simHashNearDup]] plus the band-bucket guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame (lazy; evaluating
    * it re-runs only the signature + bucket-size aggregate). */
  def simHashNearDupWithStats(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 32,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) =
    simHashNearDupCore(df, idCol, textCol, maxHamming, bits, maxBucketSize)

  /** The sizing-rule check, factored pure for spec-ability. None = the
    * width fits. Some((fatal, msg)): fatal when the EXPECTED band
    * bucket n / 2^bandBits exceeds `maxBucketSize` (the skew cap would
    * drop the AVERAGE bucket — recall collapses corpus-wide, so the
    * call must fail rather than silently discard the data); non-fatal
    * warn when the uniform candidate mass nBands·n²/2^(bandBits+1)
    * exceeds 100·n (100+ banding candidates per doc before skew — the
    * sf10-measured onset of saturation). Both messages name the
    * smallest width (multiple of nBands, capped at the hash's 60 bits)
    * whose uniform mass fits the 100-candidates-per-doc budget. */
  private[graft] def simHashSizingIssue(
      n: Long, maxHamming: Int, bits: Int,
      maxBucketSize: Int): Option[(Boolean, String)] = {
    if (n <= 0) return None
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val expectedBucket = n / math.pow(2.0, bandBits)
    val fitBandBits = math.max(bandBits,
      math.ceil(math.log(nBands * n / 100.0) / math.log(2.0)).toInt - 1)
    val fitBits = math.min(60, nBands * fitBandBits)
    val uniformMass = nBands * n.toDouble * expectedBucket / 2.0
    if (expectedBucket > maxBucketSize) Some((true,
      s"simHashNearDup: $bits-bit signatures over $n docs put the " +
        s"EXPECTED band bucket at ${expectedBucket.toLong} rows — above " +
        s"maxBucketSize=$maxBucketSize, so the skew cap would drop the " +
        s"average bucket and near-dup recall collapses corpus-wide. " +
        s"Raise bits (bits=$fitBits fits this corpus; 60 max) — see " +
        s"the sizing rule on simHashNearDup."))
    else if (uniformMass > 100.0 * n) Some((false,
      s"simHashNearDup: $bits-bit signatures over $n docs give " +
        f"uniform candidate mass $uniformMass%.3g (${uniformMass / n}%.0f " +
        s"candidates/doc before skew) — band space 2^$bandBits is " +
        s"undersized for this corpus; bits=$fitBits fits " +
        s"(rule: corpus / 2^(bits/(maxHamming+1)) answer-scale)"))
    else None
  }

  private def simHashNearDupCore(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val sig = simHash(df, idCol, textCol, bits).cache()
    // Plan-time sizing enforcement (scaladoc rule; sf10-measured). The
    // count is one pass that fills the cache every later stage reads,
    // so the check is effectively free — and it fires BEFORE the
    // quadratic candidate join is paid.
    simHashSizingIssue(sig.count(), maxHamming, bits, maxBucketSize)
      .foreach {
        case (true, msg)  => throw new IllegalArgumentException(msg)
        case (false, msg) => log.warn(msg)
      }
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * bandBits)
          .mod(1L << bandBits).as("bsig"))
    }
    val banded = sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.bsig"))
    // band-bucket skew guard: anti-join against the over-cap bucket
    // list (the minHashOverGramsCore shape since round 17 — identical
    // keep-set to the per-bucket window count it replaces, minus its
    // sort; over-cap keys number at most rows / maxBucketSize). The
    // `spread` pin matters here: the banded frame is doc-count-thin, so
    // AQE would coalesce its exchange to one task and the whole
    // quadratic candidate join + hamming verify would serialize (the
    // fuzzy-join lesson at sized-join sites, PLANS round-11).
    val over = banded.groupBy("band", "bsig").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize).select("band", "bsig")
    val sized = spread(banded.join(over, Seq("band", "bsig"), "left_anti"), "id")
    val cand = sized.as("a").join(sized.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2")).distinct()
    val s1 = sig.select(col("id").as("id_1"), col("simhash").as("h1"))
    val s2 = sig.select(col("id").as("id_2"), col("simhash").as("h2"))
    val out = cand.join(s1, Seq("id_1")).join(s2, Seq("id_2"))
      .select(col("id_1"), col("id_2"), hamming(col("h1"), col("h2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint()
    sig.unpersist()
    (out, dropStats(
      banded.groupBy("band", "bsig").agg(count(lit(1)).as("__sz")),
      "__sz", maxBucketSize))
  }

  /** Duplicate clusters from near-dup pairs: connected components via
    * iterative min-label propagation — each doc ends up labeled with
    * the smallest id reachable through the duplicate graph; that label
    * is the canonical document of its cluster (the row a dedup pass
    * keeps). Converges in O(component diameter) rounds; near-dup
    * components are shallow by construction (chains of
    * pairwise-similar docs), and the loop is bounded by `maxIter` with
    * a driver-side fixpoint check per round. Input: (id_1, id_2) with
    * id_1 < id_2. Output: (id, cluster) for every id in a pair. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    duplicateClustersWithRounds(pairs, maxIter)._1

  /** As `duplicateClusters`, also returning the number of propagation
    * rounds executed — pointer jumping doubles label reach per round,
    * so even a worst-case chain component of diameter d converges in
    * ~log2(d) rounds (asserted adversarially in LlmOpsSpec). */
  def duplicateClustersWithRounds(
      pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // localCheckpoint rather than cache: iterative algorithms grow the
    // logical plan linearly under cache (compute is reused but every
    // round re-analyzes the whole history); checkpointing truncates
    // lineage so round N plans are constant-size. LAZY checkpoints
    // throughout (round-18): the per-round convergence count is the
    // action that materializes that round's checkpoint, so each round
    // costs ONE blocking job instead of two (eager checkpoint + count
    // — the PageRank lesson, guide §5: the driver should block as
    // little as possible). The initial edge/label frames materialize
    // inside round 1's job the same way.
    val edges = pairs.select(col("id_1").as("src"), col("id_2").as("dst"))
      .unionByName(pairs.select(col("id_2").as("src"), col("id_1").as("dst")))
      .localCheckpoint(false)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("cluster").as("__nc"))
      val relabeled = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__nc"), col("cluster"))).as("__c"))
      // pointer jumping: follow the new label one more hop through the
      // label map itself (cluster of my cluster) — min-label propagation
      // alone needs O(component diameter) rounds; compression brings
      // chain-shaped duplicate components to O(log diameter).
      val jumped = relabeled.join(
          labels.select(col("id").as("__c"), col("cluster").as("__cc")), Seq("__c"), "left")
        .select(col("id"), col("__old"),
          least(col("__c"), coalesce(col("__cc"), col("__c"))).as("cluster"))
        .localCheckpoint(false)
      if (iter == 0) graft.core.PlanTrace.mark("duplicateClusters_round", jumped)
      // this count is the round's ONE action: it materializes the lazy
      // checkpoint (all three columns) as a side effect and reads the
      // convergence signal off the same pass
      changed = jumped.filter(col("cluster") =!= col("__old")).count()
      labels = jumped.select("id", "cluster")
      iter += 1
    }
    (labels, iter)
  }

  /** Pin `df` to the session's full shuffle parallelism, hashed by
    * `key`. Bucketed self-joins explode output ~|bucket|-fold, but
    * AQE sizes exchanges by PRE-join bytes: on a probe side that is
    * row-scale small it coalesces the exchange to one task and the
    * whole quadratic verify serializes (sf1 rehearsal: the fuzzy-join
    * levenshtein pass ran 433 s on a 2-partition probe, 19 s once
    * pinned to 32). The EXPLICIT partition count opts this one
    * exchange out of AQE coalescing; hashing by the row id (not the
    * bucket key) keeps the distribution even under bucket skew. */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** Embedding near-duplicate pairs within blocking groups: exact
    * cosine on pairs sharing `blockCol` (a standard dedup blocking key —
    * bounded block sizes keep the join quadratic only per block, linear
    * overall). For unblocked approximate search at scale see
    * `graft.sim.Similarity`. */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, maxBlockSize: Int = 10000): DataFrame =
    embeddingNearDupCore(df, idCol, vecCol, blockCol, threshold,
      maxBlockSize)._1

  /** [[embeddingNearDup]] plus the block guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame (lazy). */
  def embeddingNearDupWithStats(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, maxBlockSize: Int = 10000): (DataFrame, DataFrame) =
    embeddingNearDupCore(df, idCol, vecCol, blockCol, threshold,
      maxBlockSize)

  private def embeddingNearDupCore(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, maxBlockSize: Int): (DataFrame, DataFrame) = {
    val keyed = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("vec"))
    // block skew guard (the fuzzyJoinBlocked contract): one dominant
    // block value would send the self-join quadratic — cap it, drops
    // surfaced through the WithStats variant
    val v = spread(keyed.withColumn("__n",
        count(lit(1)).over(Window.partitionBy("blk")))
      .filter(col("__n") <= maxBlockSize).drop("__n"), "id")
    val pairs = v.as("a").join(v.as("b"),
      col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
    (pairs.select(
        col("a.id").as("id_1"), col("b.id").as("id_2"),
        graft.functions.GraftFunctions.cosineSim(df.sparkSession,
          col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= threshold),
      dropStats(keyed.groupBy("blk").agg(count(lit(1)).as("__sz")),
        "__sz", maxBlockSize))
  }

  /** Embedding near-duplicate pairs WITHOUT a blocking key: candidates
    * share a sign-random-projection bucket in at least one of `tables`
    * independent hash tables (bucket equi self-join — never all-pairs;
    * more tables raise recall, more planes cut candidate volume), then
    * exact cosine keeps pairs >= threshold. Approximate in recall
    * (miss probability (1-(1-theta/pi)^planes)^tables for angle theta),
    * exact in precision — the scale path when no natural blocking key
    * exists. Buckets over `maxBucketSize` are dropped (the LSH skew
    * guard the minhash pipelines already carry — a degenerate bucket,
    * e.g. a mass of identical or zero vectors landing one SRP cell,
    * must not go quadratic); [[embeddingNearDupLshWithStats]] surfaces
    * the drop counts. */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 12, tables: Int = 4, seed: Long = 7919L,
      maxBucketSize: Int = 10000): DataFrame =
    embeddingNearDupLshCore(df, idCol, vecCol, threshold, planes,
      tables, seed, maxBucketSize)._1

  /** [[embeddingNearDupLsh]] plus the guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame — dropped
    * (table, bucket) cells and the id × table memberships inside them
    * (lazy; evaluating it re-runs only the projection + bucket-size
    * aggregate). */
  def embeddingNearDupLshWithStats(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 12, tables: Int = 4, seed: Long = 7919L,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) =
    embeddingNearDupLshCore(df, idCol, vecCol, threshold, planes,
      tables, seed, maxBucketSize)

  private def embeddingNearDupLshCore(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int, tables: Int, seed: Long,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    val v = df.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("vec"))
    val tcols = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        graft.sim.Similarity.srpBucket(col("vec"), planes, seed * (t + 1)).as("bkt")))
    val bucketed0 = v.select(col("id"), col("vec"),
        explode(array(tcols: _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.tbl"), col("tb.bkt"))
    // cap via a window count (the minhash guard's shape): one exchange
    // keyed by the bucket, no join-back, and the SRP projection is
    // evaluated once — an aggregate + re-join here would re-run the
    // per-row hashing for the probe side and add a shuffle to the
    // default path
    val bucketed = spread(bucketed0.withColumn("__sz",
        count(lit(1)).over(Window.partitionBy("tbl", "bkt")))
      .filter(col("__sz") <= maxBucketSize).drop("__sz"), "id")
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        col("a.vec").as("v1"), col("b.vec").as("v2"))
      .dropDuplicates("id_1", "id_2")
    // stats are a separate lazy aggregate (evaluating it re-runs only
    // the projection + bucket-size count, per the WithStats contract)
    val bucketSizes = bucketed0.groupBy("tbl", "bkt")
      .agg(count(lit(1)).as("__sz"))
    (cand.select(col("id_1"), col("id_2"),
        graft.functions.GraftFunctions.cosineSim(df.sparkSession,
          col("v1"), col("v2")).as("cosine"))
      .filter(col("cosine") >= threshold),
      dropStats(bucketSizes, "__sz", maxBucketSize))
  }

  /** Canonical-member selection: each cluster keeps its best-scoring
    * member (score descending, id ascending tie-break) via a single
    * struct-max aggregate — deterministic, no window, no
    * nondeterministic max_by ties. `clusters` is (idCol, cluster) as
    * produced by [[duplicateClusters]]; `scored` is (idCol, scoreCol).
    * Returns (cluster, canonical id, its score, n_members). */
  def canonicalPick(clusters: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String): DataFrame =
    clusters.join(scored, idCol)
      .groupBy("cluster").agg(
        // min over (-score, id): -score ascending = score descending,
        // ties then break to the SMALLEST id for ANY orderable id type
        // — negating the id instead would null-cast (non-ANSI) or
        // throw (ANSI) on string ids and silently pick the largest
        min(struct((-col(scoreCol).cast("double")).as("negScore"),
          col(idCol).as("id"), col(scoreCol).as("score"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("__best.id").as(s"canonical_$idCol"),
        col("__best.score").as(scoreCol), col("n_members"))

  /** Hamming-banded near-dup over fixed-width binary-string
    * fingerprints (the image analogue of the SimHash text pipeline:
    * dHash / pHash values as '0'/'1' strings). The hash splits into
    * `bands` equal slices; by pigeonhole any pair at Hamming distance
    * ≤ `maxDistance` < bands shares at least one band EXACTLY, so the
    * band-keyed equi-join enumerates a candidate superset and the
    * exact popcount verification (two 32-bit conv/xor/bit_count
    * halves — codegen'd column expressions, no UDF) keeps only true
    * pairs. Oversized band buckets are dropped (`maxBucketSize`, the
    * LSH skew guard) — the cap applies to the DISTINCT-hash banding
    * only; identical-hash (distance-0) pairs always surface, since
    * their join is keyed by the full hash and cannot skew-explode.
    * Emits (id_1, id_2, hamming) with id_1 < id_2. */
  def hammingNearDup(df: DataFrame, idCol: String, hashCol: String,
      maxDistance: Int, bands: Int = 8, hashBits: Int = 64,
      maxBucketSize: Int = 10000): DataFrame = {
    // one checkpointed (id, hash) projection feeds BOTH the
    // distinct-hash banding and the membership expansion, so an
    // expensive upstream (e.g. an image-decode dHash) computes once
    val h = hashedProjection(df, idCol, hashCol, hashBits)
      .localCheckpoint(false)
    expandPairsCore(h,
      hammingHashPairs(h, "__h", maxDistance, bands, hashBits,
        maxBucketSize))
  }

  /** The filtered (id, __h) projection shared by the hamming
    * pipeline stages. */
  private def hashedProjection(df: DataFrame, idCol: String,
      hashCol: String, hashBits: Int): DataFrame =
    df.select(col(idCol).as("id"), col(hashCol).as("__h"))
      .filter(col("__h").isNotNull && length(col("__h")) === hashBits)

  /** Distinct-hash near pairs (hash_1 < hash_2, hamming ≤
    * `maxDistance`) — the hash-level core of [[hammingNearDup]],
    * exposed so pair expansion ([[hammingExpandPairs]]) and
    * clustering ([[hammingClusters]]) can share ONE banded-verify
    * pass: the candidate join over distinct hashes is the expensive
    * step at scale (the 8-bit band space holds only 256 values, so
    * candidates grow ~N²/256 per band), while both consumers are
    * output-bound. */
  def hammingHashPairs(df: DataFrame, hashCol: String,
      maxDistance: Int, bands: Int = 8, hashBits: Int = 64,
      maxBucketSize: Int = 10000): DataFrame =
    hammingHashPairsCore(df, hashCol, maxDistance, bands, hashBits,
      maxBucketSize)._1

  /** [[hammingHashPairs]] plus the `maxBucketSize` guard's drop stats:
    * a one-row (n_groups_dropped, n_rows_dropped) frame counting
    * dropped (band, value) buckets and the DISTINCT-HASH band
    * memberships inside them. Lazy, and derived from the same
    * checkpointed distinct-hash projection as the pair result, so
    * evaluating it re-runs only the banding aggregate — identical-hash
    * (distance-0) pairs are never affected by the cap (see above). */
  def hammingHashPairsWithStats(df: DataFrame, hashCol: String,
      maxDistance: Int, bands: Int = 8, hashBits: Int = 64,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) =
    hammingHashPairsCore(df, hashCol, maxDistance, bands, hashBits,
      maxBucketSize)

  private def hammingHashPairsCore(df: DataFrame, hashCol: String,
      maxDistance: Int, bands: Int, hashBits: Int,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    require(bands > maxDistance,
      s"pigeonhole needs bands > maxDistance ($bands <= $maxDistance)")
    require(hashBits == 64 && hashBits % bands == 0,
      s"64-bit hashes only (two conv halves), split evenly into $bands bands")
    val bandLen = hashBits / bands
    val h = df.select(col(hashCol).as("__h"))
      .filter(col("__h").isNotNull && length(col("__h")) === hashBits)
    // Canonicalize BEFORE banding (the exact-dedup-before-MinHash
    // trick): perceptual hashes collapse heavily — identical images
    // share a hash — so the candidate join runs over DISTINCT hashes
    // only and the result expands back through group membership.
    // Bucket cost drops from Σ(docs-per-bucket)² to Σ(hashes-per-
    // bucket)², which on near-dup-heavy corpora is orders of
    // magnitude; the expansion back to ids ([[hammingExpandPairs]])
    // is output-bound, never larger than the answer itself.
    // Parse each DISTINCT hash's two 32-bit halves to longs ONCE,
    // before banding: the candidate join's verify is then two long
    // xor+popcounts per pair instead of four conv(substring(...))
    // string parses — at band-bucket saturation (the 8-bit band space
    // holds only 256 values, so candidate pairs grow ~N²/256 per
    // band) the per-pair constant is the whole cost. Measured at the
    // sf1 rehearsal: the string-parse verify ran ~8 min/pass; the
    // long form with verify-before-dedup is ~10× cheaper (see
    // PLANS.md round-11 sf1 section).
    val reps = spread(h.select("__h").distinct()
      .withColumn("__p1", conv(substring(col("__h"), 1, 32), 2, 10)
        .cast("long"))
      .withColumn("__p2", conv(substring(col("__h"), 33, 32), 2, 10)
        .cast("long")), "__h")
      .localCheckpoint(false)
    val banded = reps.select(col("__h"), col("__p1"), col("__p2"),
        explode(array((0 until bands).map(i =>
          struct(lit(i).as("b"),
            substring(col("__h"), i * bandLen + 1, bandLen).as("v"))): _*))
          .as("__bv"))
      .select(col("__h"), col("__p1"), col("__p2"),
        col("__bv.b"), col("__bv.v"))
    val bucketSizes = banded.groupBy("b", "v")
      .agg(count(lit(1)).as("__sz"))
    val sized = banded.join(
      bucketSizes.filter(col("__sz") <= maxBucketSize).select("b", "v"),
      Seq("b", "v"))
    // near pairs among distinct hashes (distance >= 1 by construction).
    // Verify-then-dedup, not dedup-then-verify: a pair surfaces once
    // per shared band (≤ bands duplicates), and the long-xor verify is
    // far cheaper per row than a hash-aggregate over the full
    // candidate stream — so the dedup runs on the near-pair SURVIVORS
    // (output-scale), never the candidate volume.
    val hashPairs = sized.as("x").join(sized.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.__h") < col("y.__h"))
      .select(col("x.__h").as("__ha"), col("y.__h").as("__hb"),
        (bit_count(col("x.__p1").bitwiseXOR(col("y.__p1"))) +
          bit_count(col("x.__p2").bitwiseXOR(col("y.__p2"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("__ha", "__hb")
    (hashPairs.select(col("__ha").as("hash_1"), col("__hb").as("hash_2"),
      col("hamming")),
      dropStats(bucketSizes, "__sz", maxBucketSize))
  }

  /** Expand distinct-hash near pairs (from [[hammingHashPairs]]) into
    * id pairs through group membership, plus identical-hash member
    * pairs at distance 0. Output-bound: never larger than the answer.
    * Emits (id_1, id_2, hamming) with id_1 < id_2. */
  def hammingExpandPairs(df: DataFrame, idCol: String, hashCol: String,
      hashPairs: DataFrame, hashBits: Int = 64): DataFrame =
    expandPairsCore(
      hashedProjection(df, idCol, hashCol, hashBits)
        .localCheckpoint(false), // read by the two expansions below
      hashPairs)

  /** Expansion over an already-checkpointed (id, __h) projection. */
  private def expandPairsCore(h: DataFrame,
      hashPairs: DataFrame): DataFrame = {
    val cross = hashPairs
      .join(h.select(col("__h").as("hash_1"), col("id").as("__ia")),
        Seq("hash_1"))
      .join(h.select(col("__h").as("hash_2"), col("id").as("__ib")),
        Seq("hash_2"))
      .select(least(col("__ia"), col("__ib")).as("id_1"),
        greatest(col("__ia"), col("__ib")).as("id_2"), col("hamming"))
    // identical-hash members are pairwise distance 0
    val within = h.as("a").join(h.as("b"),
        col("a.__h") === col("b.__h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        lit(0).as("hamming"))
    within.unionByName(cross)
  }

  /** Near-dup clusters over hashed rows WITHOUT expanding the id-pair
    * graph: connected components run on the DISTINCT-hash graph (one
    * node per hash, one edge per verified near pair from
    * [[hammingHashPairs]]) and ids map in through two joins. The
    * id-level graph this replaces carries every same-hash clique plus
    * |group_a|×|group_b| copies of each hash edge — on collapse-heavy
    * perceptual hashes that is orders of magnitude more edges for the
    * SAME components, since ids sharing a hash are interchangeable.
    * Equivalent to `duplicateClusters(hammingNearDup(...))`: id
    * components = hash components unioned with multi-member
    * singleton-hash groups, and the cluster label is min(id) per
    * component either way (asserted in LlmOpsSpec). Emits
    * (id, cluster) for every id with at least one near-dup. */
  def hammingClusters(df: DataFrame, idCol: String, hashCol: String,
      hashPairs: DataFrame, hashBits: Int = 64,
      maxIter: Int = 20): DataFrame = {
    val h = df.select(col(idCol).as("id"), col(hashCol).as("__h"))
      .filter(col("__h").isNotNull && length(col("__h")) === hashBits)
      .localCheckpoint(false) // read by membership counts and mapping
    val hashCC = duplicateClusters(
        hashPairs.select(col("hash_1").as("id_1"), col("hash_2").as("id_2")),
        maxIter)
      .select(col("id").as("__h"), col("cluster").as("__hc"))
    // a hash with >= 2 members but no near-neighbor hash is its own
    // component (its members pair at distance 0)
    val lone = h.groupBy("__h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("__h")
      .join(hashCC.select("__h"), Seq("__h"), "left_anti")
      .withColumn("__hc", col("__h"))
    val members = h.join(hashCC.unionByName(lone), Seq("__h"))
    members.join(
        members.groupBy("__hc").agg(min(col("id")).as("cluster")),
        Seq("__hc"))
      .select(col("id"), col("cluster"))
  }

  /** Blocked fuzzy join (record linkage): candidate pairs share a
    * cheap blocking key (computed scan-local by `blockKey`), and only
    * within-block pairs pay the edit-distance compare over
    * `prefixLen`-char prefixes — the classic blocking strategy that
    * turns an O(n²) all-pairs linkage into per-block work. Blocks
    * larger than `maxBlockSize` are dropped (skew guard, same policy
    * as the LSH bucket cap: one degenerate block can't go quadratic).
    * Emits (id_1, id_2, distance) for pairs at or under
    * `maxDistance`.
    *
    * Block-key selection: expected block size ≈ corpus /
    * (key-space ^ arity) must sit well under `maxBlockSize`, or the
    * guard drops the bulk of the corpus — on the sf10 rehearsal's
    * 31-word vocabulary EVERY first-token block exceeded the cap and
    * the join (correctly, but silently here) answered empty. Use
    * [[tokenBlockKey]] to widen the key and
    * [[fuzzyJoinBlockedWithStats]] to SEE the drops: its stats frame
    * counts dropped blocks and the rows inside them, per the
    * no-silent-caps rule [[budgetPairs]] follows. */
  def fuzzyJoinBlocked(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, maxDistance: Int, prefixLen: Int = 40,
      maxBlockSize: Int = 10000): DataFrame = {
    val keyed = fuzzyKeyed(df, idCol, textCol, blockKey, prefixLen)
    val sized = spread(keyed.join(
      keyed.groupBy("blk").agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") <= maxBlockSize).select("blk"),
      Seq("blk")), "id")
    sized.as("a").join(sized.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      // 3-arg levenshtein = banded O(d·n) with early abandon (-1 when
      // the threshold is exceeded) — ~4× cheaper than the full DP at
      // tight thresholds
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        levenshtein(col("a.pfx"), col("b.pfx"), maxDistance).as("distance"))
      .filter(col("distance") =!= -1)
  }

  private def fuzzyKeyed(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, prefixLen: Int): DataFrame =
    df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("pfx"), blockKey.as("blk"))

  /** [[fuzzyJoinBlocked]] plus its guard's drop stats: a one-row
    * (n_groups_dropped, n_rows_dropped) frame counting the blocks the
    * `maxBlockSize` guard removed and the DOCUMENTS inside them. The
    * stats frame is lazy and lineage-independent of the pair result
    * (evaluating it costs one scan + block-size aggregate, output
    * bounded by block cardinality) so the join keeps its audited
    * plan; both sides are exact-SQL-mirrorable (q224). */
  def fuzzyJoinBlockedWithStats(df: DataFrame, idCol: String,
      textCol: String, blockKey: Column, maxDistance: Int,
      prefixLen: Int = 40, maxBlockSize: Int = 10000): (DataFrame, DataFrame) = {
    val stats = dropStats(
      fuzzyKeyed(df, idCol, textCol, blockKey, prefixLen)
        .groupBy("blk").agg(count(lit(1)).as("__sz")),
      "__sz", maxBlockSize)
    (fuzzyJoinBlocked(df, idCol, textCol, blockKey, maxDistance,
      prefixLen, maxBlockSize), stats)
  }
}
