package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Deduplication operators for large-scale training-data pipelines —
  * the LLM-data extension family required beyond the reference's
  * operator set (BASELINE.json north star; reference has only pandas
  * `drop_duplicates`-free workflows, so everything here is Spark-first
  * design, not a port).
  *
  * Scale design: nothing in this module materializes an all-pairs
  * product. Every LSH family — MinHash and char-n-gram Jaccard, the
  * persisted band-index probe, SimHash, embedding SRP-LSH and Hamming
  * fingerprints — is a signature, its band keys, a verify predicate and
  * its own sizing rule on top of ONE banding core, [[Banding]]: the
  * bucket census, the `maxBucketSize` skew cap with its drop stats, and
  * the bucket equi-join that yields candidates. Exact verification runs
  * on candidate pairs only. Each family has `X` and `XWithStats`; `X`
  * is `XWithStats(...)._1`.
  */
object Dedup {

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

  /** Per-doc word k-shingle hash arrays (id, __gs): the native
    * HashedShingles expression hashes each shingle to a long in one
    * pass over the text (set semantics survive hashing up to a ~1e-19
    * per-pair collision probability). Multiset — [[enrichedGrams]]
    * applies set semantics per document, so no corpus-scale (id, gram)
    * row stream or distinct shuffle ever exists. */
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
    * 1. signatures: numHashes seeded xxhash64 min-hashes per doc,
    *    computed scan-local from its shingle-hash array;
    * 2. banding: `bands` bands of `rowsPerBand` hashes; ids sharing any
    *    band signature become candidates (bucket self-join — never
    *    all-pairs). Miss probability for a pair with Jaccard j is
    *    (1 - j^r)^b — at j>=0.9, r=2, b=16 it is < 1e-17. The measured
    *    recall contract of the default (16,2) at threshold 0.5 (the
    *    sf10/100x `Probe slice` record, 500k docs): soundness exact on all
    *    120,982 reported pairs, completeness 12,634/12,750 (99.1%) on
    *    the slice replay with every miss confined to the published
    *    S-curve tail j in [0.50, 0.571] and zero false extras — a pair
    *    above j ~ 0.57 is effectively never missed.
    *    Buckets above `maxBucketSize` are dropped (the [[Banding]]
    *    census, sizing rule and skew cap);
    * 3. verify: exact Jaccard on candidates only, via joins against the
    *    per-doc sorted gram arrays; keep pairs with jaccard >= threshold.
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
    * [[graft.Probe]] banding census of the corpus's own similarity
    * profile (runMain graft.Probe banding <docsDir> [BxR ...]).
    *
    * Returns (id_1, id_2, jaccard) with id_1 < id_2.
    */
  def minHashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000, minBandAgreements: Int = 1): DataFrame =
    minHashNearDupWithStats(df, idCol, textCol, threshold, shingleK, bands,
      rowsPerBand, maxBucketSize, minBandAgreements)._1

  /** [[minHashNearDup]] plus the `maxBucketSize` guard's drop stats: a
    * one-row (n_groups_dropped, n_rows_dropped) frame counting dropped
    * (band, bsig) buckets and the SIGNATURE rows (id × band
    * memberships) inside them, read off the bucket census the sizing
    * rule already pays for (and logged as a warning when nonzero on
    * every path) — the no-silent-caps rule for a guard whose drops
    * otherwise only show as missing pairs. */
  def minHashNearDupWithStats(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000,
      minBandAgreements: Int = 1): (DataFrame, DataFrame) =
    minHashOverGrams(shingleArrays(df, idCol, textCol, shingleK),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements)

  /** Character n-gram occurrences as hashed Jaccard units: (id, s)
    * with s = xxhash64 of each n-char window of the trimmed text,
    * computed by the native HashedNgrams expression — one pass over
    * the UTF-8 buffer, hashing windows in place. The exploded
    * reference form of [[charNgramArrays]]. */
  private[graft] def hashedCharNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = graft.core.Parallelize.scan(df)
      .select(col(idCol).as("id"), trim(col(textCol)).as("__t"))
    t.select(col("id"), explode(
      graft.functions.GraftFunctions.hashedNgrams(
        df.sparkSession, col("__t"), n)).as("s"))
  }

  /** N-gram Jaccard near-dup: the MinHash/banding/exact-verify pipeline
    * over character n-gram sets instead of word shingles — catches
    * near-dups word shingles miss (reorderings/typos inside tokens,
    * whitespace-insensitive). Same scale properties (bucketed
    * candidates, never all-pairs). */
  def ngramJaccardNearDup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000, minBandAgreements: Int = 1): DataFrame =
    minHashOverGrams(charNgramArrays(df, idCol, textCol, n),
      threshold, bands, rowsPerBand, maxBucketSize, minBandAgreements)._1

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
    * at [[graft.Probe]] banding, which prices candidates against the
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
        s"minBandAgreements >= 2 — graft.Probe banding prices the " +
        s"shapes against this corpus."))
    else if (keptCandidateMass > 100.0 * nDocs) Some((false,
      s"minHashNearDup: banding at (b=$bands, r=$rowsPerBand, k=" +
        f"$minBandAgreements) yields $keptCandidateMass%,d kept band-" +
        f"collision candidates over $nDocs%,d docs (${keptCandidateMass * 1.0 / nDocs}%.0f" +
        s"/doc before the verify join) — the shape is saturated for " +
        s"this corpus; raise rowsPerBand or minBandAgreements " +
        s"(graft.Probe banding prices the candidate mass)"))
    else None
  }

  /** (id, __gs sorted-distinct array, __sig minhash array) per doc —
    * computed SCAN-LOCAL in one projection: both the exact-verify unit
    * set and the signature are per-document functions, so nothing here
    * shuffles. The native signature is deliberately bands·rowsPerBand
    * INDEPENDENT seeded hashes: a Kirsch-Mitzenmacher (h1 + j·h2)
    * derivation makes band collisions correlate and banding recall
    * collapse. Docs with no grams (short/NULL text) carry a NULL
    * signature and are dropped. */
  private[graft] def enrichedGrams(docGrams: DataFrame, numHashes: Int): DataFrame =
    docGrams.select(col("id"),
        sort_array(array_distinct(col("__gs"))).as("__gs"),
        graft.functions.GraftFunctions.minhashSignature(
          docGrams.sparkSession, col("__gs"), numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)

  /** The MinHash LSH pipeline over per-doc gram arrays (id, __gs):
    * signatures, the [[Banding]] census / sizing rule / cap /
    * candidate join, then exact Jaccard on candidates from the
    * sorted-distinct gram arrays. Returns (pairs, drop stats). */
  private def minHashOverGrams(
      docGrams: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      minBandAgreements: Int): (DataFrame, DataFrame) = {
    require(minBandAgreements >= 1 && minBandAgreements <= bands,
      s"minBandAgreements must be in [1, $bands], got $minBandAgreements")
    // ONE corpus-scale cache; the census fills it and every later
    // stage reads it
    Materialize.scoped(enrichedGrams(docGrams, bands * rowsPerBand)) { enriched =>
      val (sized, census) = Banding.capped(
        Banding.explodeBands(enriched, Banding.minhashBands(bands, rowsPerBand), "id"),
        maxBucketSize, "minhash LSH", "signature rows",
        sizing = c => minHashSizingIssue(c.rows / bands, bands, rowsPerBand,
          minBandAgreements, maxBucketSize, c.rows, c.overRows, c.keptMass))
      val gs = enriched.select(col("id"), col("__gs").as("gs"))
      val verifiedPlan = jaccardFromGramSets(
          Banding.candidates(sized, minBandAgreements), gs, gs)
        .filter(col("jaccard") >= threshold)
      // the registry-level Bench --explain sees only Scan ExistingRDD past the
      // checkpoint below — this mark is the real pre-checkpoint plan
      graft.core.PlanTrace.mark("minHashNearDup_verified", verifiedPlan)
      val verified = verifiedPlan.localCheckpoint() // materialize before releasing the cache
      (verified, Banding.dropStats(docGrams.sparkSession, census))
    }
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
    Materialize.scoped(enrichedGrams(
        shingleArrays(df, idCol, textCol, shingleK), bands * rowsPerBand)) { g =>
      // cluster by the partition column before the partitionBy write:
      // without it every write task holds every band and emits one file
      // per (task, band) — 512 tiny files at 32 tasks × 16 bands, whose
      // per-file open cost then dominates every probe's bands scan
      // (guide's small-files rule). `splits` sub-buckets each band by a
      // deterministic bsig hash so file sizing follows the session's
      // shuffle parallelism instead of collapsing each band to a single
      // task at cluster scale.
      val spark = df.sparkSession
      val splits = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt / bands)
      Banding.explodeBands(g, Banding.minhashBands(bands, rowsPerBand), "id")
        .repartition(bands * splits, col("band"),
          pmod(xxhash64(col("bsig")), lit(splits)))
        .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
      g.select(col("id"), col("__gs").as("gs"))
        .write.mode("overwrite").parquet(s"$path/grams")
      import spark.implicits._
      Seq((shingleK, bands, rowsPerBand))
        .toDF("shingle_k", "bands", "rows_per_band")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
    }
  }

  /** Verified near-dup pairs between a NEW batch and a persisted band
    * index (id_1 = indexed doc, id_2 = new doc). Only the new batch is
    * shingled/hashed; the candidate join moves |new bands| + matching
    * index buckets, and exact verification joins id_1 to the stored
    * index gram arrays and id_2 to the new batch's — an id present on
    * both sides still verifies each side against its own text.
    * Incremental cost is proportional to the batch, not the corpus.
    * The [[Banding]] census runs over the combined (indexed + new)
    * bucket population, with kept candidate mass n_old·n_new per
    * bucket, and feeds the same sizing rule as the batch path
    * ([[minHashSizingIssue]], per NEW doc): fail-fast when the
    * over-cap buckets hold the majority of the combined index (the
    * low-diversity corpus-drift case, where the cap would silently
    * discard most of the search space), warn at candidate saturation,
    * and drop counts log unconditionally. */
  def nearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.5, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2, maxBucketSize: Int = 10000): DataFrame =
    nearDupAgainstIndexWithStats(spark, newDocs, idCol, textCol, path,
      threshold, shingleK, bands, rowsPerBand, maxBucketSize)._1

  /** [[nearDupAgainstIndex]] plus the `maxBucketSize` guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats over the COMBINED
    * (indexed + new) bucket population, same contract as
    * [[minHashNearDupWithStats]]. */
  def nearDupAgainstIndexWithStats(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.5, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) = {
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
    Materialize.scoped(enrichedGrams(
        shingleArrays(newDocs, idCol, textCol, shingleK), bands * rowsPerBand)) { gNew =>
      // cache the THIN combined banded frame (3 longs + flag per row):
      // the census and the candidate join both read it, so the new
      // batch's signatures and the index parquet scan each run once
      val banded = spark.read.parquet(s"$path/bands")
        .withColumn("__new", lit(false))
        .unionByName(Banding.explodeBands(gNew,
          Banding.minhashBands(bands, rowsPerBand), "id").withColumn("__new", lit(true)))
      Materialize.scoped(banded) { combined =>
        val where = s"[band-index probe at $path]"
        val (sized, census) = Banding.capped(combined, maxBucketSize, where,
          "signature rows (indexed + new combined)", newFlag = Some("__new"),
          sizing = c => minHashSizingIssue(c.probeRows / bands, bands,
              rowsPerBand, minBandAgreements = 1, maxBucketSize, c.rows,
              c.overRows, c.keptMass)
            .map { case (fatal, msg) => (fatal, s"$where $msg") })
        Materialize.scoped(Banding.candidates(sized, newFlag = Some("__new"))) { cand =>
          // both gram stores semi-join down to candidate ids before the
          // pair joins (left_semi is at-most-once, no distinct needed)
          val gsOld = spark.read.parquet(s"$path/grams")
            .join(cand.select(col("id_1").as("id")), Seq("id"), "left_semi")
          val gsNew = gNew.select(col("id"), col("__gs").as("gs"))
            .join(cand.select(col("id_2").as("id")), Seq("id"), "left_semi")
          val verifiedPlan = jaccardFromGramSets(cand, gsOld, gsNew)
            .filter(col("jaccard") >= threshold)
          graft.core.PlanTrace.mark("nearDupAgainstIndex_verified", verifiedPlan)
          val verified = verifiedPlan.localCheckpoint() // materialize before releasing the caches
          (verified, Banding.dropStats(spark, census))
        }
      }
    }
  }

  private[graft] def exactJaccardOnPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val gs = sh.groupBy("id").agg(sort_array(collect_list(col("s"))).as("gs"))
    jaccardFromGramSets(pairs, gs, gs)
  }

  /** Exact Jaccard for (id_1, id_2) pairs: each side joins its (id, gs
    * sorted-distinct array) gram set — `gs1` for id_1, `gs2` for id_2
    * (the same frame for a self-join) — and the native
    * SortedIntersectCount merge computes |A∩B| in codegen, one
    * O(|A|+|B|) pass per pair with no per-gram rows. */
  private[graft] def jaccardFromGramSets(pairs: DataFrame, gs1: DataFrame,
      gs2: DataFrame): DataFrame = {
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCount(pairs.sparkSession, col("gs1"), col("gs2"))
    pairs
      .join(gs1.select(col("id").as("id_1"), col("gs").as("gs1")), Seq("id_1"))
      .join(gs2.select(col("id").as("id_2"), col("gs").as("gs2")), Seq("id_2"))
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
    * at sf10 by `graft.Probe simhash`): each band key has only
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
    * The rule is ENFORCED at plan time from the bucket census (one
    * aggregate over the signature frame, which populates the cache
    * banding reads anyway): when even the UNIFORM candidate mass
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
    simHashNearDupWithStats(df, idCol, textCol, maxHamming, bits,
      maxBucketSize)._1

  /** [[simHashNearDup]] plus the band-bucket guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame, read off the
    * bucket census. */
  def simHashNearDupWithStats(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 32,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    Materialize.scoped(simHash(df, idCol, textCol, bits)) { sig =>
      // the census fills the cache every later stage reads, and the
      // sizing rule (n = rows / nBands) fires BEFORE the quadratic
      // candidate join is paid
      val (sized, census) = Banding.capped(
        Banding.explodeBands(sig, Banding.simhashBands(nBands, bandBits),
          "id", "simhash"),
        maxBucketSize, "simhash LSH", "signature rows",
        sizing = c => simHashSizingIssue(c.rows / nBands, maxHamming, bits,
          maxBucketSize))
      // verify-then-dedup: the signatures ride the candidate join, so a
      // pair's hamming is one xor+popcount per shared band and the
      // distinct runs on survivors only
      val out = Banding.pairs(sized, carry = Seq("simhash"))
        .select(col("id_1"), col("id_2"),
          hamming(col("simhash_1"), col("simhash_2")).as("hamming"))
        .filter(col("hamming") <= maxHamming).distinct()
        .localCheckpoint()
      (out, Banding.dropStats(df.sparkSession, census))
    }
  }

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
    embeddingNearDupWithStats(df, idCol, vecCol, blockCol, threshold,
      maxBlockSize)._1

  /** [[embeddingNearDup]] plus the block guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame (lazy). */
  def embeddingNearDupWithStats(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, maxBlockSize: Int = 10000): (DataFrame, DataFrame) = {
    val keyed = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("vec"))
    // block skew guard (the fuzzyJoinBlocked contract): one dominant
    // block value would send the self-join quadratic — cap it, drops
    // surfaced through the stats frame
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
    * guard — a degenerate bucket, e.g. a mass of identical or zero
    * vectors landing one SRP cell, must not go quadratic); there is no
    * fatal sizing rule. [[embeddingNearDupLshWithStats]] surfaces the
    * drop counts. */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 12, tables: Int = 4, seed: Long = 7919L,
      maxBucketSize: Int = 10000): DataFrame =
    embeddingNearDupLshWithStats(df, idCol, vecCol, threshold, planes,
      tables, seed, maxBucketSize)._1

  /** [[embeddingNearDupLsh]] plus the guard's one-row
    * (n_groups_dropped, n_rows_dropped) stats frame — dropped
    * (table, bucket) cells and the id × table memberships inside them. */
  def embeddingNearDupLshWithStats(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 12, tables: Int = 4, seed: Long = 7919L,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) = {
    val v = df.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("vec"))
    val bandKeys = array((0 until tables).map(t =>
      struct(lit(t).as("band"),
        graft.sim.Similarity.srpBucket(col("vec"), planes, seed * (t + 1)).as("bsig"))): _*)
    // lazily checkpointed: the census evaluates the SRP projection once
    // and the candidate join reads the stored rows
    val banded = Banding.explodeBands(v, bandKeys, "id", "vec").localCheckpoint(false)
    val (sized, census) = Banding.capped(banded, maxBucketSize,
      "embedding SRP-LSH", "table memberships")
    (Banding.pairs(sized, carry = Seq("vec")).dropDuplicates("id_1", "id_2")
      .select(col("id_1"), col("id_2"),
        graft.functions.GraftFunctions.cosineSim(df.sparkSession,
          col("vec_1"), col("vec_2")).as("cosine"))
      .filter(col("cosine") >= threshold),
      Banding.dropStats(df.sparkSession, census))
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
    expandPairs(h,
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
    hammingHashPairsWithStats(df, hashCol, maxDistance, bands, hashBits,
      maxBucketSize)._1

  /** [[hammingHashPairs]] plus the `maxBucketSize` guard's drop stats:
    * a one-row (n_groups_dropped, n_rows_dropped) frame counting
    * dropped (band, value) buckets and the DISTINCT-HASH band
    * memberships inside them, read off the bucket census —
    * identical-hash (distance-0) pairs are never affected by the cap
    * (see above). There is no fatal sizing rule. */
  def hammingHashPairsWithStats(df: DataFrame, hashCol: String,
      maxDistance: Int, bands: Int = 8, hashBits: Int = 64,
      maxBucketSize: Int = 10000): (DataFrame, DataFrame) = {
    require(bands > maxDistance,
      s"pigeonhole needs bands > maxDistance ($bands <= $maxDistance)")
    require(hashBits == 64 && hashBits % bands == 0,
      s"64-bit hashes only (two conv halves), split evenly into $bands bands")
    val bandLen = hashBits / bands
    // Canonicalize BEFORE banding (the exact-dedup-before-MinHash
    // trick): perceptual hashes collapse heavily — identical images
    // share a hash — so the candidate join runs over DISTINCT hashes
    // only (the hash is the banding id) and the result expands back
    // through group membership. Bucket cost drops from
    // Σ(docs-per-bucket)² to Σ(hashes-per-bucket)², which on
    // near-dup-heavy corpora is orders of magnitude; the expansion
    // back to ids ([[hammingExpandPairs]]) is output-bound.
    // Parse each DISTINCT hash's two 32-bit halves to longs ONCE,
    // before banding: the candidate join's verify is then two long
    // xor+popcounts per pair instead of four conv(substring(...))
    // string parses — at band-bucket saturation the per-pair constant
    // is the whole cost (the sf1 rehearsal measured the string-parse
    // verify ~10× slower; PLANS.md round-11 sf1 section).
    val reps = hashedProjection(df, hashCol, hashCol, hashBits).select("id").distinct()
      .withColumn("hi", conv(substring(col("id"), 1, 32), 2, 10).cast("long"))
      .withColumn("lo", conv(substring(col("id"), 33, 32), 2, 10).cast("long"))
      .localCheckpoint(false)
    val bandKeys = array((0 until bands).map(i =>
      struct(lit(i).as("band"),
        substring(col("id"), i * bandLen + 1, bandLen).as("bsig"))): _*)
    val (sized, census) = Banding.capped(
      Banding.explodeBands(reps, bandKeys, "id", "hi", "lo"), maxBucketSize,
      "hamming LSH", "distinct-hash rows")
    // near pairs among distinct hashes (distance >= 1 by construction).
    // Verify-then-dedup: a pair surfaces once per shared band (≤ bands
    // duplicates), and the long-xor verify is far cheaper per row than
    // a hash-aggregate over the full candidate stream — so the dedup
    // runs on the near-pair SURVIVORS (output-scale).
    (Banding.pairs(sized, carry = Seq("hi", "lo"))
      .select(col("id_1").as("hash_1"), col("id_2").as("hash_2"),
        (bit_count(col("hi_1").bitwiseXOR(col("hi_2"))) +
          bit_count(col("lo_1").bitwiseXOR(col("lo_2"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("hash_1", "hash_2"),
      Banding.dropStats(df.sparkSession, census))
  }

  /** Expand distinct-hash near pairs (from [[hammingHashPairs]]) into
    * id pairs through group membership, plus identical-hash member
    * pairs at distance 0. Output-bound: never larger than the answer.
    * Emits (id_1, id_2, hamming) with id_1 < id_2. */
  def hammingExpandPairs(df: DataFrame, idCol: String, hashCol: String,
      hashPairs: DataFrame, hashBits: Int = 64): DataFrame =
    expandPairs(
      hashedProjection(df, idCol, hashCol, hashBits)
        .localCheckpoint(false), // read by the two expansions below
      hashPairs)

  /** Expansion over an already-checkpointed (id, __h) projection. */
  private def expandPairs(h: DataFrame,
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
    val h = hashedProjection(df, idCol, hashCol, hashBits)
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
