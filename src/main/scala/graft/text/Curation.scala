package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines (LLM-data
  * extension family, complementing TextOps/Dedup): repetition-based
  * quality rules, PII redaction, benchmark decontamination, and
  * fixed-size token chunking. Like TextOps, every operator is either a
  * pure column expression or an explode + aggregate whose math is
  * SQL-expressible for the DuckDB oracle — no UDFs, no driver loops.
  *
  * The repetition rules follow the published Gopher/MassiveText data
  * quality filters (Rae et al. 2021, arXiv:2112.11446 §A1.1: documents
  * are dropped when the fraction of tokens in duplicated n-grams or in
  * the single most frequent n-gram exceeds a threshold); the
  * decontamination operator is the standard train/test n-gram-overlap
  * check (e.g. GPT-3, Brown et al. 2020 §C: 13-gram collision against
  * benchmark sets — parameterized n here).
  */
object Curation {

  /** Token n-grams as space-joined strings; empty array when the
    * document has fewer than n tokens. `w` must be a materialized token
    * array column (TextOps.tokens in its own projection). The guard
    * keeps `sequence` ascending (sequence(1, 0) would count DOWN). */
  def ngrams(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - lit(n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition statistics per document over token
    * n-grams: total grams, distinct grams, the most frequent gram's
    * count, and the two derived fractions the MassiveText filters
    * threshold on (duplicate-gram fraction, top-gram fraction).
    *
    * Distributed shape: explode grams → two-level aggregate, i.e. the
    * same hash-partitioned explode+agg as the dedup shingle path — per
    * doc work is linear in document length, and the shuffle key
    * (doc_id, gram) is as fine-grained as the data itself, so there is
    * no skew pivot at corpus scale. Documents with < n tokens have no
    * grams and are excluded (mirrored in the oracle's WHERE).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val tok = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
    val grams = tok.select(col(idCol), explode(ngrams(col("__w"), n)).as("gram"))
    grams
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("c")).as("top_gram_cnt"))
      .select(
        col(idCol),
        col("n_grams"),
        col("n_distinct_grams"),
        col("top_gram_cnt"),
        round(lit(1.0) - col("n_distinct_grams") / col("n_grams"), 6)
          .as("dup_gram_frac"),
        round(col("top_gram_cnt") / col("n_grams"), 6).as("top_gram_frac"))
  }

  /** Word-level Gopher/MassiveText quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the non-repetition half of the published
    * filter set: word count bounds, mean word length bounds,
    * symbol-to-word ratio (# and ellipsis), bullet-start and
    * ellipsis-end line fractions, and the fraction of words containing
    * at least one alphabetic character. `passes_gopher_word` applies
    * the paper's thresholds (50 <= words <= 100k, 3 <= mean len <= 10,
    * symbol ratio <= 0.1, bullet lines <= 90%, ellipsis lines <= 30%,
    * alpha words >= 80%) on the unrounded values.
    *
    * Every statistic is a pure column expression over the token /
    * line arrays (higher-order functions, codegen'd) — scan-local,
    * zero Exchange, the same scale shape as redactPii. */
  def wordQualityStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = TextOps.tokens(t)
    val lines = split(t, "\n")
    val nWords = size(w).cast("long")
    val sumLen = aggregate(transform(w, x => length(x).cast("long")),
      lit(0L), (a, x) => a + x)
    // non-overlapping matches, identical in Java regex and RE2
    val nSymbols = regexp_count(t, lit("#|\\.\\.\\.|…")).cast("long")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      trim(l).rlike("^[-*•]"))).cast("long")
    val ellipsisLines = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long")
    val meanLen = sumLen / nWords
    val symbolRatio = nSymbols / nWords
    val bulletFrac = bulletLines / nLines
    val ellipsisFrac = ellipsisLines / nLines
    val alphaFrac = alphaWords / nWords
    df.select(
      col(idCol),
      nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_word_ratio"),
      nLines.as("n_lines"),
      round(bulletFrac, 6).as("bullet_line_frac"),
      round(ellipsisFrac, 6).as("ellipsis_line_frac"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3 && meanLen <= 10 &&
        symbolRatio <= 0.1 &&
        bulletFrac <= 0.9 &&
        ellipsisFrac <= 0.3 &&
        alphaFrac >= 0.8).as("passes_gopher_word"))
  }

  /** Text normalization: Unicode NFC composition, lowercase, strip
    * everything but letters / digits / whitespace, collapse whitespace
    * runs, trim — the canonical-form step before exact dedup and
    * shingling (what C4's preprocessing and every tokenizer's
    * pre-tokenizer do first). Unicode classes \p{L}/\p{N} are portable
    * between Java regex and RE2, and DuckDB's nfc_normalize matches the
    * native `nfc_normalize` expression, so the DuckDB oracle replays
    * the whole chain; pure column expressions, scan-local. `nfc=false`
    * skips the composition step for byte-exact legacy behavior. */
  def normalizeText(df: DataFrame, idCol: String, textCol: String,
      nfc: Boolean = true): DataFrame = {
    val raw =
      if (nfc) graft.functions.GraftFunctions.nfcNormalize(df.sparkSession, col(textCol))
      else col(textCol)
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars_raw"),
      trim(regexp_replace(
        regexp_replace(lower(raw), "[^\\p{L}\\p{N}\\s]", " "),
        "\\s+", " ")).as("normalized"))
      .withColumn("n_chars_norm", length(col("normalized")))
  }

  // Portable between Java regex (Spark) and RE2 (DuckDB): character
  // classes, bounded repetition and \b only — no backrefs, no lookarounds.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: count and mask email addresses and IPv4 literals.
    * Pure column expressions (regexp_count / regexp_replace are
    * codegen'd), so redaction runs scan-local at any scale. */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      regexp_count(col(textCol), lit(emailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(ipv4Re)).as("n_ips"),
      regexp_replace(
        regexp_replace(col(textCol), emailRe, "<EMAIL>"),
        ipv4Re, "<IP>").as("redacted"))

  /** Benchmark decontamination: per training document, the number of
    * distinct token n-grams it shares with a benchmark corpus, plus the
    * contamination flag (n_shared > 0). The GPT-3 §C check, n
    * parameterized.
    *
    * Distributed shape: distinct (doc, gram) pairs on the train side,
    * distinct grams on the benchmark side, one equi-join on the gram
    * string, one re-aggregate by doc — never all-pairs across
    * documents. At 100 TB both sides hash-partition on the gram; the
    * benchmark side (a handful of eval sets) is broadcast-sized after
    * `distinct`, so AQE turns the join into a broadcast probe.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    def gramSet(df: DataFrame, cols: Column*): DataFrame =
      df.select((cols :+ TextOps.tokens(col(textCol)).as("__w")): _*)
        .select((cols :+ explode(ngrams(col("__w"), n)).as("gram")): _*)
        .distinct()
    val trainGrams = gramSet(train, col(idCol))
    val benchGrams = gramSet(benchmark)
    val shared = trainGrams
      .join(benchGrams, "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    train.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — output identical to
    * `decontaminate` (the Bloom filter admits false positives, never
    * false negatives, and every positive is verified by the same exact
    * equi-join), but the corpus-side distinct+join shuffle shrinks
    * from ALL training grams to (true matches + ~1% false positives):
    * the benchmark gram set — broadcast-scale by the operator's
    * contract, exactly as in `decontaminate` — is collected once,
    * packed into a `bitsPerKey`-bits-per-gram Bloom filter
    * (`functions/BloomMightContain.scala`), and probed inside the
    * scan's whole-stage pipeline before any Exchange. At 100 TB this
    * is the difference between shuffling every 8-gram of the corpus
    * and shuffling ~nothing. */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8, bitsPerKey: Int = 12): DataFrame = {
    import graft.functions.Bloom
    val spark = train.sparkSession
    import spark.implicits._
    val collected = benchmark
      .select(TextOps.tokens(col(textCol)).as("__w"))
      .select(explode(ngrams(col("__w"), n)).as("gram")).distinct()
      .select(col("gram"), xxhash64(col("gram")).as("__h"))
      .collect() // bounded: benchmark sets are broadcast-scale by contract
    val bloom = Bloom.build(collected.map(_.getLong(1)), bitsPerKey)
    val benchLocal = collected.map(_.getString(0)).toSeq.toDF("gram")
    val trainGrams = train
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
      .select(col(idCol), explode(ngrams(col("__w"), n)).as("gram"))
      .filter(Bloom.mightContainCol(bloom, xxhash64(col("gram"))))
      .distinct()
    val shared = trainGrams.join(broadcast(benchLocal), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    train.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Corpus-wide most-frequent token n-grams — the first statistic of
    * tokenizer training (BPE merges pick the most frequent adjacent
    * pair each round, Sennrich et al. 2016 §3.2; this is the
    * distributed pair-count that drives round one, generalized to n).
    * One explode + hash-partitioned count + TakeOrdered(k) — the
    * shuffle carries (gram, partial count) pairs, never documents, and
    * the top-k never materializes a full sort. Ties break on the gram
    * string so the result is deterministic. */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 2,
      k: Int = 20): DataFrame = {
    val tok = df.select(TextOps.tokens(col(textCol)).as("__w"))
    tok.select(explode(ngrams(col("__w"), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Chunk-level (paragraph-style) duplication statistics: split each
    * document into fixed token chunks and report, per document, how
    * many of its chunks occur more than once in the whole corpus — the
    * C4-style sub-document dedup signal (Raffel et al. 2020 §2.2
    * deduplicate three-sentence spans corpus-wide; token chunks are
    * the tokenizer-aligned analogue).
    *
    * Distributed shape: chunking is scan-local; the corpus-wide chunk
    * count is one hash-partitioned aggregate keyed by the chunk text
    * (as fine-grained as the data), re-joined to the chunks on the
    * same key, then re-aggregated per doc. Never all-pairs.
    */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 16): DataFrame = {
    val chunks = chunkTokens(df, idCol, textCol, chunkSize)
      .select(col(idCol), col("chunk"))
    val counts = chunks.groupBy("chunk").agg(count(lit(1)).as("__c"))
    chunks.join(counts, "chunk")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks") / col("n_chunks"), 6).as("dup_chunk_frac"))
  }

  /** Line-level corpus deduplication: drop every line that occurs at
    * least `minCount` times across the whole corpus and reassemble each
    * document from its surviving lines — the CCNet/RefinedWeb paragraph
    * dedup step (Wenzek et al. 2020 §4.1 dedup paragraphs by hash;
    * Penedo et al. 2023 §G.2.2 remove duplicated lines), which strips
    * boilerplate (headers, footers, cookie banners) that document-level
    * dedup never sees. Returns per document: line counts, the dropped
    * fraction, and the reassembled `kept_text`.
    *
    * Distributed shape: lines posexplode scan-local; the corpus-wide
    * line count is one map-side-combinable aggregate keyed by the
    * line's md5 (16-byte bounded key, not the raw line — the shuffle
    * carries digests; a 2^-64 collision over-counts one line, the
    * standard hash-dedup trade); occurrences re-join on the same
    * digest; reassembly is one per-doc aggregate whose sort is the
    * in-group `array_sort` over (pos, line) structs, not a window.
    * Never all-pairs, no global sort, no skew pivot beyond the line
    * key itself (a pathologically hot line is one aggregate cell,
    * and its join-back fan-out equals its true occurrence count).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 2): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__h", md5(col("line")))
    val counts = lines.groupBy("__h").agg(count(lit(1)).as("__c"))
    lines.join(counts, "__h")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__c") >= minCount, 1L).otherwise(0L)).as("n_dup_lines"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(col("__c") < minCount, struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("kept_text"))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        round(col("n_dup_lines") / col("n_lines"), 6).as("dup_line_frac"),
        col("kept_text"))
  }

  /** WITHIN-document line dedup: keep only each line's first occurrence
    * inside its own document and reassemble — the self-repetition strip
    * most pipelines run before corpus-level dedup (repeated nav/footer
    * blocks inside one page; cf. the line-level half of RefinedWeb's
    * repetition removal, Penedo et al. 2023 §G.2.2). Unlike `lineDedup`
    * this needs NO corpus-wide state: the keep-first scan is a pure
    * per-row column expression (a fold over the line array), so the
    * operator is scan-local with zero Exchange at any scale.
    */
  def selfLineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    // fold: append a line only when it has not been seen yet
    val kept = aggregate(lines, array().cast("array<string>"),
      (acc, l) => when(array_contains(acc, l), acc)
        .otherwise(concat(acc, array(l))))
    df.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      (size(lines) - size(kept)).cast("long").as("n_self_dup"),
      concat_ws("\n", kept).as("kept_text"))
  }

  /** Exact-substring duplicate spans: every maximal token span whose
    * k-token windows ALL occur at least `minCount` times corpus-wide —
    * the scalable stand-in for suffix-array substring dedup (Lee et al.
    * 2021, arXiv:2107.06499 §4.1 remove 50-token substrings that repeat;
    * the window-hash formulation finds the same spans whenever the
    * duplicated substring is at least k tokens, trading the suffix
    * array's global sort for a hash aggregate). Emits one row per span:
    * (id, span_start, span_end, span_tokens, n_windows), token indices
    * 0-based inclusive.
    *
    * Distributed shape: windows are the scan-local n-gram transform;
    * corpus-wide window counts key on the window's md5 (bounded 16-byte
    * shuffle key, map-side combinable); duplicated window positions
    * re-join on the digest; span merging is a per-document
    * gaps-and-islands (lag + running sum + per-island aggregate) whose
    * windows are all `partitionBy(id)` — keys as fine as the data, no
    * global sort anywhere. The suffix array this replaces cannot be
    * built without a corpus-wide ordered structure; this shape scales
    * like every other gram pipeline here.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    // undersplit-scan guard: the tokenize + k-gram posexplode is the
    // operator's heavy scan-local stage (no-op at production split
    // counts — see core.Parallelize)
    val tok = graft.core.Parallelize.scan(df)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
    val wins = tok
      .select(col(idCol), posexplode(ngrams(col("__w"), k)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"), md5(col("gram")).as("__h"))
    val counts = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
    val dup = wins.join(counts, "__h").filter(col("__c") >= minCount)
      .select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dup
      .withColumn("__gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__gap")).over(byDoc))
      .groupBy(col(idCol), col("__island")).agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** Corpus-unigram language-model score per document: the mean log10
    * probability of the document's tokens under the corpus's own
    * unigram distribution — the cheap stand-in for the CCNet-style
    * LM-perplexity quality filter (Wenzek et al. 2020 use a KenLM
    * 5-gram; the unigram version keeps the same two-phase shape:
    * corpus statistics, then per-doc scoring). Low scores flag
    * documents full of corpus-rare tokens.
    *
    * Distributed shape: one hash-partitioned token-count aggregate
    * (vocabulary-sized output), one equi-join of token occurrences
    * against it, one per-doc aggregate; the corpus total rides along
    * as a broadcast 1-row frame. No collect of row-scale data.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
    val counts = tok.groupBy("w").agg(count(lit(1)).as("__cnt"))
    val total = counts.agg(sum(col("__cnt")).as("__total"))
    tok.join(counts, "w")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log10(col("__cnt").cast("double") / col("__total"))), 6)
          .as("lm_score"))
  }

  /** Stupid-backoff bigram LM score per document (Brants et al. 2007,
    * arXiv/EMNLP "Large Language Models in Machine Translation" §4 —
    * the smoothing scheme designed explicitly for MapReduce-scale
    * count tables): for each adjacent token pair (prev, cur),
    *
    *   S(cur | prev) = c(prev cur) / c(prev)      if c(prev cur) > 0
    *                 = alpha * c(cur) / N          otherwise
    *
    * (no normalization — hence "score", not probability; alpha = 0.4
    * per the paper). The document score is the mean log10 S over its
    * n-1 bigram positions — the CCNet-style LM-quality signal
    * (Wenzek et al. 2020) one order up from [[unigramLogProb]].
    * Documents with fewer than 2 tokens have no bigram positions and
    * are excluded (mirrored in the oracle's length guard). When
    * `train` is given, the count tables come from it instead of the
    * scored frame (the held-out shape that actually exercises the
    * backoff branch); positions whose prev or cur token is outside
    * the training vocabulary are skipped — the inner unigram joins
    * ARE that filter — since stupid backoff's recursion bottoms out
    * at c(w)/N and is undefined for c(w)=0.
    *
    * Distributed shape — exactly why Brants et al. invented this
    * smoothing: both count tables are plain hash-partitioned
    * aggregates (bigram table keyed by the pair text, unigram by the
    * token), scoring is an explode of (doc, pos, prev, cur) rows
    * equi-joined against the two count tables (left join for the
    * bigram — a miss IS the backoff branch), the corpus total rides
    * along as a broadcast 1-row frame, and the per-doc mean is one
    * aggregate keyed by doc. Kneser-Ney would need the normalizing
    * sums that make distributed training hard; stupid backoff needs
    * only counts, so every stage here is map-side combinable. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4, train: Option[DataFrame] = None): DataFrame = {
    // (doc, prev, cur) — one row per bigram position, built scan-locally.
    def pairsOf(src: DataFrame): DataFrame = src
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col(idCol), posexplode(ngrams(col("__w"), 2)).as(Seq("__p", "__g")))
      .select(col(idCol),
        element_at(split(col("__g"), " ", 2), 1).as("__prev"),
        element_at(split(col("__g"), " ", 2), 2).as("__cur"),
        col("__g"))
    val trainDf = train.getOrElse(df)
    val pairs = pairsOf(df)
    val uni = trainDf.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__uc"))
    val big = pairsOf(trainDf).groupBy(col("__g")).agg(count(lit(1)).as("__bc"))
    val total = uni.agg(sum(col("__uc")).as("__n"))
    val scored = pairs
      .join(big, Seq("__g"), "left")
      .join(uni.withColumnRenamed("w", "__prev").withColumnRenamed("__uc", "__pc"),
        Seq("__prev"))
      .join(uni.withColumnRenamed("w", "__cur").withColumnRenamed("__uc", "__cc"),
        Seq("__cur"))
      .crossJoin(broadcast(total))
      .withColumn("__s",
        when(col("__bc").isNotNull,
          col("__bc").cast("double") / col("__pc"))
          .otherwise(lit(alpha) * col("__cc").cast("double") / col("__n")))
    scored.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      round(avg(log10(col("__s"))), 6).as("sb_score"))
  }

  /** Per-group KL divergence of token distributions — for every value
    * of `groupCol` (source, shard, snapshot, ...), the Kullback-Leibler
    * divergence KL(p_g ‖ q) = Σ_w p_g(w)·ln(p_g(w)/q(w)) of the
    * group's unigram distribution from the whole corpus's. The
    * standard mixture-QA diagnostic: a source whose KL spikes is
    * distributionally off (wrong language, template spam, a broken
    * extractor) and is exactly what a curation pipeline reviews before
    * setting mixture weights. Every group token also occurs in the
    * corpus by construction, so q(w) > 0 wherever p_g(w) > 0 and the
    * sum is always finite and ≥ 0.
    *
    * Distributed shape: one (group, token)-keyed count, one
    * token-keyed count, one group-keyed total — all map-side
    * combinable hash aggregates with keys as fine as the data; the
    * corpus total rides along as a broadcast 1-row frame and the
    * final per-group sum is group-keyed. Identical to the unigram-LM
    * shape; nothing corpus-scale ever collects. */
  def groupKlDivergence(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(groupCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
    val gc = tok.groupBy(col(groupCol), col("w"))
      .agg(count(lit(1)).as("__gc"))
    val cc = tok.groupBy("w").agg(count(lit(1)).as("__cc"))
    val gt = gc.groupBy(col(groupCol)).agg(sum(col("__gc")).as("__gt"))
    val total = cc.agg(sum(col("__cc")).as("__n"))
    val p = col("__gc").cast("double") / col("__gt")
    val q = col("__cc").cast("double") / col("__n")
    gc.join(cc, "w")
      .join(gt, groupCol)
      .crossJoin(broadcast(total))
      .groupBy(col(groupCol)).agg(
        max(col("__gt")).as("n_tokens"),
        round(sum(p * log(p / q)), 6).as("kl_divergence"))
  }

  /** Compression-ratio quality signal: deflate each document (zlib
    * level 6, the java.util.zip default codec — deterministic for a
    * given input) and report compressed/raw byte ratio. Highly
    * compressible text is repetitive (template spam, boilerplate,
    * generated filler) — the cheap whole-document complement to the
    * Gopher n-gram repetition fractions, used as a filter bound in
    * web-scale curation. No SQL engine ships zlib, so this operator
    * is spec-gated (determinism + ordering properties) rather than
    * DuckDB-replayed — the one evidence class the codec forces.
    *
    * Distributed shape: scan-local mapPartitions (a codec, the same
    * justification as the multimodal decoders — one Deflater reused
    * per partition, reset per row); zero shuffle, zero collection. */
  def compressionRatio(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields.filter(_.name != textCol) ++ Seq(
      StructField("raw_bytes", IntegerType, nullable = false),
      StructField("compressed_bytes", IntegerType, nullable = false),
      StructField("compression_ratio", DoubleType, nullable = true)))
    val textIdx = df.schema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    def r6(x: Double): Double = graft.core.Round.r6(x)
    df.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6)
      val buf = new Array[Byte](8192)
      rows.map { r =>
        val parent = r.toSeq.zipWithIndex
          .collect { case (v, i) if i != textIdx => v }
        val raw = Option(r.getString(textIdx)).getOrElse("")
          .getBytes("UTF-8")
        deflater.reset()
        deflater.setInput(raw)
        deflater.finish()
        var n = 0
        while (!deflater.finished()) n += deflater.deflate(buf)
        val ratio =
          if (raw.length == 0) null
          else r6(n.toDouble / raw.length)
        Row.fromSeq(parent ++ Seq(raw.length, n, ratio))
      }
    }(enc)
  }

  /** Distinctive terms per group — "Fightin' Words" (Monroe, Colaresi
    * & Quinn 2008, Political Analysis 16(4), §3.5): for each group g
    * and token w, the log-odds ratio of w in g versus the REST of the
    * corpus, regularized by a Dirichlet prior proportional to corpus
    * frequency, standardized by its estimated variance:
    *
    *   δ_w = ln((y_gw + α_w) / (n_g + α0 − y_gw − α_w))
    *       − ln((y_rw + α_w) / (n_r + α0 − y_rw − α_w))
    *   z_w = δ_w / sqrt(1/(y_gw + α_w) + 1/(y_rw + α_w))
    *
    * with α_w = α0·y_w/N (the informative prior, §3.5.4). The paper's
    * point is exactly the curation use-case: raw log-odds overweights
    * rare words and tf-idf overweights frequent ones; the prior +
    * variance standardization fixes both. Output: top-k tokens per
    * group by (rounded z desc, token asc) — the "what makes this
    * source different" report to read next to [[groupKlDivergence]].
    * Only tokens OCCURRING in a group are scored (the count join has
    * no zero rows): a group's top distinctive terms are by
    * construction terms it uses, and tokens it lacks carry negative
    * evidence that this report does not rank.
    *
    * Distributed shape: (group, token) counts, token totals, group
    * totals — the same three map-side-combinable aggregates as the KL
    * operator (rest-counts are corpus − group, no second scan); the
    * per-group top-k is a `partitionBy(group)` window bounded by the
    * group-limit optimization. Nothing corpus-scale collects. */
  def fightinWords(df: DataFrame, groupCol: String, textCol: String,
      alpha0: Double = 10.0, k: Int = 3): DataFrame = {
    val tok = df.select(col(groupCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
    val gc = tok.groupBy(col(groupCol), col("w"))
      .agg(count(lit(1)).as("__gc"))
    val cc = tok.groupBy("w").agg(count(lit(1)).as("__cc"))
    val gt = gc.groupBy(col(groupCol)).agg(sum(col("__gc")).as("__gt"))
    val total = cc.agg(sum(col("__cc")).as("__n"))
    val joined = gc.join(cc, "w").join(gt, groupCol)
      .crossJoin(broadcast(total))
    val aw = lit(alpha0) * col("__cc").cast("double") / col("__n")
    val yg = col("__gc").cast("double")
    val yr = (col("__cc") - col("__gc")).cast("double")
    val ng = col("__gt").cast("double")
    val nr = (col("__n") - col("__gt")).cast("double")
    val delta =
      log((yg + aw) / (ng + lit(alpha0) - yg - aw)) -
        log((yr + aw) / (nr + lit(alpha0) - yr - aw))
    val z = delta / sqrt(lit(1.0) / (yg + aw) + lit(1.0) / (yr + aw))
    val byGroup = Window.partitionBy(col(groupCol))
      .orderBy(col("z_score").desc, col("w").asc)
    joined.withColumn("z_score", round(z, 6))
      .withColumn("rnk", row_number().over(byGroup))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col("w").as("token"),
        col("z_score"))
  }

  /** DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    * every raw document by how target-like its hashed n-gram features
    * are, then resample the top `k` by Gumbel-perturbed importance
    * weight — importance resampling from the raw distribution toward
    * the target. Features are unigrams + bigrams hashed into `buckets`
    * cells (§3.2); both bag-of-words models use add-1 smoothing;
    * log w(d) = Σ_grams [ln p̂_target(bucket) - ln p̂_raw(bucket)], and
    * the Gumbel-top-k trick (g = -ln(-ln u)) turns weighted sampling
    * WITHOUT replacement into a top-k. The Gumbel's u comes from the
    * engine's deterministic per-doc md5 coin (the q64/q82
    * construction), so a SQL oracle replays the exact selection.
    *
    * Distributed shape: the two bag-of-words models are bucket-keyed
    * aggregates of bounded size (`buckets` rows — broadcast back);
    * corpus totals ride along as broadcast 1-row frames; per-doc
    * scoring is explode → broadcast-join → per-doc sum (grams never
    * shuffle against each other, only (doc, bucket) rows keyed by
    * doc); the selection is TakeOrdered(k), never a full sort. The
    * bucket hash is the md5-prefix construction rather than xxhash64
    * so the oracle can recompute it. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 10000, k: Int = 100): DataFrame = {
    def gramBuckets(df: DataFrame): DataFrame = {
      // undersplit-scan guard: unigram+bigram explode + bucket hashing
      // is the heavy scan-local stage (no-op at production splits)
      val tok = graft.core.Parallelize.scan(df)
        .select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
      tok.select(col(idCol),
          explode(concat(col("__w"), ngrams(col("__w"), 2))).as("gram"))
        .select(col(idCol),
          (conv(substring(md5(col("gram")), 1, 15), 16, 10)
            .cast("long") % buckets).as("bucket"))
    }
    val rawB = gramBuckets(raw)
    val qCnt = rawB.groupBy("bucket").agg(count(lit(1)).as("__qc"))
    val pCnt = gramBuckets(target).groupBy("bucket").agg(count(lit(1)).as("__pc"))
    val model = qCnt.join(pCnt, Seq("bucket"), "left")
      .na.fill(0L, Seq("__pc"))
      .crossJoin(broadcast(qCnt.agg(sum("__qc").as("__tq"))))
      .crossJoin(broadcast(pCnt.agg(sum("__pc").as("__tp"))))
      .select(col("bucket"),
        (log((col("__pc") + 1) / (col("__tp") + buckets)) -
         log((col("__qc") + 1) / (col("__tq") + buckets))).as("__ld"))
    val coin = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").mod(1000000)
    val gumbel = -log(-log((coin + 0.5) / 1000000.0))
    rawB.join(broadcast(model), "bucket")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_grams"),
        sum(col("__ld")).as("__lw"))
      .select(col(idCol), col("n_grams"),
        round(col("__lw"), 6).as("log_weight"),
        round(col("__lw") + gumbel, 6).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020, §4.3): split
    * each source's documents into head / middle / tail by LM-score
    * percentile — CCNet orders each language's corpus by document
    * perplexity and keeps the thirds separately (head = most fluent;
    * here, highest `unigramLogProb` score). Thresholds are the EXACT
    * per-source 0.33/0.67 percentiles (A14 semantics).
    *
    * Scale shape: the thresholds come from a bounded per-source
    * aggregate broadcast back onto the scored frame — the corpus
    * itself never re-shuffles for the split (a per-source ntile window
    * would sort every source's full partition; CCNet itself pays that
    * sort, the percentile formulation doesn't need to). Exact
    * `percentile` holds one counts-map entry per distinct score in the
    * aggregation buffer — fine for 6-decimal-rounded scores, but an
    * unbounded buffer in principle, so the guard below AUTO-FALLS-BACK
    * to `approx_percentile`'s bounded sketch when any source's
    * distinct-score cardinality exceeds `maxDistinctScores` (the
    * `Encode.labelEncode` cardinality-guard pattern). The probe is
    * priced for the common case: inputs whose RAW row count (a
    * metadata-cheap scan, no join/agg lineage) already fits the
    * threshold skip it entirely, and when it must run it uses
    * `approx_count_distinct` (bounded HLL partials, ~1% rsd — a
    * relative error that is immaterial against a memory-cliff
    * threshold) instead of shuffling every distinct score.
    * Under the sketch, bucket boundaries shift within the sketch
    * error; membership FRACTIONS stay ~thirds. `exact=false` forces
    * the sketch unconditionally. */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, exact: Boolean = true,
      maxDistinctScores: Long = 1000000L): DataFrame = {
    val scored = unigramLogProb(df, idCol, textCol)
      .join(df.select(col(idCol), col(sourceCol)), Seq(idCol))
    val useExact = exact && (df.count() <= maxDistinctScores || {
      val r = scored.groupBy(sourceCol)
        .agg(approx_count_distinct(col("lm_score"), 0.01).as("__c"))
        .agg(max(col("__c"))).head()
      r.isNullAt(0) || r.getLong(0) <= maxDistinctScores
    })
    val pfun = if (useExact) "percentile" else "approx_percentile"
    val th = scored.groupBy(sourceCol).agg(
      expr(s"$pfun(lm_score, 0.33d)").as("__p33"),
      expr(s"$pfun(lm_score, 0.67d)").as("__p67"))
    scored.join(broadcast(th), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("lm_score"),
        when(col("lm_score") >= col("__p67"), "head")
          .when(col("lm_score") >= col("__p33"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Training-mixture sampling: downsample each source so the kept
    * corpus hits target token proportions (the data-mixing step of
    * every large pretraining run — cf. the published mixture tables of
    * GPT-3 Table 2.2 / LLaMA Table 1). Given target shares p_s over
    * the listed sources, the achievable token budget is
    * B = min_s T_s / p_s (the binding source is kept whole); every
    * source is then thinned to rate p_s * B / T_s with a deterministic
    * per-doc md5 coin — the same coin as TextOps.weightedSample, so a
    * SQL oracle replays the exact membership. Sources without a target
    * are dropped.
    *
    * Scale: one small per-source aggregate (sources are few — the
    * collect is bounded), then a scan-local filter; no shuffle of the
    * corpus itself. */
  def mixBySource(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be positive proportions")
    val tok = df.select(col(idCol), col(sourceCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val totals = tok
      .filter(col(sourceCol).isin(targets.keys.toSeq.map(lit): _*))
      .groupBy(sourceCol).agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = targets.collect {
      case (s, p) if totals.contains(s) => totals(s) / p
    }.min
    val rates = targets.collect { case (s, p) if totals.contains(s) =>
      s -> math.min(1.0, p * budget / totals(s))
    }
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    val coin = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").mod(1000000) / 1000000.0
    tok.withColumn("__r", rateCol).filter(coin < col("__r")).drop("__r")
  }

  /** Temperature-smoothed source mixture (Lample & Conneau 2019 §3.1's
    * alpha-sampling, the multilingual-corpus balancing rule mT5/XLM-R
    * also use): sampling probabilities q_i ∝ (n_i/N)^alpha flatten the
    * source token distribution — alpha < 1 shifts mass toward
    * low-resource sources. Realized as deterministic per-source keep
    * rates against the largest budget that never upsamples any source
    * (B = min_i n_i/q_i, so the smallest source keeps rate 1.0 and the
    * head is downsampled), decided per document by the same replayable
    * md5 coin as `mixBySource`. Rates are rounded to 6 decimals on both
    * engines so the coin comparison runs on an identical grid.
    *
    * Scale design: the per-source totals are a bounded aggregate
    * (source-count rows collected once); membership is then a pure
    * scan-local predicate — no shuffle of the corpus itself. */
  def temperatureMix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val tok = df.select(col(idCol), col(sourceCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val totals = tok.groupBy(sourceCol).agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // q_i ∝ (n_i/N)^alpha: the shared N^alpha cancels in normalization,
    // so weights come straight off the token counts
    val w = totals.map { case (s, t) => s -> math.pow(t.toDouble, alpha) }
    val wsum = w.map(_._2).sum
    val q = w.map { case (s, x) => s -> x / wsum }.toMap
    val budget = totals.map { case (s, t) => t / q(s) }.min
    // half-UP to the 1e-6 grid (not rint's half-to-even): DuckDB's
    // round() is half-away-from-zero, and the strict '<' coin means a
    // rate differing by 1e-6 on the half boundary would flip membership
    // between the engines.
    val rates = totals.map { case (s, t) =>
      s -> graft.core.Round.r6(math.min(1.0, q(s) * budget / t))
    }
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    val coin = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").mod(1000000) / 1000000.0
    tok.withColumn("keep_rate", rateCol).filter(coin < col("keep_rate"))
  }

  /** Seeded global corpus shuffle into training shards — the export
    * step of every pretraining pipeline: after curation/mixing the
    * corpus is re-ordered pseudo-randomly (so each training shard is
    * an i.i.d.-looking slice, not a source-ordered run) and split into
    * `nShards` shards. Order and placement are DETERMINISTIC given
    * (seed, id): sort key = md5(seed || '_' || id), shard = the key's
    * md5-prefix value mod nShards (the q64/q82 replayable-coin
    * construction, so a SQL oracle reproduces the exact permutation),
    * pos = 1-based rank within the shard.
    *
    * Scale design: NO global sort — one hash exchange on `shard`
    * followed by a per-shard external sort (the window below is
    * `partitionBy(shard)`, never empty-partition). Choose nShards at
    * or above cluster parallelism (shards are uniform under md5, so
    * ~corpus/nShards rows each); each shard is the natural output-file
    * unit. At 100 TB this is the one unavoidable full-corpus shuffle
    * of the export, and exactly one of it. */
  def shuffleShards(df: DataFrame, idCol: String, seed: Long,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val key = md5(concat(lit(seed.toString), lit("_"),
      col(idCol).cast("string")).cast("binary"))
    df.withColumn("__k", key)
      .withColumn("shard", conv(substring(col("__k"), 1, 15), 16, 10)
        .cast("long") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__k"), col(idCol)))
        .cast("long"))
      .drop("__k")
  }

  /** Materialize [[shuffleShards]] as one shard-partitioned parquet
    * layout, rows stored in shuffled order within each shard (readers
    * that consume a shard file sequentially see the seeded
    * permutation; `pos` is stored so order survives splittable
    * reads). */
  def writeShuffledShards(df: DataFrame, idCol: String, seed: Long,
      nShards: Int, path: String): Unit =
    shuffleShards(df, idCol, seed, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** GPT-style sequence-packing offsets: documents are conceptually
    * concatenated in id order and split into fixed `window`-token
    * training sequences; each document's token start offset and the
    * window span it lands in are computed without materializing the
    * concatenation (Brown et al. 2020 §B pack documents this way,
    * separated by end-of-text tokens — offsets here are the pure-token
    * variant).
    *
    * Scale design: the cumulative token count is the distributed
    * prefix sum `core.PrefixSum.runningTotals` over id order. A naive
    * `Window.orderBy(id)` would collapse the corpus onto one partition.
    */
  def packOffsets(df: DataFrame, idCol: String, textCol: String,
      window: Int = 512): DataFrame = {
    val tok = df.select(col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    graft.core.PrefixSum.runningTotals(tok, Seq(col(idCol)),
        Map("__cum" -> col("n_tokens")))
      .withColumn("__cum", col("__cum").cast("long"))
      .select(
        col(idCol),
        col("n_tokens"),
        (col("__cum") - col("n_tokens")).as("start_offset"),
        floor((col("__cum") - col("n_tokens")) / window).cast("long")
          .as("start_window"),
        floor((col("__cum") - lit(1)) / window).cast("long").as("end_window"))
  }

  /** Materialize the packed training sequences `packOffsets` describes:
    * one row per (sequence, document) contribution — which slice of the
    * document's tokens lands in which fixed-`window` training sequence,
    * with the in-sequence position (GPT-style packing, Brown et al.
    * 2020 §B; this is the assembly step a training loader consumes).
    * Output: (seq_id, id, doc_tok_start, seq_tok_start, n_tokens_in_seq),
    * token indices 0-based, `doc_tok_start` within the document,
    * `seq_tok_start` within the sequence.
    *
    * Scale shape: `packOffsets`' distributed prefix sum plus one
    * scan-local explode of each document into the (usually 1-2, at most
    * n_tokens/window + 1) sequences it spans — no new shuffle beyond
    * the prefix sum's range partition; a training loader then groups by
    * seq_id, a shuffle whose key is as fine as the output. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      window: Int = 512): DataFrame = {
    val off = packOffsets(df, idCol, textCol, window)
    off
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        explode(sequence(col("start_window"), col("end_window"))).as("seq_id"))
      .select(col("seq_id"), col(idCol),
        greatest(col("seq_id") * window - col("start_offset"), lit(0L))
          .as("doc_tok_start"),
        greatest(col("start_offset") - col("seq_id") * window, lit(0L))
          .as("seq_tok_start"),
        (least((col("seq_id") + 1) * window, col("start_offset") + col("n_tokens"))
          - greatest(col("seq_id") * window, col("start_offset")))
          .as("n_tokens_in_seq"))
  }

  /** Fixed-size token chunking: split each document into consecutive
    * chunks of `chunkSize` tokens (final chunk ragged) — the standard
    * pre-tokenization step before sequence packing. posexplode keeps
    * the chunk index; per-row work is linear and chunk construction is
    * scan-local (no shuffle at all). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32): DataFrame = {
    val tok = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
    val w = col("__w")
    val chunks = transform(
      sequence(lit(0), ceil(size(w) / lit(chunkSize.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(w, i * chunkSize + 1, lit(chunkSize))))
    tok
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .select(
        col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"),
        col("chunk"))
  }
}
