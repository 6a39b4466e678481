package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banding core every LSH near-duplicate family runs: MinHash and
  * char-n-gram Jaccard, the persisted band-index probe, SimHash,
  * embedding SRP-LSH and Hamming fingerprints (and the streaming
  * operator's band keys). A family supplies a banded frame — one row
  * per (id, band, bsig) membership, plus any payload its verify step
  * needs — and its own sizing rule; this object owns the four steps
  * that are the same everywhere:
  *
  *  1. the bucket census: ONE aggregate over the (band, bsig) bucket
  *     counts measuring rows, over-cap rows and groups, and the pair
  *     mass the candidate join will pay for the kept buckets — BEFORE
  *     that quadratic join runs;
  *  2. the family's sizing rule on the census (fail fast or warn);
  *  3. the skew cap: buckets above `maxBucketSize` are dropped (an
  *     anti-join, planned only when the census counted any), loudly —
  *     one warning per call and a one-row (n_groups_dropped,
  *     n_rows_dropped) stats frame, the no-silent-caps rule;
  *  4. the candidate join: one bucket equi-join (id_1 < id_2 for a
  *     self-join, indexed × new for a probe) behind one exchange rule.
  *
  * The pair mass follows the join: Σ C(n, 2) per kept bucket for a
  * self-join, n_old·n_new for a probe (old-old pairs are never
  * searched there).
  */
private[graft] object Banding {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.dedup")

  /** Bucket census of one banded frame under one cap. `probeRows`
    * counts the memberships on the probing side (all rows for a
    * self-join, the new batch's for a probe); `keptMass` is the
    * candidate-pair count the kept buckets yield. */
  final case class Census(rows: Long, probeRows: Long, overRows: Long,
      overGroups: Long, keptMass: Long, buckets: Long, maxBucket: Long)

  /** MinHash band keys from a `__sig` signature-array column:
    * array<struct(band, bsig)>, bsig = xxhash64 of the band's
    * `rowsPerBand` consecutive signature slots. Shared by the batch
    * pipelines, the persisted index and the streaming operator, so a
    * bsig written by one is found by the others. */
  def minhashBands(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64((0 until rowsPerBand).map(r =>
        element_at(col("__sig"), b * rowsPerBand + r + 1)): _*).as("bsig"))
    }: _*)

  /** SimHash band keys from a `simhash` long column: array<struct(band,
    * bsig)>, bsig = the band's `bandBits` bits of the signature. Shared
    * by the near-dup pipeline and the sizing probe, so the probe prices
    * the buckets the pipeline joins. */
  def simhashBands(nBands: Int, bandBits: Int): Column =
    array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * bandBits)
          .mod(1L << bandBits).as("bsig"))
    }: _*)

  /** One row per (keep..., band, bsig) from an array<struct(band,
    * bsig)> column. */
  def explodeBands(df: DataFrame, bandKeys: Column, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(bandKeys).as("__bs"): _*)
      .select(keep.map(col) ++ Seq(col("__bs.band"), col("__bs.bsig")): _*)

  /** The census aggregate. `newFlag` names the boolean column marking
    * the probing side of an old × new join; None = self-join. */
  def census(banded: DataFrame, maxBucketSize: Int,
      newFlag: Option[String] = None): Census = {
    val (n, np) = (col("__n"), col("__np"))
    val pairMass =
      if (newFlag.isEmpty) shiftright(n * (n - 1), 1) // n(n-1) is even
      else (n - np) * np
    val r = banded.groupBy("band", "bsig")
      .agg(count(lit(1)).as("__n"),
        sum(newFlag.fold(lit(1L))(f => when(col(f), 1L).otherwise(0L))).as("__np"))
      .agg(
        coalesce(sum(n), lit(0L)),
        coalesce(sum(np), lit(0L)),
        coalesce(sum(when(col("__n") > maxBucketSize, col("__n"))), lit(0L)),
        count(when(n > maxBucketSize, 1)),
        coalesce(sum(when(n <= maxBucketSize, pairMass)), lit(0L)),
        count(lit(1)),
        coalesce(max(n), lit(0L)))
      .head()
    Census(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
  }

  /** Census → sizing rule → skew cap: returns the banded frame with
    * over-cap buckets removed, and the census. `sizing` is the family's
    * rule: Some((true, msg)) throws, Some((false, msg)) warns. `family`
    * and `unit` name the caller and what one banded row is in the drop
    * warning. */
  def capped(banded: DataFrame, maxBucketSize: Int, family: String,
      unit: String, newFlag: Option[String] = None,
      sizing: Census => Option[(Boolean, String)] = _ => None)
      : (DataFrame, Census) = {
    val c = census(banded, maxBucketSize, newFlag)
    sizing(c).foreach {
      case (true, msg)  => throw new IllegalArgumentException(msg)
      case (false, msg) => log.warn(msg)
    }
    if (c.overGroups == 0L) (banded, c)
    else {
      log.warn(s"$family maxBucketSize=$maxBucketSize dropped " +
        s"${c.overGroups} bucket(s) spanning ${c.overRows} $unit; " +
        "near-dups colliding only there are not searched - raise the " +
        "cap or re-band (graft.Probe banding prices the shapes)")
      val over = banded.groupBy("band", "bsig").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucketSize).select("band", "bsig")
      (banded.join(over, Seq("band", "bsig"), "left_anti"), c)
    }
  }

  /** The one-row (n_groups_dropped, n_rows_dropped) stats frame. */
  def dropStats(spark: SparkSession, c: Census): DataFrame =
    spark.range(1).select(lit(c.overGroups).as("n_groups_dropped"),
      lit(c.overRows).as("n_rows_dropped"))

  /** Bucket-sharing pairs of a capped banded frame: (id_1, id_2) plus
    * each `carry` column as `<c>_1`/`<c>_2`, one row per shared band
    * (not yet deduplicated). Self-join: id_1 < id_2. Probe (`newFlag`
    * set): id_1 from the indexed side, id_2 from the new side.
    *
    * The exchange rule: the banded frame is hash-partitioned on the
    * bucket key at the session's full shuffle width, so both join
    * sides read ONE exchange, and the explicit width opts it out of
    * AQE coalescing — banded frames are doc-count-thin before a join
    * that multiplies them, and a coalesced exchange would serialize
    * the whole quadratic verify on one task. */
  def pairs(sized: DataFrame, carry: Seq[String] = Nil,
      newFlag: Option[String] = None): DataFrame = {
    val s = sized.repartition(
      sized.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("band"), col("bsig"))
    val (a, b) = newFlag.fold((s, s))(f => (s.filter(!col(f)), s.filter(col(f))))
    val sameBucket = col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
    a.as("a").join(b.as("b"),
        if (newFlag.isEmpty) sameBucket && col("a.id") < col("b.id") else sameBucket)
      .select(Seq(col("a.id").as("id_1"), col("b.id").as("id_2")) ++
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_1"), col(s"b.$c").as(s"${c}_2"))): _*)
  }

  /** Distinct candidate pairs (id_1, id_2): any shared band, or — with
    * `minAgreements` >= 2 — at least that many shared bands (a fold
    * over the thin pair rows before anything wide ships). */
  def candidates(sized: DataFrame, minAgreements: Int = 1,
      newFlag: Option[String] = None): DataFrame = {
    val p = pairs(sized, newFlag = newFlag)
    if (minAgreements <= 1) p.distinct()
    else p.groupBy("id_1", "id_2").agg(count(lit(1)).as("__k"))
      .filter(col("__k") >= minAgreements).drop("__k")
  }
}
