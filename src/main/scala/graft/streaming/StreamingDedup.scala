package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.dedup.Banding

/** Streaming MinHash near-duplicate detection: the LSH banding stage
  * of Dedup.minHashNearDup as an incremental operator. Each arriving
  * document computes its band signatures per-row (no aggregation —
  * the minhash over the doc's own gram array is a row-local
  * expression), and a per-(band, bucket) state of previously seen doc
  * ids emits a candidate pair the moment a new document lands in a
  * bucket someone already occupies — across micro-batches.
  *
  * `nearDupCandidates` emits CANDIDATES (the banding pre-filter,
  * recall-bounded exactly like the batch path); `verifiedNearDup`
  * closes the loop: its bucket state additionally carries each
  * document's sorted distinct gram array — exactly the inputs the
  * batch verifier joins for — so the exact Jaccard is computed AT
  * EMISSION with the sorted_intersect_count merge, and only pairs at
  * or above the threshold leave the operator. No second stateful join, no cross-query race
  * against a gram store. The state cost is the gram arrays themselves,
  * bounded per bucket by maxBucketSize × document length; a deployment
  * with huge documents would trade this for a foreachBatch join
  * against an external gram table.
  *
  * Both operators run ONE bucket-state machine, differing only in the
  * per-pair emit. Bucket cap (stop-shingle skew guard): the batch path
  * DROPS any bucket that exceeds `maxBucketSize` outright. Mirrored
  * here: a bucket that grows past the cap clears its state, emits
  * nothing further, retracts any pairs buffered within the same group
  * call, and WARNS once at the crossing (the batch path's loud-drop
  * contract; a streaming deployment watches the log rate as its
  * recall-health signal) — so a static (batch-mode) run of this
  * operator matches minHashNearDup's drop semantics exactly. The one unavoidable
  * divergence in a live stream: pairs already emitted in EARLIER
  * micro-batches cannot be retracted under Append output; they stand.
  * Same default cap as the batch path (10000). The same function body
  * runs on a static frame (state starts empty per group), which the
  * spec uses to assert stream == batch parity.
  *
  * Ids must be integral (byte/short/int/long): the state compares ids
  * as longs, so a cast from a fractional or string id would merge
  * distinct documents and silently drop their pairs.
  *
  * A production deployment would add a GroupStateTimeout tied to the
  * ingestion watermark to age buckets out.
  */
object StreamingDedup {

  // executor-side (inside the state function): resolved lazily per
  // JVM so the object serializes without dragging a logger along
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.dedup")

  final case class CandPair(id_1: Long, id_2: Long, band: Int)
  final case class VerifiedPair(id_1: Long, id_2: Long, band: Int, jaccard: Double)
  final case class BandDoc(band: Int, bsig: Long, id: Long, gs: Array[Long])
  final case class DocEntry(id: Long, gs: Array[Long])
  /** Bucket state: `saturated` buckets have crossed maxBucketSize and
    * stay permanently dropped (docs cleared — bounded memory). */
  final case class Bucket(saturated: Boolean, docs: List[DocEntry])

  /** One (band, bsig, id, gs) row per doc × band: the batch pipeline's
    * per-row signature and band keys ([[Banding.minhashBands]], so the
    * same bsig values), with the doc's sorted distinct gram array when
    * `withGrams` (empty otherwise — the candidate operator never
    * verifies). The signature is materialized in its own projection:
    * the band structs reference it bands×rowsPerBand times, and
    * CollapseProject refuses to inline a non-cheap multi-referenced
    * expression, so it computes once per row. */
  private def banded(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, bands: Int, rowsPerBand: Int,
      withGrams: Boolean): Dataset[BandDoc] = {
    import spark.implicits._
    val idType = docs.select(col(idCol)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"StreamingDedup: id column '$idCol' must be an integral type, got " +
        s"${idType.simpleString} (a cast to long would merge distinct ids)")
    val g = docs.select(col(idCol).cast("long").as("id"),
        graft.functions.GraftFunctions.hashedShingles(spark, col(textCol),
          shingleK).as("__g"))
      .filter(size(col("__g")) > 0)
      .select(col("id"),
        (if (withGrams) array_sort(array_distinct(col("__g"))) // set semantics, like the batch verifier
          else typedLit(Array.empty[Long])).as("gs"),
        graft.functions.GraftFunctions.minhashSignature(spark, col("__g"),
          bands * rowsPerBand).as("__sig"))
    Banding.explodeBands(g, Banding.minhashBands(bands, rowsPerBand), "id", "gs").as[BandDoc]
  }

  /** The bucket-state machine: per (band, bsig) the docs seen so far;
    * each new doc meets every earlier one through `emit`. A bucket that
    * grows past the cap clears its state, retracts this call's
    * buffered pairs and warns once, at the saturation crossing. */
  private def bucketPairs[O: Encoder](spark: SparkSession,
      rows: Dataset[BandDoc], maxBucketSize: Int, what: String)(
      emit: (Int, DocEntry, DocEntry) => Option[O]): Dataset[O] = {
    import spark.implicits._
    rows.groupByKey(r => (r.band, r.bsig))
      .flatMapGroupsWithState[Bucket, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), docs, state: GroupState[Bucket]) =>
          var bucket = state.getOption.getOrElse(Bucket(saturated = false, Nil))
          var nSeen = bucket.docs.size
          val out = scala.collection.mutable.ListBuffer.empty[O]
          docs.foreach { r =>
            if (!bucket.saturated && !bucket.docs.exists(_.id == r.id)) {
              if (nSeen + 1 > maxBucketSize) {
                log.warn(s"$what bucket (band=$band) crossed " +
                  s"maxBucketSize=$maxBucketSize and is permanently " +
                  "dropped; near-dups colliding only there are not " +
                  "searched - raise the cap or re-band " +
                  "(graft.Probe banding prices the shapes)")
                bucket = Bucket(saturated = true, Nil)
                out.clear()
              } else {
                val d = DocEntry(r.id, r.gs)
                bucket.docs.foreach(p => out ++= emit(band, p, d))
                bucket = Bucket(saturated = false, d :: bucket.docs)
                nSeen += 1
              }
            }
          }
          state.update(bucket)
          out.iterator
      }
  }

  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000): Dataset[CandPair] = {
    import spark.implicits._
    bucketPairs(spark, banded(spark, docs, idCol, textCol, shingleK, bands,
        rowsPerBand, withGrams = false), maxBucketSize, "streaming minhash") {
      (band, p, d) => Some(CandPair(math.min(p.id, d.id), math.max(p.id, d.id), band))
    }
  }

  /** Streaming near-dup with EXACT verification: band-bucket candidate
    * detection and exact-Jaccard filtering fused in one stateful
    * operator (see object doc). Emits (id_1 < id_2, band, jaccard)
    * for pairs with jaccard >= threshold; a pair that qualifies in
    * several bands emits once per band — deduplicate downstream
    * (`dropDuplicates` within the ingestion watermark, as the batch
    * path's `distinct` does corpus-wide). */
  def verifiedNearDup(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000): Dataset[VerifiedPair] = {
    import spark.implicits._
    bucketPairs(spark, banded(spark, docs, idCol, textCol, shingleK, bands,
        rowsPerBand, withGrams = true), maxBucketSize,
        "streaming verified-minhash") { (band, p, d) =>
      val inter = graft.functions.SortedIntersectCount.count(
        ArrayData.toArrayData(p.gs), ArrayData.toArrayData(d.gs),
        checkNulls = false).toDouble
      val j = inter / (p.gs.length + d.gs.length - inter)
      if (j >= threshold)
        Some(VerifiedPair(math.min(p.id, d.id), math.max(p.id, d.id), band, j))
      else None
    }
  }
}
