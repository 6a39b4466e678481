package graft

import org.apache.spark.sql.DataFrame
import graft.dedup.{Banding, Dedup}

/** Banding-shape probe for the MinHash near-dup pipelines — the
  * runnable 100 TB recipe (promoted from the round-13 test-scope
  * census): BEFORE paying a candidate self-join over a new corpus,
  * run this on the corpus (or a sample) to price the candidate-pair
  * mass Σ C(bucket, 2) of each (bands, rowsPerBand) shape, total and
  * under the `maxBucketSize` caps, from the CHEAP half of the
  * pipeline alone (per shape: scan-local signatures, then the
  * [[graft.dedup.Banding]] census once per cap).
  * Pick the shape whose candidate mass is answer-scale — the sf10
  * rehearsal measured 8.1e8 candidates (disk-full) at (8, 4) on a
  * dense-background corpus vs ~1e6 with `minBandAgreements = 2`,
  * and this table is how that cliff is seen for ~nothing.
  *
  * Usage:
  *   runMain graft.ProbeBanding <docsDir> [BxR ...] [--ngram N]
  * e.g. runMain graft.ProbeBanding /data/corpus 8x4 12x6 --ngram 5
  *
  * <docsDir> must hold a documents.parquet with (doc_id, text);
  * shapes default to the round-13 census set. Output: one line per
  * shape with candAll / cap10k / cap1k / cap100 candidate mass,
  * max bucket size and bucket count. Candidate mass under a
  * `minBandAgreements` fold needs the thin pair count itself —
  * run the k >= 2 pipeline on a SAMPLE after this table narrows
  * the shapes.
  */
object ProbeBanding {

  /** One shape's census line: kept candidate mass Σ C(bucket, 2) with
    * no cap and under caps 10k / 1k / 100, the largest bucket and the
    * bucket count. */
  final case class Shape(candAll: Long, cap10k: Long, cap1k: Long,
      cap100: Long, maxBucket: Long, buckets: Long)

  /** The census of one (bands, rowsPerBand) shape over per-doc gram
    * arrays (id, __gs). */
  def shapeCensus(grams: DataFrame, bands: Int, rowsPerBand: Int): Shape = {
    val Seq(all, c10k, c1k, c100) = graft.core.Materialize.scoped(Banding.explodeBands(
        Dedup.enrichedGrams(grams, bands * rowsPerBand),
        Banding.minhashBands(bands, rowsPerBand), "id")) { banded =>
      Seq(Int.MaxValue, 10000, 1000, 100).map(Banding.census(banded, _))
    }
    Shape(all.keptMass, c10k.keptMass, c1k.keptMass, c100.keptMass,
      all.maxBucket, all.buckets)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.error("usage: ProbeBanding <docsDir> [BxR ...] [--ngram N]"))
    val rest = args.drop(1)
    val ngram = rest.sliding(2).collectFirst {
      case Array("--ngram", n) => n.toInt }.getOrElse(5)
    val shapes0 = rest.filter(_.matches("\\d+x\\d+"))
      .map { s => val Array(b, r) = s.split("x"); (b.toInt, r.toInt) }
    val shapes = if (shapes0.nonEmpty) shapes0.toSeq
      else Seq((8, 4), (16, 4), (8, 6), (12, 6), (16, 6), (8, 8))
    val spark = graft.core.Sessions.local()
    val docs = graft.core.Tables.documents(spark, dir)
    graft.core.Materialize.scoped(
        Dedup.charNgramArrays(docs, "doc_id", "text", ngram), eager = true) { grams =>
      shapes.foreach { case (b, r) =>
        val t0 = System.nanoTime()
        val s = shapeCensus(grams, b, r)
        // an EMPTY corpus (no doc as long as the n-gram width) censuses
        // to all zeros
        println(f"[probebanding] ngram=$ngram b=$b%2d r=$r%d " +
          f"candAll=${s.candAll.toDouble}%.3g cap10k=${s.cap10k.toDouble}%.3g " +
          f"cap1k=${s.cap1k.toDouble}%.3g cap100=${s.cap100.toDouble}%.3g " +
          f"maxBucket=${s.maxBucket}%d buckets=${s.buckets}%d " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.0fs")
      }
    }
    spark.stop()
  }
}
