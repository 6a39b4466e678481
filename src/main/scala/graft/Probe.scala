package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Sessions, Tables}
import graft.dedup.{Banding, Dedup}

/** Sizing probes for the near-duplicate families: BEFORE paying a
  * candidate self-join over a new corpus, run a probe on the corpus (or
  * a sample) to price the family's shape from the [[graft.dedup.Banding]]
  * bucket census — the CHEAP half of the pipeline alone.
  *
  * Usage: runMain graft.Probe <family> <docsDir> [family args], where
  * <docsDir> holds a documents.parquet with (doc_id, text):
  *
  *  - `banding [BxR ...] [--ngram N]` — MinHash / char-n-gram banding:
  *    one line per (bands, rowsPerBand) shape with the candidate-pair
  *    mass Σ C(bucket, 2) uncapped (candAll) and under caps 10k / 1k /
  *    100, the max bucket and the bucket count. Pick the shape whose
  *    mass is answer-scale — the sf10 rehearsal measured 8.1e8
  *    candidates (disk-full) at (8, 4) on a dense-background corpus vs
  *    ~1e6 with `minBandAgreements = 2`, and this table is how that
  *    cliff is seen for ~nothing. Mass under a `minBandAgreements` fold
  *    needs the thin pair count itself: run the k >= 2 pipeline on a
  *    SAMPLE after this table narrows the shapes. Shapes default to the
  *    round-13 census set, the n-gram width to 5.
  *  - `simhash [bits] [maxHamming] [maxBucketSize]` (default 60 3
  *    10000) — the SimHash scale knob is the SIGNATURE WIDTH: with
  *    `maxHamming + 1` lossless pigeonhole bands, each band key has only
  *    2^(bits / (maxHamming+1)) values, so 32-bit / 4-band signatures
  *    saturate around ~10^5 docs while 60-bit keeps expected buckets at
  *    corpus/32768 per band. Prints the band-bucket census (buckets,
  *    max bucket and candidate mass uncapped; rows over the cap), then
  *    times simHashNearDup and counts its pairs.
  *  - `fuzzy` — the blocked fuzzy join on two-token block keys. The
  *    synthetic corpus's 31-word vocabulary makes FIRST-token blocks
  *    exceed the join's 10k block cap corpus-wide at sf10, and the skew
  *    guard then drops every block; two tokens (~31² keys, ~520 docs per
  *    block at sf10) exercise the blocked-join plan itself at 100× bench
  *    scale. A real corpus has ~1e5+ first tokens, far below any cap.
  *  - `slice <outDir> [modulo]` (default modulo 10) — writes the MinHash
  *    near-dup pairs (threshold 0.5) of the deterministic slice
  *    `doc_id % modulo = 0` as parquet (id_1, id_2, jaccard rounded to
  *    6 places): the completeness half of checking the pair family
  *    against DuckDB at 100×, where the full all-collision replay is
  *    disk-infeasible (5.0e9 collision rows at 500k docs) but a slice's
  *    collision mass scales by 1/modulo². Soundness — every full-corpus
  *    pair true, values bit-exact — restricts DuckDB's exact-Jaccard
  *    join to the reported pairs, which is always feasible.
  */
object Probe {

  /** One shape's census line: kept candidate mass Σ C(bucket, 2) with
    * no cap and under caps 10k / 1k / 100, the largest bucket and the
    * bucket count. */
  final case class Shape(candAll: Long, cap10k: Long, cap1k: Long,
      cap100: Long, maxBucket: Long, buckets: Long)

  /** The census of one (bands, rowsPerBand) shape over per-doc gram
    * arrays (id, __gs). */
  def shapeCensus(grams: DataFrame, bands: Int, rowsPerBand: Int): Shape = {
    val Seq(all, c10k, c1k, c100) = Materialize.scoped(Banding.explodeBands(
        Dedup.enrichedGrams(grams, bands * rowsPerBand),
        Banding.minhashBands(bands, rowsPerBand), "id")) { banded =>
      Seq(Int.MaxValue, 10000, 1000, 100).map(Banding.census(banded, _))
    }
    Shape(all.keptMass, c10k.keptMass, c1k.keptMass, c100.keptMass,
      all.maxBucket, all.buckets)
  }

  private val usage = "usage: Probe <family> <docsDir> [family args]; families: banding " +
    "[BxR ...] [--ngram N] | simhash [bits] [maxHamming] [maxBucketSize] | fuzzy | slice <outDir> [modulo]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 &&
      Set("banding", "simhash", "fuzzy", "slice")(args(0)) &&
      (args(0) != "slice" || args.length >= 3), usage)
    val rest = args.toSeq.drop(2)
    val spark = Sessions.local()
    try {
      val docs = Tables.documents(spark, args(1))
      args(0) match {
        case "banding" => banding(docs, rest)
        case "simhash" => simhash(docs, rest)
        case "fuzzy"   => fuzzy(docs)
        case "slice"   => slice(docs, rest.head, rest.lift(1).fold(10)(_.toInt))
      }
    } finally spark.stop()
  }

  /** Prints the line `body` returns, with the seconds it took. */
  private def timed(body: => String): Unit = {
    val t0 = System.nanoTime()
    val line = body
    println(f"$line wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def banding(docs: DataFrame, args: Seq[String]): Unit = {
    val ngram = args.sliding(2).collectFirst {
      case Seq("--ngram", n) => n.toInt }.getOrElse(5)
    val given = args.filter(_.matches("\\d+x\\d+"))
      .map { s => val Array(b, r) = s.split("x"); (b.toInt, r.toInt) }
    val shapes = if (given.nonEmpty) given
      else Seq((8, 4), (16, 4), (8, 6), (12, 6), (16, 6), (8, 8))
    Materialize.scoped(
        Dedup.charNgramArrays(docs, "doc_id", "text", ngram), eager = true) { grams =>
      shapes.foreach { case (b, r) =>
        timed {
          // an EMPTY corpus (no doc as long as the n-gram width)
          // censuses to all zeros
          val s = shapeCensus(grams, b, r)
          f"[probebanding] ngram=$ngram b=$b%2d r=$r%d " +
            f"candAll=${s.candAll.toDouble}%.3g cap10k=${s.cap10k.toDouble}%.3g " +
            f"cap1k=${s.cap1k.toDouble}%.3g cap100=${s.cap100.toDouble}%.3g " +
            f"maxBucket=${s.maxBucket}%d buckets=${s.buckets}%d"
        }
      }
    }
  }

  private def simhash(docs: DataFrame, args: Seq[String]): Unit = {
    def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
    val (bits, maxHamming, cap) = (arg(0, 60), arg(1, 3), arg(2, 10000))
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val (all, capped) = Materialize.scoped(Banding.explodeBands(
        Dedup.simHash(docs, "doc_id", "text", bits),
        Banding.simhashBands(nBands, bandBits))) { banded =>
      (Banding.census(banded, Int.MaxValue), Banding.census(banded, cap))
    }
    println(f"[simhashprobe] bits=$bits%d bands=$nBands%d bandBits=$bandBits%d " +
      f"buckets=${all.buckets}%d maxBucket=${all.maxBucket}%d " +
      f"rowsOverCap=${capped.overRows}%d candMass=${all.keptMass.toDouble}%.3g")
    timed {
      val n = Dedup.simHashNearDup(docs, "doc_id", "text",
        maxHamming = maxHamming, bits = bits, maxBucketSize = cap).count()
      f"[simhashprobe] bits=$bits%d cap=$cap%d pairs=$n%d"
    }
  }

  private def fuzzy(docs: DataFrame): Unit = timed {
    val (pairs, stats) = Dedup.fuzzyJoinBlockedWithStats(
      docs, "doc_id", "text", Dedup.tokenBlockKey(col("text"), 2),
      maxDistance = 10, prefixLen = 40)
    val n = pairs.count()
    val s = stats.head()
    f"[fuzzyprobe] two-token blocks: pairs=$n%d " +
      f"droppedBlocks=${s.getLong(0)}%d droppedRows=${s.getLong(1)}%d"
  }

  private def slice(docs: DataFrame, outDir: String, modulo: Int): Unit = timed {
    Dedup.minHashNearDup(docs.filter(col("doc_id") % modulo === 0),
        "doc_id", "text", threshold = 0.5)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("jaccard"))
      .write.mode("overwrite").parquet(outDir)
    s"[pairslice] modulo=$modulo out=$outDir"
  }
}
