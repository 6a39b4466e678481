package graft

import org.apache.spark.sql.functions._

/** Banding-shape probe for the MinHash near-dup pipelines — the
  * runnable 100 TB recipe (promoted from the round-13 test-scope
  * census): BEFORE paying a candidate self-join over a new corpus,
  * run this on the corpus (or a sample) to price the candidate-pair
  * mass Σ C(bucket, 2) of each (bands, rowsPerBand) shape, total and
  * under the `maxBucketSize` caps, from the CHEAP half of the
  * pipeline alone (one signature aggregate + one count per shape).
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
    val sh = graft.dedup.Dedup
      .hashedCharNgrams(docs, "doc_id", "text", ngram).cache()
    sh.count()
    val pairs = (col("n") * (col("n") - 1) / 2).cast("double")
    shapes.foreach { case (b, r) =>
      val t0 = System.nanoTime()
      val sizes = graft.dedup.Dedup.bandedSignatures(sh, b, r)
        .groupBy("band", "bsig").agg(count(lit(1)).as("n"))
      val row = sizes.agg(
        sum(pairs).as("cand_all"),
        sum(when(col("n") <= 10000, pairs)).as("cand_cap10k"),
        sum(when(col("n") <= 1000, pairs)).as("cand_cap1k"),
        sum(when(col("n") <= 100, pairs)).as("cand_cap100"),
        max(col("n")).as("max_bucket"),
        count(lit(1)).as("n_buckets")).head()
      def d(i: Int): Double =
        Option(row.get(i)).fold(0.0)(_ => row.getDouble(i))
      // max(n) is null over an EMPTY corpus (0 signature rows —
      // empty documents.parquet or every doc shorter than the n-gram
      // width); print a zeros line instead of an NPE
      def l(i: Int): Long =
        Option(row.get(i)).fold(0L)(_ => row.getLong(i))
      println(f"[probebanding] ngram=$ngram b=$b%2d r=$r%d " +
        f"candAll=${d(0)}%.3g cap10k=${d(1)}%.3g cap1k=${d(2)}%.3g " +
        f"cap100=${d(3)}%.3g maxBucket=${l(4)}%d " +
        f"buckets=${l(5)}%d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.0fs")
    }
    spark.stop()
  }
}
