package graft

/** SimHash signature-width pricing probe — the runnable sizing tool
  * the README scale rules cite (main-scope, like ProbeBanding):
  * `runMain graft.SimhashProbe <docsDir> [bits] [maxHamming] [maxBucketSize]`.
  * <docsDir> must hold a documents.parquet with (doc_id, text).
  *
  * Times simHashNearDup and counts its pairs, plus reports the
  * (band, bsig) bucket-size distribution — the family's scale knob is
  * the SIGNATURE WIDTH: with `maxHamming + 1` lossless pigeonhole
  * bands, each band key has only 2^(bits / (maxHamming+1)) values, so
  * 32-bit / 4-band signatures give 256 buckets per band and saturate
  * around ~10^5 docs (every bucket crosses any sane cap — the
  * embedding-LSH saturation class). Raising `bits` toward the 60-bit
  * md5-prefix maximum widens each band to 2^15 values, which keeps
  * expected bucket sizes at corpus/32768 per band — answer-scale well
  * past 10^6 docs per partition of the corpus. This probe measures
  * both shapes so the sizing rule in simHashNearDup's scaladoc carries
  * numbers. */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    import org.apache.spark.sql.functions._
    val bits = if (args.length > 1) args(1).toInt else 60
    val maxHamming = if (args.length > 2) args(2).toInt else 3
    val cap = if (args.length > 3) args(3).toInt else 10000
    val docs = graft.core.Tables.documents(spark, args(0))

    // bucket-size distribution of the banded signature space
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val sig = graft.dedup.Dedup.simHash(docs, "doc_id", "text", bits)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * bandBits)
          .mod(1L << bandBits).as("bsig"))
    }
    val sizes = sig.select(explode(array(bandCols: _*)).as("bs"))
      .groupBy(col("bs.band"), col("bs.bsig")).count()
      .agg(count(lit(1)).as("n_buckets"), max("count").as("max_bucket"),
        sum(when(col("count") > cap, col("count")).otherwise(0L)).as("rows_over_cap"),
        sum((col("count").cast("decimal(38,0)") *
          (col("count").cast("decimal(38,0)") - 1)).cast("decimal(38,0)"))
          .as("pair_mass_x2"))
      .head()
    println(f"[simhashprobe] bits=$bits%d bands=$nBands%d bandBits=$bandBits%d " +
      f"buckets=${sizes.getLong(0)}%d maxBucket=${sizes.getLong(1)}%d " +
      f"rowsOverCap=${sizes.getLong(2)}%d candMass=${sizes.getDecimal(3).doubleValue() / 2}%.3g")

    val t0 = System.nanoTime()
    val pairs = graft.dedup.Dedup.simHashNearDup(docs, "doc_id", "text",
      maxHamming = maxHamming, bits = bits, maxBucketSize = cap)
    val n = pairs.count()
    println(f"[simhashprobe] bits=$bits%d cap=$cap%d pairs=$n%d " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
