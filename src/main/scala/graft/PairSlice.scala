package graft

import org.apache.spark.sql.functions._

/** Slice-replay completeness probe for the MinHash near-dup family —
  * the runnable half of the "oracle a pair family at 100×" recipe:
  * the FULL corpus's all-collision DuckDB replay is disk-infeasible at
  * 500k docs (measured round 15: the word-trigram collision join holds
  * 5.0e9 rows and spilled past 78 GB), so completeness is instead
  * checked on a deterministic modulo slice whose collision mass scales
  * by 1/modulo² — run `minHashNearDup` here on `doc_id % modulo = 0`,
  * replay the same slice exactly in DuckDB, and hash-compare. The
  * soundness half (every full-corpus pair is a true pair, values
  * bit-exact) restricts DuckDB's exact-Jaccard join to the reported
  * pairs, which is answer-bounded and always feasible.
  *
  * Usage: runMain graft.PairSlice <docsDir> <outDir> [modulo]
  * (<docsDir> holds documents.parquet with (doc_id, text)). */
object PairSlice {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PairSlice <docsDir> <outDir> [modulo]")
    val modulo = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Sessions.local()
    val docs = graft.core.Tables.documents(spark, args(0))
      .filter(col("doc_id") % modulo === 0)
    graft.dedup.Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("jaccard"))
      .write.mode("overwrite").parquet(args(1))
    spark.stop()
  }
}
