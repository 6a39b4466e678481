package graft

import org.apache.spark.sql.functions._

/** Fuzzy-join block-key pricing probe — the runnable sizing tool the
  * README scale rules cite (main-scope, like ProbeBanding):
  * `runMain graft.FuzzyProbe <docsDir>`. <docsDir> must hold a
  * documents.parquet with (doc_id, text).
  *
  * The synthetic corpus's 31-word vocabulary makes FIRST-token blocks
  * exceed the fuzzy join's maxBlockSize corpus-wide at sf10 (~16k docs
  * per block vs the 10k cap) — the shipped skew guard then drops every
  * block: correct, loud in the pair counts, but it measures nothing
  * about the plan. This arm blocks on the first TWO tokens (~31² keys,
  * ~520 docs per block at sf10) so the blocked-join plan itself is
  * exercised at 100× bench scale. A real 100 TB corpus sits on the
  * other side: ~1e5+ first tokens, blocks far below any cap. */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    val docs = graft.core.Tables.documents(spark, args(0))
    val t0 = System.nanoTime()
    val (pairs, stats) = graft.dedup.Dedup.fuzzyJoinBlockedWithStats(
      docs, "doc_id", "text",
      graft.dedup.Dedup.tokenBlockKey(col("text"), 2),
      maxDistance = 10, prefixLen = 40)
    val n = pairs.count()
    val s = stats.head()
    println(f"[fuzzyprobe] two-token blocks: pairs=$n%d " +
      f"droppedBlocks=${s.getLong(0)}%d droppedRows=${s.getLong(1)}%d " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
