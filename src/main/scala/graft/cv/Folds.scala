package graft.cv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-fold assignment — the Spark-first replacement for sklearn
  * KFold/StratifiedKFold(shuffle=True, random_state) used by the
  * reference's CV engine (modeling/prediction.py:329-336).
  *
  * Design for scale (SURVEY §7.4.2): a naive
  * `row_number().over(Window.orderBy(rand))` collapses the frame into a
  * single partition. Instead the per-stratum row index is
  * `core.PrefixSum.rowIndex` over (stratum, content hash): one range
  * exchange, the ONLY full-data shuffle, and no window (a row_number
  * window forces a second hash exchange the layout already satisfies;
  * zipWithIndex pays an RDD round-trip that leaves codegen). Fold id =
  * per-stratum row index mod k — exact balance per stratum (sizes
  * differ by at most 1), like sklearn.
  *
  * The output is coalesced toward `rowsPerPartition` rows per partition
  * (narrow, no shuffle): at bench scale the downstream MLlib fit loop
  * otherwise pays per-task dispatch on dozens of near-empty partitions
  * for its many small jobs; at cluster scale the target is above the
  * natural partition size, so the coalesce is a no-op.
  *
  * Fold *membership* intentionally differs from sklearn for the same
  * seed (different RNG); tests assert the invariants — partition,
  * coverage, per-fold class proportions — not membership equality.
  */
object Folds {

  /** KFold(shuffle=False) analogue: fold = key % k. The reference's
    * unshuffled KFold slices by *position* (prediction.py:329-336 with
    * kfolds_shuffle=False); positional order is undefined on a
    * distributed engine, so the order-free equivalent keys the split on
    * a stable id column (documented deviation, same invariants:
    * partition, coverage, near-balance for dense keys). Pure
    * arithmetic — no shuffle at all. */
  def assignModulo(df: DataFrame, k: Int, idCol: String): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("fold", pmod(col(idCol), lit(k)).cast("int"))
  }

  /** Adds a `fold` column in [0, k). `stratifyBy = None` gives plain
    * shuffled k-fold; `Some(col)` stratifies so every fold has the same
    * class mix (sizes per (class, fold) are deterministic given class
    * counts, independent of the seed).
    */
  def assign(df: DataFrame, k: Int, seed: Long,
      stratifyBy: Option[String] = None): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // Shuffle key = content hash seeded by `seed`: deterministic for a
    // given dataset regardless of physical partitioning (rand() is not —
    // it depends on partition index), so fold membership is reproducible
    // across runs and cluster sizes.
    val shuffleKey = xxhash64(lit(seed) +: df.columns.map(col): _*)
    val (indexed, n) = graft.core.PrefixSum.rowIndex(
      df.withColumn("__h", shuffleKey), Seq(col("__h")),
      stratifyBy.map(col))
    val rowsPerPartition = 131072L
    // coalesce never increases the partition count, so at cluster scale
    // (natural partitions already bigger than the target) it's a no-op
    val target = math.max(1L, (n + rowsPerPartition - 1) / rowsPerPartition).toInt
    indexed
      .withColumn("fold", (col("__idx") % k).cast("int"))
      .drop("__h", "__idx")
      .coalesce(target)
  }
}
