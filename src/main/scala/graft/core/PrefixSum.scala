package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one distributed prefix sum. Every rank or cumulative
  * count — ROC AUC, fold assignment, the target permutation, packing
  * offsets, percentiles, running totals — rides the same plan:
  * range-partition by the order, tag each row with its partition id
  * (`__pid`), pin the blocks with a lazy `localCheckpoint`, collect the
  * per-partition totals (a numPartitions-sized result), and broadcast
  * the offsets back. No row-scale frame ever collapses onto a
  * single-partition global window, and the checkpointed range
  * exchange is the only full-data shuffle.
  */
object PrefixSum {

  /** `df` range-partitioned and sorted by `order`, each row tagged with
    * its partition id `__pid`. */
  private def rangeSorted(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())

  /** Range-partitions `df` by `order`, then adds one running total per
    * entry of `sums` (running over the global `order`, inclusive of the
    * current row) as columns named by the map keys. The global
    * cumulative is per-partition window + broadcast offsets; only a
    * numPartitions-row frame is ever collected.
    */
  def runningTotals(df: DataFrame, order: Seq[Column],
      sums: Map[String, Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val names = sums.keys.toSeq.sorted
    val withIns = names.foldLeft(df)((d, n) => d.withColumn(s"__in_$n", sums(n)))
    val base = rangeSorted(withIns, order)
      // LAZY checkpoint: the offsets aggregate below is the first
      // reader and materializes the range shuffle in ITS job; the
      // window join then reads the cached blocks (an eager checkpoint
      // pays a separate blocking job per call).
      .localCheckpoint(false)
    // per-partition totals of every sum input in one bounded aggregate
    val aggCols = names.map(n => sum(col(s"__in_$n").cast("double")).as(s"__t_$n"))
    val totals = base.groupBy("__pid").agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map(r => (r.getInt(0), names.indices.map(i =>
        if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)).toSeq))
      .sortBy(_._1)
    val offsets = {
      val acc = Array.fill(names.length)(0.0)
      totals.map { case (pid, ts) =>
        val row = (pid, acc.toSeq)
        names.indices.foreach(i => acc(i) += ts(i))
        row
      }.toSeq
    }
    val offDf = offsets.toDF("__pid", "__offs")
    val w = Window.partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = base.join(broadcast(offDf), Seq("__pid"))
    names.zipWithIndex.foldLeft(joined) { case (d, (n, i)) =>
      d.withColumn(n,
        sum(col(s"__in_$n").cast("double")).over(w) + col("__offs")(i))
    }.drop("__offs" +: names.map(n => s"__in_$n"): _*)
  }

  /** Adds `__idx`, a dense 0-based long row index in `order` order —
    * restarting at 0 for every distinct value of `restartBy` (compared
    * as a string, null a value of its own) when given. Returns the
    * indexed frame and its row count. Pass a total order: ties get
    * distinct indices in no defined order.
    *
    * No window: after the range sort each row's partition-local
    * position is already carried by `monotonically_increasing_id`
    * (pid in the high bits, a per-partition counter in the low bits),
    * so the index is that counter minus the (partition, restart key)
    * block's first counter plus the block's start offset within its
    * key — one bounded (numPartitions × keys)-row collect. Range
    * partitioning on the restart key first puts a key's blocks in
    * ascending pid order. The checkpoint pins the blocks, so every
    * consumer reads one consistent counter.
    */
  def rowIndex(df: DataFrame, order: Seq[Column],
      restartBy: Option[Column]): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = rangeSorted(
        df.withColumn("__rk", restartBy.getOrElse(lit(null)).cast("string")),
        col("__rk") +: order)
      .withColumn("__mid", monotonically_increasing_id())
      // lazy: the counts collect below materializes it
      .localCheckpoint(false)
    val counts = parts.groupBy("__pid", "__rk")
      .agg(count(lit(1)).as("__n"), min("__mid").as("__m"))
      .collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getLong(2), r.getLong(3)))
    val adj = counts.groupBy(_._2).iterator.flatMap { case (key, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (pid, _, n, m) =>
        val o = acc; acc += n; (pid, key.orNull, o - m)
      }
    }.toSeq
    val indexed = parts
      .join(broadcast(adj.toDF("__apid", "__ark", "__adj")),
        col("__pid") === col("__apid") && col("__rk") <=> col("__ark"))
      .withColumn("__idx", col("__mid") + col("__adj"))
      .drop("__rk", "__pid", "__mid", "__apid", "__ark", "__adj")
    (indexed, counts.map(_._3).sum)
  }
}
