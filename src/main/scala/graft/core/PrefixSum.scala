package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one distributed prefix sum. Every rank or cumulative
  * count — ROC AUC, Mann–Whitney, fold assignment, the target
  * permutation, packing offsets, percentiles, running totals — rides
  * the same plan: range-partition by the order, so partition ids follow
  * the order, and sum within each partition. The per-partition totals
  * are a numPartitions-sized collect; the driver turns them into
  * offsets. Two forms:
  *
  *  - row-level results (`runningTotals`, `rowIndex`) pin the blocks
  *    with a lazy `localCheckpoint`, collect the totals and broadcast
  *    the offsets back;
  *  - aggregate results (`rankSums`) need no row back: each partition
  *    emits its partial sums, and the driver applies the offsets to
  *    the collected partials — one action, no checkpoint, no join.
  *
  * No row-scale frame ever collapses onto a single-partition global
  * window, and the range exchange is the only full-data shuffle.
  */
object PrefixSum {

  /** One group's [[rankSums]] result: Σ w·(average rank), Σ w, the row
    * count, and the sum of each `counts` column in argument order. */
  final case class RankSum(rankSum: Double, weight: Double, n: Long, counts: Seq[Long])

  /** Per-group rank sums in ONE action. For every value of `group`
    * (cast to int), ranks the rows by `score` within the group
    * (ascending, null lowest, ties sharing their average rank) and
    * returns Σ `weight`·rank, Σ `weight`, the row count and the sum of
    * every `counts` column (cast to long, null as 0).
    *
    * Pre-aggregates (group, score) → (n, Σ w, counts), range-partitions
    * and sorts by (group, score), and emits one row per (partition,
    * group): the rank sum with the group's count restarting at the
    * partition start. The driver adds to each partial Σ w × (rows of
    * the group in earlier partitions). Every term is an integer or a
    * half below 2^52, where doubles are exact, so the result does not
    * depend on the partitioning.
    */
  def rankSums(df: DataFrame, group: Column, score: Column, weight: Column,
      counts: Seq[Column] = Nil): Map[Int, RankSum] = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = counts.size
    val order = Seq(col("__g"), col("__s"))
    val pre = df.groupBy(group.cast("int").as("__g"), score.as("__s"))
      .agg(count(lit(1)).as("__n"), (sum(weight.cast("double")).as("__w") +:
        counts.zipWithIndex.map { case (c, i) => sum(c.cast("long")).as(s"__c$i") }): _*)
    val partials = pre.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .drop("__s")
      .mapPartitions { rows =>
        val pid = TaskContext.getPartitionId()
        val it = rows.buffered
        def long(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        Iterator.continually(()).takeWhile(_ => it.hasNext).map { _ =>
          val g = it.head.getInt(0)
          var rs, w = 0.0
          var n = 0L
          val cs = new Array[Long](k)
          while (it.hasNext && it.head.getInt(0) == g) {
            val r = it.next()
            val (rn, rw) = (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))
            rs += rw * (n + (rn + 1) / 2.0)
            w += rw
            n += rn
            cs.indices.foreach(i => cs(i) += long(r, 3 + i))
          }
          (g, pid, rs, w, n, cs)
        }
      }.collect()
    partials.groupBy(_._1).map { case (g, unsorted) =>
      val ps = unsorted.sortBy(_._2)
      val before = ps.scanLeft(0L)(_ + _._5) // the group's rows in earlier partitions
      g -> RankSum(ps.zip(before).map { case (p, b) => p._3 + p._4 * b }.sum,
        ps.map(_._4).sum, before.last, ps.map(_._6.toSeq).reduce(_.zip(_).map(t => t._1 + t._2)))
    }
  }

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
