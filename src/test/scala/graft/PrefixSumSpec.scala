package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PrefixSum
import graft.ml.Metrics

/** The distributed prefix-sum core against single-partition windows,
  * its rank sums against a brute-force average-rank sum, and the AUC
  * plan built on them against a brute-force Mann–Whitney. */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  test("runningTotals matches a single-partition global window") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i => (rnd.nextInt(50).toDouble, i.toLong, 1.0))
      .toDF("v", "id", "one")
    val got = PrefixSum.runningTotals(df, Seq(col("v"), col("id")),
        Map("cum" -> col("one")))
      .select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Window.orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("one")).over(w))
      .select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("rowIndex under a DESC total order matches row_number()") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 300).map(i => (rnd.nextInt(40).toDouble, i.toLong))
      .toDF("v", "id")
    val got = PrefixSum.rowIndex(df, Seq(col("v").desc, col("id")), None)._1
      .select(col("id"), (col("__idx") + 1).as("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
      .select(col("id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("runningTotals and rowIndex equal single-partition windows at 1, 3 and 8 input partitions") {
    val rnd = new scala.util.Random(17)
    // few distinct v (ties broken by id), a null restart key among three
    val rows = (1 to 240).map { i =>
      (if (i % 11 == 0) null else Seq("a", "b", "c")(rnd.nextInt(3)),
        rnd.nextInt(12).toDouble, i.toLong, (rnd.nextInt(9) - 4).toDouble)
    }
    def byId(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Any] =
      df.select(col("id"), col(c)).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    for (parts <- Seq(1, 3, 8); desc <- Seq(false, true)) {
      val df = rows.toDF("g", "v", "id", "x").repartition(parts)
      val order = Seq(if (desc) col("v").desc else col("v"), col("id"))
      val ctx = s"($parts partitions, desc=$desc)"
      val whole = Window.orderBy(order: _*)
      val running = whole.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      assert(byId(PrefixSum.runningTotals(df, order, Map("cum" -> col("x"))), "cum") ==
        byId(df.withColumn("cum", sum(col("x")).over(running)), "cum"),
        s"runningTotals $ctx")
      val (global, n) = PrefixSum.rowIndex(df, order, None)
      assert(n == rows.size, s"rowIndex row count $ctx")
      assert(byId(global, "__idx") ==
        byId(df.withColumn("__idx", row_number().over(whole) - 1L), "__idx"),
        s"rowIndex without restartBy $ctx")
      val (restarted, _) = PrefixSum.rowIndex(df, order, Some(col("g")))
      assert(byId(restarted, "__idx") ==
        byId(df.withColumn("__idx",
          row_number().over(Window.partitionBy("g").orderBy(order: _*)) - 1L), "__idx"),
        s"rowIndex restarting per g $ctx")
      assert(restarted.columns.toSeq == df.columns.toSeq :+ "__idx",
        s"rowIndex adds only its index column $ctx")
    }
  }

  test("grouped AUC equals a brute-force Mann–Whitney count with tied scores") {
    val rnd = new scala.util.Random(23)
    // 5 distinct scores over 4 groups: most positive/negative pairs tie
    val rows = (1 to 400).map(i => (i % 4, rnd.nextInt(5) / 4.0, rnd.nextInt(2)))
    val df = rows.toDF("g", "s", "y").repartition(3)
    def bruteForce(rs: Seq[(Int, Double, Int)]): Double = {
      val (pos, neg) = rs.partition(_._3 == 1)
      val u = (for (p <- pos; n <- neg) yield
        if (p._2 > n._2) 1.0 else if (p._2 == n._2) 0.5 else 0.0).sum
      u / (pos.size.toDouble * neg.size)
    }
    val want = rows.groupBy(_._1).map { case (g, rs) => g -> bruteForce(rs) }
    assert(Metrics.rocAucByGroup(df, "g", "y", "s") == want)
    assert(Metrics.rocAuc(df, "y", "s") == bruteForce(rows))
  }

  test("rankSums equals a brute-force per-group average-rank sum at 1, 3 and 8 input partitions") {
    val rnd = new scala.util.Random(29)
    // group 0: 6 distinct scores and some null ones (heavy ties); group 1:
    // ~150 distinct scores, spread over several range partitions; group
    // 2: five rows on one score, within one partition; 3-7: single rows
    val rows = (1 to 400).map(_ => (0, if (rnd.nextInt(20) == 0) None
        else Some(rnd.nextInt(6).toDouble), rnd.nextInt(4).toDouble)) ++
      (1 to 300).map(_ => (1, Some(rnd.nextInt(150) / 7.0), rnd.nextInt(3).toDouble)) ++
      (1 to 5).map(_ => (2, Some(0.5), 1.0)) ++
      (3 to 7).map(g => (g, Some(g.toDouble), g % 2.0))
    def bruteForce(rs: Seq[(Int, Option[Double], Double)]): PrefixSum.RankSum = {
      val ties = rs.groupBy(_._2).toSeq.sortBy(_._1)
      val rankSum = ties.foldLeft((0.0, 0L)) { case ((acc, before), (_, tied)) =>
        (acc + tied.map(_._3).sum * (before + (tied.size + 1) / 2.0), before + tied.size)
      }._1
      PrefixSum.RankSum(rankSum, rs.map(_._3).sum, rs.size.toLong,
        Seq(rs.count(_._2.isEmpty).toLong))
    }
    val want = rows.groupBy(_._1).map { case (g, rs) => g -> bruteForce(rs) }
    val conf = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val before = conf.map { case (k, _) => k -> spark.conf.get(k) }
    for (parts <- Seq(1, 3, 8); settings <- Seq(Nil, conf)) {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = rows.toDF("g", "s", "w").repartition(parts)
        val got = PrefixSum.rankSums(df, col("g"), col("s"), col("w"), Seq(col("s").isNull))
        assert(got == want, s"($parts partitions, conf $settings)")
      } finally before.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("grouped AUC and Mann–Whitney each run one Spark action") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 200).map(i => (i % 3, rnd.nextInt(20) / 19.0, rnd.nextInt(2)))
      .toDF("g", "s", "y").repartition(3)
    assert(actionCount(Metrics.rocAucByGroup(df, "g", "y", "s")) == 1)
    assert(actionCount(Metrics.rocAuc(df, "y", "s")) == 1)
    assert(actionCount(graft.ml.Evaluation.mannWhitney(df, "s", col("y") === 1)) == 1)
  }

  test("rocAuc raises on a label outside {0, 1}, a null label and a null or NaN score") {
    val ok = Seq((Option(0.1), Option(0)), (Option(0.4), Option(1)),
      (Option(0.45), Option(0)), (Option(0.8), Option(1)))
    def auc(rows: Seq[(Option[Double], Option[Int])]): Double =
      Metrics.rocAuc(rows.toDF("s", "y"), "y", "s")
    assert(auc(ok) == 0.75)
    for ((bad, what) <- Seq(
        (Option(0.5), Option(2)) -> "y outside {0, 1}",
        (Option(0.5), Option.empty[Int]) -> "null y",
        (Option.empty[Double], Option(1)) -> "null or NaN s",
        (Option(Double.NaN), Option(0)) -> "null or NaN s")) {
      val e = intercept[IllegalArgumentException](auc(ok :+ bad))
      assert(e.getMessage.contains(s"1 rows with $what"), e.getMessage)
    }
  }
}
