package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Categorical encoding operators (preprocessing.py:136-150,
  * create_solution.py:115-119).
  */
object Encode {

  /** F9: label encoding (pd.factorize). The reference assigns codes in
    * first-occurrence order, which is row-order-dependent — undefined on
    * a distributed engine. We assign codes in lexicographic value order
    * (dense_rank over the distinct values), which is deterministic,
    * SQL-expressible, and stable across partitionings (documented
    * deviation, SURVEY §7.4.1). NULL encodes to -1 like pd.factorize.
    */
  def labelEncode(df: DataFrame, c: String, out: String): DataFrame = {
    val distinctVals = df.select(col(c)).filter(col(c).isNotNull).distinct()
    // The global-window rank collapses the distinct frame onto one
    // partition — fine for true categoricals, a scale-killer on a
    // high-cardinality key. Above the threshold, derive codes from the
    // distributed dense index (core.PrefixSum) instead, and use a plain
    // (non-broadcast) join.
    val n = distinctVals.count()
    val smallCardinality = 100000L
    val mapping =
      if (n <= smallCardinality)
        // cast to long so both cardinality branches agree on the output
        // schema (the dense index below is a long)
        distinctVals.withColumn(out,
          (dense_rank().over(Window.orderBy(col(c))) - 1).cast("long"))
      else graft.core.PrefixSum.rowIndex(distinctVals, Seq(col(c)), None)
        ._1.withColumnRenamed("__idx", out)
    val joined =
      if (n <= smallCardinality) df.join(broadcast(mapping), Seq(c), "left")
      else df.join(mapping, Seq(c), "left")
    joined.withColumn(out, coalesce(col(out), lit(-1L)))
  }

  /** F10: one-hot encoding with a column per category value
    * (pd.get_dummies(dummy_na=true), preprocessing.py:136-150). The
    * category list is collected once (small by definition of
    * categorical); output columns are named <col>_<value> exactly like
    * get_dummies. A NULL indicator column <col>_nan mirrors dummy_na.
    */
  def oneHot(df: DataFrame, c: String, maxCategories: Int = 1000): DataFrame = {
    // Cardinality guard before the driver collect: one-hot over a
    // high-cardinality key would both blow the schema and make this
    // collect unbounded at scale.
    val values = df.select(col(c)).filter(col(c).isNotNull).distinct()
      .limit(maxCategories + 1).collect().map(_.get(0).toString).sorted
    require(values.length <= maxCategories,
      s"oneHot($c): more than $maxCategories distinct values; not a categorical column")
    // Single Project node (not an N-deep withColumn chain: each
    // withColumn adds a nested projection the analyzer must traverse).
    // Null-safe equality: get_dummies puts 0 (not NULL) in every value
    // indicator of a null row — plain === would leave the whole row of
    // indicators NULL and break downstream sums/assemblers.
    val indicator = values.map(v =>
      (col(c) <=> lit(v)).cast("int").as(s"${c}_$v")) :+
      col(c).isNull.cast("int").as(s"${c}_nan")
    val keep = df.columns.filterNot(_ == c).map(col)
    df.select(keep.toSeq ++ indicator: _*)
  }
}
