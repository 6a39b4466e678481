package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for ANN search (Jégou, Douze & Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI §III):
  * split each d-dim vector into `m` subvectors, learn a `ks`-centroid
  * codebook per subspace (k-means), store each vector as m small codes
  * (64-dim float → 4 bytes at m=4/ks=256-class codes — a 64× memory
  * cut), and answer queries with the asymmetric distance computation
  * (ADC): per query, an m×ks table of exact subspace distances, then
  * each database vector's approximate distance is m table lookups.
  *
  * Distributed shape: training is m bounded MLlib fits; the codebook
  * (m·ks rows) broadcasts everywhere; encoding is a scan-local slice
  * explode joined against the broadcast codebook with an in-group
  * argmin (min over (dist, code) structs — no window); ADC search
  * broadcasts the per-query distance TABLE (|probes|·m·ks rows), so
  * the corpus-side scan only ever equi-joins a broadcast and
  * aggregates by (query, id) — the codes table is the only
  * corpus-scale data that moves, and it is m small ints per vector.
  * The final top-k is the partial-group-limit window shape shared
  * with bruteForceTopK.
  *
  * Centroids are rounded to 6 decimals at train time and every
  * distance is rounded to 6 before the argmin/sum, so a dumped
  * codebook lets DuckDB replay encoding and search bit-for-bit
  * (the q89/q91 dump-replay oracle pattern).
  */
object Pq {

  private[sim] def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Squared L2 distance between two equal-length double arrays —
    * the native codegen expression (one fused loop, ascending-index
    * accumulation: bit-identical to the interpreted
    * `aggregate(zip_with(...))` fold it replaced; see SqL2Distance).
    * This sits in the PQ family's hottest loops: ks evaluations per
    * (vector, subspace) in encode, nCells per vector in IVF
    * assignment, ks per (probe, subspace) in the ADC tables. */
  private[sim] def l2sq(a: Column, b: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.functions.GraftFunctions.l2Sq(spark, a, b)
  }

  /** Slice length of an m-way subspace split, loudly guarded: a vector
    * length not divisible by m would silently DROP the trailing
    * dimensions from every distance (train, encode, and ADC all slice
    * with it), and d < m would make every subvector empty — every
    * vector then encodes to code 0 and every approximate distance is
    * 0.0, meaningless neighbors with no error. Per the no-silent-caps
    * rule, raise instead. */
  private[sim] def guardedSliceLen(v: Column, m: Int): Column =
    when(size(v) >= m && size(v) % m === 0, (size(v) / m).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"graft: PQ subspace split needs size(vec) divisible by " +
          s"m=$m and >= m, got size="), size(v).cast("string"))))

  /** The m sliced subvectors of `vec` as (sub, subvec) rows; `sub` is
    * the 0-based subspace index. Scan-local (posexplode of a slice
    * transform — no shuffle). */
  private[sim] def subRows(df: DataFrame, idCol: String, idAs: String,
      vecCol: String, m: Int): DataFrame = {
    val v = asDouble(col(vecCol))
    val sl = guardedSliceLen(v, m)
    df.select(col(idCol).as(idAs),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(v, i * sl + 1, sl))).as(Seq("sub", "subvec")))
      .select(col(idAs), col("sub").cast("long").as("sub"), col("subvec"))
  }

  /** Train the m per-subspace codebooks: (sub, code, centroid), with
    * centroid components rounded to 6 decimals — the values every
    * downstream consumer (encode, ADC, the SQL oracle) uses, so the
    * fitted model and its dump are the same model. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, ks: Int = 16, seed: Long = 27L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = subRows(corpus, idCol, "__id", vecCol, m)
      .withColumn("__fv", array_to_vector(col("subvec")))
    // Independent per-subspace fits run concurrently (graft.core.Par);
    // each is seeded `seed + s`, so the codebook is identical to the
    // sequential loop's.
    val rows = graft.core.Materialize.scoped(vecs, eager = true) { subs =>
      graft.core.Par.mapPar(0 until m) { s =>
        val model = new KMeans().setK(ks).setSeed(seed + s)
          .setFeaturesCol("__fv").setPredictionCol("__c")
          .fit(subs.filter(col("sub") === s))
        model.clusterCenters.zipWithIndex.map { case (v, c) =>
          (s.toLong, c.toLong, v.toArray.map(x => math.rint(x * 1e6) / 1e6).toSeq)
        }
      }.flatten
    }
    rows.toDF("sub", "code", "centroid")
  }

  /** Encode every vector as m codes: (id, sub, code, dist), where code
    * is the argmin-distance centroid of the subspace (ties on the
    * smaller code) and dist is the rounded subspace distance. The
    * argmin is an in-group `min(struct(dist, code))` — no window, and
    * the shuffle key (id, sub) is as fine as the data. */
  def encode(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, m: Int = 4): DataFrame =
    subRows(corpus, idCol, idCol, vecCol, m)
      .join(broadcast(codebook), Seq("sub"))
      .select(col(idCol), col("sub"), col("code"),
        round(l2sq(col("subvec"), col("centroid")), 6).as("__d"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("__d"), col("code"))).as("__b"))
      .select(col(idCol), col("sub"),
        col("__b.code").as("code"), col("__b.__d").as("dist"))

  /** ADC top-k: each probe's approximate squared distance to every
    * encoded vector is the sum of its per-subspace distance-table
    * entries at the vector's codes. Output (query_id, neighbor_id,
    * adist), k rows per probe ranked (adist asc, neighbor_id asc);
    * self-matches excluded. */
  def adcTopK(codes: DataFrame, codebook: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 4): DataFrame = {
    val table = subRows(probes, idCol, "query_id", vecCol, m)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        round(l2sq(col("subvec"), col("centroid")), 6).as("__qd"))
    val scored = codes
      .join(broadcast(table), Seq("sub", "code"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(round(sum(col("__qd")), 6).as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
