package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Graph analytics over relational co-occurrence structure: weighted
  * co-occurrence edge extraction from basket-shaped data, weighted
  * PageRank (Page et al. 1999) with a fixed deterministic iteration
  * count, market-basket association rules (support / confidence /
  * lift; Agrawal & Srikant 1994), and a key-skew diagnostic (Gini
  * coefficient of the per-key load distribution) for partition-skew
  * triage.
  *
  * Scale design: edge extraction is an equi-join keyed by basket with
  * an explicit basket-size cap (the same skew guard the LSH bucket
  * join uses — one pathological basket can't go quadratic); PageRank
  * is the standard iterative join-aggregate with one key shuffle per
  * iteration and per-iteration localCheckpoints to keep lineage flat;
  * the Gini rank rides the distributed prefix-sum row number
  * (`Evaluation.withRowNumber`) — no single-partition window ever sees
  * a key-scale frame.
  */
object Graph {

  /** Undirected weighted co-occurrence edges: for every basket, each
    * unordered item pair appearing together; weight = number of
    * baskets sharing the pair. Output (src, dst, w) with src < dst.
    *
    * Baskets larger than `maxBasketSize` are dropped before pairing
    * (quadratic blow-up guard; at 100 TB one degenerate basket would
    * otherwise dominate the stage). */
  def coOccurrenceEdges(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int = 1000): DataFrame =
    coOccurrenceEdgesCore(df, basketCol, itemCol, maxBasketSize)._1

  /** [[coOccurrenceEdges]] plus the basket-size guard's one-row
    * (n_baskets_dropped, n_rows_dropped) stats frame — the same
    * loudness contract as the dedup family's `*WithStats` variants
    * (a dropped basket produces NO edges; a caller reading an edge
    * list thinned by the cap must be able to see that it was). The
    * stats frame is lazy; evaluating it re-runs only the basket-size
    * aggregate over the distinct (basket, item) projection. */
  def coOccurrenceEdgesWithStats(df: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int = 1000): (DataFrame, DataFrame) =
    coOccurrenceEdgesCore(df, basketCol, itemCol, maxBasketSize)

  private def coOccurrenceEdgesCore(df: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int): (DataFrame, DataFrame) = {
    val b = df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    val sizes = b.groupBy("__b").agg(count(lit(1)).as("__sz"))
    // guard as a LEFT-ANTI join against the over-cap basket list
    // (identical keep-set: every basket has a size row, so "not over
    // cap" = "size <= cap"). The over-cap side is bounded by
    // rows/maxBasketSize — always the broadcastable side at scale —
    // where the kept list the old inner join shipped is corpus-sized
    // (the dedup family's bucket-cap pattern, guide §3.1).
    val sized = b.join(
      sizes.filter(col("__sz") > maxBasketSize).select("__b"),
      Seq("__b"), "left_anti")
    val l = sized.select(col("__b"), col("__i").as("src"))
    val r = sized.select(col("__b"), col("__i").as("dst"))
    val edges = l.join(r, Seq("__b")).filter(col("src") < col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val dropped = sizes.filter(col("__sz") > maxBasketSize)
      .agg(count(lit(1)).as("n_baskets_dropped"),
        coalesce(sum(col("__sz")), lit(0L)).as("n_rows_dropped"))
    (edges, dropped)
  }

  /** Weighted PageRank over an undirected edge list (src < dst, w):
    * r_{t+1}(v) = (1-d)/N + d * Σ_{u~v} r_t(u) * w(u,v) / wdeg(u),
    * run for exactly `iters` iterations from the uniform vector — a
    * fixed-point-free deterministic contract that an external engine
    * can replay exactly. Nodes are the edge endpoints (isolated items
    * have no rank). Returns (node, rank) with rank normalized so the
    * mean is 1 (rank = r * N), which keeps 6-dp rounding meaningful
    * regardless of graph size.
    *
    * Each iteration is one equi-join of the edge list against the
    * (node-cardinality) rank vector plus one aggregate — the classic
    * distributed PageRank step; lineage is truncated per iteration. */
  def pageRank(edges: DataFrame, damping: Double = 0.85,
      iters: Int = 3): DataFrame = {
    // lazy checkpoints: each frame materializes inside the first job
    // that reads it and is reused after — the round-16 EAGER
    // checkpoints paid one blocking driver round-trip per frame plus
    // one per ITERATION (3 extra job launches for the default contract)
    // purely to truncate lineage that, at 3 iterations, is 3 joins deep
    // and plans in milliseconds. For long runs an eager cut every 4th
    // round keeps plan re-analysis constant without per-round jobs.
    val sym = edges.select(col("src").as("x"), col("dst").as("y"), col("w"))
      .union(edges.select(col("dst").as("x"), col("src").as("y"), col("w")))
      .localCheckpoint(false)
    val deg = sym.groupBy("x").agg(sum(col("w").cast("double")).as("__wd"))
      .localCheckpoint(false)
    val n = deg.count()
    val withDeg = sym.join(deg, Seq("x")).localCheckpoint(false)
    var r = deg.select(col("x").as("node"), lit(1.0 / n).as("r"))
    for (i <- 1 to iters) {
      r = withDeg.join(r, withDeg("x") === r("node"))
        .select(col("y"), (col("r") * col("w") / col("__wd")).as("__c"))
        .groupBy(col("y").as("node"))
        .agg((lit((1 - damping) / n) + lit(damping) * sum(col("__c"))).as("r"))
      if (i % 4 == 0 && i < iters) r = r.localCheckpoint()
    }
    r.select(col("node"), round(col("r") * n, 6).as("rank"))
  }

  /** Association rules from basket data: every directed item pair
    * (antecedent → consequent) co-occurring in at least `minJoint`
    * baskets, with support = n_joint / n_baskets, confidence =
    * n_joint / n_antecedent, lift = confidence / (n_consequent /
    * n_baskets). Item frequencies join against the (item-cardinality)
    * count table; the basket total rides along as a literal. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minJoint: Long = 2L, maxBasketSize: Int = 1000,
      precomputedEdges: Option[DataFrame] = None): DataFrame = {
    val b = df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    val nBaskets = b.select("__b").distinct().count().toDouble
    val itemCounts = b.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
    val pairs = precomputedEdges
      .getOrElse(coOccurrenceEdges(df, basketCol, itemCol, maxBasketSize))
      .filter(col("w") >= minJoint)
    val directed = pairs.select(col("src").as("antecedent"),
        col("dst").as("consequent"), col("w"))
      .union(pairs.select(col("dst").as("antecedent"),
        col("src").as("consequent"), col("w")))
    directed
      .join(itemCounts.withColumnRenamed("__i", "antecedent")
        .withColumnRenamed("__ni", "__na"), Seq("antecedent"))
      .join(itemCounts.withColumnRenamed("__i", "consequent")
        .withColumnRenamed("__ni", "__nc"), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("w").as("n_joint"),
        round(col("w") / nBaskets, 6).as("support"),
        round(col("w").cast("double") / col("__na"), 6).as("confidence"),
        round((col("w").cast("double") / col("__na")) /
          (col("__nc") / nBaskets), 6).as("lift"))
  }

  /** Degree distribution of an undirected edge list: how many nodes
    * have each degree — the first diagnostic of any large graph (skew,
    * hubs, connectivity shape). Two bounded aggregates. */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
      .groupBy(col("__deg").as("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Triangle census of an undirected edge list (src < dst): node /
    * edge / wedge / triangle counts and the global transitivity
    * 3·T / Σ d(d−1)/2 — the clustering read-out of the co-occurrence
    * graph. Uses the degree-ordered orientation (each edge directed
    * from its lower-(degree, id) endpoint): every triangle is
    * enumerated exactly once at its lowest-rank vertex, and oriented
    * out-degrees are O(√m) even at hub nodes — the standard bound
    * that keeps the wedge self-join from going quadratic on skewed
    * graphs (Schank & Wagner 2005). Two equi-joins + aggregates,
    * all integer-exact. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Ids must be integral: the widening cast to long below is then
    // lossless. A string or fractional id would be cast silently into a
    // different node ("7" and "07" both become 7, 1.5 and 1.7 both 1),
    // turning distinct edges into self-loops or merged nodes.
    Seq("src", "dst").foreach { c =>
      val t = edges.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"triangleStats: id column '$c' must be an integral type, got ${t.simpleString}")
    }
    // cast ids to long up front: the adjacency intersect runs through
    // sorted_intersect_count, which type-checks array<bigint> only —
    // without the cast an int/short-id edge list fails at analysis (the
    // cast is a plan no-op when ids are already long)
    val und = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(false)
    val deg = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__d"))
      .localCheckpoint(false)
    // node / edge / wedge counts in ONE aggregate over the bounded
    // degree table (was three separate jobs): edges = Σd / 2 exactly,
    // d(d-1) is always even so halving the exact decimal sums is
    // exact; products run in decimal — a hub degree past ~3e9 would
    // wrap the long square
    val cnt = deg.agg(
      count(lit(1)).as("n"),
      sum(col("__d").cast("decimal(38,0)")).as("sd"),
      sum((col("__d").cast("decimal(38,0)") *
        (col("__d").cast("decimal(38,0)") - 1)).cast("decimal(38,0)")).as("sw"))
      .head()
    val nNodes = cnt.getLong(0)
    val nEdges = cnt.getDecimal(1)
      .divide(java.math.BigDecimal.valueOf(2)).longValueExact()
    val nWedges = cnt.getDecimal(2)
      .divide(java.math.BigDecimal.valueOf(2)).longValueExact()
    val oriented = und
      .join(deg.select(col("node").as("src"), col("__d").as("__ds")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("__d").as("__dd")), Seq("dst"))
      .select(when(col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")),
          struct(col("src").as("a"), col("dst").as("b")))
        .otherwise(struct(col("dst").as("a"), col("src").as("b"))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .localCheckpoint(false) // edge stream + adjacency build read it
    // Adjacency-intersect triangle count (the edge-iterator form of the
    // same degree-ordered orientation): every triangle has exactly one
    // edge (a, b) with both endpoints ranked below the third vertex, so
    // T = Σ over oriented edges |N⁺(a) ∩ N⁺(b)| with the sorted
    // out-neighbor arrays merged by the native sorted_intersect_count.
    // Replaces the round-3 wedge-pair self-join + closure equi-join,
    // which materialized and shuffled Σ C(d⁺,2) wedge rows (19M at
    // sf0.1 — the bench's most expensive single stage) to count the
    // exact same intersections; adjacency arrays stay O(√m) per node
    // under the orientation, so per-edge merge work is the same
    // Schank-Wagner bound without the wedge-row blow-up.
    val adj = oriented.groupBy(col("a").as("node"))
      .agg(sort_array(collect_list(col("b"))).as("__nbrs"))
    val isect = graft.functions.GraftFunctions.sortedIntersectCount(
      spark, col("__na"), col("__nb"))
    val nTriPlan = oriented
      .join(adj.select(col("node").as("a"), col("__nbrs").as("__na")), Seq("a"))
      .join(adj.select(col("node").as("b"), col("__nbrs").as("__nb")), Seq("b"))
      .agg(coalesce(sum(isect), lit(0L)))
    // the registry query returns a LocalTableScan of the eager scalars —
    // this mark is the real triangle-count plan
    graft.core.PlanTrace.mark("triangleStats_count", nTriPlan)
    val nTri = nTriPlan.head().getLong(0)
    def r6(x: Double) = graft.core.Round.r6(x)
    val transitivity = if (nWedges > 0) r6(3.0 * nTri / nWedges) else 0.0
    Seq((nNodes, nEdges, nWedges, nTri, transitivity))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "transitivity")
  }

  /** Per-key load-skew diagnostic: the Gini coefficient of the per-key
    * row-count distribution (0 = perfectly even, → 1 = one key owns
    * everything) plus the count quantiles a partition-sizing decision
    * needs. One row: (n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
    * gini). Gini uses the rank formulation
    * G = 2 * Σ rank_i * c_i / (n * Σ c) - (n + 1) / n over counts
    * ranked ascending (ties broken by key for determinism). */
  def keySkewStats(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
      // lazy: the first consumer (percentiles / rank / aggregate)
      // materializes it — no standalone checkpoint job
      .localCheckpoint(false)
    val ranked = graft.ml.Evaluation.withRowNumber(
      counts, Seq(col("__c"), col("__k")), "__rn")
    val ps = Percentiles.exact(counts, "__c", Seq(0.5, 0.99))
    val agg = ranked.agg(
      count(lit(1)).as("n_keys"), sum("__c").as("n_rows"),
      max("__c").as("max_cnt"),
      sum(col("__rn").cast("double") * col("__c")).as("__rc")).head()
    val (nk, nr, mx, rc) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getDouble(3))
    val gini = 2.0 * rc / (nk.toDouble * nr) - (nk + 1.0) / nk
    Seq((nk, nr, mx,
        graft.core.Round.r6(ps(0.5)),
        graft.core.Round.r6(ps(0.99)),
        graft.core.Round.r6(gini)))
      .toDF("n_keys", "n_rows", "max_cnt", "p50_cnt", "p99_cnt", "gini")
  }
}
