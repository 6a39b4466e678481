package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Hand-computed cases + invariants + plan guards for the graph family
  * (`ops/Graph.scala`). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("coOccurrenceEdges: pair weights, input dedup, src < dst") {
    val df = Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 10L), // dup row
      (2L, 10L), (2L, 20L), (3L, 10L)).toDF("b", "i")
    val got = Graph.coOccurrenceEdges(df, "b", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
  }

  test("coOccurrenceEdges: oversized baskets are dropped by the guard") {
    val df = (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)) ++
      Seq((2L, 1L), (2L, 2L))).toDF("b", "i")
    val got = Graph.coOccurrenceEdges(df, "b", "i", maxBasketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 1L)) // only the size-2 basket survives
    // the guard is loud (the dedup-family contract): the WithStats face
    // reports the dropped basket and its rows
    val (edges, stats) = Graph.coOccurrenceEdgesWithStats(
      df, "b", "i", maxBasketSize = 3)
    val s = stats.head()
    assert((s.getLong(0), s.getLong(1)) == ((1L, 4L)),
      s"one 4-item basket must be reported dropped: $s")
    assert(edges.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap == got, "WithStats edges must equal the default variant's")
    // no drops → explicit (0, 0), not an empty frame
    val z = Graph.coOccurrenceEdgesWithStats(df, "b", "i")._2.head()
    assert((z.getLong(0), z.getLong(1)) == ((0L, 0L)), s"zero-drop stats: $z")
  }

  test("pageRank: star graph matches the hand recurrence, mass is conserved") {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRank(edges, damping = 0.85, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // replicate the recurrence exactly: leaf wdeg 1, hub wdeg 2
    var (hub, leaf) = (1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 3) {
      val hub2 = (1 - 0.85) / 3 + 0.85 * (leaf + leaf)
      val leaf2 = (1 - 0.85) / 3 + 0.85 * (hub / 2)
      hub = hub2; leaf = leaf2
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(1L) == r6(hub * 3))
    assert(got(2L) == r6(leaf * 3) && got(3L) == r6(leaf * 3))
    assert(math.abs((got(1L) + got(2L) + got(3L)) / 3 - 1.0) < 1e-5)
  }

  test("pageRank: uniform on a regular graph") {
    // 4-cycle: every node has the same degree -> rank stays uniform
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getDouble(1))
    got.foreach(r => assert(r == 1.0))
  }

  test("associationRules: hand-computed support / confidence / lift") {
    val df = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("b", "i")
    val got = Graph.associationRules(df, "b", "i", minJoint = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got((10L, 20L)) == ((2L, 0.666667, 0.666667, 1.0)))
    assert(got((20L, 10L)) == ((2L, 0.666667, 1.0, 1.0)))
  }

  test("keySkewStats: hand Gini, quantiles; zero for an even load") {
    val skew = Seq.fill(1)(("a", 0)) ++ Seq.fill(1)(("b", 0)) ++
      Seq.fill(2)(("c", 0)) ++ Seq.fill(4)(("d", 0))
    val r = Graph.keySkewStats(skew.toDF("k", "x"), "k").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 8L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 1.5)   // quantile_cont 0.5 of [1,1,2,4]
    assert(r.getDouble(4) == 3.94)  // quantile_cont 0.99
    assert(r.getDouble(5) == 0.3125)
    val even = Seq(("a", 0), ("a", 0), ("b", 0), ("b", 0))
    assert(Graph.keySkewStats(even.toDF("k", "x"), "k").head().getDouble(5) == 0.0)
  }

  test("triangleStats: hand census on a known graph") {
    // K4 minus edge (3,4) plus pendant (4,5): 2 triangles {1,2,3} and
    // {1,2,4}; degrees 3,3,2,3,1 -> wedges 3+3+1+3+0 = 10;
    // transitivity = 6/10 = 0.6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (4L, 5L)).map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val r = Graph.triangleStats(edges).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 6L)
    assert(r.getLong(2) == 10L, s"wedges ${r.getLong(2)}")
    assert(r.getLong(3) == 2L, s"triangles ${r.getLong(3)}")
    assert(r.getDouble(4) == 0.6)
  }

  test("community size distribution: components over a two-cluster edge set") {
    // {1,2,3} triangle + {7,8} edge -> sizes 3 and 2
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L))
      .toDF("id_1", "id_2")
    val got = graft.dedup.Dedup.duplicateClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(got == Seq(2L, 3L))
  }

  test("triangleStats: triangle-free and empty-wedge graphs") {
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val r = Graph.triangleStats(path).head()
    assert(r.getLong(3) == 0L && r.getDouble(4) == 0.0)
  }

  test("triangleStats: non-integral ids are rejected, not cast into each other") {
    // as strings "7" and "07" are distinct nodes; a cast to long would
    // merge them and turn the edge 7 -> 07 into a self-loop
    val strIds = Seq(("7", "07", 1L), ("7", "8", 1L), ("07", "8", 1L))
      .toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException](Graph.triangleStats(strIds))
    assert(e.getMessage.contains("string"), e.getMessage)
    val dblIds = Seq((1.5, 1.7, 1L)).toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException](Graph.triangleStats(dblIds))
      .getMessage.contains("double"))
  }

  test("graph plans: no nested-loop join anywhere in the executed shapes") {
    val li = core.Tables.lineitem(spark, sf)
    for (df <- Seq(
        Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
        Graph.associationRules(li, "l_orderkey", "l_partkey"))) {
      val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"graph op must stay equi-join:\n$plan")
    }
  }
}
