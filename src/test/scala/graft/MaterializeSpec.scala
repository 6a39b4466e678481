package graft

import org.apache.spark.sql.functions._
import graft.core.{Materialize, Memo}

/** Cache ownership: `Materialize.scoped` is the only owner of a
  * CacheManager entry, and no registry query leaves one behind. */
class MaterializeSpec extends SparkSpec {

  // CacheManager.numCachedEntries is private[spark], public in bytecode
  private def cachedEntries(): Int = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
  }

  test("Materialize.scoped releases its entry when the body throws") {
    val df = spark.range(100).withColumn("y", col("id") * 2)
    val before = cachedEntries()
    val err = intercept[IllegalStateException] {
      Materialize.scoped(df, eager = true) { cached =>
        assert(cachedEntries() == before + 1, "the scope holds one entry")
        assert(cached.count() == 100)
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(cachedEntries() == before, "the entry outlived its scope")
  }

  test("Materialize.deferred loads on first use only and releases on exit") {
    val before = cachedEntries()
    var loads = 0
    def load() = { loads += 1; spark.range(50).withColumn("y", col("id") + 1) }
    Materialize.deferred(load()) { _ => assert(cachedEntries() == before) }
    assert(loads == 0, "an unused handle must not load its frame")
    val err = intercept[IllegalStateException] {
      Materialize.deferred(load()) { pinned =>
        assert(pinned.get.count() == 50 && pinned.get.count() == 50)
        assert(loads == 1 && cachedEntries() == before + 1, "one load, one entry")
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(cachedEntries() == before, "the entry outlived its scope")
  }

  test("Materialize.checkpoint keeps a one-partition frame's partitioning") {
    // the exchange puts the plan under adaptive execution, like the CV OOF
    val one = spark.range(100).withColumn("g", col("id") % 3).repartition(1)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").count().queryExecution.executedPlan.toString
    assert(!plan(one).contains("Exchange hashpartitioning"), plan(one))
    // a plain checkpoint forgets the single partition and shuffles again
    assert(plan(one.localCheckpoint()).contains("Exchange"))
    val pinned = Materialize.checkpoint(one)
    assert(!plan(pinned).contains("Exchange"), plan(pinned))
    assert(pinned.groupBy("g").count().count() == 3)
  }

  test("the CV queries leave no cached entry behind") {
    Memo.clear() // every memo slot is built by the queries below
    for (q <- Seq("q31_cv_oof", "q32_cv_scores", "q63_cv_dummy_oof",
        "q72_cv_metric_replay", "q89_bag_oof", "q91_bag_vote")) {
      val before = cachedEntries()
      Bench.checksum(SparkEntry.queries(q)(spark, sf))
      val left = cachedEntries() - before
      assert(left == 0, s"$q left $left cached entries")
    }
  }
}
