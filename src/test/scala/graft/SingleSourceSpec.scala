package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the session config, the bench checksum, the LSH
  * banding core, the distributed prefix sum, cache ownership and the
  * driver-side thread pool each live in exactly one place, so every
  * main, the benchmark and the test suite run the same settings and
  * force queries the same way, and every near-dup family buckets and
  * caps the same way: a copy-pasted session setup drifts from the
  * shipped config, a copied band hash or census drifts from its
  * siblings. No SparkSession needed — this is a pure source scan.
  */
class SingleSourceSpec extends AnyFunSuite {

  private def sources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src"))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally stream.close()
  }

  private def hits(pattern: String, under: String = "src"): Seq[Path] = {
    val re = pattern.r
    sources.filter(_._1.startsWith(under))
      .flatMap { case (p, txt) => Seq.fill(re.findAllMatchIn(txt).size)(p) }
  }

  test("SparkSession is built only by core.Sessions") {
    val found = hits("""SparkSession\s*\.\s*builder""")
    assert(found.map(_.toString) == Seq("src/main/scala/graft/core/Sessions.scala"),
      s"SparkSession builders outside core/Sessions.scala: ${found.mkString(", ")}")
  }

  test("the bench checksum aggregate is written once") {
    val found = hits("""bit_xor\(\s*xxhash64\(""")
    assert(found.size == 1, s"checksum copies: ${found.mkString(", ")}")
  }

  test("the MinHash band-struct hash is written once") {
    // struct(band, xxhash64(<the band's signature slots>)) — batch,
    // index and streaming bsig values must come from one place
    val found = hits("""\.as\("band"\),\s*xxhash64\(""", "src/main")
    assert(found.map(_.toString) == Seq("src/main/scala/graft/dedup/Banding.scala"),
      s"band-struct hash copies: ${found.mkString(", ")}")
  }

  test("the distributed prefix sum is written once, in core.PrefixSum") {
    for (fn <- Seq("spark_partition_id", "monotonically_increasing_id",
        "TaskContext.getPartitionId")) {
      val found = hits(fn + """\(\)""", "src/main").distinct
      assert(found.map(_.toString) == Seq("src/main/scala/graft/core/PrefixSum.scala"),
        s"$fn() outside core/PrefixSum.scala: ${found.mkString(", ")}")
    }
    // rank sums (AUC, Mann–Whitney) go through PrefixSum.rankSums; the
    // one running total left under ml/ is the KS statistic's two CDFs
    val running = hits("""PrefixSum\.runningTotals\(""", "src/main/scala/graft/ml")
    assert(running.map(_.toString) == Seq("src/main/scala/graft/ml/Evaluation.scala"),
      s"runningTotals under ml/: ${running.mkString(", ")}")
  }

  test("only core.Materialize caches, persists or unpersists a frame") {
    for (pattern <- Seq("""\.cache\(\)""", """\.persist\(""", """unpersist\(""")) {
      val found = hits(pattern, "src/main").distinct.map(_.toString)
        .filterNot(_ == "src/main/scala/graft/core/Materialize.scala")
      assert(found.isEmpty, s"$pattern outside core/Materialize.scala: ${found.mkString(", ")}")
    }
  }

  test("the over-cap bucket census aggregate is written once") {
    val found = hits(
      """sum\(when\(col\("__n"\) > maxBucketSize, col\("__n"\)\)\)""",
      "src/main")
    assert(found.map(_.toString) == Seq("src/main/scala/graft/dedup/Banding.scala"),
      s"over-cap census copies: ${found.mkString(", ")}")
  }

  test("the SimHash band-key expression is written once") {
    val found = hits("""shiftrightunsigned\(col\("simhash"\)""")
    assert(found.map(_.toString) == Seq("src/main/scala/graft/dedup/Banding.scala"),
      s"SimHash band-key copies: ${found.mkString(", ")}")
  }

  test("driver-side fan-outs share one thread pool, built in core.Par") {
    val found = hits("""newFixedThreadPool\(""")
    assert(found.map(_.toString) == Seq("src/main/scala/graft/core/Par.scala"),
      s"thread pools: ${found.mkString(", ")}")
  }

  test("the runnable mains are Bench, Verify and Probe") {
    val found = hits("""def main\(""", "src/main").map(_.getFileName.toString).sorted
    assert(found == Seq("Bench.scala", "Probe.scala", "Verify.scala"),
      s"mains: ${found.mkString(", ")}")
  }
}
