package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the session config and the bench checksum each live in
  * exactly one place, so every main, the benchmark and the test suite
  * run the same settings and force queries the same way: a copy-pasted
  * session builder drifts from the shipped config. No SparkSession
  * needed — this is a pure source scan.
  */
class SingleSourceSpec extends AnyFunSuite {

  private def sources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src"))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally stream.close()
  }

  private def hits(pattern: String): Seq[Path] = {
    val re = pattern.r
    sources.flatMap { case (p, txt) => Seq.fill(re.findAllMatchIn(txt).size)(p) }
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
}
