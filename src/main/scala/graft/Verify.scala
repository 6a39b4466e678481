package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev runs of
    // a subset; the driver always passes exactly two args = full gate)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    var failures = 0
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter(kv => f(kv._1)))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Leave an EMPTY output dir behind: the driver's checker walks
        // dirs, so a missing dir silently drops the row from the
        // correctness artifact — an empty dir instead surfaces as an
        // explicit "no spark output" failure. (Round-7 lesson: 8
        // analysis-time failures were invisible in CORRECTNESS_r07.)
        // Recursive delete: a mid-job write failure leaves a
        // _temporary/ subtree whose nested part-files a recursive
        // checker walk would read as real output.
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(wipe)
          f.delete()
        }
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) wipe(d)
        d.mkdirs()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracles may replay driver-dumped results (e.g. q72 recomputes the
    // CV metric from q31's dumped OOF parquet) — template the absolute
    // out dir in so DuckDB's read_parquet resolves regardless of cwd.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // oracle_sql.json is already on disk, so the checker contract is
    // intact either way — but a nonzero exit adds the missing loud
    // signal for anything watching the process rc.
    if (failures > 0) {
      System.err.println(s"[verify] $failures of ${selected.size} queries failed")
      sys.exit(1)
    }
  }
}
