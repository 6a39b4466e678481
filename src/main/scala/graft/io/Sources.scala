package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1-S4, S7: sources and sinks in the reference's file formats.
  *
  *  - S1 CSV scan (train/test ingest): header + schema inference with
  *    optional debug row limit (create_solution.py:49-57 `nrows`) and
  *    optional numeric narrowing (preprocessing.py:16-48 downcast).
  *  - S2 OOF-results ingest: read a per-model prediction CSV and
  *    prefix its prediction columns with the model id
  *    (ensembling/ensembler.py:60-101).
  *  - S3 CSV sink with pandas `float_format='%.Nf'` parity
  *    (prediction.py:743-772): floats are rendered through
  *    format_string (codegen'd), header on, one part file (the
  *    reference's artifacts are single files), optionally sorted.
  *  - S4 JSON manifest I/O: tiny control data (feature lists, best
  *    params, OOF manifests — create_solution.py:167-374), driver-side.
  *  - S7 config copy next to results (prediction.py:774-789).
  */
object Sources {

  /** S1: CSV scan. `debugRows` mirrors the `nrows` debug limit — the
    * limit is pushed into the scan by Catalyst. */
  def readCsv(spark: SparkSession, path: String, debugRows: Option[Int] = None,
      downcast: Boolean = false): DataFrame = {
    val base = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    val limited = debugRows.fold(base)(base.limit)
    if (downcast) graft.ops.Preprocess.downcast(limited) else limited
  }

  /** S2: OOF ingest — prediction columns renamed `<modelId>_<col>`,
    * index/target kept as-is for the ensemble join (ensembler.py:85-91). */
  def readOofCsv(spark: SparkSession, path: String, modelId: String,
      keepCols: Set[String]): DataFrame = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    df.columns.foldLeft(df) { (acc, c) =>
      if (keepCols.contains(c)) acc else acc.withColumnRenamed(c, s"${modelId}_$c")
    }
  }

  /** S3: CSV sink with float formatting, one part file (the reference's
    * artifacts are single files). `floatDecimals=None` writes raw
    * doubles (pandas float_format=None path for target_decimals=0,
    * prediction.py:744). `sortBy` orders the rows inside that one
    * partition, so a sorted artifact costs one job: no range-sample job
    * and no exchange, as an `orderBy` before the write would add. Rows
    * are sorted on their unformatted values; ties keep no defined order,
    * so sort on a unique key. The trade-off: `coalesce(1)` is narrow, so
    * the input's last stage (a final aggregation, a window, a join) runs
    * in the same single task as the sort, where an `orderBy` would run
    * it and the sort in parallel. Every sorted caller writes one
    * artifact of one row per id, which fits one task at the workflow's
    * scale; a frame too large for one task should be written unsorted
    * or by a range-partitioned sink. */
  def writeCsv(df: DataFrame, path: String, floatDecimals: Option[Int],
      sortBy: Seq[String] = Nil): Unit = {
    val single =
      if (sortBy.isEmpty) df.coalesce(1) else df.coalesce(1).sortWithinPartitions(sortBy.map(col): _*)
    val formatted = floatDecimals match {
      case Some(d) =>
        val cols = single.schema.fields.map {
          case f if f.dataType == DoubleType || f.dataType == FloatType =>
            format_string(s"%.${d}f", col(f.name)).as(f.name)
          case f => col(f.name)
        }
        single.select(cols.toSeq: _*)
      case None => single
    }
    formatted.write.mode("overwrite").option("header", "true").csv(path)
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Write a driver-side file as Luigi's `LocalTarget` does: into a
    * hidden temp file in the same directory, then one atomic rename, so
    * a crash never leaves a truncated file that a resumed DAG would take
    * for a complete output (Pipeline.complete). */
  private def writeAtomically(path: String)(write: Path => Unit): Unit = {
    val dst = Paths.get(path).toAbsolutePath
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp")
    try {
      write(tmp)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** S4: JSON scalar-map manifest write (driver-side control data). */
  def writeJsonManifest(path: String, entries: Map[String, String]): Unit = {
    val json = entries.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    writeAtomically(path)(Files.writeString(_, json))
  }

  /** S4: JSON string-list write (optimal feature lists,
    * create_solution.py:167-168). Items are escaped like manifest
    * values — a feature name with a quote or comma must round-trip. */
  def writeJsonList(path: String, items: Seq[String]): Unit =
    writeAtomically(path)(Files.writeString(_,
      items.map(s => s""""${esc(s)}"""").mkString("[", ", ", "]")))

  /** Inverse of writeJsonManifest's `esc` — without it, a value
    * containing quotes/backslashes/newlines would not round-trip (the
    * writer escapes, so the reader must unescape). Decodes ALL the
    * standard JSON short escapes, not only the ones the own writer
    * emits: a manifest written by any conforming JSON writer (the
    * reference's Python json emits \t, \r, \b, \f, and may emit the
    * optional \/) must read back byte-identical, not with literal
    * backslash pairs preserved. */
  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case '/' => b += '/'; i += 2
          case 'n' => b += '\n'; i += 2
          case 't' => b += '\t'; i += 2
          case 'r' => b += '\r'; i += 2
          case 'b' => b += '\b'; i += 2
          case 'f' => b += '\f'; i += 2
          case 'u' if i + 6 <= s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => b += c; b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Scan every quoted string out of a flat JSON text, honoring the
    * writer's escapes. A regex split on `,(?="...)` falsely fires on a
    * comma that ENDS a value (the lookahead sees the value's own
    * closing quote), and `split(":", 2)` breaks on a key containing a
    * colon — only a scanner that tracks the in-string state parses the
    * writer's output for every input. */
  private def quotedStrings(txt: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < txt.length) {
      if (txt.charAt(i) == '"') {
        val b = new StringBuilder
        i += 1
        while (i < txt.length && txt.charAt(i) != '"') {
          if (txt.charAt(i) == '\\' && i + 1 < txt.length) {
            b += txt.charAt(i); b += txt.charAt(i + 1); i += 2
          } else { b += txt.charAt(i); i += 1 }
        }
        require(i < txt.length, "unterminated string in JSON manifest")
        i += 1
        out += unesc(b.toString)
      } else i += 1
    }
    out.result()
  }

  /** S4: JSON scalar-map manifest read (inverse of writeJsonManifest;
    * flat string-valued objects only). */
  def readJsonManifest(path: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8").trim
    require(txt.startsWith("{") && txt.endsWith("}"), s"not a JSON object: $path")
    val strings = quotedStrings(txt.substring(1, txt.length - 1))
    require(strings.length % 2 == 0, s"odd string count in JSON object: $path")
    strings.grouped(2).map { case Seq(k, v) => k -> v }.toMap
  }

  /** S4: JSON string-list read (inverse of writeJsonList). */
  def readJsonList(path: String): Seq[String] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8").trim
    require(txt.startsWith("[") && txt.endsWith("]"), s"not a JSON list: $path")
    quotedStrings(txt.substring(1, txt.length - 1))
  }

  /** Columnar sinks/scans beyond the reference's CSV: parquet (used
    * throughout) and ORC, both bucketing-capable Spark-native formats.
    * At 100 TB the artifact tables should be columnar — CSV stays for
    * reference-parity artifacts only. Partition columns cut scan cost
    * for per-fold/per-seed artifact layouts. */
  def writeColumnar(df: DataFrame, path: String, format: String = "parquet",
      partitionBy: Seq[String] = Nil): Unit = {
    require(Set("parquet", "orc").contains(format), s"unsupported: $format")
    val w = df.write.mode("overwrite").format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  def readColumnar(spark: SparkSession, path: String,
      format: String = "parquet"): DataFrame = {
    require(Set("parquet", "orc").contains(format), s"unsupported: $format")
    spark.read.format(format).load(path)
  }

  /** Size-targeted compaction writer: repartition to
    * ceil(estimated bytes / targetFileBytes) before the columnar
    * write, so output files land near the target size instead of
    * one-file-per-input-partition. At 100 TB this is the difference
    * between a healthy table and millions of kilobyte files (or a
    * handful of 100 GB ones): downstream scan parallelism follows the
    * file layout. The size estimate is Catalyst's logical-plan
    * statistics (parquet footer totals propagated through the plan) —
    * cheap and no extra pass; `minPartitions` floors the result so a
    * misestimate can't serialize the write. Round-robin repartition
    * (no shuffle key) keeps sizes even under skew. */
  def writeCompacted(df: DataFrame, path: String, targetFileBytes: Long,
      format: String = "parquet", minPartitions: Int = 1): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = math.max(minPartitions,
      (bytes + targetFileBytes - 1) / targetFileBytes match {
        case n if n > Int.MaxValue => Int.MaxValue
        case n => n.toInt
      })
    writeColumnar(df.repartition(parts), path, format)
  }

  /** S7: copy the config file beside the results for traceability. */
  def copyConfig(srcConfig: String, outDir: String): Unit = {
    val src = Paths.get(srcConfig)
    require(Files.exists(src), s"No config file found in: $srcConfig")
    writeAtomically(Paths.get(outDir).resolve(src.getFileName).toString)(
      Files.copy(src, _, StandardCopyOption.REPLACE_EXISTING))
  }
}
