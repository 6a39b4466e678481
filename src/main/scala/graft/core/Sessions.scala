package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the graft engine: every main, the
  * benchmark mains and the test suite build their session here, so
  * correctness runs, timings and unit tests all run the shipped plans.
  *
  * Settings chosen for scale (see SURVEY.md §4/§7): AQE on (runtime
  * re-planning, skew-join splitting, shuffle coalescing), UTC session
  * timezone (oracle parity), shuffle partitions sized to the local core
  * count rather than the 200 default.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else every available processor. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(graft.functions.GraftFunctions.inject)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 refuses by
      // default; read as epoch-nanos long and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // compiled generated classes are reused only while they stay in
      // this JVM-wide cache; its 100-entry default evicts a pipeline
      // build's ~275 distinct classes before their reuse
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
