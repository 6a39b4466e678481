package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the registry's input tables: the TPC-H-like star
  * schema plus `events`, `documents` and `embeddings`, one parquet file
  * per table under `dir`, with the column names, types and value domains
  * the registry queries read. Row counts scale with `sf` as in the
  * TESTDATA.md tables (lineitem = 6e6 x sf). Every table draws from its own
  * `Random`, so one seed always gives the same rows.
  */
object Gen {

  private val Day = 86400000L
  private def utc(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjectives = Array("blue", "old", "small", "new", "red", "large", "hot", "cold")
  private val Nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Statuses = Array("F", "O", "P")
  private val Flags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "signup", "error", "view", "purchase")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Words = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(' ')

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, users: Int, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = {
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000),
      n(15000), n(50000), math.max(500, n(20000)))
  }

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def field(name: String, t: DataType) = StructField(name, t, nullable = true)

  private def tableRandom(seed: Long, table: Int) = new Random(seed * 1000003L + table)

  private val CustomerSchema = StructType(Seq(field("c_custkey", LongType),
    field("c_name", StringType), field("c_nationkey", IntegerType),
    field("c_acctbal", DoubleType), field("c_mktsegment", StringType)))

  private def customerRows(s: Sizes, r: Random): IndexedSeq[Row] =
    (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
      money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length))))

  private val OrderSchema = StructType(Seq(field("o_orderkey", LongType),
    field("o_custkey", LongType), field("o_orderstatus", StringType),
    field("o_totalprice", DoubleType), field("o_orderdate", TimestampType),
    field("o_orderpriority", StringType)))

  private def orderRows(s: Sizes, r: Random): IndexedSeq[Row] = {
    val days = ((utc(2001, 8, 1) - utc(1995, 1, 1)) / Day).toInt + 1
    (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customers).toLong,
      Statuses(r.nextInt(3)), money(r, 1000, 500000),
      new Timestamp(utc(1995, 1, 1) + r.nextInt(days) * Day), Priorities(r.nextInt(5))))
  }

  private val LineitemSchema = StructType(Seq(field("l_orderkey", LongType),
    field("l_partkey", LongType), field("l_suppkey", LongType),
    field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
    field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
    field("l_tax", DoubleType), field("l_returnflag", StringType),
    field("l_linestatus", StringType), field("l_shipdate", TimestampType)))

  private def lineitemRows(s: Sizes, r: Random): IndexedSeq[Row] = {
    val days = ((utc(2001, 11, 4) - utc(1995, 1, 2)) / Day).toInt + 1
    (0 until s.lineitems).map { _ =>
      Row(r.nextInt(s.orders).toLong, r.nextInt(s.parts).toLong,
        r.nextInt(s.suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Flags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
        new Timestamp(utc(1995, 1, 2) + r.nextInt(days) * Day))
    }
  }

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Writes the ten tables under `dir`. */
  def tables(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    Files.createDirectories(dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val s = sizes(sf)
    def rnd(table: Int) = tableRandom(seed, table)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    write("region", StructType(Seq(field("r_regionkey", IntegerType),
      field("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    write("customer", CustomerSchema, customerRows(s, rnd(1)))

    val rs = rnd(2)
    write("supplier", StructType(Seq(field("s_suppkey", LongType),
      field("s_name", StringType), field("s_nationkey", IntegerType),
      field("s_acctbal", DoubleType))),
      (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = rnd(3)
    write("part", StructType(Seq(field("p_partkey", LongType),
      field("p_name", StringType), field("p_brand", StringType), field("p_type", StringType),
      field("p_size", IntegerType), field("p_retailprice", DoubleType))),
      (0 until s.parts).map(i => Row(i.toLong,
        s"${Adjectives(rp.nextInt(Adjectives.length))} ${Nouns(rp.nextInt(Nouns.length))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.length)),
        1 + rp.nextInt(50), math.round(9000 + (i % 1000)) / 10.0)))

    write("orders", OrderSchema, orderRows(s, rnd(4)))

    write("lineitem", LineitemSchema, lineitemRows(s, rnd(5)))

    // events: ids in time order over 30 days, exponential values
    val re = rnd(6)
    val span = 30 * Day * 1000L // micros
    val offsets = Array.fill(s.events)((re.nextDouble() * span).toLong).sorted
    write("events", StructType(Seq(field("event_id", LongType),
      field("ts", TimestampType), field("user_id", LongType), field("event_type", StringType),
      field("value", DoubleType), field("props", StringType))),
      offsets.indices.map { i =>
        val t = new Timestamp(utc(2024, 1, 1) + offsets(i) / 1000)
        t.setNanos(((offsets(i) % 1000000) * 1000).toInt)
        Row(i.toLong, t, re.nextInt(s.users).toLong, EventTypes(re.nextInt(5)),
          math.max(0.01, math.round(-50 * math.log(1 - re.nextDouble()) * 100) / 100.0),
          s"""{"k": ${re.nextInt(100)}}""")
      })

    // documents: bag-of-words text; ~5% near-duplicates (an earlier
    // document plus one word) and a few exact copies for the dedup queries
    val rd = rnd(7)
    val texts = new Array[String](s.documents)
    texts.indices.foreach { i =>
      val u = rd.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.05) texts(rd.nextInt(i)) + " dup"
        else if (i > 0 && u < 0.052) texts(rd.nextInt(i))
        else Seq.fill(10 + rd.nextInt(80))(Words(rd.nextInt(Words.length))).mkString(" ")
    }
    write("documents", StructType(Seq(field("doc_id", LongType),
      field("text", StringType), field("lang", StringType), field("source", StringType),
      field("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), Langs(rd.nextInt(Langs.length)),
        s"src${i % 20}", texts(i).length.toLong)))

    // embeddings: unit-norm 64-d float vectors with a 10-class label
    val rv = rnd(8)
    write("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = true)),
      field("label", IntegerType))),
      (0 until s.embeddings).map { i =>
        val v = Array.fill(64)(rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      })
  }

  /** Supervised table for the `Solution` pipeline, built in memory from
    * the same seeded `orders`, `lineitem` and `customer` rows the table
    * writer produces: per-order lineitem aggregates joined with the order
    * and its customer. The label is a linear rule with seeded signs over
    * the standardized features, cut at its median, with ~10% of the labels
    * flipped by the same seed, so a fitted model lands well above chance
    * but below perfect. Returns the header (`o_orderkey`, the features,
    * `TARGET`) and the rows in key order. */
  def supervised(sf: Double, seed: Long): (Seq[String], IndexedSeq[Seq[Any]]) = {
    val s = sizes(sf)
    val customers = customerRows(s, tableRandom(seed, 1))
    val lines = lineitemRows(s, tableRandom(seed, 5)).groupBy(_.getLong(0))
    def round(x: Double, d: Int) = BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    val features = Seq("o_totalprice", "priority", "n_lines", "sum_qty", "avg_discount",
      "avg_tax", "sum_price", "c_acctbal")
    val base = orderRows(s, tableRandom(seed, 4)).flatMap { o =>
      lines.get(o.getLong(0)).map { ls =>
        o.getLong(0) -> Seq[Double](o.getDouble(3), o.getString(5).take(1).toDouble, ls.size,
          ls.map(_.getDouble(4)).sum, round(ls.map(_.getDouble(6)).sum / ls.size, 4),
          round(ls.map(_.getDouble(7)).sum / ls.size, 4), round(ls.map(_.getDouble(5)).sum, 2),
          customers(o.getLong(1).toInt).getDouble(3))
      }
    }
    // fixed weight magnitudes, seeded signs: every seed gives a label of
    // the same difficulty, so feature selection does comparable work
    val r = new Random(seed)
    val weights = features.indices.map(i => (1.0 - i * 0.12) * (if (r.nextBoolean()) 1 else -1))
    val stats = features.indices.map { i =>
      val xs = base.map(_._2(i))
      val mean = xs.sum / xs.size
      (mean, math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.size))
    }
    val scores = base.map { case (_, xs) =>
      xs.indices.map(i => (xs(i) - stats(i)._1) / stats(i)._2 * weights(i)).sum
    }
    val cut = scores.sorted.apply(scores.size / 2)
    // o_shippriority is constant, as in TPC-H: a feature selection
    // always finds one useless column, which pins its threshold grid
    val rows = base.indices.map { k =>
      val label = (scores(k) > cut) != (r.nextDouble() < 0.1)
      val (key, xs) = base(k)
      (key +: xs.indices.map(i => if (i == 1 || i == 2) xs(i).toLong: Any else xs(i): Any)) ++
        Seq(0, if (label) 1 else 0)
    }
    ("o_orderkey" +: features :+ "o_shippriority" :+ "TARGET", rows)
  }
}
