package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the read-only corpus every workload runs on: the same
  * tables, column types and value distributions as the engine's test
  * corpus (TPC-H-ish star schema plus `events`, `documents` and
  * `embeddings`), at scale factor `sf` (sf 0.01 = 60k lineitem rows).
  *
  * The corpus is a fixed fixture, not a seeded input: it is drawn from
  * [[CorpusSeed]] on the driver in one thread, so every run on every
  * host writes the same rows and the committed result digests
  * (`expected/digests.json`) stay valid. The workload seed drives only
  * the query sequences and the ingest data. */
object Corpus {
  val CorpusSeed = 42L
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** First event time; ingest appends events after the corpus's last. */
  val EventsStart: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val EventsSpanSeconds: Long = 30L * 24 * 3600
  val OrdersStart: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)

  case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, users: Int, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = {
    def n(atSf1: Double): Int = math.max(1, math.round(atSf1 * sf).toInt)
    Sizes(customers = n(150000), suppliers = n(10000), parts = n(200000),
      orders = n(1500000), lineitems = n(6000000), events = n(1000000),
      users = n(15000), documents = n(50000),
      embeddings = math.max(500, n(20000)))
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  private def day(start: LocalDateTime, r: SplittableRandom, days: Int): LocalDateTime =
    start.plusDays(r.nextInt(days).toLong)

  private def streams: Map[String, SplittableRandom] = {
    val root = new SplittableRandom(CorpusSeed)
    // one independent stream per table, split in a fixed order
    Tables.map(t => t -> root.split()).toMap
  }

  /** The `orders` rows; the ingest workload folds its changes onto them. */
  def orders(sf: Double): Seq[Row] = {
    val z = sizes(sf)
    val r = streams("orders")
    (0 until z.orders).map(i => Row(i.toLong, r.nextInt(z.customers).toLong,
      pick(r, Array("F", "O", "P")), money(r, 1000, 500000),
      day(OrdersStart, r, 2404), pick(r, Priorities)))
  }

  /** Writes every table as one parquet file `<dir>/<table>.parquet`, the
    * layout the engine's readers and `tools/check.py` expect. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val z = sizes(sf)
    val rng = streams
    def save(table: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = Paths.get(dir, s".tmp_$table")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 50000 + 1)),
          schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Main.deleteTree(tmp)
    }

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rng("customer")
      save("customer", StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
        (0 until z.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99), pick(r, Segments)))) }

    { val r = rng("supplier")
      save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
          StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType))),
        (0 until z.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99)))) }

    { val r = rng("part")
      save("part", StructType(Seq(StructField("p_partkey", LongType),
          StructField("p_name", StringType), StructField("p_brand", StringType),
          StructField("p_type", StringType), StructField("p_size", IntegerType),
          StructField("p_retailprice", DoubleType))),
        (0 until z.parts).map(i => Row(i.toLong,
          pick(r, Colors) + " " + pick(r, Nouns), s"Brand#${1 + r.nextInt(25)}",
          pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))) }

    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType),
        StructField("o_orderpriority", StringType))),
      orders(sf))

    { val r = rng("lineitem")
      save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
          StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
          StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
          StructField("l_linestatus", StringType),
          StructField("l_shipdate", TimestampNTZType))),
        (0 until z.lineitems).map(_ => Row(r.nextInt(z.orders).toLong,
          r.nextInt(z.parts).toLong, r.nextInt(z.suppliers).toLong,
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
          math.round(r.nextDouble() * 10) / 100.0, math.round(r.nextDouble() * 8) / 100.0,
          pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
          day(OrdersStart.plusDays(1), r, 2499)))) }

    { val r = rng("events")
      val meanGapMicros = EventsSpanSeconds * 1e6 / z.events
      var t = 0L
      save("events", EventSchema, (0 until z.events).map { i =>
        t += math.max(1L, (-math.log(1 - r.nextDouble()) * meanGapMicros).toLong)
        eventRow(r, i.toLong, EventsStart.plusNanos(t * 1000), z.users)
      }) }

    { val r = rng("documents")
      val base = Array.fill(z.documents) {
        Array.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" ")
      }
      // 5% near-duplicates: another document's text with one extra token
      val text = base.indices.map { i =>
        if (r.nextInt(20) == 0) base(r.nextInt(base.length)) + " dup" else base(i)
      }
      save("documents", StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType), StructField("lang", StringType),
          StructField("source", StringType), StructField("n_chars", LongType))),
        text.indices.map(i => Row(i.toLong, text(i), pick(r, Langs),
          s"src${i % 20}", text(i).length.toLong))) }

    { val r = rng("embeddings")
      save("embeddings", StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType))),
        (0 until z.embeddings).map { i =>
          val v = Array.fill(64)(gaussian(r))
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        }) }
  }

  val EventSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  def eventRow(r: SplittableRandom, id: Long, ts: LocalDateTime, users: Int): Row =
    Row(id, ts, r.nextInt(users).toLong, pick(r, EventTypes),
      math.round(-math.log(1 - r.nextDouble()) * 50 * 100) / 100.0,
      s"""{"k": ${r.nextInt(100)}}""")

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: java.util.Random's nextGaussian is not on SplittableRandom
    val u = 1 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
