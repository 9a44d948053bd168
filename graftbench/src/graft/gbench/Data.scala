package graft.gbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Seeded generator for the ten tables `graft.Tables` reads.
  *
  * Shapes and value domains follow the project's synthetic fixture
  * (TPC-H-ish star schema, an `events` change stream, a `documents` corpus
  * and 64-dim unit `embeddings`), so every registered query runs on the
  * output unchanged. Each table is written as one parquet file with one
  * row group, the layout `Tables.load` is tuned for. Event timestamps are
  * whole milliseconds and strictly increase with `event_id`, so the
  * changelog's (ts, seq) order and its offset order agree and the wire's
  * millisecond `ts_ms` loses nothing.
  */
object Data {

  final case class Scale(customers: Int, orders: Int, lineitems: Int, events: Int,
      users: Int, documents: Int, vectors: Int)

  /** Fixed fixture for the query mix: sf0.01-sized events and corpora. */
  val mixScale: Scale = Scale(customers = 150, orders = 1500, lineitems = 6000,
    events = 10000, users = 150, documents = 500, vectors = 500)

  private val vocab = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query fast the")
    .split(" ")
  private val langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.14, "de" -> 0.14, "fr" -> 0.13)
  private val eventTypes = Array("click", "signup", "error", "view", "purchase")
  private val epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z

  private def ts(ms: Long): Timestamp = new Timestamp(ms)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def field(name: String, t: DataType): StructField = StructField(name, t)

  /** `events`: the change-stream surrogate; `gapMs` is the mean spacing of
    * timestamps. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, n: Int, users: Int,
      gapMs: Int = 259000): Unit = {
    val r = new scala.util.Random(seed)
    var t = epoch2024
    val rows = (0 until n).map { i =>
      t += 1 + r.nextInt(2 * gapMs)
      Row(i.toLong, ts(t), r.nextInt(users).toLong, eventTypes(r.nextInt(eventTypes.length)),
        math.max(0.01, cents(-50.0 * math.log(1.0 - r.nextDouble()))), s"""{"k": ${r.nextInt(100)}}""")
    }
    write(spark, dir, "events", StructType(Seq(field("event_id", LongType),
      field("ts", TimestampType), field("user_id", LongType), field("event_type", StringType),
      field("value", DoubleType), field("props", StringType))), rows)
  }

  /** All ten tables at `s`, deterministic in `seed`. */
  def writeAll(spark: SparkSession, dir: String, seed: Long, s: Scale): Unit = {
    val r = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def day(fromYear: Int, years: Int): Timestamp =
      ts(java.time.LocalDate.of(fromYear, 1, 1).plusDays(r.nextInt(365 * years).toLong)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)

    write(spark, dir, "region", StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
      field("c_nationkey", IntegerType), field("c_acctbal", DoubleType), field("c_mktsegment", StringType))),
      (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-999 + r.nextDouble() * 10998), pick(segments))))
    val suppliers = math.max(10, s.customers / 15)
    write(spark, dir, "supplier", StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
      field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999 + r.nextDouble() * 10998))))
    val parts = math.max(200, s.customers * 4 / 3)
    val adj = Seq("red", "old", "cold", "hot", "new", "small", "big", "blue")
    val noun = Seq("bolt", "anvil", "plate", "widget", "gear", "ring", "nut", "spring")
    write(spark, dir, "part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
      field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, s"${pick(adj)} ${pick(noun)}", s"Brand#${1 + r.nextInt(25)}",
        pick(Seq("PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM")), 1 + r.nextInt(50),
        cents(900 + (i % 1000) * 0.1))))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, dir, "orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
      field("o_orderstatus", StringType), field("o_totalprice", DoubleType), field("o_orderdate", TimestampType),
      field("o_orderpriority", StringType))),
      (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customers).toLong, pick(Seq("F", "O", "P")),
        cents(1000 + r.nextDouble() * 499000), day(1995, 6), pick(priorities))))
    write(spark, dir, "lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
      field("l_suppkey", LongType), field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
      field("l_extendedprice", DoubleType), field("l_discount", DoubleType), field("l_tax", DoubleType),
      field("l_returnflag", StringType), field("l_linestatus", StringType), field("l_shipdate", TimestampType))),
      (0 until s.lineitems).map { _ =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(s.orders).toLong, r.nextInt(parts).toLong, r.nextInt(suppliers).toLong, 1 + r.nextInt(7),
          q, cents(q * (900 + r.nextDouble() * 1200)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("F", "O")), day(1995, 6))
      })
    writeEvents(spark, dir, seed + 1, s.events, s.users)

    // documents: random vocabulary text; one in twenty repeats an earlier
    // document with a trailing "dup" token, so the dedup family has
    // near-duplicate pairs to find
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val docs = (0 until s.documents).map { i =>
      val text =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(texts.length)) + " dup"
        else Seq.fill(8 + r.nextInt(83))(pick(vocab.toSeq)).mkString(" ")
      texts += text
      val u = r.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, c), (l, p)) => (l, c + p) }.drop(1)
        .find(_._2 >= u).map(_._1).getOrElse("en")
      Row(i.toLong, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
    write(spark, dir, "documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
      field("lang", StringType), field("source", StringType), field("n_chars", LongType))), docs)
    write(spark, dir, "embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType)), field("label", IntegerType))),
      (0 until s.vectors).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
  }
}
