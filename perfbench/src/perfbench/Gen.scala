package perfbench

import java.time.LocalDate
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload hands to graft is
  * made here from the run's seed: the same seed writes the same rows.
  *
  * The tables follow the shapes of graft's harness tables (the loaders
  * in `graft.Tables` name the columns): independent uniform columns
  * over the same domains, a 30-word token vocabulary for documents
  * with 5% planted "copy + dup" near-duplicates, and unit-norm 64-dim
  * gaussian embeddings with ten labels. */
object Gen {

  /** Row counts of one generated table set. */
  final case class Scale(customers: Int, suppliers: Int, parts: Int,
      orders: Int, lineitems: Int, events: Int, docs: Int, vectors: Int) {
    def users: Int = math.max(15, customers / 10)
  }

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")
  private val langs = Seq("zh", "es", "de", "fr")
  private val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val adjectives = Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100
  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate) =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  private def write(s: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    s.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(n: String, t: DataType) = StructField(n, t)

  /** Write all ten harness tables under `dir`. */
  def tables(s: SparkSession, dir: String, seed: Long, sc: Scale): Unit = {
    write(s, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write(s, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(seed, 1)
    write(s, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), pick(rc, segments))))

    val rs = rng(seed, 2)
    write(s, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = rng(seed, 3)
    write(s, dir, "part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong, s"${pick(rp, adjectives)} ${pick(rp, nouns)}",
        s"Brand#${1 + rp.nextInt(25)}", pick(rp, partTypes), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val ro = rng(seed, 4)
    write(s, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until sc.orders).map(i => Row(i.toLong, ro.nextInt(sc.customers).toLong,
        pick(ro, Seq("P", "O", "F")), money(ro, 1000, 500000),
        day(ro, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)), pick(ro, priorities))))

    val rl = rng(seed, 5)
    write(s, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until sc.lineitems).map(_ => Row(rl.nextInt(sc.orders).toLong,
        rl.nextInt(sc.parts).toLong, rl.nextInt(sc.suppliers).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, money(rl, 900, 105000), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")), pick(rl, Seq("O", "F")),
        day(rl, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))))

    val re = rng(seed, 6)
    val t0 = LocalDate.of(2024, 1, 1).atStartOfDay().toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val span = 30L * 86400L * 1000000L
    val stamps = Array.fill(sc.events)(t0 + re.nextLong(span)).sorted
    write(s, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      stamps.toSeq.zipWithIndex.map { case (us, i) =>
        Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L)),
          re.nextInt(sc.users).toLong, pick(re, eventTypes),
          math.rint(-50.0 * math.log(1.0 - re.nextDouble()) * 100) / 100,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    documents(s, dir, seed, sc.docs)

    val rv = rng(seed, 8)
    write(s, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until sc.vectors).map { i =>
        val v = Array.fill(64)(gauss(rv))
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rv.nextInt(10))
      })
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** The documents table alone: `n` word-salad docs of 10–100 tokens,
    * 44% `en`, sources `src0`..`src19`, 5% of docs an earlier doc's
    * text plus a trailing "dup" token. */
  def documents(s: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val r = rng(seed, 7)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
      val lang = if (r.nextInt(100) < 44) "en" else pick(r, langs)
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    write(s, dir, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), rows)
  }

  /** A GSOD-shaped frame of `nStations` × `days` rows in the shape of
    * `graft.bench.GsodBench.generate`, with `seed` mixed into every row
    * and station hash: a per-station offset plus a seasonal sine shared
    * by temp/max/min (so tomorrow's max is learnable, R² ≈ 0.93), ~2%
    * sentinels per numeric column, and a 40-day visib null run on one
    * station in 50. */
  def gsod(s: SparkSession, nStations: Int, days: Int, seed: Long): DataFrame = {
    val stnBase = pmod(xxhash64(col("sid"), lit(seed), lit(7)), lit(200)) / 10.0 - 10.0
    val season = sin(col("day") * (2.0 * math.Pi / 365.0)) * 15.0
    def noise(k: Int) = pmod(xxhash64(col("h"), lit(k)), lit(100)) / 10.0 - 5.0
    val wet = pmod(xxhash64(col("sid"), lit(seed), lit(11)), lit(4))
    def every(m: Int) = pmod(col("h"), lit(m)) === 0
    s.range(0, nStations.toLong * days, 1, s.sparkContext.defaultParallelism)
      .select((col("id") / days).cast("long").as("sid"), (col("id") % days).cast("int").as("day"))
      .select(format_string("%06d", col("sid")).as("stn"),
        date_add(lit(java.sql.Date.valueOf(LocalDate.of(2023, 1, 1))), col("day")).as("date"),
        col("sid"), col("day"), xxhash64(col("sid"), col("day"), lit(seed)).as("h"))
      .select(
        col("stn"), col("date"),
        when(every(50), 9999.9).otherwise(lit(60.0) + stnBase + season + noise(1)).as("temp"),
        when((pmod(col("sid"), lit(50)) === 0 && col("day").between(100, 140)) || every(47), 999.9)
          .otherwise(lit(1.0) + pmod(col("h"), lit(90)) / 10.0).as("visib"),
        when(every(53), 999.9).otherwise(lit(2.0) + pmod(col("h"), lit(130)) / 10.0).as("wdsp"),
        when(every(59), 999.9).otherwise(lit(5.0) + pmod(col("h"), lit(200)) / 10.0).as("mxpsd"),
        when(every(61), 9999.9).otherwise(lit(70.0) + stnBase + season + noise(2)).as("max"),
        when(every(67), 9999.9).otherwise(lit(45.0) + stnBase + season + noise(3)).as("min"),
        when(every(11), 99.99).otherwise(wet * 0.5 + pmod(col("h"), lit(10)) / 10.0).as("prcp"),
        pmod(col("h"), lit(2)).cast("int").as("fog"),
        (wet + pmod(xxhash64(col("h"), lit(13)), lit(4)) >= 4).cast("int").as("rain_drizzle"),
        every(31).cast("int").as("snow_ice_pellets"),
        every(37).cast("int").as("hail"),
        every(13).cast("int").as("thunder"),
        every(97).cast("int").as("tornado_funnel_cloud"))
  }
}
