package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic tables with the schemas and value ranges of
  * the repo's test tables (`region nation customer supplier part orders
  * lineitem events documents embeddings`), written as one parquet file
  * each. The data seed is fixed: the run seed never changes the tables,
  * only how a workload replays them.
  */
object DataGen {
  final case class Sizes(customer: Int, supplier: Int, part: Int,
      orders: Int, lineitem: Int, events: Int, documents: Int,
      embeddings: Int)

  /** sf-style sizes; documents and embeddings bottom out at 500. */
  def sizes(sf: Double): Sizes = {
    def n(base: Int) = math.max(1, math.round(base * sf).toInt)
    Sizes(customer = n(150000), supplier = n(10000), part = n(200000),
      orders = n(1500000), lineitem = n(6000000), events = n(1000000),
      documents = math.max(500, n(50000)),
      embeddings = math.max(500, n(20000)))
  }

  val DataSeed = 42L
  val Vocab: Array[String] = ("a agg batch big column customer data dup " +
    "fast filter group hash join key line merge order part query row " +
    "scan slow small sort spark stream table the value vector window")
    .split(" ")
  private val Colors = Array("blue", "cold", "hot", "new", "old", "red",
    "large", "small")
  private val Things = Array("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Array[String] =
    Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Users = 1500

  private def day(s: String): Long = Timestamp.valueOf(s + " 00:00:00").getTime
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def dayBetween(r: SplittableRandom, lo: String, hi: String) = {
    val (a, b) = (day(lo), day(hi))
    new Timestamp(a + (r.nextLong(b - a) / 86400000L) * 86400000L)
  }

  def events(n: Int, seed: Long = DataSeed): Seq[Row] = {
    val r = new SplittableRandom(seed)
    var t = day("2024-01-01") * 1000L // micros
    val meanGapUs = 30L * 86400L * 1000000L / math.max(n, 1)
    (0 until n).map { i =>
      t += (-math.log(1 - r.nextDouble()) * meanGapUs).toLong
      val ts = new Timestamp(t / 1000)
      ts.setNanos(((t % 1000000L) * 1000L).toInt)
      Row(i.toLong, ts, r.nextInt(Users).toLong,
        EventTypes(r.nextInt(EventTypes.length)),
        math.round(-math.log(1 - r.nextDouble()) * 50 * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def documents(n: Int): Seq[Row] = {
    val r = new SplittableRandom(DataSeed + 7)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 10 && r.nextInt(20) == 0) {
          // near-duplicate of an earlier doc: a few words replaced
          val w = texts(r.nextInt(i)).split(" ")
          (0 until math.max(1, w.length / 20)).foreach(_ =>
            w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
          w.mkString(" ")
        } else
          Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
            .mkString(" ")
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
  }

  private def embeddings(n: Int, dims: Int = 64, labels: Int = 10): Seq[Row] = {
    val r = new SplittableRandom(DataSeed + 11)
    def unit(v: Array[Double]) = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    val centers = Array.fill(labels)(unit(Array.fill(dims)(r.nextDouble() - 0.5)))
    (0 until n).map { i =>
      val l = r.nextInt(labels)
      val v = unit(Array.tabulate(dims)(d =>
        centers(l)(d) * 1.2 + (r.nextDouble() - 0.5) * 0.8))
      Row(i.toLong, v.map(_.toFloat).toSeq, l)
    }
  }

  private def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Writes every table at scale `sf` into `dir`. */
  def writeAll(spark: SparkSession, dir: String, sf: Double): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val s = sizes(sf)
    val r = new SplittableRandom(DataSeed + 1)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))), regions.zipWithIndex.map { case (n, i) =>
      Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until s.customer).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), cents(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))))
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until s.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), cents(r, -999.99, 9999.99))))
    write(spark, dir, "part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until s.part).map(i => Row(i.toLong,
        Colors(r.nextInt(Colors.length)) + " " + Things(r.nextInt(Things.length)),
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until s.orders).map(i => Row(i.toLong,
        r.nextInt(s.customer).toLong, "FOP".charAt(r.nextInt(3)).toString,
        cents(r, 1000, 500000), dayBetween(r, "1995-01-01", "2001-08-01"),
        Priorities(r.nextInt(Priorities.length)))))
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until s.lineitem).map(_ => Row(r.nextInt(s.orders).toLong,
        r.nextInt(s.part).toLong, r.nextInt(s.supplier).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        dayBetween(r, "1995-01-02", "2001-11-04"))))
    write(spark, dir, "events", eventsSchema, events(s.events))
    write(spark, dir, "documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))), documents(s.documents))
    write(spark, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      embeddings(s.embeddings))
  }

  /** Writes only the `events` table at scale `sf` into `dir`. */
  def writeEvents(spark: SparkSession, dir: String, sf: Double): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    write(spark, dir, "events", eventsSchema, events(sizes(sf).events))
  }
}
