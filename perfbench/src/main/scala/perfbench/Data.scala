package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One order of the star schema. Dates are epoch days (UTC). */
final case class Order(key: Long, cust: Long, status: String, total: Double,
    date: Int, priority: String)

/** One lineitem; (order, num) is its key. */
final case class Line(order: Long, part: Long, supp: Long, num: Int, qty: Double,
    ext: Double, disc: Double, tax: Double, flag: String, status: String, ship: Int)

/** The base tables the benchmark runs on: a TPC-H-like star schema plus the
  * `events`, `documents` and `embeddings` tables, in the layout the engine
  * reads (`<dir>/<table>.parquet`). They come from a fixed generator seed,
  * so every run and every workload seed sees the same base data; the
  * workload seed only drives the streams in [[Streams]].
  */
object Data {
  val BaseSeed = 42L
  val Customers = 1500
  val Parts = 2000
  val Suppliers = 100
  val Orders = 15000
  val Events = 10000
  val Documents = 500
  val Vectors = 500
  val Dim = 64
  val Labels = 10

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val Vocabulary: Seq[String] = ("a the join hash row batch scan column customer filter small " +
    "slow merge order vector line table data agg value key stream window spark part " +
    "group big sort query fast").split(" ").toSeq
  val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val PartNames = for (a <- Seq("small", "red", "blue", "hot", "old", "large", "green", "cold");
    b <- Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")) yield s"$a $b"

  /** First order date (1995-01-01) and the span of order dates in days. */
  val FirstDay: Int = java.time.LocalDate.of(1995, 1, 1).toEpochDay.toInt
  val DaySpan = 2404

  /** Orders and their lineitems; customers whose key is a multiple of 3
    * place none, so some customers stay inactive as in TPC-H. */
  def orders(rng: Random, keys: Range): (Seq[Order], Seq[Line]) = {
    val os = keys.map(k => randomOrder(rng, k))
    (os.map(_._1), os.flatMap(_._2))
  }

  def randomOrder(rng: Random, key: Long): (Order, Seq[Line]) = {
    var cust = rng.nextInt(Customers).toLong
    while (cust % 3 == 0) cust = rng.nextInt(Customers).toLong
    val date = FirstDay + rng.nextInt(DaySpan)
    val lines = (1 to 1 + rng.nextInt(7)).map(n => randomLine(rng, key, n, date))
    val o = Order(key, cust, Seq("F", "O", "P")(rng.nextInt(3)),
      cents(lines.map(l => l.ext * (1 + l.tax)).sum), date, Priorities(rng.nextInt(5)))
    (o, lines)
  }

  def randomLine(rng: Random, order: Long, num: Int, orderDate: Int): Line = {
    val part = rng.nextInt(Parts).toLong
    val qty = (1 + rng.nextInt(50)).toDouble
    Line(order, part, rng.nextInt(Suppliers).toLong, num, qty,
      cents(qty * (900 + (part % 1000) / 10.0 + rng.nextInt(1100))),
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
      orderDate + 1 + rng.nextInt(121))
  }

  def cents(x: Double): Double = math.rint(x * 100) / 100

  /** The in-memory model of the base orders and lineitems. */
  lazy val base: (Seq[Order], Seq[Line]) = orders(new Random(BaseSeed), 0 until Orders)

  def ts(day: Int): Timestamp = new Timestamp(day * 86400000L)

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, o.total, ts(o.date), o.priority)

  def lineRow(l: Line): Row = Row(l.order, l.part, l.supp, l.num, l.qty, l.ext, l.disc,
    l.tax, l.flag, l.status, ts(l.ship))

  /** Rows and schema of every base table, by table name. */
  def tables(): Seq[(String, StructType, Seq[Row])] = {
    val rng = new Random(BaseSeed + 1)
    val (os, ls) = base
    val customer = (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      rng.nextInt(25), cents(rng.nextDouble() * 10000 - 1000), Segments(rng.nextInt(5))))
    val supplier = (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
      rng.nextInt(25), cents(rng.nextDouble() * 10000 - 1000)))
    val part = (0 until Parts).map(i => Row(i.toLong, PartNames(rng.nextInt(PartNames.size)),
      s"Brand#${1 + rng.nextInt(25)}", PartTypes(rng.nextInt(PartTypes.size)),
      1 + rng.nextInt(50), 900 + (i % 1000) / 10.0))
    val events = (0 until Events).map { i =>
      Row(i.toLong, new Timestamp(1704067200000L + i * 259200L + rng.nextInt(259200)),
        rng.nextInt(150).toLong, EventTypes(rng.nextInt(5)), cents(rng.nextDouble() * 490 + 0.01),
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      // One document in twenty repeats an earlier one with a marker word
      // appended, so the dedup kernels have near-duplicates to find.
      docs += (if (i > 20 && i % 20 == 7) docs(rng.nextInt(i)) + " dup"
        else Seq.fill(8 + rng.nextInt(70))(Vocabulary(rng.nextInt(Vocabulary.size))).mkString(" "))
    }
    val documents = docs.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rng.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }.toSeq
    val centroids = Seq.fill(Labels)(unit(Array.fill(Dim)(rng.nextGaussian())))
    val embeddings = (0 until Vectors).map { i =>
      val label = rng.nextInt(Labels)
      val noise = unit(Array.fill(Dim)(rng.nextGaussian()))
      val v = unit(Array.tabulate(Dim)(d => 0.62 * centroids(label)(d) + noise(d)))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    Seq(
      ("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))), Regions.indices.map(i => Row(i, Regions(i)))),
      ("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))), part),
      ("orders", ordersSchema, os.map(orderRow)),
      ("lineitem", lineitemSchema, ls.map(lineRow)),
      ("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))), events),
      ("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
        embeddings))
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Tables the refresh workload rewrites; the others are copied as-is. */
  val Rewritten = Set("orders", "lineitem")

  /** Writes the base tables under `dir` unless a previous run already did;
    * a marker file records a complete write. */
  def ensure(spark: SparkSession, dir: java.io.File): Unit = {
    val done = new java.io.File(dir, "_COMPLETE")
    if (!done.exists()) {
      Files.delete(dir)
      tables().foreach { case (name, schema, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(new java.io.File(dir, s"$name.parquet").getPath)
      }
      java.nio.file.Files.createFile(done.toPath)
    }
  }
}

/** Small file-tree helpers for the benchmark's working directory. */
object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }

  def copy(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copy(c, new java.io.File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}
