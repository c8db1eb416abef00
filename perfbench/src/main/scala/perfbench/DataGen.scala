package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten tables the batch queries read
  * (`graft.Tables.names`): a TPC-H-shaped star schema, an `events`
  * click stream, a text corpus with appended-marker near-duplicates,
  * and unit-norm embeddings clustered around ten labels.
  *
  * Row counts follow the scale factor the way the reference data does
  * (lineitem = 6M x sf). The batch tables always use one fixed seed,
  * so the pinned query results in `expected/queries.tsv` stay valid;
  * the benchmark seed varies only the order stream and the admission
  * batches. */
object DataGen {

  val TableSeed = 42L

  private val ts = TimestampNTZType
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("small", "red", "blue", "hot", "old", "big", "shiny", "cold")
  private val nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "clip")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "signup", "error", "view", "purchase")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  /** Table name -> (schema, rows) at scale `sf`. */
  def tables(sf: Double): Seq[(String, StructType, Seq[Row])] = {
    def n(base: Double, min: Int = 1) = math.max(min, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVecs = n(20000, 500)
    val r = new SplittableRandom(TableSeed)

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (nm, i) => Row(i, nm) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99), segments(r.nextInt(5))))
    val supplier = (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99)))
    val part = (0 until nPart).map(i => Row(i.toLong,
      s"${adjectives(r.nextInt(adjectives.length))} ${nouns(r.nextInt(nouns.length))}",
      s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.length)),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val o0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
      Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
      day(r, o0, 2404), priorities(r.nextInt(5))))
    val l0 = LocalDateTime.of(1995, 1, 2, 0, 0)
    val lineitem = (0 until nLines).map(_ => Row(r.nextInt(nOrders).toLong,
      r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
      day(r, l0, 2498)))
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val eventTs = Array.fill(nEvents)((r.nextDouble() * spanMicros).toLong).sorted
    val events = (0 until nEvents).map(i => Row(i.toLong,
      e0.plusNanos(eventTs(i) * 1000L), r.nextInt(nUsers).toLong,
      eventTypes(r.nextInt(5)), money(r, 0.01, 490),
      s"""{"k": ${r.nextInt(100)}}"""))
    // ~5% of documents repeat an earlier document plus a " dup" marker
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i > 20 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val documents = (0 until nDocs).map(i => Row(i.toLong, texts(i),
      langs(r.nextInt(langs.length)), s"src${i % 20}", texts(i).length.toLong))
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val embeddings = (0 until nVecs).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }

    Seq(
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> ts, "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> ts), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType), embeddings))
  }

  /** Writes every table as `<dir>/<name>.parquet` (one file each),
    * the tables concurrently. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables(sf).map { case (name, sch, rows) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.asJava, sch).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Entry point for checking the pinned tables against the DuckDB
    * oracle: `perfbench.DataGen <dir>` writes them at
    * [[Harness.BatchSf]], then `graft.Verify`. */
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(args(0) + "/_work")
    try write(spark, args(0), Harness.BatchSf)
    finally spark.stop()
  }
}
