package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The `registry` workload's tables: the ten tables graft's query registry
  * reads (a TPC-H-like star schema plus events, documents and embeddings),
  * with the schemas and value domains of graft's sf0.01 test data. They
  * are generated from a fixed data seed, so each query's frozen row count
  * holds for every workload seed; the workload seed orders the queries. */
object RegistryData {

  val DataSeed = 42L
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Rows per table at scale factor 0.01. */
  final case class Scale(customer: Int = 1500, supplier: Int = 100, part: Int = 2000,
                         orders: Int = 15000, lineitem: Int = 60000, events: Int = 10000,
                         documents: Int = 500, embeddings: Int = 500)

  private val Words = IndexedSeq("row", "the", "query", "stream", "fast", "spark", "line",
    "small", "customer", "group", "value", "hash", "batch", "sort", "data", "big", "filter",
    "dup", "key", "agg", "scan", "slow", "table", "part", "a", "merge", "window", "order",
    "column", "join", "vector")
  private val Segments = IndexedSeq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val PartTypes = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Adjectives = IndexedSeq("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val Nouns = IndexedSeq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "signup", "error", "view", "purchase")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")

  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private def day(r: java.util.SplittableRandom, fromYear: Int, days: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(fromYear, 1, 1).plusDays(r.nextInt(days)).atStartOfDay())

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** (schema, rows) per table. */
  def tables(s: Scale): Seq[(String, StructType, Seq[Row])] = {
    val r = Rng(DataSeed, 7)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until s.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
      money(-999.99 + r.nextDouble() * 10999.98), Rng.pick(r, Segments)))
    val supplier = (0 until s.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
      money(-999.99 + r.nextDouble() * 10999.98)))
    val part = (0 until s.part).map(i => Row(i.toLong,
      s"${Rng.pick(r, Adjectives)} ${Rng.pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
      Rng.pick(r, PartTypes), 1 + r.nextInt(50), money(900 + (i % 1000) * 0.1)))
    val orders = (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customer).toLong,
      Rng.pick(r, IndexedSeq("P", "O", "F")), money(1000 + r.nextDouble() * 499000),
      day(r, 1995, 2405), Rng.pick(r, Priorities)))
    val lineitem = (0 until s.lineitem).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(s.orders).toLong, r.nextInt(s.part).toLong, r.nextInt(s.supplier).toLong,
        1 + r.nextInt(7), qty, money(qty * (900 + r.nextDouble() * 1200)),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Rng.pick(r, IndexedSeq("A", "N", "R")),
        Rng.pick(r, IndexedSeq("O", "F")), day(r, 1995, 2499))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until s.events).map { i =>
      val ts = new Timestamp(t0 + i.toLong * 30L * 86400000L / s.events + r.nextInt(60000))
      Row(i.toLong, ts, r.nextInt(150).toLong, Rng.pick(r, EventTypes),
        money(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}""")
    }
    val documents = (0 until s.documents).map { i =>
      val text = Seq.fill(10 + r.nextInt(90))(Rng.pick(r, Words)).mkString(" ")
      Row(i.toLong, text, Rng.pick(r, Langs), s"src${r.nextInt(20)}", text.length.toLong)
    }
    val embeddings = (0 until s.embeddings).map { i =>
      val v = Array.fill(64)(r.nextDouble() - 0.5)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    val ts = TimestampType
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", ts),
        f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", ts))),
        lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", ts), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
        embeddings))
  }

  /** Each table as `<name>.parquet/part-0.parquet`: one file with a fixed
    * name, so the directory's bytes depend only on the rows. */
  def write(spark: SparkSession, dir: Path, s: Scale): Unit =
    tables(s).foreach { case (name, schema, rows) =>
      val out = dir.resolve(s"$name.parquet")
      val staging = dir.resolve(s".$name.staging")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.option("compression", "snappy").parquet(staging.toString)
      val files = Files.list(staging)
      val part = try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq finally files.close()
      require(part.length == 1, s"$name: expected one parquet file, got ${part.length}")
      Files.createDirectories(out)
      Files.move(part.head, out.resolve("part-0.parquet"))
      Manifest.deleteTree(staging)
    }

  def ensure(spark: SparkSession, work: Path, s: Scale = Scale()): Path = {
    val dir = Manifest.ensure(work.resolve(s"registry-v1-d$DataSeed-l${s.lineitem}"))(
      write(spark, _, s))
    Tables.foreach(t => require(Files.isDirectory(dir.resolve(s"$t.parquet")),
      s"registry table $t missing from $dir"))
    dir
  }
}
