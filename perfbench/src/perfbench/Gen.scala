package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the ten tables graft's declared queries read
  * (`graft.sources.Tables.names`), in the column types Spark reads from
  * the project's reference parquet: TPC-H-shaped relational tables, an
  * `events` stream, a `documents` corpus with planted near-duplicates and
  * clustered `embeddings`. Every table is a pure function of (seed, sf):
  * one `SplittableRandom` per table, rows built driver-side in key order.
  *
  * Row counts at sf = 1: customer 150k, supplier 10k, part 200k, orders
  * 1.5M, lineitem ≈ 4 per order, events 1M, documents 50k; embeddings
  * 500 + 15k·sf (64-d, 10 labels). */
object Gen {

  val Vocab: Array[String] = ("a batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window vector stream merge table join " +
    "data customer row the index").split(" ")

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val colors = Array("red", "blue", "green", "small", "large", "shiny", "matte")
  private val nouns = Array("ring", "widget", "bolt", "gear", "spring", "valve")
  private val types = Array("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val langs = Array("en", "de", "fr", "es", "zh")
  private val epochDay0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int, documents: Int, vectors: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customers = (150000 * sf).toInt.max(10),
    suppliers = (10000 * sf).toInt.max(5),
    parts = (200000 * sf).toInt.max(10),
    orders = (1500000 * sf).toInt.max(10),
    events = (1000000 * sf).toInt.max(10),
    documents = (50000 * sf).toInt.max(10),
    vectors = 500 + (15000 * sf).toInt)

  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L + table.hashCode)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Orders rows in key order: (o_orderkey, o_custkey, o_orderstatus,
    * o_totalprice, o_orderdate, o_orderpriority). */
  def orders(seed: Long, n: Sizes): (StructType, Seq[Row]) = {
    val r = rng(seed, "orders")
    val schema = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)))
    val rows = (0 until n.orders).map { k =>
      Row(k.toLong, r.nextInt(n.customers).toLong, pick(r, Array("F", "O", "P")),
        money(r, 1000, 500000), epochDay0.plusDays(r.nextInt(2404)), pick(r, priorities))
    }
    (schema, rows)
  }

  /** One to seven lines per order, shipped 1–120 days after it. */
  def lineitem(seed: Long, n: Sizes, orders: Seq[Row]): (StructType, Seq[Row]) = {
    val r = rng(seed, "lineitem")
    val schema = StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType)))
    val rows = orders.flatMap { o =>
      val date = o.getAs[LocalDateTime](4)
      (1 to 1 + r.nextInt(7)).map { line =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.getLong(0), r.nextInt(n.parts).toLong, r.nextInt(n.suppliers).toLong, line,
          qty, math.round(qty * (900 + r.nextInt(1100)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Array("A", "N", "R")),
          pick(r, Array("F", "O")), date.plusDays(1 + r.nextInt(120)))
      }
    }
    (schema, rows)
  }

  /** Every table the declared queries read, as (name, schema, rows). */
  def all(seed: Long, sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val n = sizes(sf)
    val region = (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    val nation = (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = {
      val r = rng(seed, "customer")
      (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until n.customers).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
          money(r, -999, 9999), pick(r, segments))))
    }
    val supplier = {
      val r = rng(seed, "supplier")
      (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until n.suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
          money(r, -999, 9999))))
    }
    val part = {
      val r = rng(seed, "part")
      (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
        (0 until n.parts).map(k => Row(k.toLong, pick(r, colors) + " " + pick(r, nouns),
          s"Brand#${1 + r.nextInt(25)}", pick(r, types), 1 + r.nextInt(50),
          900 + (k % 1000) / 10.0)))
    }
    val (oSchema, oRows) = orders(seed, n)
    val (lSchema, lRows) = lineitem(seed, n, oRows)
    val events = {
      val r = rng(seed, "events")
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      var micros = 0L
      (StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
        (0 until n.events).map { k =>
          micros += 1000000L + r.nextLong(300000000L)
          Row(k.toLong, t0.plusNanos(micros * 1000L),
            r.nextInt((n.events / 66).max(10)).toLong, pick(r, eventTypes),
            money(r, 0, 20), s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    (Seq(("region", region._1, region._2), ("nation", nation._1, nation._2),
      ("customer", customer._1, customer._2), ("supplier", supplier._1, supplier._2),
      ("part", part._1, part._2), ("orders", oSchema, oRows), ("lineitem", lSchema, lRows),
      ("events", events._1, events._2)) :+ documents(seed, n)) :+ embeddings(seed, n)
  }

  /** A corpus where a fifth of the documents are near-copies of an
    * earlier one (one to three words substituted) and one in twenty an
    * exact copy, so the dedup and similarity operators find real pairs. */
  private def documents(seed: Long, n: Sizes): (String, StructType, Seq[Row]) = {
    val r = rng(seed, "documents")
    val texts = new Array[String](n.documents)
    val rows = (0 until n.documents).map { k =>
      val roll = r.nextInt(20)
      val text =
        if (k > 0 && roll == 0) texts(r.nextInt(k))
        else if (k > 0 && roll < 5) {
          val words = texts(r.nextInt(k)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = pick(r, Vocab))
          words.mkString(" ")
        } else Array.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
      texts(k) = text
      Row(k.toLong, text, pick(r, langs), s"src${r.nextInt(20)}", text.length.toLong)
    }
    ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), rows)
  }

  private def embeddings(seed: Long, n: Sizes): (String, StructType, Seq[Row]) = {
    val r = rng(seed, "embeddings")
    val dim = 64
    val centroids = Array.fill(10, dim)(r.nextDouble() * 0.4 - 0.2)
    val rows = (0 until n.vectors).map { k =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(i => (centroids(label)(i) + (r.nextDouble() - 0.5) * 0.1).toFloat)
      Row(k.toLong, v.toSeq, label)
    }
    ("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))), rows)
  }

  /** Writes each table as one parquet file `<dir>/<name>.parquet`, the
    * layout `graft.sources.Tables` and the streaming sources expect. */
  def write(spark: SparkSession, dir: String, tables: Seq[(String, StructType, Seq[Row])]): Unit =
    tables.foreach { case (name, schema, rows) =>
      val tmp = Paths.get(dir, s".$name.tmp")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
      val file = try part.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      Files.move(file, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      graft.sources.TableCatalog.deleteRecursively(tmp)
    }
}
