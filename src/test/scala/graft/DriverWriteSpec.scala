package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import graft.sources.{CatalogCodec, TableCatalog}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Small DML written on the driver (`TableCatalog.writeData`'s guard):
  * a copy-on-write rewrite or append whose rows are a `LocalRelation`
  * within the local-read caps is written as one parquet file by
  * Spark's own writer on the calling thread, with no Spark job. Parity
  * specs write the same rows once through that route and once through
  * the job route, forced by a source plan Catalyst cannot fold into a
  * `LocalRelation` (`.crossJoin(range(1))`), and compare the files. */
class DriverWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def catalog(): TableCatalog =
    new TableCatalog(spark, Files.createTempDirectory("graft-driverwrite").toString)

  private def jobsOf(tag: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "driver write job count")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(tag).length
  }

  private def rendered(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|"))

  private def files(cat: TableCatalog, t: String): Set[String] =
    cat.planFiles(t, lit(true))._2.toSet

  /** The one file `body` adds to `t`'s snapshot, table-relative. */
  private def added(cat: TableCatalog, t: String)(body: => Any): String = {
    val before = files(cat, t)
    body
    val fresh = files(cat, t) -- before
    assert(fresh.size == 1, s"expected one new file, got $fresh")
    fresh.head
  }

  /** A parquet file as the two routes must leave it: its rows in file
    * order, its footer schema, key-value metadata (the Spark row
    * metadata included) and writer, and the zone maps the manifest
    * keeps for it. */
  private def fileOf(cat: TableCatalog, t: String, rel: String) = {
    val p = Paths.get(cat.root, t).resolve(rel)
    val name = p.getFileName.toString
    assert(name.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), name)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), spark.sessionState.newHadoopConf()))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val manifest = CatalogCodec.readManifest(
      Paths.get(cat.root, t, s"versions/v${cat.currentVersion(t)}.json"))
    val zones = manifest.stats.filter(_.path == rel).map(s => (s.column, s.min, s.max)).sortBy(_._1)
    (rendered(spark.read.parquet(p.toString).collect().toSeq), meta.getSchema.toString,
      meta.getKeyValueMetaData.asScala.toMap, meta.getCreatedBy, zones)
  }

  // index keys with ties, NULL, NaN, −0.0/0.0, equal DECIMALs, multibyte
  // STRINGs and TIMESTAMP_NTZ, and an all-NULL index column; `n` tells
  // tied rows apart, so the file order shows whether the sort is stable
  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("d", DoubleType), StructField("dec", DecimalType(12, 3)),
    StructField("s", StringType), StructField("ts", TimestampNTZType),
    StructField("z", StringType), StructField("n", IntegerType)))
  private val indexes = Seq("d", "dec", "s", "ts", "z")

  // every value of row i depends on i mod 30 only, so 40 rows hold ten
  // pairs tied on every index column
  private def hostile(keys: Seq[Long], salt: Int): Seq[Row] = keys.map { k =>
    val i = (k * 7 + salt).toInt
    val d = Seq[java.lang.Double](null, Double.NaN, -0.0, 0.0, 1.5, -2.0)(i % 6)
    val dec = Seq("1.000", null, "1.0", "-0.5", "99999.999")(i % 5)
    val s = Seq(null, "", "a\u0000", "é", "日本", "😀")((i % 6 + i % 5) % 6)
    val ts = Seq(null, LocalDateTime.of(1900, 1, 1, 0, 0),
      LocalDateTime.of(2024, 2, 29, 12, 34, 56, 789000000))(i % 3)
    Row(k, d, Option(dec).map(new java.math.BigDecimal(_)).orNull, s, ts, null, i % 1000)
  }

  private def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
  private def viaSpark(rows: Seq[Row]): DataFrame = local(rows).crossJoin(spark.range(1)).drop("id")

  test("hostile index keys: the driver and the job write the same file, footer and zone maps") {
    val (d, s) = (catalog(), catalog())
    for (cat <- Seq(d, s)) {
      cat.createTable("h", schema, primaryKey = Some("k"), indexes = indexes)
      cat.insert("h", viaSpark(hostile(0L until 200L, 0)).repartition(4))
    }
    val one = hostile(Seq(1L), 0)
    assert(TableCatalog.localBatch(local(one)).isDefined && TableCatalog.localBatch(viaSpark(one)).isEmpty)
    // new keys past every file: a one-part write of the source alone;
    // then one existing key and one new: a rewrite of the file holding
    // it, read back on the driver on one side and by a scan on the other
    val steps = Seq(hostile(10000L until 10040L, 3),
      hostile(Seq(10005L, 10100L, 10101L), 5))
    for ((rows, i) <- steps.zipWithIndex) {
      var jobs = -1
      val a = added(d, "h") { jobs = jobsOf(s"graft-driverwrite-$i")(d.merge("h", local(rows))) }
      assert(d.lastWrite.exists(w => w.onDriver && w.parts.contains(1)) && jobs == 0,
        s"step $i: ${d.lastWrite}, $jobs jobs")
      val b = added(s, "h")(s.merge("h", viaSpark(rows)))
      assert(s.lastWrite.exists(w => !w.onDriver && w.parts.contains(1)), s"step $i: ${s.lastWrite}")
      val (fa, fb) = (fileOf(d, "h", a), fileOf(s, "h", b))
      assert(fa._1 == fb._1, s"step $i: rows or their order differ\ndriver: ${fa._1}\njob:    ${fb._1}")
      assert(fa._1.size == (if (i == 0) 40 else 42))
      assert(fa._2 == fb._2, s"step $i: footer schema\n${fa._2}\n${fb._2}")
      assert(fa._3 == fb._3 && fa._3.contains("org.apache.spark.sql.parquet.row.metadata"),
        s"step $i: key-value metadata\n${fa._3}\n${fb._3}")
      assert(fa._4 == fb._4)
      assert(fa._5 == fb._5 && fa._5.nonEmpty, s"step $i: zone maps\n${fa._5}\n${fb._5}")
    }
    val all = (c: TableCatalog) => rendered(c.scan("h").collect().toSeq).sorted
    assert(all(d) == all(s) && all(d).size == 242)
  }

  test("cap boundary: a rewrite of LocalReadMaxRows rows stays on the driver, one more goes to Spark") {
    val cap = TableCatalog.LocalReadMaxRows
    val kv = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("k"), (col("id") * 3).as("v"))
    // the same rows on both sides; only the file the UPDATE rewrites
    // (k in [0, cap) or [0, cap]) differs, the other one is untouched
    val (atCap, pastCap) = (catalog(), catalog())
    for ((cat, edge) <- Seq(atCap -> cap, pastCap -> (cap + 1))) {
      cat.createTable("t", kv)
      cat.insert("t", rows(0, edge).coalesce(1))
      cat.insert("t", rows(edge, cap + 1).union(rows(200000, 200010)).coalesce(1))
      assert(files(cat, "t").size == 2)
    }
    val routes = for (cat <- Seq(atCap, pastCap)) yield {
      val jobs = jobsOf(s"graft-driverwrite-cap-${cat.hashCode}")(
        cat.update("t", Map("v" -> (col("v") * 2 + 1)), col("k").between(100, 200)))
      (cat.lastWrite.map(w => (w.onDriver, w.parts)), jobs)
    }
    assert(routes.head == ((Some((true, Some(1))), 0)), routes)
    assert(routes(1)._1 == Some((false, Some(1))) && routes(1)._2 >= 1, routes)
    val (a, b) = (atCap.scan("t"), pastCap.scan("t"))
    assert(a.count() == cap + 11 && b.count() == cap + 11)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.filter(col("k") === 150).head().getLong(1) == 150 * 3 * 2 + 1)
  }

  test("writer A's five verbs and writer B's BEGIN … COMMIT block compile no class and run no job") {
    val g = new GraftSQL(spark, catalog())
    val cat = g.catalog
    val d0 = LocalDateTime.of(1996, 1, 1, 0, 0)
    val orders = spark.range(0, 4000).select(col("id").as("o_orderkey"),
      (col("id") % 1000).as("o_custkey"), lit("O").as("o_orderstatus"),
      (col("id") * 1.25).as("o_totalprice"),
      lit(d0).as("o_orderdate"),
      lit("3-MEDIUM").as("o_orderpriority")).repartition(4)
    cat.createTable("orders", orders.schema, primaryKey = Some("o_orderkey"), indexes = Seq("o_orderkey"))
    cat.insert("orders", orders)
    val lineitem = spark.range(0, 16000).select((col("id") / 4).cast(LongType).as("l_orderkey"),
      (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
      (col("id") % 50 + 1).cast(DoubleType).as("l_quantity"),
      lit(d0).as("l_shipdate")).repartition(4)
    cat.createTable("lineitem", lineitem.schema, indexes = Seq("l_orderkey"))
    cat.insert("lineitem", lineitem)
    assert(files(cat, "orders").size == 4 && files(cat, "lineitem").size == 4)

    var key = 10000000L
    def order(k: Long, r: Int) =
      s"(${k}L, ${r % 1000}L, '${"FOP"(r % 3)}', ${r * 0.25}, " +
        s"TIMESTAMP_NTZ '1996-0${1 + r % 9}-1${r % 10} 00:00:00', '3-MEDIUM')"
    // the statements that ran a Spark job, with the job count
    val jobStatements = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var statements = 0
    def run(sql: String): Unit = {
      statements += 1
      val jobs = jobsOf(s"graft-driverwrite-stmt-$statements")(g.execute(sql))
      if (jobs > 0) jobStatements += sql.take(60) -> jobs
    }
    def round(r: Int): Unit = {
      val one = key; key += 1
      run(s"INSERT INTO orders VALUES ${order(one, r)}")
      // five keys inside one file, as writer A's band is: a range across
      // two files rewrites two parts, which stays a Spark job
      val a = Iterator.from(3000 + r * 7).find(a =>
        cat.planFiles("orders", col("o_orderkey").between(a, a + 4))._1.size == 1).get
      run(s"UPDATE orders SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'F' " +
        s"WHERE o_orderkey BETWEEN $a AND ${a + 4}")
      val ten = (0 until 10).map { i => val k = key; key += 1; order(k, r + i) }
      run(s"INSERT INTO orders VALUES ${ten.mkString(", ")}")
      val fresh = key; key += 1
      run(s"MERGE INTO orders VALUES ${order(3500L + r, r + 1)}, ${order(fresh, r + 2)}")
      run(s"DELETE FROM orders WHERE o_orderkey = ${one}")
      run("BEGIN")
      run("INSERT INTO lineitem VALUES " + (1 to 1 + r % 3).map(i =>
        s"(${20000000L + r}L, $i, ${r + i}.0, TIMESTAMP_NTZ '1997-02-0${1 + i} 00:00:00')").mkString(", "))
      run(s"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE l_orderkey = ${3000 + r * 13}")
      run("COMMIT")
    }
    (0 until 2).foreach(round) // warm-up: the first statement of each kind may compile
    val (driver0, spark0) = (g.driverWritten, g.sparkWritten)
    jobStatements.clear()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rounds = 4
    (2 until 2 + rounds).foreach(round)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(compiles == 0, s"$compiles Janino compiles over $rounds rounds")
    assert(jobStatements.isEmpty, s"statements that ran jobs over $rounds rounds: $jobStatements")
    assert((g.driverWritten - driver0, g.sparkWritten - spark0) == ((rounds * 7L, 0L)))
    // every round nets 1 + 10 + 1 − 1 orders rows
    val n = g.execute("SELECT count(*) FROM orders").collect().head.getLong(0)
    assert(n == 4000 + 11 * (2 + rounds))
    val bumped = g.execute("SELECT l_quantity FROM lineitem WHERE l_orderkey = 3039")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(bumped == (0 until 4).map(i => ((3039 * 4 + i) % 50 + 2).toDouble).sorted)
  }
}
