package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}

import graft.sources.TableCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** How [[Shell]] turns a statement's result into lines
  * (`Shell.resultRows`): a plan that ran on the driver (a folded
  * SELECT) is converted interpreted inside one SQL execution, any other
  * plan is collected. Either way the lines are the ones `collect()`
  * gives, and listeners see one `collect` execution per statement. */
class ShellRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shell(g: GraftSQL, lines: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Shell.run(lines.iterator, new PrintStream(buf, true, "UTF-8"), g, interactive = false)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  /** The lines Shell printed for `df` when it collected every result. */
  private def collected(df: DataFrame, headers: Boolean): Seq[String] =
    (if (headers) Seq(df.columns.mkString("|")) else Nil) ++
      df.collect().toSeq.map(_.toSeq.map {
        case null => "NULL"
        case true => "TRUE"
        case false => "FALSE"
        case v => v.toString
      }.mkString("|"))

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("i", IntegerType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(38, 18)), StructField("s", StringType),
    StructField("b", BooleanType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("arr", ArrayType(IntegerType)), StructField("m", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def dec(s: String) = new java.math.BigDecimal(s)

  // row 0 is NULL in every nullable column; the others hold NaN,
  // ±Infinity and −0.0, 38-digit decimals, dates and timestamps before
  // 1900 and after 2100, NUL, '|', é, 日本 and 😀, and nested values
  // (a map of five entries prints in hash order)
  private val hostile = Seq(
    Row(0L, null, null, null, null, null, null, null, null, null, null, null, null),
    Row(1L, Int.MinValue, Float.NaN, Double.NaN, dec("12345678901234567890.123456789012345678"),
      "a\u0000b", true, java.sql.Date.valueOf("1899-12-31"), ts("1899-12-31 23:59:59.123456"),
      LocalDateTime.of(1850, 1, 1, 0, 0, 0, 1000), Seq(1, null, 3), Map("x" -> 1),
      Row(1, "é")),
    Row(2L, Int.MaxValue, Float.PositiveInfinity, -0.0, dec("-0.000000000000000001"),
      "|日本|", false, java.sql.Date.valueOf(LocalDate.of(2150, 6, 30)),
      ts("2199-12-31 23:59:59.999999"), LocalDateTime.of(2200, 1, 1, 12, 34, 56, 789000000),
      Seq.empty[Int], (1 to 5).map(n => s"k$n" -> n).toMap, Row(null, null)),
    Row(3L, 0, Float.NegativeInfinity, Double.NegativeInfinity, dec("0"), "😀", null,
      java.sql.Date.valueOf("1970-01-01"), ts("1970-01-01 00:00:00"), LocalDateTime.of(1970, 1, 1, 0, 0),
      Seq(null), Map("n" -> null), Row(-1, "|")),
    Row(4L, -1, -0.0f, Double.PositiveInfinity, dec("-99999999999999999999.999999999999999999"),
      "", true, null, null, null, null, Map.empty[String, Int], null))

  private lazy val g: GraftSQL = {
    val cat = new TableCatalog(spark, Files.createTempDirectory("graft-shellrows").toString)
    cat.createTable("h", schema, primaryKey = Some("k"), indexes = Seq("k"))
    cat.insert("h", spark.createDataFrame(hostile.asJava, schema))
    // over the local-read row cap, so a SELECT of it runs on Spark
    cat.createTable("big", StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", DoubleType))))
    cat.insert("big", spark.range(0, TableCatalog.LocalReadMaxRows + 1)
      .selectExpr("id AS k", "CASE WHEN id % 7 = 0 THEN double('NaN') ELSE id * 0.5 END AS v"))
    new GraftSQL(spark, cat)
  }

  test("a folded SELECT prints the lines collect() gives, for hostile values, with and without headers") {
    val foldedSql = Seq(
      "SELECT * FROM h",
      "SELECT * FROM h WHERE k = 1",
      "SELECT k, d, s FROM h WHERE k BETWEEN 2 AND 4",
      "SELECT k, s FROM h WHERE k = -1",
      "SELECT a.k, b.k, a.s, b.m FROM h a JOIN h b ON a.k = b.k WHERE a.k >= 1")
    val sparkSql = Seq(
      "SELECT count(*) AS n, sum(k) AS sk, max(v) AS mv, min(v) AS mn FROM big",
      "SELECT k % 3 AS r, count(*) AS n FROM big GROUP BY k % 3 ORDER BY r")
    for (sql <- foldedSql ++ sparkSql) {
      assert(folded(g.execute(sql)) == foldedSql.contains(sql), s"route of $sql")
      val expected = Seq("Headers enabled") ++ collected(g.execute(sql), headers = true) ++
        Seq("Headers disabled") ++ collected(g.execute(sql), headers = false)
      val got = shell(g, "!headers on", sql + ";", "!headers off", sql + ";")
      assert(got == expected, s"$sql\nshell:   $got\ncollect: $expected")
    }
    // the cases are not vacuous
    val all = shell(g, "SELECT * FROM h;")
    assert(all.size == hostile.size, all)
    assert(all.head == "0" + "|NULL" * 12, all.head)
    assert(all(1).startsWith("1|-2147483648|NaN|NaN|12345678901234567890.123456789012345678|a\u0000b|TRUE|"), all(1))
    assert(all(2).contains("|Infinity|-0.0|-1E-18|") && all(2).contains("|日本|"), all(2))
    assert(all(3).contains("|😀|NULL|"), all(3))
    assert(shell(g, "!headers on", "SELECT k, s FROM h WHERE k = -1;") ==
      Seq("Headers enabled", "k|s"))
    assert(shell(g, "!headers on", "SELECT a.k, b.k FROM h a JOIN h b ON a.k = b.k WHERE a.k = 2;") ==
      Seq("Headers enabled", "k|k", "2|2"))
  }

  test("each folded SELECT is one SQL execution: one start/end pair and one onSuccess(collect)") {
    val session = spark.newSession()
    val sg = new GraftSQL(session, g.catalog)
    val successes = new java.util.concurrent.CopyOnWriteArrayList[(String, QueryExecution)]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        successes.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the suites of a run go one at a time, so every SQL execution on
    // the bus meanwhile is one of this session's
    val starts = new java.util.concurrent.CopyOnWriteArrayList[(Long, String)]()
    val ends = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val busListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s.executionId -> s.physicalPlanDescription)
        case s: SparkListenerSQLExecutionEnd => ends.add(s.executionId)
        case _ =>
      }
    }
    val selects = Seq("SELECT * FROM h WHERE k = 1;", "SELECT k, s FROM h WHERE k BETWEEN 1 AND 3;",
      "SELECT a.k, b.s FROM h a JOIN h b ON a.k = b.k WHERE a.k = 2;", "SELECT k FROM h WHERE k = -1;")
    GraftListenerBridge.flush(session)
    session.listenerManager.register(qeListener)
    session.sparkContext.addSparkListener(busListener)
    val out = try {
      val lines = shell(sg, selects :+ "!status": _*)
      GraftListenerBridge.flush(session)
      lines
    } finally {
      session.sparkContext.removeSparkListener(busListener)
      session.listenerManager.unregister(qeListener)
    }
    val seen = successes.asScala.toSeq
    assert(seen.size == selects.size, seen.map(_._1))
    for ((fn, qe) <- seen) {
      assert(fn == "collect")
      assert(qe.executedPlan.isInstanceOf[LocalTableScanExec], qe.executedPlan)
    }
    val ids = starts.asScala.map(_._1)
    assert(ids.size == selects.size && ids.distinct == ids && ends.asScala.sorted == ids.sorted,
      s"starts $ids, ends $ends")
    assert(starts.asScala.forall(_._2.contains("LocalTableScan")), starts)
    assert(out.contains(s"Statements: ${selects.size} driver, 0 spark"), out)
  }
}
