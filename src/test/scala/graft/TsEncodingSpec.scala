package graft

import graft.sources.Tables
import graft.streaming.StreamQueries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}

/** The two-encoding reality of the events table (Tables.scala): `ts`
  * has shipped both as TIMESTAMP(NANOS) — which Spark reads as raw
  * LONGs under the legacy nanosAsLong conf — and as plain µs
  * timestamps (tz-naive → TimestampNTZ). Every events consumer must
  * give the SAME answer on either. Round 4 shipped st02 hard-coding
  * the ns-LONG encoding and it crashed on every current testdata
  * generation; this spec writes identical logical events in BOTH
  * encodings and runs the batch sessionization (q26) plus the
  * streaming st01/st02 against each, so that regression cannot
  * come back silently.
  */
class TsEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // µs-precision event times (some with sub-millisecond micros, so a
  // ms-truncating path would diverge); gaps straddle the 30-min
  // session cutoff
  private val baseUs = 1700000000000000L
  private def us(minutes: Long, plusUs: Long = 0L): Long =
    baseUs + minutes * 60000000L + plusUs

  private val rows: Seq[(Long, Long, Long, String, Double, String)] = Seq(
    (1L, 1L, us(0), "click", 1.5, "{}"),
    (2L, 1L, us(5, 123L), "view", 2.25, "{}"),
    (3L, 1L, us(45), "click", 4.0, "{}"),   // >30 min gap → new session
    (4L, 2L, us(10), "view", 0.5, "{}"),
    (5L, 2L, us(20), "click", 1.0, "{}"),
    (6L, 2L, us(120), "error", 3.0, "{}"),  // new session
    (7L, 3L, us(0, 999L), "click", 7.75, "{}"))

  /** Writes `df` as a single `<dir>/events.parquet` FILE (the testdata
    * layout the loaders and st02's byte-copy staging expect). */
  private def stage(df: DataFrame, dir: Path): Unit = {
    val staging = dir.resolve("staging")
    df.coalesce(1).write.parquet(staging.toString)
    val listing = Files.list(staging)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.move(p, dir.resolve("events.parquet"))
      }
    } finally listing.close()
    // no stray staging dir next to events.parquet: the loaders treat
    // the directory as the testdata root
    graft.sources.TableCatalog.deleteRecursively(staging)
  }

  private def writeEncoding(tsAsNsLong: Boolean): String = {
    val dir = Files.createTempDirectory(s"graft-enc-${if (tsAsNsLong) "ns" else "ntz"}")
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (tsAsNsLong) LongType else TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val data = rows.map { case (id, uid, tsUs, et, v, props) =>
      val tsVal: Any =
        if (tsAsNsLong) tsUs * 1000L
        else LocalDateTime.ofEpochSecond(
          Math.floorDiv(tsUs, 1000000L), (Math.floorMod(tsUs, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
      Row(id, tsVal, uid, et, v, props)
    }
    stage(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
      schema), dir)
    dir.toString
  }

  private lazy val nsDir = writeEncoding(tsAsNsLong = true)
  private lazy val ntzDir = writeEncoding(tsAsNsLong = false)

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.getTime * 1000L + t.getNanos / 1000 % 1000
      case x => x
    }).sortBy(_.mkString("|"))

  test("Tables.events normalizes both encodings to identical µs timestamps") {
    val ns = Tables.events(spark, nsDir)
    val ntz = Tables.events(spark, ntzDir)
    assert(ns.schema("ts").dataType == TimestampType)
    assert(ntz.schema("ts").dataType == TimestampType)
    assert(canon(ns.select("event_id", "ts")) == canon(ntz.select("event_id", "ts")))
    // µs precision survives: event 2 carries +123µs
    import org.apache.spark.sql.functions.{col, unix_micros}
    val got = ns.filter(col("event_id") === 2L)
      .select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == us(5, 123L))
  }

  test("q26 batch sessionization agrees across encodings") {
    val a = canon(operators.Relational.q26Sessionize(spark, nsDir))
    val b = canon(operators.Relational.q26Sessionize(spark, ntzDir))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("st01 streaming window agrees across encodings") {
    val a = canon(StreamQueries.st01StreamWindow(spark, nsDir))
    val b = canon(StreamQueries.st01StreamWindow(spark, ntzDir))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("st02 streaming sessionization agrees across encodings AND with batch q26") {
    val a = canon(StreamQueries.st02StreamState(spark, nsDir))
    val b = canon(StreamQueries.st02StreamState(spark, ntzDir))
    assert(a == b)
    // the streaming sessions equal the batch gaps-and-islands result
    // (same columns modulo q26's session_id bookkeeping column)
    import org.apache.spark.sql.functions.{col, round}
    val batch = canon(operators.Relational.q26Sessionize(spark, ntzDir)
      .select(col("user_id"), col("start_ts"), col("end_ts"),
        col("n_events").cast("int").as("n_events"),
        round(col("total_value"), 2).as("total_value")))
    assert(a == batch)
    assert(a.size == 5) // 2 + 2 + 1 sessions
  }

  test("st12 native session windows agree across encodings AND with batch q54") {
    val a = canon(StreamQueries.st12StreamSessionWindow(spark, nsDir))
    val b = canon(StreamQueries.st12StreamSessionWindow(spark, ntzDir))
    assert(a == b)
    val batch = canon(operators.Relational.q54SessionWindow(spark, ntzDir))
    assert(a == batch)
    assert(a.size == 5)
  }

  test("st13 aggregate upsert agrees across encodings") {
    val a = canon(StreamQueries.st13StreamAggUpsert(spark, nsDir))
    val b = canon(StreamQueries.st13StreamAggUpsert(spark, ntzDir))
    assert(a == b)
    assert(a.size == 3) // one row per user
  }

  test("normalizeTs raises loudly on a non-nanosecond LongType ts") {
    // a hypothetical generation shipping raw µs longs must fail, not
    // silently divide into year-1970 timestamps
    val dir = Files.createTempDirectory("graft-enc-bad")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val data = new java.util.ArrayList[Row]()
    data.add(Row(1L, baseUs, 1L, "click", 1.0, "{}")) // µs magnitude, NOT ns
    stage(spark.createDataFrame(data, schema), dir)
    val e = intercept[Exception] {
      Tables.events(spark, dir.toString).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("epoch-ns range")), e.toString)
  }

  test("a bare newSession reads a TIMESTAMP(NANOS) events file through Tables.events") {
    // the legacy nanosAsLong key rides the context that GraftSession's
    // builder made, so a session that prepare() never touched reads the
    // file, and no loader has to set the key on the session
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-enc-nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val out = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, uid, tsUs, et, v, props) =>
      out.write(groups.newGroup().append("event_id", id).append("ts", tsUs * 1000L)
        .append("user_id", uid).append("event_type", et).append("value", v).append("props", props))
    } finally out.close()
    val bare = spark.newSession()
    val got = Tables.events(bare, dir.toString)
    assert(got.schema("ts").dataType == TimestampType)
    assert(canon(got.select("event_id", "ts")) ==
      canon(Tables.events(spark, ntzDir).select("event_id", "ts")))
  }
}
