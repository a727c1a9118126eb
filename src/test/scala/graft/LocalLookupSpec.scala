package graft

import java.nio.file.{Files, Paths}

import graft.sources.{CatalogCodec, TableCatalog}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL front's local read route (`TableCatalog.bindRead`): a
  * SELECT table whose pruned files are small is decoded on the driver
  * into a LocalRelation and collected with no Spark job; above the cap
  * Spark scans the files. Every spec forces a route by table size:
  * catalog A holds only the real rows (far under the cap), catalog B
  * the same real rows plus padding rows in the same files (every kept
  * file over the cap). Both catalogs run the same statement history,
  * so their global versions agree, and every query excludes the
  * padding with `NOT pad`, a predicate the prune never extracts. */
class LocalLookupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // a session of its own, in a non-UTC time zone: timestamp literals
  // and rendered timestamps must agree across routes there too
  private lazy val session: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("ts", TimestampType),
    StructField("s", StringType), StructField("sn", StringType),
    StructField("pad", BooleanType)))

  /** Rows with ids in [from, until): NULL keys, NULL/NaN/−0.0/0.0
    * doubles, decimals, hourly timestamps, strings and numeric-looking
    * strings. `pad` rows reuse the real rows' keys, so they land in
    * the same key-range files. */
  private def rows(from: Long, until: Long, pad: Boolean, withX: Boolean): DataFrame = {
    val n = until - from
    val id = if (pad) col("id") % n + from else col("id")
    session.range(if (pad) 0 else from, if (pad) 100000L * 4 else until).select(Seq(
      when(id % 97 === 13, lit(null)).otherwise(id).as("k"),
      (when(id % 50 === 0, lit(Double.NaN)).when(id % 50 === 1, lit(-0.0))
        .when(id % 50 === 2, lit(0.0)).when(id % 50 === 3, lit(null))
        .otherwise(id * 0.5)).as("d"),
      (id * 0.25).cast(DecimalType(10, 2)).as("dec"),
      timestamp_seconds(lit(1704067200L) + id * 3600).as("ts"),
      format_string("s%05d", id).as("s"),
      format_string("%04d", id % 1000).as("sn"),
      lit(pad).as("pad")) ++ (if (withX) Seq((id * 2).cast(LongType).as("x")) else Nil): _*)
  }

  /** One catalog through the shared history; `padded` adds the
    * padding rows to both inserts of `t`. Returns the session and the
    * global version just before the pruned UPDATE. */
  private def build(padded: Boolean): (GraftSQL, Long) = {
    val cat = new TableCatalog(session,
      Files.createTempDirectory("graft-local").toString)
    val g = new GraftSQL(session, cat)
    cat.createTable("t", schema, indexes = Seq("k"))
    cat.createTable("u", StructType(Seq(
      StructField("k", LongType), StructField("name", StringType))))
    def batch(from: Long, until: Long, withX: Boolean) = {
      val r = rows(from, until, pad = false, withX)
      if (padded) r.unionByName(rows(from, until, pad = true, withX)) else r
    }
    cat.insert("t", batch(0, 1000, withX = false))
    cat.insert("u", session.range(0, 100)
      .select(col("id").as("k"), format_string("u%d", col("id")).as("name")))
    g.execute("ALTER TABLE t ADD COLUMN x INTEGER")
    cat.insert("t", batch(1000, 1200, withX = true))
    val before = cat.globalVersion()
    g.execute("UPDATE t SET d = 99.5 WHERE k = 5 AND NOT pad")
    g.execute("CREATE VIEW tv AS SELECT k, d, x FROM t WHERE NOT pad")
    (g, before)
  }

  private lazy val (small, smallG) = build(padded = false)
  private lazy val (big, bigG) = build(padded = true)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def route(g: GraftSQL, t: String): TableCatalog.ReadRoute =
    g.lastRoutes(t).read.getOrElse(fail(s"no catalog route for $t: ${g.lastRoutes}"))

  /** Rows of `sql` on both catalogs, asserting that `t`, when the
    * statement binds it, went local on A and to Spark on B. */
  private def both(sql: String, t: String = "t"): (Seq[String], Seq[String]) = {
    val a = sorted(small.execute(sql))
    val aRoute = small.lastRoutes.get(t).map(_ => route(small, t))
    val b = sorted(big.execute(sql))
    val bRoute = big.lastRoutes.get(t).map(_ => route(big, t))
    aRoute.foreach(r => assert(r.localRows.isDefined, s"A must read $t locally: $sql $r"))
    bRoute.foreach(r => assert(r.localRows.isEmpty && r.footerRows.exists(_ > (1L << 16)),
      s"B must scan $t on Spark: $sql $r"))
    (a, b)
  }

  /** `DriverWriteSpec`'s hostile types over ids in [0, n): keys
    * `id % 1000`, NULL/NaN/−0.0/0.0 doubles, DECIMALs, STRINGs with NUL,
    * é, 日本 and emoji, TIMESTAMP_NTZ before 1901 and in a leap year, and
    * an all-NULL column. */
  private def hostile(n: Long, pad: Boolean): DataFrame = {
    val id = col("id")
    def pick(vals: Column*) = element_at(array(vals: _*), (id % vals.size + 1).cast(IntegerType))
    session.range(0, n).select((id % 1000).as("k"),
      pick(lit(null).cast(DoubleType), lit(Double.NaN), lit(-0.0), lit(0.0), lit(1.5), lit(-2.0)).as("d"),
      pick(Seq("1.000", null, "-0.5", "99999.999").map(v => lit(v).cast(DecimalType(12, 3))): _*).as("dec"),
      pick(Seq(null, "", "a\u0000", "é", "日本", "😀").map(v => lit(v).cast(StringType)): _*).as("s"),
      pick(lit(null).cast(TimestampNTZType), lit(java.time.LocalDateTime.of(1900, 1, 1, 0, 0)),
        lit(java.time.LocalDateTime.of(2024, 2, 29, 12, 34, 56, 789000000))).as("ts"),
      lit(null).cast(StringType).as("z"), lit(pad).as("pad"))
  }

  private def jobsOf[A](tag: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "local lookup job count")
    val out = try body finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(tag).length)
  }

  test("every SELECT shape returns the same rows on the local and the Spark route") {
    assert(smallG == bigG, "both catalogs ran the same history")
    // the pruned UPDATE left the rewritten file's siblings listed by file
    val cur = small.catalog.currentVersion("t")
    def files(v: Int): Seq[String] = CatalogCodec.readManifest(
      Paths.get(small.catalog.root, "t", "versions", s"v$v.json")).files.map(_.path)
    val rewritten = files(cur - 1).diff(files(cur))
    val dirOf = (f: String) => f.take(f.lastIndexOf('/'))
    assert(rewritten.size == 1 && files(cur).exists(f => dirOf(f) == dirOf(rewritten.head)), files(cur))
    val shapes = Seq(
      "point" -> "SELECT * FROM t WHERE k = 17 AND NOT pad",
      "updated key" -> "SELECT k, d FROM t WHERE k = 5 AND NOT pad",
      "range" -> "SELECT k, d, x FROM t WHERE k >= 100 AND k < 140 AND NOT pad",
      "between" -> "SELECT * FROM t WHERE k BETWEEN 990 AND 1010 AND NOT pad",
      "in/or" -> "SELECT k, s FROM t WHERE (k IN (3, 500, 999) OR d = 7.5) AND NOT pad",
      "limit" -> "SELECT k, d FROM t WHERE k = 42 AND NOT pad LIMIT 3",
      "aggregate" -> ("SELECT count(*) AS n, sum(dec) AS sd, min(ts) AS mn, " +
        "max(k) AS mk, count(x) AS cx, count(k) AS ck FROM t WHERE NOT pad"),
      "join" -> ("SELECT t.k, t.d, u.name FROM t JOIN u ON t.k = u.k " +
        "WHERE t.k = 5 AND u.k = 5 AND NOT t.pad"),
      "view" -> "SELECT * FROM tv WHERE k = 9",
      "cte" -> "WITH c AS (SELECT k, d FROM t WHERE k < 50 AND NOT pad) SELECT * FROM c WHERE k > 40",
      "self-join" -> ("SELECT a.k, b.k FROM t a JOIN t b ON a.k = b.k + 1 " +
        "WHERE a.k < 20 AND NOT a.pad AND NOT b.pad"),
      "pre-ALTER file" -> "SELECT k, x FROM t WHERE k = 3 AND NOT pad",
      "post-ALTER file" -> "SELECT k, x FROM t WHERE k = 1003 AND NOT pad",
      "NULL key" -> "SELECT d, s FROM t WHERE k IS NULL AND NOT pad",
      "= NULL" -> "SELECT * FROM t WHERE k = NULL AND NOT pad",
      "NaN" -> "SELECT k, d FROM t WHERE d = NAN AND NOT pad",
      "past max" -> "SELECT k, d FROM t WHERE d > 1e300 AND NOT pad",
      "zero" -> "SELECT k, d FROM t WHERE d = 0.0 AND NOT pad",
      "negative zero" -> "SELECT k, d FROM t WHERE d = -0.0 AND NOT pad",
      "decimal range" -> "SELECT k, dec FROM t WHERE dec >= 10.5 AND dec < 20 AND NOT pad",
      "decimal point" -> "SELECT k, dec FROM t WHERE dec = 12.25 AND NOT pad",
      "timestamp range" -> ("SELECT k, ts FROM t WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-03 00:00:00' AND NOT pad"),
      "timestamp text" -> "SELECT k, ts FROM t WHERE ts = '2024-01-01 05:00:00' AND NOT pad",
      "string point" -> "SELECT k, s FROM t WHERE s = 's00017' AND NOT pad",
      "string range" -> "SELECT k, s FROM t WHERE s >= 's00990' AND s < 's01010' AND NOT pad",
      "string vs number" -> "SELECT k, sn FROM t WHERE sn > 150 AND sn < 160 AND NOT pad")
    for ((shape, sql) <- shapes) {
      val (a, b) = both(sql)
      assert(a == b, s"$shape: routes disagree on $sql\nlocal: ${a.take(5)}\nspark: ${b.take(5)}")
    }
    // the shapes are not vacuous
    val (pt, _) = both("SELECT * FROM t WHERE k = 17 AND NOT pad")
    assert(pt.size == 1)
    val (nan, _) = both("SELECT k, d FROM t WHERE d = NAN AND NOT pad")
    assert(nan.nonEmpty && nan.forall(_.endsWith("|NaN")), nan)
    val (zeros, _) = both("SELECT k, d FROM t WHERE d = 0.0 AND NOT pad")
    assert(zeros.exists(_.endsWith("|-0.0")) && zeros.exists(_.endsWith("|0.0")), zeros)
    val (old, _) = both("SELECT k, x FROM t WHERE k = 3 AND NOT pad")
    assert(old == Seq("3|null"), old)
    val (tsRows, _) = both("SELECT k, ts FROM t WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-03 00:00:00' AND NOT pad")
    assert(tsRows.size == 24, tsRows)
    val (mixed, _) = both("SELECT k, sn FROM t WHERE sn > 150 AND sn < 160 AND NOT pad")
    assert(mixed.nonEmpty, mixed)

    // pinned sessions: READ ONLY at now, and AS OF before the UPDATE
    for (begin <- Seq("BEGIN READ ONLY", s"BEGIN READ ONLY AS OF SYSTEM TIME $smallG")) {
      small.execute(begin); big.execute(begin)
      try {
        for (sql <- Seq("SELECT k, d FROM t WHERE k = 5 AND NOT pad",
            "SELECT k, d FROM t WHERE k BETWEEN 0 AND 30 AND NOT pad")) {
          val (a, b) = both(sql)
          assert(a == b, s"$begin: routes disagree on $sql")
        }
        val (k5, _) = both("SELECT k, d FROM t WHERE k = 5 AND NOT pad")
        assert(k5 == Seq(if (begin.contains("AS OF")) "5|2.5" else "5|99.5"), s"$begin: $k5")
      } finally { small.execute("ROLLBACK"); big.execute("ROLLBACK") }
    }

    // the local copy of hostile-typed rows equals Spark's scan of them
    for ((g, padded) <- Seq(small -> false, big -> true)) {
      val rows = hostile(1000, pad = false)
      g.catalog.createTable("h", rows.schema, indexes = Seq("k"))
      g.catalog.insert("h", if (padded) rows.unionByName(hostile(100000L * 4, pad = true)) else rows)
    }
    for (sql <- Seq("SELECT * FROM h WHERE k = 17 AND NOT pad",
        "SELECT * FROM h WHERE k BETWEEN 100 AND 160 AND NOT pad",
        "SELECT k, d, s FROM h WHERE k < 300 AND d = NAN AND NOT pad")) {
      val (a, b) = both(sql, "h")
      assert(a == b && a.nonEmpty, s"routes disagree on $sql\nlocal: ${a.take(5)}\nspark: ${b.take(5)}")
    }
    val (hr, _) = both("SELECT d, s, z FROM h WHERE k BETWEEN 0 AND 59 AND NOT pad", "h")
    assert(hr.size == 60 && hr.exists(_.startsWith("-0.0|")) && hr.exists(_.contains("|a\u0000|")) &&
      hr.exists(_.contains("|😀|")) && hr.forall(_.endsWith("|null")), hr)
  }

  test("point, range and AS OF SELECTs under the cap run no Spark job; above it they do") {
    val point = "SELECT * FROM t WHERE k = 17 AND NOT pad"
    val range = "SELECT k, d FROM t WHERE k BETWEEN 100 AND 120 AND NOT pad"
    for (sql <- Seq(point, range)) {
      val (a, aJobs) = jobsOf("graft-local-a")(sorted(small.execute(sql)))
      assert(aJobs == 0, s"local route ran $aJobs jobs: $sql")
      assert(route(small, "t").localRows.contains(a.size), small.lastRoutes)
      val (b, bJobs) = jobsOf("graft-local-b")(sorted(big.execute(sql)))
      assert(bJobs >= 1, s"above the cap the SELECT must run on Spark: $sql")
      assert(a == b && a.nonEmpty, s"$sql\nlocal: $a\nspark: $b")
    }
    small.execute(s"BEGIN READ ONLY AS OF SYSTEM TIME $smallG")
    try {
      val (a, aJobs) = jobsOf("graft-local-asof")(sorted(small.execute(point)))
      assert(aJobs == 0 && a.size == 1, s"AS OF point read ran $aJobs jobs")
    } finally small.execute("ROLLBACK")
    // EXPLAIN names the route of each bound table
    val plan = small.execute("EXPLAIN " + point).collect()(0).getString(0)
    assert(raw"KeyLookup: t local 1 rows \(1/\d+ files, \d+ footer rows\)".r
      .findFirstIn(plan).isDefined, plan.take(400))
    val analyzed = small.execute("EXPLAIN ANALYZE " + point).collect()(0).getString(0)
    assert(analyzed.startsWith("KeyLookup: t local 1 rows"), analyzed.take(400))
    val bigPlan = big.execute("EXPLAIN " + range).collect()(0).getString(0)
    assert(raw"IndexLookup: t spark \(\d+/\d+ files, \d+ footer rows over the local cap\)".r
      .findFirstIn(bigPlan).isDefined, bigPlan.take(400))
  }

  test("a file deleted between planning and the local read fails the SELECT") {
    val dir = Files.createTempDirectory("graft-local-gone").toString
    val cat = new TableCatalog(session, dir) {
      override protected def readLocal(m: TableCatalog.TableMeta, name: String,
          files: Seq[String], prune: Option[org.apache.spark.sql.Column]): Seq[InternalRow] = {
        Files.delete(Paths.get(root, name, files.head))
        super.readLocal(m, name, files, prune)
      }
    }
    cat.createTable("t", schema, indexes = Seq("k"))
    cat.insert("t", rows(0, 1000, pad = false, withX = false))
    val g = new GraftSQL(session, cat)
    var result: Option[Array[Row]] = None
    val e = intercept[Exception] {
      result = Some(g.execute("SELECT * FROM t WHERE k >= 0 AND NOT pad").collect())
    }
    assert(result.isEmpty, "no partial result")
    assert(e.isInstanceOf[java.nio.file.NoSuchFileException] ||
      String.valueOf(e.getMessage).contains("parquet"), e.toString)
  }
}
