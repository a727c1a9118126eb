package graft

import java.nio.file.Files

import graft.sources.TableCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** INSERT and MERGE of a batch already on the driver (a `LocalRelation`,
  * `TableCatalog.localBatch`): checked from its rows and written as its
  * share of the table, against the same rows sent through a plan
  * Catalyst cannot fold into a `LocalRelation`, which takes the
  * Spark-checked route. Each parity spec runs one statement history on
  * two fresh catalogs: `INSERT … VALUES` on one, the same rows as
  * `INSERT … SELECT v.* FROM VALUES … AS v CROSS JOIN range(1)` on the
  * other. Every statement must fail with the same message on both, or
  * publish the same rows on both, each through the route it was sent
  * down. */
class LocalDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def session(): GraftSQL = new GraftSQL(spark,
    new TableCatalog(spark, Files.createTempDirectory("graft-localdml").toString))

  private val insertRe = raw"(?is)INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))\s*VALUES\s+(.*)".r

  /** The Spark-route form of `INSERT INTO t (cols) VALUES rows`. */
  private def viaSelect(stmt: String): String = stmt match {
    case insertRe(t, cols, rows) =>
      s"INSERT INTO $t $cols SELECT v.* FROM VALUES $rows AS v CROSS JOIN range(1)"
    case other => other // BEGIN, COMMIT
  }

  private def outcome(g: GraftSQL, sql: String): Option[String] =
    try { g.execute(sql).collect(); None }
    catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def rows(g: GraftSQL, table: String): Seq[String] =
    rows(g.execute(s"SELECT * FROM $table"))

  /** Two sessions over fresh catalogs, each set up by `setup`. */
  private def pair(setup: GraftSQL => Unit): (GraftSQL, GraftSQL) = {
    val (d, s) = (session(), session())
    setup(d); setup(s)
    (d, s)
  }

  /** `stmt` as written on `d` and in its Spark-route form on `s`: the
    * same error, or the same rows of `table` with each session's write
    * counter moved on its own route. Returns the error, if any. */
  private def same(d: GraftSQL, s: GraftSQL, table: String, stmt: String): Option[String] = {
    val (dw, sw) = (d.driverWrites, s.sparkWrites)
    val a = outcome(d, stmt)
    val b = outcome(s, viaSelect(stmt))
    assert(a == b, s"the routes disagree on: $stmt")
    if (a.isEmpty && insertRe.matches(stmt)) {
      assert(d.driverWrites == dw + 1 && s.sparkWrites == sw + 1,
        s"each session took the route it was sent down: $stmt")
      assert(rows(d, table) == rows(s, table), s"published rows differ after: $stmt")
    }
    a
  }

  private def fails(err: Option[String], msg: String): Unit =
    assert(err.exists(_.contains(msg)), s"expected '$msg', got $err")

  /** `k` BIGINT PRIMARY KEY INDEX, `u` STRING UNIQUE, `v` with a
    * DEFAULT, `p` an FK into `parent`; both tables loaded through a
    * non-local frame, so each is one file per core with disjoint key
    * ranges. */
  private def keyed(g: GraftSQL): Unit = {
    val cat = g.catalog
    cat.createTable("parent", StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("name", StringType))), primaryKey = Some("id"), indexes = Seq("id"))
    cat.insert("parent", spark.range(0, 400).select(col("id"),
      format_string("p%d", col("id")).as("name")).repartition(4))
    cat.createTable("t", StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("u", StringType), StructField("v", StringType), StructField("p", LongType))),
      primaryKey = Some("k"), unique = Seq("u"), defaults = Map("v" -> "dflt"),
      references = Map("p" -> "parent"), indexes = Seq("k"))
    cat.insert("t", spark.range(0, 2000).select(col("id").as("k"),
      format_string("u%05d", col("id")).as("u"), lit("x").as("v"),
      (col("id") % 400).as("p")).repartition(4))
  }

  /** The hostile INSERT history of the parity specs, on `keyed` tables. */
  private def history(d: GraftSQL, s: GraftSQL): Unit = {
    def run(stmt: String) = same(d, s, "t", stmt)
    fails(run("INSERT INTO t (k, u) VALUES (NULL, 'n1')"), "t.k: NOT NULL violated")
    fails(run("INSERT INTO t (k, u) VALUES (5000, 'a'), (5000, 'b')"),
      "t.k: UNIQUE/PRIMARY KEY violated")
    // a clash with a row inside a kept file, then one spanning two files
    fails(run("INSERT INTO t (k, u) VALUES (1234, 'c')"), "t.k: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO t (k, u) VALUES (5001, 'd'), (3, 'e')"),
      "t.k: UNIQUE/PRIMARY KEY violated")
    // a UNIQUE clash inside a file the key range leaves untouched
    fails(run("INSERT INTO t (k, u) VALUES (5002, 'u00007')"), "t.u: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO t (k, u) VALUES (5003, 'dup'), (5004, 'dup')"),
      "t.u: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO t (k, u, p) VALUES (5005, 'o', 399), (5006, 'o2', 400)"),
      "t.p: FK into parent.id violated")
    fails(run("INSERT INTO t (k, u) VALUES ('abc', 'cast')"), "CAST_INVALID_INPUT")
    // past every file's max, NULL UNIQUE and FK values, DEFAULT filling
    assert(run("INSERT INTO t (k, u, p) VALUES (6000, NULL, 12), (6001, NULL, NULL)").isEmpty)
    assert(run("INSERT INTO t (k, u, v, p) VALUES (6002, 'w', 'given', 0)").isEmpty)
    assert(rows(d, "t").exists(_.startsWith("6000|null|dflt|12")), rows(d, "t").takeRight(3))
    // rows an earlier statement wrote (or staged, inside a txn) clash too
    fails(run("INSERT INTO t (k, u) VALUES (6002, 'again')"), "t.k: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO t (k, u) VALUES (6003, 'w')"), "t.u: UNIQUE/PRIMARY KEY violated")
  }

  test("hostile INSERT batches: the driver route publishes and fails exactly as the Spark route") {
    val (d, s) = pair(keyed)
    history(d, s)
    assert(rows(d, "t").size == 2003)
  }

  test("the same hostile history inside BEGIN … COMMIT") {
    val (d, s) = pair(keyed)
    assert(same(d, s, "t", "BEGIN").isEmpty)
    history(d, s)
    assert(same(d, s, "t", "COMMIT").isEmpty)
    assert(rows(d, "t") == rows(s, "t") && rows(d, "t").size == 2003)
  }

  test("DOUBLE, DECIMAL and STRING keys: NaN, signed zeros and scales compare as Spark does") {
    val (d, s) = pair { g =>
      g.catalog.createTable("f", StructType(Seq(StructField("x", DoubleType, nullable = false),
        StructField("n", DecimalType(10, 2)), StructField("s", StringType))),
        primaryKey = Some("x"), unique = Seq("n", "s"), indexes = Seq("x"))
      g.catalog.insert("f", spark.range(0, 40).select((col("id") * 0.5).as("x"),
        (col("id") * 0.25).cast(DecimalType(10, 2)).as("n"),
        format_string("s%02d", col("id")).as("s")).repartition(2))
    }
    def run(stmt: String) = same(d, s, "f", stmt)
    val nan = "CAST('NaN' AS DOUBLE)"
    val negZero = "CAST('-0.0' AS DOUBLE)"
    fails(run(s"INSERT INTO f (x, s) VALUES ($nan, 'a'), ($nan, 'b')"), "f.x: UNIQUE/PRIMARY KEY violated")
    // 0.0 is already a key (id 0)
    fails(run(s"INSERT INTO f (x, s) VALUES ($negZero, 'c')"), "f.x: UNIQUE/PRIMARY KEY violated")
    assert(run(s"INSERT INTO f (x, s) VALUES ($nan, 'nan')").isEmpty)
    fails(run(s"INSERT INTO f (x, s) VALUES ($nan, 'nan2')"), "f.x: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO f (x, n) VALUES (100.5, 1.5), (101.5, 1.50)"),
      "f.n: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO f (x, n) VALUES (100.5, 2.250)"), "f.n: UNIQUE/PRIMARY KEY violated")
    fails(run("INSERT INTO f (x, s) VALUES (100.5, 's07')"), "f.s: UNIQUE/PRIMARY KEY violated")
    assert(run("INSERT INTO f (x, n, s) VALUES (100.5, 99.99, 's7'), (101.5, NULL, 'S07')").isEmpty)
    // -0.0 and 0.0 are one key within a batch too
    val (dz, sz) = pair(_.execute("CREATE TABLE z (x DOUBLE PRIMARY KEY, v STRING)"))
    fails(same(dz, sz, "z", s"INSERT INTO z (x, v) VALUES (0.0, 'a'), ($negZero, 'b')"),
      "z.x: UNIQUE/PRIMARY KEY violated")
  }

  test("MERGE … VALUES: checked on the driver, same rows and errors as a Spark-route source") {
    val (d, s) = pair(keyed)
    def src(values: String): DataFrame = spark.sql(s"SELECT * FROM VALUES $values AS v(k, u, p)")
    /** `values` merged into `t` as a driver batch on `d` and through a
      * join on `s`: the same error or the same rows. */
    def merge(values: String): Option[String] = {
      val a = try { d.catalog.merge("t", src(values)); None }
      catch { case NonFatal(e) => Some(e.getMessage) }
      val b = try { s.catalog.merge("t", src(values).crossJoin(spark.range(1)).drop("id")); None }
      catch { case NonFatal(e) => Some(e.getMessage) }
      assert(a == b, s"the routes disagree on MERGE $values")
      if (a.isEmpty) {
        assert(d.catalog.lastWrite.exists(_.driverChecked) &&
          s.catalog.lastWrite.exists(!_.driverChecked), s"each source took its route: $values")
        assert(rows(d, "t") == rows(s, "t"), s"published rows differ after MERGE $values")
      }
      a
    }
    fails(merge("(CAST(NULL AS BIGINT), 'n', 1L)"), "t.k: NOT NULL violated")
    fails(merge("(7L, 'a', 1L), (7L, 'b', 1L)"), "duplicate keys in source")
    // replaced rows free their UNIQUE values: two rows swap theirs
    assert(merge("(10L, 'u00011', 1L), (11L, 'u00010', 1L)").isEmpty)
    // a UNIQUE value held by a row in an untouched file
    fails(merge("(12L, 'u01999', 1L)"), "t.u: UNIQUE/PRIMARY KEY violated")
    fails(merge("(13L, 'w', 1L), (9000L, 'w', 1L)"), "t.u: UNIQUE/PRIMARY KEY violated")
    fails(merge("(14L, 'y', 4000L)"), "t.p: FK into parent.id violated")
    assert(merge("(15L, 'z', 3L), (9001L, 'new', NULL)").isEmpty)
    assert(rows(d, "t").size == 2001)
  }

  private def jobsOf(tag: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "local dml job count")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(tag).length
  }

  test("job budget: VALUES inserts and merges run ≤ 2 and ≤ 3 jobs; INSERT … SELECT keeps the Spark route") {
    val g = session()
    keyed(g)
    g.execute("CREATE TABLE plain (a INTEGER, b STRING)")
    g.execute("INSERT INTO plain (a, b) SELECT id, 'x' FROM range(100) DISTRIBUTE BY id")
    val tenRows = (7000 until 7010).map(k => s"($k, 'b$k', ${k % 400})").mkString(", ")
    val budget = Seq(
      "INSERT INTO t (k, u, p) VALUES (7100, 'one', 1)" -> 2,
      s"INSERT INTO t (k, u, p) VALUES $tenRows" -> 2,
      "MERGE INTO t (k, u, v, p) VALUES (1990, 'm1990', 'x', 2), (7200, 'm7200', 'x', 3)" -> 3,
      "INSERT INTO plain (a, b) VALUES (1, 'y')" -> 1)
    for (((stmt, _), i) <- budget.zipWithIndex) {
      val jobs = jobsOf(s"graft-localdml-$i")(g.execute(stmt).collect())
      assert(jobs == 0, s"$jobs jobs for: $stmt")
    }
    assert(g.driverWrites == 4 && g.sparkWrites == 1, (g.driverWrites, g.sparkWrites))
    // the same rows through a plan that is not a LocalRelation keep
    // the aggregate checks and the ranged write
    val spark1 = jobsOf("graft-localdml-select")(g.execute(
      "INSERT INTO t (k, u, p) SELECT v.* FROM VALUES (7300, 's7300', 1) AS v CROSS JOIN range(1)"))
    assert(spark1 >= 4 && g.sparkWrites == 2, s"$spark1 jobs on the Spark route")
    val report = g.execute("EXPLAIN ANALYZE INSERT INTO t (k, u) VALUES (7400, 'ea')")
      .collect().head.getString(0)
    assert(report.contains("Write: t driver-checked, 1 part"), report)
  }

  test("a driver MERGE rewrites only the files that hold a source key") {
    val (d, s) = pair(keyed)
    def files(g: GraftSQL) = g.catalog.planFiles("t", lit(true))._2.toSet
    val before = files(d)
    // 20 lies in the first file, 7200 past every file's max: the keys'
    // [min, max] would admit every file between them
    val jobs = jobsOf("graft-localdml-merge-keys")(d.execute(
      "MERGE INTO t (k, u, v, p) VALUES (20, 'm20', 'x', 2), (7200, 'm7200', 'x', 3)").collect())
    assert(jobs == 0, s"$jobs jobs")
    assert(before.size == 4 && (before -- files(d)).size == 1,
      s"rewrote ${(before -- files(d)).size} of ${before.size} files")
    s.catalog.merge("t", spark.sql("SELECT * FROM VALUES (20L, 'm20', 'x', 2L), " +
      "(7200L, 'm7200', 'x', 3L) AS v(k, u, v, p)").crossJoin(spark.range(1)).drop("id"))
    assert(d.driverWrites == 1 && s.catalog.lastWrite.exists(!_.driverChecked))
    assert(rows(d, "t") == rows(s, "t") && rows(d, "t").size == 2001)
  }

  test("a small append adds one file; a bulk VALUES into an empty table spreads over every core") {
    val g = session()
    val cat = g.catalog
    def files(t: String) = cat.planFiles(t, lit(true))._2.size
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    cat.createTable("ix", schema, primaryKey = Some("k"), indexes = Seq("k"))
    cat.createTable("un", schema)
    for (t <- Seq("ix", "un"))
      cat.insert(t, spark.range(0, 1000).select(col("id").as("k"), lit("s").as("s")).repartition(4))
    val (ix0, un0) = (files("ix"), files("un"))
    val ten = (2000 until 2010).map(k => s"($k, 'v')").mkString(", ")
    g.execute(s"INSERT INTO ix (k, s) VALUES $ten")
    g.execute(s"INSERT INTO un (k, s) VALUES $ten")
    assert(files("ix") == ix0 + 1 && files("un") == un0 + 1, (ix0, files("ix"), un0, files("un")))
    val bulk = (0 until 64).map(k => s"($k, 'b')").mkString(", ")
    val cores = spark.sparkContext.defaultParallelism
    for (t <- Seq("ix2", "un2")) {
      cat.createTable(t, schema, indexes = if (t == "ix2") Seq("k") else Nil)
      g.execute(s"INSERT INTO $t (k, s) VALUES $bulk")
      assert(files(t) == cores, s"$t: ${files(t)} files for a bulk load over $cores cores")
      assert(g.execute(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 64)
    }
  }
}
