package graft

import graft.sources.TableCatalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** DDL / DML / MVCC time-travel / transaction semantics
  * (SURVEY.md §2 cat_* rows). */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): TableCatalog = {
    val dir = Files.newTmp()
    new TableCatalog(spark, dir)
  }

  private object Files {
    def newTmp(): String =
      java.nio.file.Files.createTempDirectory("graft-cat").toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("balance", DoubleType)))

  test("history() reads stored manifest counts: correct rows, ZERO Spark jobs") {
    val cat = freshCatalog()
    cat.createTable("h", schema, primaryKey = Some("id"))
    cat.insert("h", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance"))
    cat.insert("h", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))
    cat.delete("h", col("id") === 2L)
    // counts recorded at publish: version 1 = 2 rows, v2 = 3, v3 = 2
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-history-gate")
    spark.sparkContext.setJobGroup("graft-history-gate", "history must be job-free")
    val h = try cat.history("h").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    finally spark.sparkContext.clearJobGroup()
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-history-gate")
    assert(after.length == before.length,
      s"history() ran ${after.length - before.length} Spark job(s); " +
        "counts must come from the manifest")
    assert(h.map(v => (v._1, v._3)).toSeq ==
      Seq((0, 0L), (1, 2L), (2, 3L), (3, 2L)), h.toSeq)
    assert(h.last._4, "newest version is current")
    // a SECOND catalog instance (fresh cache, cross-process analog)
    // still answers from the manifests alone
    val cat2 = new TableCatalog(spark, cat.root)
    spark.sparkContext.setJobGroup("graft-history-gate2", "")
    val h2 = try cat2.history("h").collect().map(_.getLong(2)).sorted
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("graft-history-gate2").isEmpty)
    assert(h2.toSeq == Seq(0L, 2L, 2L, 3L))
  }

  test("create / insert / scan / drop") {
    val cat = freshCatalog()
    cat.createTable("accounts", schema, primaryKey = Some("id"),
      defaults = Map("balance" -> 0.0))
    cat.insert("accounts", Seq((1L, "alice"), (2L, "bob")).toDF("id", "name"))
    val rows = cat.scan("accounts").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.getDouble(2) == 0.0)) // default applied
    cat.dropTable("accounts")
    assert(!cat.exists("accounts"))
  }

  test("primary key violations rejected") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    intercept[IllegalArgumentException] {
      cat.insert("t", Seq((1L, "dup", 2.0)).toDF("id", "name", "balance"))
    }
    intercept[IllegalArgumentException] { // null PK
      cat.insert("t", Seq((null.asInstanceOf[java.lang.Long], "x", 1.0))
        .toDF("id", "name", "balance"))
    }
    assert(cat.scan("t").count() == 1) // failed inserts not published
  }

  test("update rewrites only matching rows; set exprs see the old row") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "balance"))
    cat.update("t", Map("balance" -> (col("balance") * 2)), col("id") === 2)
    val byId = cat.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId == Map(1L -> 10.0, 2L -> 40.0))
  }

  test("delete with where; null predicate keeps row") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 10.0), (2L, null, 20.0)).toDF("id", "name", "balance"))
    cat.delete("t", col("name") === "a") // null for id=2 → kept
    assert(cat.scan("t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("MVCC time travel: asOf reads old snapshots after DML") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))   // v1
    cat.insert("t", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))   // v2
    cat.delete("t", col("id") === 1)                                     // v3
    assert(cat.currentVersion("t") == 3)
    assert(cat.asOf("t", 0).count() == 0)
    assert(cat.asOf("t", 1).count() == 1)
    assert(cat.asOf("t", 2).count() == 2)
    assert(cat.scan("t").count() == 1)
  }

  test("txn: commit publishes, rollback leaves table untouched") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))

    val t1 = cat.begin()
    t1.insert("t", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))
    assert(t1.scan("t").count() == 2)   // read-your-writes
    assert(cat.scan("t").count() == 1)  // not visible outside
    t1.commit()
    assert(cat.scan("t").count() == 2)

    val t2 = cat.begin()
    t2.insert("t", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))
    t2.rollback()
    assert(cat.scan("t").count() == 2)
    intercept[IllegalArgumentException] { t2.commit() }
  }

  test("txn UPDATE/DELETE: staged copy-on-write, invisible until commit") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "balance"))

    val t1 = cat.begin()
    t1.update("t", Map("balance" -> (col("balance") + 5.0)), col("id") <= 2)
    t1.delete("t", col("id") === 3)
    // read-your-writes inside the txn
    assert(t1.scan("t").count() == 2)
    assert(t1.scan("t").filter(col("id") === 1).collect()(0).getDouble(2) == 15.0)
    // invisible outside before commit
    assert(cat.scan("t").count() == 3)
    assert(cat.scan("t").filter(col("id") === 1).collect()(0).getDouble(2) == 10.0)
    t1.commit()
    assert(cat.scan("t").count() == 2)
    assert(cat.scan("t").filter(col("id") === 1).collect()(0).getDouble(2) == 15.0)

    val t2 = cat.begin()
    t2.delete("t", lit(true))
    assert(t2.scan("t").count() == 0)
    t2.rollback()
    assert(cat.scan("t").count() == 2)
    intercept[IllegalArgumentException] { t2.delete("t", lit(true)) } // closed
  }

  test("concurrent txns never clobber each other's staging; first committer wins") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    val t1 = cat.begin()
    val t2 = cat.begin()
    t1.insert("t", Seq((2L, "from-t1", 0.0)).toDF("id", "name", "balance"))
    t2.insert("t", Seq((3L, "from-t2", 0.0)).toDF("id", "name", "balance"))
    t1.commit()
    // t1 published exactly ITS rows — t2's staging never bled in
    assert(cat.scan("t").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "from-t1"))
    intercept[IllegalArgumentException] { t2.commit() } // write-write conflict
    assert(cat.scan("t").count() == 2)
  }

  test("rolled-back staging is unreachable via asOf and leaves no data files") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance")) // v1
    val t = cat.begin()
    t.insert("t", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))
    t.rollback()
    assert(cat.currentVersion("t") == 1)
    intercept[Exception] { cat.asOf("t", 2) } // no staged manifest was ever written
    val dataDirs = new java.io.File(cat.root, "t/data").listFiles().map(_.getName)
    assert(!dataDirs.exists(_.startsWith("txn-"))) // staged dirs deleted
  }

  test("zone maps: NON-indexed columns prune files at scan; EXPLAIN surfaces it; sound under NULLs") {
    val cat = freshCatalog()
    val sc = StructType(Seq(
      StructField("id", LongType), StructField("batch", StringType),
      StructField("score", DoubleType),
      StructField("price", DecimalType(10, 2))))
    cat.createTable("zm", sc) // NO index anywhere
    // time-ordered ingest: each append's ranges are naturally disjoint
    for (b <- 0 until 4)
      cat.insert("zm", spark.range(b * 1000L, (b + 1) * 1000L).select(
        col("id"), lit(s"b$b").as("batch"), (col("id") * 0.5).as("score"),
        (col("id") * 0.25).cast(DecimalType(10, 2)).as("price")))
    // long, string, double, and decimal conjuncts all prune
    for ((filt, expect) <- Seq(
        (col("id") >= 3500L, 500L),
        (col("batch") === "b2", 1000L),
        (col("score") < lit(100.0), 200L),
        (col("price") >= lit(BigDecimal("900.00")), 400L))) {
      val (kept, all) = cat.planFiles("zm", filt)
      assert(all.size > 1)
      assert(kept.size < all.size,
        s"zone maps must prune $filt: kept ${kept.size}/${all.size}")
      assert(cat.scan("zm", filt).count() == expect, s"pruned $filt answers exactly")
    }
    // an all-NULL file is a null-marker: never pruned, still correct
    cat.insert("zm", spark.range(4000L, 4100L).select(
      col("id"), lit("b4").as("batch"), lit(null).cast(DoubleType).as("score"),
      lit(null).cast(DecimalType(10, 2)).as("price")))
    assert(cat.scan("zm", col("score") < lit(100.0)).count() == 200L)
    assert(cat.scan("zm", col("score").isNull).count() == 100L)

    // the SQL front surfaces the prune in EXPLAIN — without any index
    val g = new GraftSQL(spark, cat)
    val plan = g.execute("EXPLAIN SELECT id FROM zm WHERE id >= 3500")
      .collect().map(_.getString(0)).mkString("\n")
    val m = "IndexPrune: zm kept (\\d+)/(\\d+) files".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"EXPLAIN must surface the zone-map prune:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt, plan)
    assert(g.execute("SELECT count(*) AS n FROM zm WHERE id >= 3500")
      .collect().head.getLong(0) == 600L)

    // clustering via CREATE INDEX makes a CORRELATED non-indexed
    // column selective after the sorted compact rewrite
    cat.createIndex("zm", "id")
    val (kept2, all2) = cat.planFiles("zm", col("score") < lit(100.0))
    assert(kept2.size < all2.size,
      s"post-compact layout must prune the correlated column: ${kept2.size}/${all2.size}")
    assert(cat.scan("zm", col("score") < lit(100.0)).count() == 200L)
  }

  test("COMPACT ORDER BY clusters a non-indexed column: zone maps turn selective, answer unchanged") {
    val cat = freshCatalog()
    val g = new GraftSQL(spark, cat)
    cat.createTable("cl", StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType))))
    // three interleaved batches: every file spans the FULL score range,
    // so a score predicate can prune nothing
    for (b <- 0 until 3)
      cat.insert("cl", spark.range(b * 1000L, (b + 1) * 1000L).toDF("id")
        .withColumn("score", (col("id") % 100).cast("double")))
    val pred = col("score") >= 90.0
    val (k0, a0) = cat.planFiles("cl", pred)
    assert(k0.size == a0.size, s"interleaved layout must not prune: ${k0.size}/${a0.size}")
    val before = cat.scan("cl").filter(pred).agg(sum("id")).collect().head.getLong(0)
    val st = g.execute("COMPACT TABLE cl ORDER BY score").collect().head.getString(0)
    assert(st.contains("ORDER BY score"), st)
    val (k1, a1) = cat.planFiles("cl", pred)
    assert(a1.size > 1, "clustered rewrite must keep multiple files for pruning to mean anything")
    assert(k1.size < a1.size, s"clustered layout must prune: kept ${k1.size}/${a1.size}")
    assert(cat.scan("cl").filter(pred).agg(sum("id")).collect().head.getLong(0) == before,
      "clustering must not change the answer")
    // unknown columns refuse loudly, and the failed attempt publishes nothing
    val v = cat.currentVersion("cl")
    intercept[IllegalArgumentException](cat.compact("cl", Seq("nope")))
    assert(cat.currentVersion("cl") == v)
  }

  test("COMPACT ZORDER BY: both interleaved columns prune; linear ORDER BY only its leader") {
    val cat = freshCatalog()
    val g = new GraftSQL(spark, cat)
    cat.createTable("zo", StructType(Seq(
      StructField("id", LongType), StructField("x", LongType),
      StructField("y", LongType), StructField("s", StringType))))
    // a 100x100 grid where x and y are independent: every file of any
    // id-ordered batch spans the FULL range of both columns; s mirrors
    // y as a string (its order = unsigned byte order, zero-padded)
    for (b <- 0 until 3)
      cat.insert("zo", spark.range(b * 4000L, (b + 1) * 4000L).toDF("id")
        .withColumn("x", col("id") % 100)
        .withColumn("y", expr("id div 100") % 100)
        .withColumn("s", concat(lit("k"), lpad((expr("id div 100") % 100).cast("string"), 2, "0"))))
    val predX = col("x") >= 90L
    val predY = col("y") >= 90L
    val sums = () => (
      cat.scan("zo").filter(predX).agg(sum("id")).collect().head.getLong(0),
      cat.scan("zo").filter(predY).agg(sum("id")).collect().head.getLong(0))
    val before = sums()
    // linear clustering: the leading column prunes, the other cannot
    cat.compact("zo", Seq("x"))
    val (kx0, ax0) = cat.planFiles("zo", predX)
    val (ky0, ay0) = cat.planFiles("zo", predY)
    assert(kx0.size < ax0.size, s"ORDER BY x must prune x: ${kx0.size}/${ax0.size}")
    assert(ky0.size == ay0.size, s"ORDER BY x must NOT prune y: ${ky0.size}/${ay0.size}")
    // Morton clustering: BOTH columns prune, and the answer is unchanged
    val st = g.execute("COMPACT TABLE zo ZORDER BY (x, y)")
      .collect().head.getString(0)
    assert(st.contains("ZORDER BY (x, y)"), st)
    val (kx1, ax1) = cat.planFiles("zo", predX)
    val (ky1, ay1) = cat.planFiles("zo", predY)
    assert(ax1.size > 3, s"need multiple files for pruning to mean anything: ${ax1.size}")
    assert(kx1.size < ax1.size, s"ZORDER must prune x: ${kx1.size}/${ax1.size}")
    assert(ky1.size < ay1.size, s"ZORDER must prune y: ${ky1.size}/${ay1.size}")
    assert(sums() == before, "clustering must not change any answer")
    // the transient Morton key never reaches the table
    assert(cat.scan("zo").columns.toSet == Set("id", "x", "y", "s"))
    // STRING columns z-cluster through the order-preserving byte-prefix
    // surrogate: both the numeric and the string dimension prune
    cat.compact("zo", Seq("x", "s"), zorder = true)
    val (kx2, ax2) = cat.planFiles("zo", predX)
    val (ks2, as2) = cat.planFiles("zo", col("s") >= "k90")
    assert(kx2.size < ax2.size, s"ZORDER must prune x: ${kx2.size}/${ax2.size}")
    assert(ks2.size < as2.size, s"ZORDER must prune the string dim: ${ks2.size}/${as2.size}")
    assert(sums() == before, "string clustering must not change any answer")
    // fewer than 2 columns or a non-numeric surrogate refuses loudly
    intercept[IllegalArgumentException](cat.compact("zo", Seq("x"), zorder = true))
    val v = cat.currentVersion("zo")
    intercept[IllegalArgumentException](cat.compact("zo", Seq("x", "nope"), zorder = true))
    assert(cat.currentVersion("zo") == v, "a refused ZORDER publishes nothing")
  }

  test("zone maps never prune on numeric-space ambiguity: float vs double literal, bigint vs fractional") {
    val cat = freshCatalog()
    cat.createTable("amb", StructType(Seq(
      StructField("id", LongType), StructField("fl", FloatType),
      StructField("big", LongType))))
    import spark.implicits._
    // 0.1f widens to 0.10000000149… in double space, so the row DOES
    // satisfy fl > 0.1 (double literal) even though the footer stat
    // "0.1" compares EQUAL to the literal as exact decimals — the
    // exact-decimal prune would silently lose the row
    cat.insert("amb", Seq((1L, 0.1f, Long.MaxValue), (2L, 0.05f, 5L))
      .toDF("id", "fl", "big"))
    assert(cat.scan("amb").filter(col("fl") > 0.1).count() == 1L,
      "the 0.1f row must survive: Spark evaluates the predicate in double space")
    val (k1, a1) = cat.planFiles("amb", col("fl") > 0.1)
    assert(k1.nonEmpty, s"the ambiguous 0.1f file must be kept: ${k1.size}/${a1.size}")
    // Long.MaxValue's double image rounds UP to 2^63, so it satisfies
    // big >= 9.223372036854776e18 in double space while the exact
    // decimal comparison says it does not
    assert(cat.scan("amb").filter(col("big") >= 9.223372036854776e18).count() == 1L,
      "the 2^63-1 row must survive the fractional-literal comparison")
    val (k2, a2) = cat.planFiles("amb", col("big") >= 9.223372036854776e18)
    assert(k2.nonEmpty, s"the ambiguous 2^63-1 file must be kept: ${k2.size}/${a2.size}")
    // unambiguous comparisons still prune: both numeric spaces agree
    val (k3, a3) = cat.planFiles("amb", col("fl") > 1.0)
    assert(k3.isEmpty && a3.nonEmpty, "agreeing bound must still prune")
    // the transient ZORDER key name is reserved at DDL time
    intercept[IllegalArgumentException](cat.createTable("bad", StructType(Seq(
      StructField("__graft_zorder", LongType)))))
    intercept[IllegalArgumentException](
      cat.addColumn("amb", StructField("__GRAFT_ZORDER", LongType)))
  }

  test("zone maps prune pinned READ ONLY reads against the PINNED version's stats") {
    val cat = freshCatalog()
    val g = new GraftSQL(spark, cat)
    cat.createTable("zmv", StructType(Seq(StructField("id", LongType))))
    for (b <- 0 until 3)
      cat.insert("zmv", spark.range(b * 1000L, (b + 1) * 1000L).toDF("id"))
    g.execute("BEGIN READ ONLY")
    // a concurrent append lands AFTER the pin: the snapshot must
    // neither read it nor prune against its manifest
    cat.insert("zmv", spark.range(3000L, 4000L).toDF("id"))
    val plan = g.execute("EXPLAIN SELECT id FROM zmv WHERE id >= 2500")
      .collect().map(_.getString(0)).mkString("\n")
    val m = "IndexPrune: zmv kept (\\d+)/(\\d+) files".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"pinned read must surface the prune:\n${plan.take(1500)}")
    assert(m.get.group(1).toInt < m.get.group(2).toInt, plan)
    assert(g.execute("SELECT count(*) AS n FROM zmv WHERE id >= 2500")
      .collect().head.getLong(0) == 500L, "pinned read leaked the post-pin append")
    g.execute("COMMIT")
    assert(g.execute("SELECT count(*) AS n FROM zmv WHERE id >= 2500")
      .collect().head.getLong(0) == 1500L, "current read must see the append")
  }

  test("zone maps: footer stat rendering is sound across types — negative decimals, NaN, non-BMP strings, boundaries") {
    val cat = freshCatalog()
    val sc = StructType(Seq(
      StructField("id", LongType),
      StructField("sm", ShortType),
      StructField("fl", FloatType),
      StructField("dbl", DoubleType),
      StructField("big", DecimalType(30, 8)), // FIXED_LEN_BYTE_ARRAY backing
      StructField("s", StringType)))
    cat.createTable("zt", sc)
    def batch(rows: Seq[(Long, Short, Float, Double, String, String)]) =
      cat.insert("zt", rows.toDF("id", "sm", "fl", "dbl", "big", "s")
        .select(col("id"), col("sm"), col("fl"), col("dbl"),
          col("big").cast(DecimalType(30, 8)), col("s")))
    // three disjoint batches; batch 2 carries NEGATIVE decimals (two's
    // complement in the fixed-len backing) and batch 3 a NaN double
    // and non-BMP strings (UTF-8 byte order beyond Java char order)
    batch(Seq((1L, 10.toShort, 1.5f, 1.0, "-12345678.00000001", "apple"),
              (2L, 20.toShort, 2.5f, 2.0, "-0.00000001", "banana")))
    batch(Seq((3L, 30.toShort, 3.5f, 3.0, "0.00000001", "cherry"),
              (4L, 40.toShort, 4.5f, 4.0, "99999999999999.00000001", "date")))
    batch(Seq((5L, 50.toShort, 5.5f, Double.NaN, "5.0", "z😀moji"),
              (6L, 60.toShort, 6.5f, 6.0, "6.0", "zzz")))

    def check(filt: org.apache.spark.sql.Column, expectIds: Seq[Long],
        expectPrune: Boolean, what: String): Unit = {
      val (kept, all) = cat.planFiles("zt", filt)
      if (expectPrune)
        assert(kept.size < all.size, s"$what: no pruning (${kept.size}/${all.size})")
      val got = cat.scan("zt", filt).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == expectIds, s"$what: got ${got.toSeq}")
    }
    // negative decimal bounds must compare SIGNED (a sign-blind byte
    // compare would prune the matching batch away)
    check(col("big") < lit(BigDecimal("-1.0")), Seq(1L), expectPrune = true, "neg decimal")
    check(col("big") >= lit(BigDecimal("99999999999999.0")), Seq(4L),
      expectPrune = true, "huge decimal")
    // short (INT32-backed) and float render/compare numerically
    check(col("sm") >= 50, Seq(5L, 6L), expectPrune = true, "short")
    check(col("fl") < lit(2.0f), Seq(1L), expectPrune = true, "float")
    // the NaN-holding file must NEVER be pruned away wrongly. Spark
    // orders NaN ABOVE every double, so the NaN row satisfies any
    // lower bound — including one past the file's numeric max (the
    // killer case: stats that ignored NaN would wrongly prune here;
    // parquet's NaN-poisoned min/max render incomparable and keep it)
    check(col("dbl") >= 6.0, Seq(5L, 6L), expectPrune = false, "NaN above bound")
    check(col("dbl") >= 7.0, Seq(5L), expectPrune = false, "NaN past numeric max")
    check(col("dbl") < 2.5, Seq(1L, 2L), expectPrune = false, "NaN below bound")
    // string pruning in UTF-8 byte order: the emoji sorts AFTER "z"
    // byte-wise, so > "y" must keep batch 3 and prune batch 1
    check(col("s") > lit("y"), Seq(5L, 6L), expectPrune = true, "non-BMP string")
    // boundary inclusivity: batch 1's id range is [1,2] — `> 2` must
    // drop it, `>= 2` must read it
    check(col("id") > 2L, Seq(3L, 4L, 5L, 6L), expectPrune = true, "exclusive bound")
    check(col("id") >= 2L, Seq(2L, 3L, 4L, 5L, 6L), expectPrune = true, "inclusive bound")
  }

  test("secondary index: sorted layout + manifest min/max pruning reads fewer files") {
    val cat = freshCatalog()
    val sc = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    cat.createTable("ix", sc, indexes = Seq("id"))
    cat.insert("ix",
      spark.range(0, 10000).select(col("id"), (col("id") * 1.5).as("v")))
    val filter = col("id") >= 100 && col("id") < 200
    val (kept, all) = cat.planFiles("ix", filter)
    assert(all.size > 1, s"expected a multi-file layout, got ${all.size}")
    assert(kept.size < all.size, s"no pruning: ${kept.size}/${all.size}")
    // pruned scan returns exactly the full-scan result
    val got = cat.scan("ix", filter).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == (100L until 200L))
    // point lookup prunes to a single file's range
    val (kept1, _) = cat.planFiles("ix", col("id") === 5000L)
    assert(kept1.size <= math.max(1, all.size / 2))
    assert(cat.scan("ix", col("id") === 5000L).count() == 1)
    // non-prunable predicate stays correct (falls back to all files)
    assert(cat.scan("ix", col("v") < 15.0).count() == 10)
    // the index survives a catalog reopen
    assert(new TableCatalog(spark, cat.root).meta("ix").indexes == Seq("id"))
  }

  test("SQL INDEX keyword routes into the catalog index") {
    val g = new GraftSQL(spark, freshCatalog())
    g.execute("CREATE TABLE ixt (id INTEGER PRIMARY KEY, score DOUBLE INDEX)")
    assert(g.catalog.meta("ixt").indexes == Seq("score"))
  }

  test("insert validation: batch-scoped constraints, indexed-PK uniqueness still enforced") {
    val cat = freshCatalog()
    val sc = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("v", DoubleType)))
    cat.createTable("appendix", sc, primaryKey = Some("id"), indexes = Seq("id"))
    cat.insert("appendix", spark.range(0, 1000).select(col("id"), lit(1.0).as("v")))
    // disjoint monotone append (the common ingest shape): accepted,
    // uniqueness checked against a RANGE-PRUNED existing side
    cat.insert("appendix", spark.range(1000, 2000).select(col("id"), lit(2.0).as("v")))
    assert(cat.scan("appendix").count() == 2000)
    // an overlapping duplicate is still rejected through the pruned path
    intercept[IllegalArgumentException] {
      cat.insert("appendix", spark.range(1500, 1501).select(col("id"), lit(9.0).as("v")))
    }
    // duplicates within one batch are rejected before touching the table
    intercept[IllegalArgumentException] {
      cat.insert("appendix",
        spark.range(0, 2).select((col("id") * 0 + 5000).as("id"), lit(0.0).as("v")))
    }
    assert(cat.scan("appendix").count() == 2000) // failed inserts unpublished
  }

  test("transactional DDL: staged CREATE/DROP, atomic publish, rollback leaves no trace") {
    val cat = freshCatalog()
    cat.createTable("keep", schema, primaryKey = Some("id"))
    cat.insert("keep", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))

    val t = cat.begin()
    t.createTable("brand_new", schema, primaryKey = Some("id"))
    t.insert("brand_new", Seq((7L, "x", 7.0)).toDF("id", "name", "balance"))
    assert(t.scan("brand_new").count() == 1) // usable inside the txn
    assert(!cat.exists("brand_new"))         // invisible outside
    t.dropTable("keep")
    intercept[Exception] { t.scan("keep") }  // gone inside the txn
    assert(cat.scan("keep").count() == 1)    // still there outside
    t.commit()
    assert(cat.exists("brand_new") && cat.scan("brand_new").count() == 1)
    assert(cat.scan("brand_new").collect()(0).getString(1) == "x")
    assert(!cat.exists("keep"))

    val t2 = cat.begin()
    t2.createTable("ghost", schema)
    t2.insert("ghost", Seq((1L, "g", 0.0)).toDF("id", "name", "balance"))
    t2.rollback()
    assert(!cat.exists("ghost"))
    val residue = Option(new java.io.File(cat.root).listFiles()).toSeq.flatten
    assert(!residue.exists(_.getName.startsWith(".txn-")), residue.mkString(","))
  }

  test("catalog is relocatable: manifests and index stats are table-relative") {
    val cat = freshCatalog()
    cat.createTable("mv", schema, primaryKey = Some("id"), indexes = Seq("id"))
    cat.insert("mv",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance"))
    val newRoot = cat.root + "-moved"
    java.nio.file.Files.move(
      java.nio.file.Paths.get(cat.root), java.nio.file.Paths.get(newRoot))
    val moved = new TableCatalog(spark, newRoot)
    assert(moved.scan("mv").count() == 2)
    assert(moved.scan("mv", col("id") === 2L).collect()(0).getString(1) == "b")
  }

  test("column defaults are durable: a reopened catalog still applies them") {
    val dir = Files.newTmp()
    val cat = new TableCatalog(spark, dir)
    // the name default exercises escape round-trips: quote, literal
    // backslash before 'n' (the replace-chain corruption case)
    cat.createTable("d", schema, primaryKey = Some("id"),
      defaults = Map("balance" -> 7.5, "name" -> "un\"k\\nown"))
    // a different catalog instance over the same root (fresh process
    // analog) must read defaults back from meta.json, not a field
    val reopened = new TableCatalog(spark, dir)
    assert(reopened.meta("d").defaults == Map("balance" -> 7.5, "name" -> "un\"k\\nown"))
    reopened.insert("d", Seq(Tuple1(1L)).toDF("id"))
    val row = reopened.scan("d").collect()(0)
    assert(row.getString(1) == "un\"k\\nown" && row.getDouble(2) == 7.5)
  }

  test("index stats survive txn commits and never shrink the scan universe") {
    val cat = freshCatalog()
    val sc = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    cat.createTable("ixt", sc, indexes = Seq("id"))
    cat.insert("ixt", spark.range(0, 100).select(col("id"), lit(1.0).as("v")))
    val t = cat.begin()
    t.insert("ixt", spark.range(100, 200).select(col("id"), lit(2.0).as("v")))
    t.commit()
    cat.insert("ixt", spark.range(200, 300).select(col("id"), lit(3.0).as("v")))
    // every row from all three write paths stays visible through the
    // pruned scan — files without stats must widen, never vanish
    assert(cat.scan("ixt", col("id") >= 0L).count() == 300)
    assert(cat.scan("ixt", col("v") > 0.0).count() == 300) // non-indexed predicate
    // and txn-written files carry stats, so pruning still prunes
    val (kept, all) = cat.planFiles("ixt", col("id") === 250L)
    assert(kept.size < all.size, s"${kept.size}/${all.size}")
  }

  test("UPDATE of a referenced PK and DROP of a referenced parent are RESTRICT-checked") {
    val cat = freshCatalog()
    cat.createTable("par", schema, primaryKey = Some("id"))
    cat.insert("par", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance"))
    cat.createTable("kid",
      StructType(Seq(StructField("cid", LongType), StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "par"))
    cat.insert("kid", Seq((10L, 1L)).toDF("cid", "pid"))
    // changing a referenced PK value would orphan kid.pid=1
    intercept[IllegalArgumentException] {
      cat.update("par", Map("id" -> (col("id") + 100L)), col("id") === 1L)
    }
    // an unreferenced PK value may change; non-PK updates always may
    cat.update("par", Map("id" -> (col("id") + 100L)), col("id") === 2L)
    cat.update("par", Map("balance" -> lit(9.0)), col("id") === 1L)
    assert(cat.scan("par").filter(col("id") === 102L).count() == 1)
    // dropping the referenced parent is restricted until kid is gone
    intercept[IllegalArgumentException] { cat.dropTable("par") }
    cat.dropTable("kid")
    cat.dropTable("par")
    assert(!cat.exists("par"))
  }

  test("UPDATE resolves SET columns case-insensitively and rejects unknown ones") {
    val cat = freshCatalog()
    cat.createTable("ci", schema, primaryKey = Some("id"))
    cat.insert("ci", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    cat.update("ci", Map("BALANCE" -> lit(5.0)), col("id") === 1L) // case-insensitive
    assert(cat.scan("ci").collect()(0).getDouble(2) == 5.0)
    intercept[IllegalArgumentException] { // a typo must error, not no-op
      cat.update("ci", Map("balanec" -> lit(7.0)), col("id") === 1L)
    }
  }

  test("vacuum spares versions pinned by a SIBLING catalog instance's open txn (pin files)") {
    val dir = Files.newTmp()
    val cat1 = new TableCatalog(spark, dir)
    val cat2 = new TableCatalog(spark, dir) // activeTxns is per-instance,
    // so cat1's vacuum can only see cat2's txn through its pin file —
    // the cross-process shape
    cat1.createTable("pp", schema, primaryKey = Some("id"))
    cat1.insert("pp", Seq((1L, "a", 1.0)).toDF("id", "name", "balance")) // v1
    val t = cat2.begin() // pins v1 durably
    cat1.insert("pp", Seq((2L, "b", 2.0)).toDF("id", "name", "balance")) // v2
    cat1.insert("pp", Seq((3L, "c", 3.0)).toDF("id", "name", "balance")) // v3
    cat1.vacuum("pp", keep = 1, graceMs = 0)
    // the sibling's snapshot must still read v1
    assert(t.scan("pp").count() == 1)
    t.rollback()
    // pin gone with the txn: the next vacuum reclaims v1
    cat1.vacuum("pp", keep = 1, graceMs = 0)
    intercept[Exception] { cat1.asOf("pp", 1).collect() }
    assert(cat1.scan("pp").count() == 3)
  }

  test("commit journal: a two-table txn commit is ONE atomic global version") {
    val cat = freshCatalog()
    cat.createTable("ja", schema, primaryKey = Some("id")) // g=1
    cat.createTable("jb", schema, primaryKey = Some("id")) // g=2
    val g0 = cat.globalVersion()
    assert(g0 == 2L)
    val t = cat.begin()
    t.insert("ja", Seq((1L, "x", 1.0)).toDF("id", "name", "balance"))
    t.insert("jb", Seq((2L, "y", 2.0)).toDF("id", "name", "balance"))
    t.commit()
    // BOTH tables move at one global version — the reference's Raft-log
    // atomicity, journal form
    assert(cat.globalVersion() == g0 + 1)
    val before = cat.snapshotAt(g0)
    val after = cat.snapshotAt(g0 + 1)
    assert(cat.asOf("ja", before("ja")).count() == 0)
    assert(cat.asOf("jb", before("jb")).count() == 0)
    assert(cat.asOf("ja", after("ja")).count() == 1)
    assert(cat.asOf("jb", after("jb")).count() == 1)
    // non-txn DML journals one line per publish
    cat.insert("ja", Seq((3L, "z", 3.0)).toDF("id", "name", "balance"))
    assert(cat.globalVersion() == g0 + 2)
    assert(cat.snapshotAt(g0 + 1)("ja") == after("ja")) // history immutable
    // a txn-created table enters the journal at the commit's version
    val t2 = cat.begin()
    t2.createTable("jc", schema)
    t2.insert("jc", Seq((9L, "w", 9.0)).toDF("id", "name", "balance"))
    t2.commit()
    val gC = cat.globalVersion()
    assert(cat.snapshotAt(gC).contains("jc"))
    assert(!cat.snapshotAt(gC - 1).contains("jc"))
    assert(cat.asOf("jc", cat.snapshotAt(gC)("jc")).count() == 1)
    // dropped tables leave the snapshot from their drop version on
    cat.dropTable("jc")
    assert(!cat.snapshotAt(cat.globalVersion()).contains("jc"))
  }

  test("journal: torn claims are skipped and an append failure never fails the publish") {
    val cat = freshCatalog()
    cat.createTable("jt", schema, primaryKey = Some("id"))          // g=1
    cat.insert("jt", Seq((1L, "a", 1.0)).toDF("id", "name", "balance")) // g=2
    val g1 = cat.globalVersion()
    // a crashed writer's torn claims occupy the next two slots: an
    // empty file and a half-written one
    val commits = java.nio.file.Paths.get(cat.root, "commits")
    java.nio.file.Files.writeString(commits.resolve(f"g${g1 + 1}%012d.json"), "")
    java.nio.file.Files.writeString(commits.resolve(f"g${g1 + 2}%012d.json"), "{\"tab")
    // reads skip the torn entries; the next publish claims a FRESH g
    cat.insert("jt", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))
    assert(cat.globalVersion() == g1 + 3, "claim must not reuse an occupied slot")
    assert(cat.snapshotAt(g1 + 2) == cat.snapshotAt(g1)) // torn = invisible
    assert(cat.asOf("jt", cat.snapshotAt(cat.globalVersion())("jt")).count() == 2)
    // journal storage broken outright (a FILE shadows the commits dir):
    // the publish must still succeed — the journal is observability
    // over the per-table pointers, never a gate in front of them
    TableCatalog.deleteRecursively(commits)
    java.nio.file.Files.writeString(commits, "not a directory")
    cat.insert("jt", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))
    assert(cat.scan("jt").count() == 3, "publish survives a dead journal")
    assert(cat.currentVersion("jt") == 3)
    // and the journal heals on the next publish once storage is back
    java.nio.file.Files.delete(commits)
    cat.insert("jt", Seq((4L, "d", 4.0)).toDF("id", "name", "balance"))
    assert(cat.snapshotAt(cat.globalVersion())("jt") == 4)
  }

  test("journal: torn checkpoints never claim the fold base; checkpoints retire their slots") {
    val cat = freshCatalog()
    cat.createTable("tc", schema, primaryKey = Some("id"))                 // g=1
    cat.insert("tc", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))    // g=2
    cat.insert("tc", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))    // g=3
    val g = cat.globalVersion()
    val commits = java.nio.file.Paths.get(cat.root, "commits")
    // crashed compactor: torn (empty) checkpoint claims the top slot
    val torn = commits.resolve(f"c$g%012d.json")
    java.nio.file.Files.writeString(torn, "")
    // reads fall back to the surviving per-commit entries, losing nothing
    assert(cat.snapshotAt(g)("tc") == 2)
    // compaction self-heals once the torn file is provably stale
    java.nio.file.Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    assert(cat.compactJournal() == g)
    assert(cat.snapshotAt(g)("tc") == 2)
    // a checkpoint retires every slot at/below it forever: a foreign
    // checkpoint at a high g (a sibling process's compaction) forces
    // new claims ABOVE it even though those g-files never existed
    java.nio.file.Files.writeString(commits.resolve(f"c${g + 50}%012d.json"),
      """{"tables": {"tc": 2}, "dropped": []}""")
    cat.insert("tc", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))
    assert(cat.globalVersion() == g + 51, "claim must exceed the checkpoint")
    assert(cat.snapshotAt(g + 51)("tc") == 3)
    assert(cat.snapshotAt(g + 50)("tc") == 2)
  }

  test("stress: concurrent writers journal distinct global versions, fold stays monotone") {
    val cat = freshCatalog()
    (1 to 4).foreach(i => cat.createTable(s"cw$i", schema, primaryKey = Some("id")))
    val g0 = cat.globalVersion()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => try {
        (1 to 3).foreach { j =>
          cat.insert(s"cw$i", Seq((j.toLong, "x", 1.0)).toDF("id", "name", "balance"))
        }
      } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.asScala.map(_.getMessage).mkString("; "))
    // 12 publishes = 12 distinct journal slots, none lost or shared
    assert(cat.globalVersion() == g0 + 12)
    val finalSnap = cat.snapshotAt(cat.globalVersion())
    (1 to 4).foreach(i => assert(finalSnap(s"cw$i") == 3))
    // the fold is monotone: walking g forward, no table's version
    // ever regresses (a shared/reused slot would break this)
    var prev = cat.snapshotAt(g0)
    ((g0 + 1) to (g0 + 12)).foreach { g =>
      val s = cat.snapshotAt(g)
      prev.foreach { case (t, v) => assert(s.getOrElse(t, 0) >= v, s"$t regressed at g$g") }
      prev = s
    }
  }

  test("an empty txn COMMIT journals nothing") {
    val cat = freshCatalog()
    cat.createTable("et", schema, primaryKey = Some("id"))
    val g = cat.globalVersion()
    val t = cat.begin()
    t.commit()
    assert(cat.globalVersion() == g, "empty commit must not claim a journal slot")
  }

  test("journal compaction folds history into a checkpoint; AS OF unchanged from it on") {
    val cat = freshCatalog()
    cat.createTable("ca", schema, primaryKey = Some("id"))                 // g=1
    cat.createTable("cb", schema, primaryKey = Some("id"))                 // g=2
    cat.insert("ca", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))    // g=3
    cat.dropTable("cb")                                                    // g=4
    cat.insert("ca", Seq((2L, "b", 2.0)).toDF("id", "name", "balance"))    // g=5
    val g = cat.globalVersion()
    val snapBefore = cat.snapshotAt(g)
    assert(!snapBefore.contains("cb")) // dropped before the fold point
    assert(cat.compactJournal() == g)
    // ONE checkpoint file remains; every per-commit entry is gone
    val commits = java.nio.file.Paths.get(cat.root, "commits")
    val names = { val l = java.nio.file.Files.list(commits)
      try l.iterator().asScala.map(_.getFileName.toString).toList.sorted finally l.close() }
    assert(names == List(f"c$g%012d.json"), names)
    assert(cat.snapshotAt(g) == snapBefore)
    // new commits land as entries ABOVE the checkpoint and fold on top
    cat.insert("ca", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))    // g+1
    assert(cat.globalVersion() == g + 1)
    assert(cat.snapshotAt(g + 1)("ca") == 3)
    assert(cat.snapshotAt(g)("ca") == 2) // checkpoint serves the old g
    assert(cat.asOf("ca", cat.snapshotAt(g)("ca")).count() == 2)
    // compacting again folds checkpoint + new entry, superseding both
    assert(cat.compactJournal() == g + 1)
    assert(cat.snapshotAt(g + 1)("ca") == 3)
  }

  test("pin heartbeat daemon keeps an idle open txn's pin fresh until close") {
    val prev = sys.props.get("graft.pin.heartbeat.ms")
    sys.props("graft.pin.heartbeat.ms") = "100"
    try {
      val cat = freshCatalog()
      cat.createTable("hb", schema, primaryKey = Some("id"))
      cat.insert("hb", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
      val t = cat.begin()
      val pins = java.nio.file.Paths.get(cat.root, "pins")
      val pin = { val l = java.nio.file.Files.list(pins); try l.iterator().next() finally l.close() }
      // age the pin far into the past; the DAEMON must refresh it with
      // no txn operation running — the long-Spark-action window
      java.nio.file.Files.setLastModifiedTime(pin,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      val deadline = System.currentTimeMillis + 5000
      var fresh = false
      while (!fresh && System.currentTimeMillis < deadline) {
        Thread.sleep(50)
        fresh = java.nio.file.Files.getLastModifiedTime(pin).toMillis >
          System.currentTimeMillis - 60000
      }
      assert(fresh, "daemon did not refresh the pin mtime")
      t.rollback()
      assert(!java.nio.file.Files.exists(pin), "pin must be dropped at close")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.pin.heartbeat.ms") = v
        case None => sys.props.remove("graft.pin.heartbeat.ms")
      }
    }
  }

  test("index pruning refuses mixed-type comparisons on string columns") {
    val cat = freshCatalog()
    cat.createTable("stridx", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType))), primaryKey = Some("id"), indexes = Seq("s"))
    // two delta files with disjoint STRING ranges whose numeric and
    // byte-wise orders disagree: '0999' < '100' as text, > as number
    cat.insert("stridx", Seq((1L, "0500"), (2L, "0999")).toDF("id", "s"))
    cat.insert("stridx", Seq((3L, "100"), (4L, "200")).toDF("id", "s"))
    // numeric literal → Spark compares numerically; byte-order stats
    // must NOT prune (kept == all), and the result must equal the
    // unpruned scan whatever the coercion semantics are
    val numPred = col("s") > lit(150)
    val (kept, all) = cat.planFiles("stridx", numPred)
    assert(kept == all, s"mixed-type predicate must not prune: $kept vs $all")
    val pruned = cat.scan("stridx", numPred).select("id").collect().map(_.getLong(0)).sorted
    val full = cat.scan("stridx").filter(numPred).select("id").collect().map(_.getLong(0)).sorted
    assert(pruned.sameElements(full))
    // a STRING literal still prunes, in byte order
    val (kept2, all2) = cat.planFiles("stridx", col("s") > lit("150"))
    assert(kept2.size < all2.size, s"string predicate should prune: $kept2 of $all2")
    val prunedS = cat.scan("stridx", col("s") > lit("150")).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(prunedS.toSeq == Seq(4L)) // byte order: only '200' > '150'
  }

  test("txn reads are pinned at BEGIN: repeatable reads for write txns") {
    val cat = freshCatalog()
    cat.createTable("pin", schema, primaryKey = Some("id"))
    cat.insert("pin", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    assert(t.scan("pin").count() == 1)
    cat.insert("pin", Seq((2L, "b", 2.0)).toDF("id", "name", "balance")) // concurrent commit
    assert(t.scan("pin").count() == 1) // snapshot must not move
    t.rollback()
    assert(cat.scan("pin").count() == 2)
  }

  test("tables created after BEGIN are invisible to the txn, not a crash") {
    val cat = freshCatalog()
    cat.createTable("base", schema, primaryKey = Some("id"))
    cat.insert("base", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    // concurrent session creates a referencing child AFTER BEGIN
    cat.createTable("post_kid",
      StructType(Seq(StructField("cid", LongType), StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "base"))
    // snapshot semantics: the txn neither sees post_kid nor crashes on
    // it during restrict checks
    intercept[Exception] { t.scan("post_kid") }
    t.delete("base", col("id") === 1L) // must not throw an internal error
    t.rollback()
    cat.dropTable("post_kid")
  }

  test("txn FK RESTRICT sees txn-created referencing tables and ignores txn-dropped ones") {
    val cat = freshCatalog()
    cat.createTable("parent", schema, primaryKey = Some("id"))
    cat.insert("parent", Seq((1L, "p", 0.0)).toDF("id", "name", "balance"))

    // a child created IN the txn must restrict deletes in the same txn
    val t = cat.begin()
    t.createTable("tchild",
      StructType(Seq(StructField("cid", LongType), StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    t.insert("tchild", Seq((10L, 1L)).toDF("cid", "pid"))
    intercept[IllegalArgumentException] { t.delete("parent", col("id") === 1L) }
    t.rollback()

    // a child DROPPED in the txn must no longer restrict
    cat.createTable("child2",
      StructType(Seq(StructField("cid", LongType), StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    cat.insert("child2", Seq((20L, 1L)).toDF("cid", "pid"))
    val t2 = cat.begin()
    t2.dropTable("child2")
    t2.delete("parent", col("id") === 1L) // must NOT throw
    t2.commit()
    assert(!cat.exists("child2") && cat.scan("parent").count() == 0)
  }

  test("staged CREATE TABLE resolves FK targets through the txn view") {
    val cat = freshCatalog()
    cat.createTable("parent", schema, primaryKey = Some("id"))
    cat.insert("parent", Seq((1L, "p", 0.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    t.createTable("child",
      StructType(Seq(StructField("cid", LongType), StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    t.insert("child", Seq((10L, 1L)).toDF("cid", "pid")) // valid FK
    intercept[IllegalArgumentException] {
      t.insert("child", Seq((11L, 99L)).toDF("cid", "pid")) // orphan rejected
    }
    t.commit()
    assert(cat.scan("child").count() == 1)
    assert(cat.meta("child").references == Map("pid" -> "parent"))
  }

  test("metadata survives columns/defaults named like structural JSON keys") {
    // the defaults/references objects carry COLUMN NAMES as keys: a
    // column literally named "version" with a numeric default must not
    // shadow the table's real version pointer on reopen (anchored
    // top-level readers, defaults serialized last)
    val cat = freshCatalog()
    val evil = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("version", LongType),
      StructField("references", StringType),
      StructField("primaryKey", StringType),
      StructField("schema", StringType)))
    cat.createTable("evil", evil, primaryKey = Some("id"),
      defaults = Map("version" -> 99L, "references" -> "bogus",
        "primaryKey" -> "zzz", "schema" -> "{\"fake\": 1}"))
    cat.insert("evil", Seq(1L).toDF("id"))
    cat.insert("evil", Seq(2L).toDF("id"))
    // reopen over the same root: everything must parse from disk
    val reopened = new TableCatalog(spark, cat.root)
    val m = reopened.meta("evil")
    assert(m.version == 2, "real version pointer, not the default named 'version'")
    assert(m.primaryKey.contains("id"))
    assert(m.references.isEmpty)
    assert(m.defaults("version") == 99L && m.defaults("primaryKey") == "zzz")
    assert(m.schema.fieldNames.toSeq ==
      Seq("id", "version", "references", "primaryKey", "schema"))
    val rows = reopened.scan("evil").orderBy("id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(99L, 99L)) // default applied
    reopened.insert("evil", Seq(3L).toDF("id")) // version pointer still sane
    assert(reopened.currentVersion("evil") == 3)
  }

  test("concurrent txn commits: exactly one wins, loser aborts with conflict") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "base", 0.0)).toDF("id", "name", "balance"))
    val t1 = cat.begin(); val t2 = cat.begin()
    t1.insert("t", Seq((2L, "t1", 0.0)).toDF("id", "name", "balance"))
    t2.insert("t", Seq((3L, "t2", 0.0)).toDF("id", "name", "balance"))
    val results =
      new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Unit]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("t1" -> t1, "t2" -> t2).map { case (tag, t) =>
      new Thread(() => {
        start.await()
        results.put(tag, try Right(t.commit()) catch { case e: Throwable => Left(e) })
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losses, wins) = results.asScala.toSeq.partition(_._2.isLeft)
    assert(wins.size == 1 && losses.size == 1, s"expected 1 winner, got $results")
    assert(losses.head._2.swap.toOption.get.getMessage.contains("write-write conflict"))
    // exactly the winner's row landed, and the table is at version 2
    assert(cat.scan("t").count() == 2)
    assert(cat.currentVersion("t") == 2)
    // the loser's staging is gone after rollback
    (if (losses.head._1 == "t1") t1 else t2).rollback()
    val leftover = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
    try assert(leftover.iterator().asScala.size == 2) // base delta + winner delta
    finally leftover.close()
  }

  test("stress: 4 writers x 3 inserts each all land under optimistic retry") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        start.await()
        (0 until 3).foreach { i =>
          val id = (w * 3 + i).toLong
          try cat.insert("t", Seq((id, s"w$w-$i", 0.0)).toDF("id", "name", "balance"))
          catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(errs.isEmpty, s"unexpected failures: ${errs.asScala.map(_.getMessage)}")
    // every insert landed exactly once: 12 rows, version advanced 12x,
    // and no orphan data dirs from lost attempts
    assert(cat.scan("t").count() == 12)
    assert(cat.currentVersion("t") == 12)
    val data = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
    try assert(data.iterator().asScala.size == 12, "losers must clean up")
    finally data.close()
  }

  test("concurrent non-txn inserts serialize: both land, distinct versions") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        start.await()
        try cat.insert("t", Seq((i.toLong, s"w$i", 0.0)).toDF("id", "name", "balance"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failures: $errs")
    assert(cat.scan("t").count() == 2)
    assert(cat.currentVersion("t") == 2) // no lost update: versions 1 and 2
  }

  test("cross-process claim: a pre-existing next-version manifest aborts the publish") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    // simulate another PROCESS (invisible to the JVM lock) having
    // just claimed version 2 — a FRESH claim means its publish is
    // in-flight, so this writer must back off and eventually conflict
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cat.root, "t", "versions", "v2.json"),
      """{"dirs": [], "stats": []}""")
    intercept[TableCatalog.WriteConflictException] {
      cat.insert("t", Seq((2L, "b", 0.0)).toDF("id", "name", "balance"))
    }
    // nothing published, table intact at version 1
    assert(cat.currentVersion("t") == 1)
    assert(cat.scan("t").count() == 1)
    // no leftover data dirs from the failed attempts
    val data = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
    try {
      import scala.jdk.CollectionConverters._
      assert(data.iterator().asScala.size == 1, "loser attempts must clean up")
    } finally data.close()
  }

  test("compact folds insert deltas into one dir; vacuum GCs old versions") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    (1 to 3).foreach(i =>
      cat.insert("t", Seq((i.toLong, s"r$i", i * 1.0)).toDF("id", "name", "balance")))
    def dataDirs: List[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toList }
      finally s.close()
    }
    val before = cat.scan("t").orderBy("id").collect().toSeq
    assert(dataDirs.size == 3, s"3 insert deltas expected: $dataDirs")
    // compact: same rows, one fresh dir, new version; history intact
    val v = cat.compact("t")
    assert(v == 4 && cat.currentVersion("t") == 4)
    assert(cat.scan("t").orderBy("id").collect().toSeq == before)
    assert(cat.asOf("t", 3).count() == 3) // time travel still works
    assert(dataDirs.size == 4) // 3 deltas + 1 compacted snapshot
    // vacuum: v0..v3 go; only the compacted dir survives
    val removed = cat.vacuum("t", keep = 1, graceMs = 0)
    assert(removed == 4, s"expected 4 manifests removed, got $removed")
    assert(cat.scan("t").orderBy("id").collect().toSeq == before)
    assert(dataDirs.size == 1, s"only the live snapshot should remain: $dataDirs")
    val e = intercept[IllegalArgumentException] { cat.asOf("t", 3) }
    assert(e.getMessage.contains("no version"))
    // the table still accepts writes after vacuum
    cat.insert("t", Seq((4L, "r4", 4.0)).toDF("id", "name", "balance"))
    assert(cat.scan("t").count() == 4)
  }

  test("vacuum never deletes a transaction's staged dirs") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    t.insert("t", Seq((2L, "b", 0.0)).toDF("id", "name", "balance"))
    // aggressive vacuum while the txn is open: staged dirs must survive
    cat.vacuum("t", keep = 1, graceMs = 0)
    t.commit()
    assert(cat.scan("t").count() == 2)
  }

  test("commit conflicts when an FK-related table changed since BEGIN") {
    val cat = freshCatalog()
    cat.createTable("parent", StructType(Seq(
      StructField("id", LongType, nullable = false))), primaryKey = Some("id"))
    cat.createTable("child", StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    cat.insert("parent", Seq(1L, 2L).toDF("id"))
    val t = cat.begin()
    // staged child row referencing parent key 2 — valid in t's snapshot
    t.insert("child", Seq((10L, 2L)).toDF("cid", "pid"))
    // concurrent non-txn delete of key 2 passes ITS restrict check
    // (t's staged row is unpublished, invisible to it)
    cat.delete("parent", col("id") === 2L)
    // committing t now would publish an orphaned FK row — must conflict
    val e = intercept[IllegalArgumentException] { t.commit() }
    assert(e.getMessage.contains("FK-related"), e.getMessage)
    t.rollback()
    assert(cat.scan("child").count() == 0)
  }

  test("commit conflicts when a txn-CREATED child's FK parent changed since BEGIN") {
    val cat = freshCatalog()
    cat.createTable("parent", StructType(Seq(
      StructField("id", LongType, nullable = false))), primaryKey = Some("id"))
    cat.insert("parent", Seq(1L, 2L).toDF("id"))
    val t = cat.begin()
    t.createTable("child2", StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    // valid against t's view: parent key 2 exists in the snapshot
    t.insert("child2", Seq((10L, 2L)).toDF("cid", "pid"))
    // concurrent delete can't see the txn-private child — passes
    cat.delete("parent", col("id") === 2L)
    // commit would move child2 (with its orphaned row) into the root
    val e = intercept[IllegalArgumentException] { t.commit() }
    assert(e.getMessage.contains("FK-related"), e.getMessage)
    t.rollback()
    assert(!cat.exists("child2"))
  }

  test("vacuum spares versions pinned by open transactions") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance")) // v1
    val t = cat.begin() // pins t@1
    cat.insert("t", Seq((2L, "b", 0.0)).toDF("id", "name", "balance")) // v2
    cat.insert("t", Seq((3L, "c", 0.0)).toDF("id", "name", "balance")) // v3
    cat.vacuum("t", keep = 1, graceMs = 0)
    // the open txn's snapshot read must still work (snapshot isolation)
    assert(t.scan("t").count() == 1)
    t.rollback()
    // with the txn closed, a second vacuum may collect its version
    cat.vacuum("t", keep = 1, graceMs = 0)
    intercept[IllegalArgumentException] { cat.asOf("t", 1) }
    assert(cat.scan("t").count() == 3)
  }

  test("a STALE orphan claim (crashed writer) is reclaimed, not a permanent wedge") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    // a writer that died between manifest claim and pointer move left
    // versions/v2.json with no matching version pointer, minutes ago
    val claim = java.nio.file.Paths.get(cat.root, "t", "versions", "v2.json")
    java.nio.file.Files.writeString(claim, """{"dirs": [], "stats": []}""")
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 120000L))
    // the next write reclaims the orphan and publishes normally
    cat.insert("t", Seq((2L, "b", 0.0)).toDF("id", "name", "balance"))
    assert(cat.currentVersion("t") == 2)
    assert(cat.scan("t").count() == 2)
  }

  test("an explicit txn commits over a STALE orphan claim, not a wedge") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    cat.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    // a crashed writer's claim on v2, minutes old, with no pointer move
    val claim = java.nio.file.Paths.get(cat.root, "t", "versions", "v2.json")
    java.nio.file.Files.writeString(claim, """{"dirs": [], "stats": []}""")
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 120000L))
    val t = cat.begin()
    t.insert("t", Seq((2L, "b", 0.0)).toDF("id", "name", "balance"))
    t.commit()
    assert(cat.currentVersion("t") == 2)
    assert(cat.scan("t").count() == 2)
  }

  test("commit conflicts when its written table was dropped and recreated since BEGIN") {
    val cat = freshCatalog()
    cat.createTable("t", schema)
    val t = cat.begin()
    t.insert("t", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    // the recreated table is back at version 0 — the txn's base — and
    // the DROP deleted the txn's staged dir
    cat.dropTable("t")
    cat.createTable("t", schema)
    intercept[IllegalArgumentException] { t.commit() }
    t.rollback()
    assert(cat.currentVersion("t") == 0)
    assert(cat.scan("t").count() == 0)
  }

  test("no lost update: explicit UPDATE txns beside concurrent autocommit INSERT/MERGE on one table") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((0L, "counter", 0.0)).toDF("id", "name", "balance")) // v1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val commits = new java.util.concurrent.atomic.AtomicInteger()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val auto = new Thread(() => {
      start.await()
      (1 to 3).foreach { i =>
        try {
          cat.insert("t", Seq((i.toLong, s"ins$i", 0.0)).toDF("id", "name", "balance"))
          // copy-on-write: a merge built on a stale snapshot would drop
          // a concurrently committed increment
          cat.merge("t", Seq((100L + i, s"m$i", 0.0)).toDF("id", "name", "balance"))
        } catch { case e: Throwable => errs.add(e) }
      }
    })
    val explicit = new Thread(() => {
      start.await()
      (1 to 4).foreach { _ =>
        val t = cat.begin()
        try {
          t.update("t", Map("balance" -> (col("balance") + 1.0)), col("id") === 0L)
          t.commit()
          commits.incrementAndGet()
        } catch {
          case e: IllegalArgumentException if e.getMessage.contains("conflict") =>
            t.rollback(); conflicts.incrementAndGet()
          case e: Throwable => t.rollback(); errs.add(e)
        }
      }
    })
    Seq(auto, explicit).foreach(_.start()); start.countDown()
    Seq(auto, explicit).foreach(_.join())
    assert(errs.isEmpty, s"unexpected failures: ${errs.asScala.map(_.getMessage)}")
    assert(commits.get + conflicts.get == 4)
    val rows = cat.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every autocommit statement landed ...
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 101L, 102L, 103L), rows)
    // ... and so did every acknowledged explicit increment
    assert(rows(0L) == commits.get.toDouble, s"$rows after ${commits.get} commits")
    // one version per publish: the seed insert, 6 statements, each commit
    assert(cat.currentVersion("t") == 1 + 6 + commits.get)
  }

  test("UNIQUE permits multiple NULLs, and later UPDATE/DELETE still revalidate cleanly") {
    val cat = freshCatalog()
    cat.createTable("u", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("email", StringType))), primaryKey = Some("id"),
      unique = Seq("email"))
    // SQL UNIQUE semantics: any number of NULLs coexist
    cat.insert("u", Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "email"))
    // the rewrite paths (update/delete/merge revalidate the WHOLE
    // snapshot) must not count the NULL group as a duplicate
    cat.update("u", Map("email" -> lit("a@x")), col("id") === 1L)
    cat.delete("u", col("id") === 99L) // no-op delete still revalidates
    assert(cat.scan("u").count() == 2)
    // real duplicates still rejected
    intercept[IllegalArgumentException] {
      cat.update("u", Map("email" -> lit("dup@x")), lit(true))
    }
  }

  test("txn reads pin metadata: a concurrent ALTER does not change an open txn's schema") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 1.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    assert(t.scan("t").columns.length == 3) // pins the metadata
    cat.addColumn("t", StructField("extra", StringType))
    assert(t.scan("t").columns.length == 3, "open txn must keep its pinned schema")
    assert(cat.scan("t").columns.length == 4, "outside view sees the new column")
    t.rollback()
  }

  test("merge upserts on the primary key; history stays time-travelable") {
    val cat = freshCatalog()
    cat.createTable("m", schema, primaryKey = Some("id"),
      defaults = Map("balance" -> 0.0))
    cat.insert("m", Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
      .toDF("id", "name", "balance"))
    val vBefore = cat.currentVersion("m")
    cat.merge("m", Seq((2L, "bob2", 99.0), (3L, "carol", 30.0))
      .toDF("id", "name", "balance"))
    val rows = cat.scan("m").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "alice", 10.0), (2L, "bob2", 99.0), (3L, "carol", 30.0)))
    // pre-merge snapshot still readable
    assert(cat.asOf("m", vBefore).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("alice", "bob"))
    // a source carrying duplicate keys is rejected (undefined winner)
    intercept[IllegalArgumentException] {
      cat.merge("m", Seq((4L, "x", 0.0), (4L, "y", 0.0)).toDF("id", "name", "balance"))
    }
    // merge requires a primary key to match on
    cat.createTable("nopk", schema)
    intercept[IllegalArgumentException] {
      cat.merge("nopk", Seq((1L, "a", 0.0)).toDF("id", "name", "balance"))
    }
  }

  test("ALTER TABLE: metadata-only add/drop column, no data rewrite, atomic version") {
    val cat = freshCatalog()
    cat.createTable("a", schema, primaryKey = Some("id"))
    cat.insert("a", Seq((1L, "x", 1.0)).toDF("id", "name", "balance"))
    val dataDirsBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(cat.root, "a", "data")).count()
    val v1 = cat.currentVersion("a")

    // ADD: existing rows read NULL; the default applies to future inserts
    cat.addColumn("a", StructField("tag", StringType), default = Some("new"))
    assert(cat.currentVersion("a") == v1 + 1)
    val r1 = cat.scan("a").orderBy("id").collect()
    assert(r1.head.isNullAt(3), "existing row must read NULL for the added column")
    cat.insert("a", Seq((2L, "y", 2.0)).toDF("id", "name", "balance"))
    val r2 = cat.scan("a").orderBy("id").collect()
    assert(r2(1).getString(3) == "new", "new insert takes the declared default")
    // no data rewrite happened for the ALTER itself (one dir per insert only)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(cat.root, "a", "data")).count() == dataDirsBefore + 1)
    // old version still time-travelable (added column reads NULL there too)
    assert(cat.asOf("a", v1).count() == 1)

    // DROP: column leaves schema + constraints; PK cannot be dropped
    cat.dropColumn("a", "tag")
    assert(!cat.meta("a").schema.fieldNames.contains("tag"))
    assert(cat.scan("a").columns.toSeq == Seq("id", "name", "balance"))
    intercept[IllegalArgumentException] { cat.dropColumn("a", "id") }
    // non-nullable add without a value path is rejected
    intercept[IllegalArgumentException] {
      cat.addColumn("a", StructField("strict", LongType, nullable = false))
    }
    // a DEFAULT that cannot cast to the column type is rejected AT
    // ALTER time (future inserts would otherwise silently write NULL)
    intercept[IllegalArgumentException] {
      cat.addColumn("a", StructField("n", LongType), default = Some("oops"))
    }
    cat.addColumn("a", StructField("n", LongType), default = Some("12")) // castable: fine
    cat.insert("a", Seq((3L, "z", 3.0)).toDF("id", "name", "balance"))
    assert(cat.scan("a").filter(col("id") === 3L).head().getLong(3) == 12L)
  }

  test("stress: concurrent merges on disjoint keys all land under optimistic retry") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((100L, "base", 0.0)).toDF("id", "name", "balance"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 3).map { w =>
      new Thread(() => {
        start.await()
        try cat.merge("t",
          Seq((w.toLong, s"w$w", 1.0), (100L, s"upd$w", 2.0))
            .toDF("id", "name", "balance"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(errs.isEmpty, s"unexpected failures: ${errs.asScala.map(_.getMessage)}")
    // all three merges landed: 3 new keys + the base key (upserted by
    // whichever merge published LAST — each retry re-reads the current
    // snapshot, so no insert is lost)
    val rows = cat.scan("t").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 100L))
    assert(rows.last.getString(1).startsWith("upd"))
    assert(cat.currentVersion("t") == 4)
  }

  test("txn merge: staged, read-your-writes, invisible until commit") {
    val cat = freshCatalog()
    cat.createTable("m", schema, primaryKey = Some("id"))
    cat.insert("m", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance"))
    val t = cat.begin()
    t.merge("m", Seq((2L, "b2", 22.0), (3L, "c", 3.0)).toDF("id", "name", "balance"))
    // txn sees its merge; outside sees the old snapshot
    assert(t.scan("m").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "b2", "c"))
    assert(cat.scan("m").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "b"))
    t.commit()
    assert(cat.scan("m").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "b2", "c"))
  }

  test("RESTORE: metadata-only rollback publishes an old manifest as a new version") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("id"))
    cat.insert("t", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance")) // v1
    cat.insert("t", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))                 // v2
    cat.delete("t", org.apache.spark.sql.functions.col("id") === 1L)                   // v3
    assert(cat.currentVersion("t") == 3)
    val v = cat.restore("t", 2)
    assert(v == 4, "restore must publish a NEW version, preserving history")
    assert(cat.scan("t").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L), "v4 must equal v2's content")
    // the bad version stays inspectable (Delta RESTORE semantics)
    assert(cat.asOf("t", 3).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // restoring the current version is a no-op
    assert(cat.restore("t", 4) == 4)
    // restoring past a vacuumed version errors loudly
    cat.vacuum("t", keep = 1, graceMs = 0L)
    intercept[IllegalArgumentException] { cat.restore("t", 1) }
  }

  test("RESTORE is RESTRICT-checked: cannot orphan referencing rows") {
    val cat = freshCatalog()
    cat.createTable("parent", StructType(Seq(StructField("id", LongType, nullable = false))),
      primaryKey = Some("id"))
    cat.insert("parent", Seq(Tuple1(1L)).toDF("id"))        // v1: only key 1
    cat.insert("parent", Seq(Tuple1(2L)).toDF("id"))        // v2: keys 1,2
    cat.createTable("child",
      StructType(Seq(StructField("cid", LongType, nullable = false),
        StructField("pid", LongType))),
      primaryKey = Some("cid"), references = Map("pid" -> "parent"))
    cat.insert("child", Seq((10L, 2L)).toDF("cid", "pid"))  // references key 2
    // restoring parent to v1 would remove key 2 while child still points at it
    intercept[IllegalArgumentException] { cat.restore("parent", 1) }
    assert(cat.currentVersion("parent") == 2, "failed restore must not publish")
  }

  test("CREATE INDEX post-hoc: scans become file-pruned after the rebuild") {
    val cat = freshCatalog()
    cat.createTable("pt", schema, primaryKey = Some("id"))
    // several appends = several data dirs, ids interleaved so that the
    // UNSORTED layout cannot prune a range filter
    cat.insert("pt", Seq((1L, "a", 1.0), (100L, "b", 2.0)).toDF("id", "name", "balance"))
    cat.insert("pt", Seq((2L, "c", 3.0), (99L, "d", 4.0)).toDF("id", "name", "balance"))
    cat.insert("pt", Seq((3L, "e", 5.0), (98L, "f", 6.0)).toDF("id", "name", "balance"))
    val filt = col("id") >= 95L
    val (keptBefore, allBefore) = cat.planFiles("pt", filt)
    // zone maps prune even without an index (every prunable column gets
    // footer min/max at publish) — but never below correctness
    assert(keptBefore.size <= allBefore.size)
    assert(cat.scan("pt", filt).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(98L, 99L, 100L), "pre-index pruned scan answers exactly")
    val v = cat.createIndex("pt", "id")
    assert(v == cat.currentVersion("pt"))
    val (kept, all) = cat.planFiles("pt", filt)
    assert(kept.size < all.size,
      s"indexed+compacted layout must prune (kept ${kept.size} of ${all.size})")
    // pruned scan still answers exactly
    assert(cat.scan("pt", filt).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(98L, 99L, 100L))
    // double-create rejects; unknown column rejects
    intercept[IllegalArgumentException] { cat.createIndex("pt", "id") }
    intercept[IllegalArgumentException] { cat.createIndex("pt", "nope") }
    // pre-index versions still time-travel
    assert(cat.asOf("pt", 3).count() == 6)
  }

  test("CLONE: zero-copy snapshot clone; sides diverge and neither breaks the other") {
    val cat = freshCatalog()
    cat.createTable("src", schema, primaryKey = Some("id"), indexes = Seq("id"))
    cat.insert("src", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "balance"))
    cat.insert("src", Seq((3L, "c", 3.0)).toDF("id", "name", "balance"))
    cat.cloneTable("src", "dup")
    // clone content == source's current snapshot, constraints carried
    assert(cat.scan("dup").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    // PK carried over: a duplicate-key insert into the clone rejects
    intercept[IllegalArgumentException] {
      cat.insert("dup", Seq((1L, "x", 9.0)).toDF("id", "name", "balance"))
    }
    // zero-copy: the cloned parquet files are HARD LINKS (same inode)
    val srcFile = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat.root.toString, "src", "data"))
      .iterator().asScala.find(p => p.toString.endsWith(".parquet")).get
    assert(java.nio.file.Files.getAttribute(srcFile, "unix:nlink")
      .asInstanceOf[Number].intValue >= 2,
      "cloned data files must be hard links, not copies")
    // divergence: writes to one side never appear on the other
    cat.insert("dup", Seq((4L, "d", 4.0)).toDF("id", "name", "balance"))
    cat.delete("src", col("id") === 1L)
    assert(cat.scan("dup").count() == 4 && cat.scan("src").count() == 2)
    // dropping the source leaves the clone fully readable (ownership:
    // the clone's manifests reference only its own linked files)
    cat.dropTable("src")
    assert(cat.scan("dup").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // cloning onto an existing name rejects
    intercept[IllegalArgumentException] { cat.cloneTable("dup", "dup") }
  }

  test("CROSS-PROCESS stress: two sibling JVMs + this one insert and vacuum concurrently, no lost updates") {
    // the in-JVM rootLock cannot serialize another process — only the
    // CREATE_NEW manifest claims can. Fork two real JVMs against the
    // same root: one inserting, one vacuuming while reading; this JVM
    // inserts and reads concurrently. Afterward: every insert from
    // every process must be present (no lost updates), version count
    // must equal the publish count, and no reader may have broken
    // while vacuum pruned old versions.
    import scala.sys.process._
    val cat = freshCatalog()
    val idv = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    cat.createTable("shared", idv, primaryKey = Some("id"))

    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def fork(mode: String, n: Int, id: String) =
      Process(Seq(java) ++ opens ++ Seq(
        "-Xmx1g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
        "graft.sources.CatalogWorker", cat.root, mode, "shared", n.toString, id)).run()

    val nPerWorker = 4
    val inserter = fork("insert", nPerWorker, "1")
    val vacuumer = fork("vacuum", 6, "-")
    // this JVM races them with its own inserts + reads
    for (i <- 0 until nPerWorker) {
      cat.insert("shared", Seq((900000L + i, s"main-$i")).toDF("id", "v"))
      // reader under concurrent vacuum: current snapshot always scans
      assert(cat.scan("shared").count() >= (i + 1).toLong)
    }
    assert(inserter.exitValue() == 0, "insert worker failed")
    assert(vacuumer.exitValue() == 0, "vacuum/reader worker failed")

    // no lost updates: every key from both writers is present
    val ids = cat.scan("shared").collect().map(_.getLong(0)).toSet
    val expect = (0 until nPerWorker).map(i => 100000L + i).toSet ++
      (0 until nPerWorker).map(i => 900000L + i).toSet
    assert(ids == expect, s"lost updates: missing ${expect -- ids}")
    // every publish produced exactly one version (2 procs × 4 inserts)
    assert(cat.currentVersion("shared") == 2 * nPerWorker,
      s"version ${cat.currentVersion("shared")} != ${2 * nPerWorker} publishes")
    // vacuum pruned old manifests but the retained history is sound
    val h = cat.history("shared").collect()
    assert(h.nonEmpty && h.exists(_.getBoolean(3)))
  }
}
