package graft

import graft.sources.{CatalogCodec, TableCatalog}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Copy-on-write DML rewrites only the files its predicate can touch.
  * Each hostile-input spec runs the statement twice on identical
  * tables (a zero-copy clone): once as written, once as `(where) OR
  * false` — a predicate with no extractable conjunct, so every file is
  * a candidate — and requires the published rows to agree. */
class PrunedDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): TableCatalog =
    new TableCatalog(spark, java.nio.file.Files.createTempDirectory("graft-prune").toString)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType), StructField("s", StringType)))

  /** Table `name` indexed on `k`, loaded in one insert of `n` rows —
    * one file per core with disjoint key ranges. */
  private def loaded(cat: TableCatalog, name: String, n: Int,
      pk: Boolean = true, unique: Seq[String] = Nil): Unit = {
    cat.createTable(name, schema, primaryKey = if (pk) Some("k") else None,
      unique = unique, indexes = Seq("k"))
    cat.insert(name, spark.range(0, n).select(col("id").as("k"),
      (col("id") * 0.5).as("d"), format_string("s%05d", col("id")).as("s")))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def rows(cat: TableCatalog, name: String): Seq[String] = rows(cat.scan(name))

  private var clones = 0

  /** Runs `stmt` on `name` with `where` and on a clone of it with the
    * unprunable `where OR false`; asserts both publish the same rows
    * and returns them. */
  private def agree(cat: TableCatalog, name: String, where: Column)(
      stmt: (String, Column) => Unit): Seq[String] = {
    clones += 1
    val twin = s"${name}_all$clones"
    cat.cloneTable(name, twin)
    stmt(name, where)
    stmt(twin, where || lit(false))
    val (got, want) = (rows(cat, name), rows(cat, twin))
    assert(got == want, s"pruned $where diverged from the all-files statement")
    got
  }

  private def update(cat: TableCatalog)(set: Map[String, Column]) =
    (t: String, w: Column) => { cat.update(t, set, w); () }
  private def delete(cat: TableCatalog) =
    (t: String, w: Column) => { cat.delete(t, w); () }

  /** The paths of a version's file records. */
  private def files(cat: TableCatalog, name: String, v: Int): Seq[String] =
    CatalogCodec.readManifest(java.nio.file.Paths.get(cat.root, name, "versions", s"v$v.json"))
      .files.map(_.path)

  /** The data dirs of a version's file records, in record order. */
  private def entries(cat: TableCatalog, name: String, v: Int): Seq[String] =
    files(cat, name, v).map(f => f.take(f.lastIndexOf('/'))).distinct

  test("a one-key DELETE on a 4-file indexed table publishes 3 untouched entries plus 1 new dir") {
    val cat = freshCatalog()
    val g = new GraftSQL(spark, cat)
    loaded(cat, "t", 4000)
    val v0 = cat.currentVersion("t")
    val loadDir = entries(cat, "t", v0)
    assert(loadDir.size == 1 && cat.planFiles("t", lit(true))._2.size == 4,
      s"a freshly loaded table is one dir of 4 files: ${cat.planFiles("t", lit(true))._2}")
    // SQL text: the predicate arrives as a parsed expression, not the Column API
    g.execute("DELETE FROM t WHERE k = 1234")
    // 3 untouched load files + 1 new file under a `data/stmt-` dir
    val now = files(cat, "t", v0 + 1)
    val (untouched, fresh) = now.partition(_.startsWith(loadDir.head + "/"))
    assert(untouched.size == 3, now)
    assert(fresh.size == 1 && fresh.head.startsWith("data/stmt-"), now)
    assert(cat.scan("t").count() == 3999 && cat.scan("t", col("k") === 1234L).count() == 0)
    // the rewritten file went back as one file, not one per core
    assert(cat.planFiles("t", lit(true))._2.size == 4)
    // the next statement prunes over the file entries too
    g.execute("UPDATE t SET d = -1 WHERE k BETWEEN 3990 AND 3999")
    val after = files(cat, "t", v0 + 2)
    assert(after.size == 4 && after.count(_.startsWith(loadDir.head + "/")) == 2, after)
    assert(cat.scan("t").filter(col("d") === -1.0).count() == 10)
  }

  test("pruned MERGE rewrites only the files holding the source key range") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000)
    val v0 = cat.currentVersion("t")
    val loadDir = entries(cat, "t", v0).head
    val before = rows(cat, "t")
    cat.merge("t", Seq((10L, 99.0, "up"), (20L, 98.0, "up2"))
      .toDF("k", "d", "s"))
    val now = files(cat, "t", v0 + 1)
    assert(now.count(_.startsWith(loadDir + "/")) == 3 && now.size == 4, now)
    val want = before.filterNot(r => r.startsWith("10|") || r.startsWith("20|")) ++
      Seq("10|99.0|up", "20|98.0|up2")
    assert(rows(cat, "t") == want.sorted)
    // a source key past the table's range still lands (an append)
    cat.merge("t", Seq((5000L, 1.0, "new")).toDF("k", "d", "s"))
    assert(cat.scan("t").count() == 4001)
    // and a duplicate source key still fails with the old message
    val e = intercept[IllegalArgumentException] {
      cat.merge("t", Seq((1L, 1.0, "a"), (1L, 2.0, "b")).toDF("k", "d", "s"))
    }
    assert(e.getMessage.contains("duplicate keys in source"))
  }

  test("pruned DML on NULL keys: null-marker files stay candidates, NULL rows never match") {
    val cat = freshCatalog()
    loaded(cat, "t", 2000, pk = false)
    // one dir of only NULL keys (null-marker stats) and one mixed
    cat.insert("t", Seq[(Option[Long], Double, String)](
      (None, 1.0, "n1"), (None, 2.0, "n2")).toDF("k", "d", "s"))
    cat.insert("t", Seq[(Option[Long], Double, String)](
      (None, 3.0, "n3"), (Some(5L), 4.0, "dup5"), (Some(7000L), 5.0, "x")).toDF("k", "d", "s"))
    agree(cat, "t", col("k") === 5L)(update(cat)(Map("d" -> (col("d") + 100))))
    agree(cat, "t", col("k") > 1500L)(delete(cat))
    agree(cat, "t", col("k").isNull && col("d") > 1.5)(delete(cat))
    val left = rows(cat, "t")
    assert(left.count(_.startsWith("null|")) == 1 && !left.exists(_.startsWith("7000|")))
  }

  test("pruned DML on NaN doubles: a NaN row satisfies every lower bound") {
    val cat = freshCatalog()
    cat.createTable("t", schema, indexes = Seq("d"))
    cat.insert("t", spark.range(0, 2000).select(col("id").as("k"),
      (col("id") * 0.5).as("d"), lit("a").as("s")))
    cat.insert("t", Seq((5000L, Double.NaN, "nan"), (5001L, 1.0, "one")).toDF("k", "d", "s"))
    cat.insert("t", Seq((6000L, Double.NaN, "nan-only")).toDF("k", "d", "s"))
    agree(cat, "t", col("d") > 900.0)(update(cat)(Map("s" -> lit("big"))))
    assert(cat.scan("t").filter(col("s") === "big").count() == 2000 - 1801 + 2)
    agree(cat, "t", col("d") >= 999.0)(delete(cat))
    assert(cat.scan("t").filter(isnan(col("d"))).count() == 0)
    agree(cat, "t", col("d") < 2.0)(delete(cat))
  }

  test("pruned DML: a string column compared to a numeric literal compares numerically") {
    val cat = freshCatalog()
    cat.createTable("t", schema, indexes = Seq("s"))
    // byte order and numeric order disagree: "9" > "10000" as text
    cat.insert("t", spark.range(0, 2000).select(col("id").as("k"),
      lit(0.0).as("d"), (col("id") * 7).cast("string").as("s")))
    agree(cat, "t", col("s") > 10000)(update(cat)(Map("d" -> lit(1.0))))
    assert(cat.scan("t").filter(col("d") === 1.0).count() ==
      (0 until 2000).count(_ * 7 > 10000))
    agree(cat, "t", col("s") === 700)(delete(cat))
    agree(cat, "t", col("s") <= "2")(delete(cat))
  }

  test("pruned DML: OR and other non-extractable predicates rewrite every file") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000)
    val u = update(cat)(Map("d" -> lit(-2.0)))
    agree(cat, "t", col("k") === 3L || col("k") === 3900L)(u)
    agree(cat, "t", col("k").isin(10L, 2500L))(u)
    agree(cat, "t", col("k") + 0 === 1999L)(delete(cat))
    agree(cat, "t", col("k") > 3500L && (col("d") < 0 || col("s") === "s03600"))(delete(cat))
    // 3900 matched the last statement's second conjunct
    assert(cat.scan("t").filter(col("d") === -2.0).count() == 3)
  }

  test("pruned DML over a dir without stats keeps all of that dir's files") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000)
    cat.insert("t", Seq((9000L, 1.0, "late"), (9001L, 2.0, "late2")).toDF("k", "d", "s"))
    // strip the second dir's zone maps, as an older layout would have
    // left them: its files must then always be candidates
    val v = cat.currentVersion("t")
    val late = entries(cat, "t", v).last
    val p = java.nio.file.Paths.get(cat.root, "t", "versions", s"v$v.json")
    val body = java.nio.file.Files.readString(p)
    val stripped = body.replaceAll(
      "\\{\"path\": \"" + java.util.regex.Pattern.quote(late) + "/[^}]*\\},?", "")
      .replace(",]", "]")
    assert(stripped != body)
    java.nio.file.Files.writeString(p, stripped)
    assert(cat.planFiles("t", col("k") === 9000L)._1.exists(_.startsWith(late + "/")))
    agree(cat, "t", col("k") === 9000L)(update(cat)(Map("s" -> lit("seen"))))
    assert(cat.scan("t").filter(col("s") === "seen").count() == 1)
    agree(cat, "t", col("k") >= 9001L)(delete(cat))
    assert(cat.scan("t").count() == 4001)
  }

  test("pruned UPDATE that changes the PK: moved keys land, collisions in untouched files fail") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000, unique = Seq("s"))
    agree(cat, "t", col("k").between(10L, 20L))(
      update(cat)(Map("k" -> (col("k") + 100000))))
    assert(cat.scan("t").filter(col("k") >= 100010L).count() == 11)
    // the new key exists only in a file the predicate cannot touch:
    // validation runs over the whole new view, not the rewrite alone
    val pk = intercept[IllegalArgumentException] {
      cat.update("t", Map("k" -> lit(3999L)), col("k") === 5L)
    }
    assert(pk.getMessage.contains("UNIQUE/PRIMARY KEY violated"), pk.getMessage)
    val uq = intercept[IllegalArgumentException] {
      cat.update("t", Map("s" -> lit("s03999")), col("k") === 6L)
    }
    assert(uq.getMessage.contains("t.s: UNIQUE/PRIMARY KEY violated"), uq.getMessage)
    assert(cat.scan("t").count() == 4000)
  }

  test("txn INSERT then UPDATE prunes over staged dirs; ROLLBACK leaves no trace, COMMIT agrees") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000)
    def dataDirs: Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val before = rows(cat, "t")
    val dirs0 = dataDirs
    val v0 = cat.currentVersion("t")
    val t = cat.begin()
    t.insert("t", Seq((7000L, 1.0, "a"), (7001L, 2.0, "b")).toDF("k", "d", "s"))
    t.update("t", Map("d" -> (col("d") * 10)), col("k") === 7001L)
    t.update("t", Map("d" -> lit(0.0)), col("k") === 42L)
    assert(rows(t.scan("t").filter(col("k").isin(7001L, 42L))) == Seq("42|0.0|s00042", "7001|20.0|b"))
    t.rollback()
    assert(rows(cat, "t") == before && cat.currentVersion("t") == v0)
    assert(dataDirs == dirs0, s"rolled-back staging left ${dataDirs -- dirs0}")

    cat.cloneTable("t", "u")
    for ((name, pruned) <- Seq("t" -> true, "u" -> false)) {
      def w(c: Column) = if (pruned) c else c || lit(false)
      val tx = cat.begin()
      tx.insert(name, Seq((7000L, 1.0, "a"), (7001L, 2.0, "b")).toDF("k", "d", "s"))
      tx.update(name, Map("d" -> (col("d") * 10)), w(col("k") === 7001L))
      tx.delete(name, w(col("k") === 7000L || col("k") === 3L))
      tx.update(name, Map("s" -> lit("z")), w(col("k") >= 3998L))
      tx.commit()
    }
    assert(rows(cat, "t") == rows(cat, "u"))
    assert(rows(cat.scan("t").filter(col("k") >= 3998L)) ==
      Seq("3998|1999.0|z", "3999|1999.5|z", "7001|20.0|z"))
  }

  test("pruned DML keeps time travel, vacuum, clone and history sound over file entries") {
    val cat = freshCatalog()
    loaded(cat, "t", 4000)
    val v0 = cat.currentVersion("t")
    val loadDir = entries(cat, "t", v0).head
    val before = rows(cat, "t")
    cat.update("t", Map("d" -> lit(7.0)), col("k") === 100L)
    cat.delete("t", col("k") === 3000L)
    val v2 = cat.currentVersion("t")
    val now = rows(cat, "t")
    assert(files(cat, "t", v2).count(_.startsWith(loadDir + "/")) == 2)
    // asOf the pre-update version, and a pinned pruned read of it
    assert(rows(cat.asOf("t", v0)) == before)
    assert(cat.planFilesAt("t", v0, col("k") === 100L)._1.size == 1)
    // history: n_files counts file records, n_rows stays the row count
    val h = cat.history("t").collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(h(v0) == (4, 4000L) && h(v2) == (4, 3999L), h)
    // clone links file entries into their parent dirs
    cat.cloneTable("t", "c")
    assert(rows(cat, "c") == now)
    cat.delete("c", col("k") === 101L)
    assert(cat.scan("c").count() == 3998 && rows(cat, "t") == now)
    // vacuum keeps dirs that are live only through file entries
    cat.vacuum("t", keep = 1, graceMs = 0)
    assert(rows(cat, "t") == now)
    cat.update("t", Map("s" -> lit("eight")), col("k") === 2000L)
    assert(cat.scan("t").filter(col("s") === "eight").count() == 1)
    cat.vacuum("t", keep = 1, graceMs = 0)
    assert(cat.scan("t").count() == 3999 && rows(cat, "c").size == 3998)
  }

  test("vacuum collects a committed explicit txn's superseded dir, never an open txn's") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("k"))
    cat.insert("t", Seq((1L, 1.0, "a")).toDF("k", "d", "s"))
    val t1 = cat.begin()
    t1.insert("t", Seq((2L, 2.0, "b")).toDF("k", "d", "s"))
    t1.commit()
    def txnDirs: Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "t", "data"))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("txn-")).toSet
      finally s.close()
    }
    val committed = txnDirs
    assert(committed.size == 1)
    cat.compact("t") // supersedes every earlier dir
    val t2 = cat.begin()
    t2.insert("t", Seq((3L, 3.0, "c")).toDF("k", "d", "s"))
    val staged = txnDirs -- committed
    assert(staged.size == 1)
    cat.vacuum("t", keep = 1, graceMs = 0)
    assert(txnDirs == staged, s"after vacuum: $txnDirs")
    t2.commit()
    assert(rows(cat, "t") == Seq("1|1.0|a", "2|2.0|b", "3|3.0|c"))
  }
}
