package graft

import graft.sources.TableCatalog
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's SQL statement surface end-to-end through text
  * (SURVEY.md §2: every ast.rs:10-50 statement form). */
class GraftSQLSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def session(): GraftSQL = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sql").toString
    new GraftSQL(spark, new TableCatalog(spark, dir))
  }

  test("full DDL/DML/SELECT lifecycle through SQL text") {
    val g = session()
    g.execute("""CREATE TABLE movies (
      id INTEGER PRIMARY KEY,
      title STRING NOT NULL,
      rating FLOAT DEFAULT 0.0,
      seen BOOLEAN DEFAULT FALSE)""")
    g.execute("INSERT INTO movies (id, title) VALUES (1, 'Heat'), (2, 'Ronin')")
    g.execute("INSERT INTO movies VALUES (3, 'Sicario', 8.1, TRUE)")

    val all = g.execute("SELECT id, title, rating, seen FROM movies ORDER BY id").collect()
    assert(all.length == 3)
    assert(all(0).getString(1) == "Heat" && all(0).getDouble(2) == 0.0 && !all(0).getBoolean(3))
    assert(all(2).getDouble(2) == 8.1 && all(2).getBoolean(3))

    g.execute("UPDATE movies SET rating = rating + 1.0, seen = TRUE WHERE id < 3")
    val updated = g.execute(
      "SELECT count(*) AS n FROM movies WHERE seen = TRUE AND rating = 1.0").collect()
    assert(updated(0).getLong(0) == 2)

    g.execute("DELETE FROM movies WHERE id = 2")
    assert(g.execute("SELECT * FROM movies").count() == 2)

    // aggregates + expression grammar (Catalyst superset of ast.rs ops)
    val agg = g.execute(
      "SELECT sum(rating) AS s, min(id) AS mn FROM movies WHERE NOT (id = 999)").collect()
    assert(agg(0).getDouble(0) == 9.1 && agg(0).getLong(1) == 1)

    val plan = g.execute("EXPLAIN SELECT * FROM movies WHERE id = 1").collect()(0).getString(0)
    assert(plan.contains("Physical Plan"))

    g.execute("DROP TABLE movies")
    intercept[Exception] { g.execute("SELECT * FROM movies").collect() }
  }

  test("duplicate columns in DML column lists and SET clauses error loudly") {
    val g = session()
    g.execute("CREATE TABLE dup (a INTEGER, b INTEGER)")
    g.execute("INSERT INTO dup VALUES (1, 2)")
    // a duplicated name must never collapse silently (last value wins)
    intercept[IllegalArgumentException] {
      g.execute("INSERT INTO dup (a, a) VALUES (1, 2)")
    }
    intercept[IllegalArgumentException] { // case-insensitive, like the resolver
      g.execute("UPDATE dup SET a = 1, A = 2")
    }
    intercept[IllegalArgumentException] {
      g.execute("MERGE INTO dup USING (SELECT 9 AS a, 9 AS b) s ON dup.a = s.a " +
        "WHEN MATCHED THEN UPDATE SET b = s.b, B = 0 " +
        "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (s.a, s.b)")
    }
    intercept[IllegalArgumentException] {
      g.execute("MERGE INTO dup USING (SELECT 9 AS a, 9 AS b) s ON dup.a = s.a " +
        "WHEN NOT MATCHED THEN INSERT (a, a) VALUES (s.a, s.b)")
    }
    // the table is untouched by every rejected statement
    val rows = g.execute("SELECT a, b FROM dup").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
  }

  test("subquery predicates in DML: IN / EXISTS / scalar through UPDATE and DELETE, txn and EXPLAIN") {
    val g = session()
    g.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, qty INTEGER)")
    g.execute("INSERT INTO items VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    g.execute("CREATE TABLE picks (pid INTEGER)")
    g.execute("INSERT INTO picks VALUES (7), (8)")
    def ids() = g.execute("SELECT id FROM items ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    def qtys() = g.execute("SELECT id, qty FROM items ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    // EXPLAIN first: plans, never executes (reference semantics)
    val exPlan = g.execute(
      "EXPLAIN DELETE FROM items WHERE id IN (SELECT pid / 2 FROM picks)")
      .collect()(0).getString(0)
    assert(exPlan.contains("not executed") || exPlan.contains("Physical Plan"))
    assert(ids() == Seq(1L, 2L, 3L, 4L), "EXPLAIN must not execute the DELETE")

    // IN (subquery) with the reference's integer division INSIDE the
    // subquery body: 7/2=3, 8/2=4 — so ids 3 and 4 go, never 3.5/4.0
    g.execute("DELETE FROM items WHERE id IN (SELECT pid / 2 FROM picks)")
    assert(ids() == Seq(1L, 2L), s"RefDiv must reach the subquery body: ${ids()}")

    // correlated EXISTS with a QUALIFIED outer reference (items.id)
    g.execute("INSERT INTO picks VALUES (2)")
    g.execute("UPDATE items SET qty = qty + 100 " +
      "WHERE EXISTS (SELECT 1 FROM picks p WHERE p.pid = items.id)")
    assert(qtys() == Seq((1L, 10L), (2L, 120L)), s"correlated EXISTS: ${qtys()}")

    // scalar subquery in SET and in WHERE
    g.execute("UPDATE items SET qty = (SELECT min(pid) FROM picks) " +
      "WHERE id = (SELECT min(id) FROM items)")
    assert(qtys() == Seq((1L, 2L), (2L, 120L)), s"scalar subqueries: ${qtys()}")

    // NOT IN through a txn: the subquery sees the txn's STAGED state
    g.execute("BEGIN")
    g.execute("INSERT INTO picks VALUES (1)")
    // staged view: picks = {7, 8, 2, 1}; delete items NOT IN picks → id 2 stays
    g.execute("DELETE FROM items WHERE id NOT IN (SELECT pid FROM picks)")
    // read-your-writes inside the txn
    assert(ids() == Seq(1L, 2L), s"txn staged subquery: ${ids()}")
    // EXPLAIN UPDATE with a subquery inside the open txn
    val txPlan = g.execute("EXPLAIN UPDATE items SET qty = 0 " +
      "WHERE id IN (SELECT pid FROM picks)").collect()(0).getString(0)
    assert(txPlan.contains("not executed"))
    g.execute("COMMIT")
    assert(ids() == Seq(1L, 2L))

    // subquery over a SESSION VIEW in a DML predicate: big_picks = {8},
    // so only id 2 (2 + 6 = 8) goes and id 1 survives
    g.execute("CREATE VIEW big_picks AS SELECT pid FROM picks WHERE pid >= 8")
    g.execute("DELETE FROM items WHERE id + 6 IN (SELECT pid FROM big_picks)")
    assert(ids() == Seq(1L), s"view-backed subquery: ${ids()}")

    // subqueries in MERGE clause conditions bind the same way: the
    // WHEN MATCHED gate consults another table mid-statement
    g.execute("MERGE INTO items USING (SELECT 1 AS id, 500 AS qty) m ON items.id = m.id " +
      "WHEN MATCHED AND items.id IN (SELECT pid / 7 FROM picks) " + // 7/7=1: gate holds
      "THEN UPDATE SET qty = m.qty " +
      "WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (m.id, m.qty)")
    assert(qtys() == Seq((1L, 500L)), s"MERGE clause subquery: ${qtys()}")
  }

  test("EXPLAIN ANALYZE: executed-plan metrics for SELECT and MERGE USING, incl. inside a txn") {
    val g = session()
    g.execute("CREATE TABLE f (k INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("CREATE TABLE dim (k INTEGER PRIMARY KEY, grp STRING)")
    g.execute("INSERT INTO f VALUES (1, 10), (2, 20), (3, 30)")
    g.execute("INSERT INTO dim VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    // scan + join + agg SELECT: metric-bearing rows per operator
    val sel = g.execute("EXPLAIN ANALYZE SELECT grp, sum(v) AS s " +
      "FROM f JOIN dim ON f.k = dim.k GROUP BY grp").collect()(0).getString(0)
    assert(sel.contains("== Execution"), sel.take(400))
    assert(sel.matches("(?s).*numOutputRows=\\d.*"), sel.take(800))
    assert(sel.contains("HashAggregate") || sel.contains("ObjectHashAggregate"),
      sel.take(800))
    // MERGE USING: executes for real AND reports metric-bearing plans
    val m = g.execute("EXPLAIN ANALYZE MERGE INTO f USING " +
      "(SELECT 2 AS k, 99 AS v) s ON f.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
      .collect()(0).getString(0)
    assert(m.contains("== Execution") && m.matches("(?s).*numOutputRows=\\d.*"),
      m.take(800))
    assert(g.execute("SELECT v FROM f WHERE k = 2").collect()(0).getLong(0) == 99L,
      "EXPLAIN ANALYZE MERGE must actually execute the merge")
    // inside a txn: the staged write's execution is captured; the txn
    // keeps read-your-writes and rollback discards the staged row
    g.execute("BEGIN")
    val tm = g.execute("EXPLAIN ANALYZE MERGE INTO f USING " +
      "(SELECT 9 AS k, 1 AS v) s ON f.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
      .collect()(0).getString(0)
    assert(tm.contains("== Execution") && tm.matches("(?s).*numOutputRows=\\d.*"),
      tm.take(800))
    assert(g.execute("SELECT count(*) AS n FROM f WHERE k = 9")
      .collect()(0).getLong(0) == 1L)
    g.execute("ROLLBACK")
    assert(g.execute("SELECT count(*) AS n FROM f WHERE k = 9")
      .collect()(0).getLong(0) == 0L)
    // plain EXPLAIN still never executes
    g.execute("EXPLAIN DELETE FROM f WHERE k = 1")
    assert(g.execute("SELECT count(*) AS n FROM f").collect()(0).getLong(0) == 3L)
    // a READ ONLY session rejects EXPLAIN ANALYZE DML with the DML's error
    g.execute("BEGIN READ ONLY")
    intercept[IllegalArgumentException] {
      g.execute("EXPLAIN ANALYZE DELETE FROM f WHERE k = 1")
    }
    g.execute("ROLLBACK")
  }

  test("PK violation through SQL is rejected and not published") {
    val g = session()
    g.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO t VALUES (1, 'a')")
    intercept[IllegalArgumentException] { g.execute("INSERT INTO t VALUES (1, 'b')") }
    assert(g.execute("SELECT * FROM t").count() == 1)
  }

  test("FOREIGN KEY REFERENCES: orphan inserts rejected, delete restricted") {
    val g = session()
    g.execute("CREATE TABLE genres (id INTEGER PRIMARY KEY, name STRING)")
    g.execute("INSERT INTO genres VALUES (1, 'noir'), (2, 'heist')")
    g.execute("""CREATE TABLE films (
      id INTEGER PRIMARY KEY,
      genre_id INTEGER REFERENCES genres,
      title STRING)""")
    g.execute("INSERT INTO films VALUES (10, 2, 'Rififi')")
    // orphan FK rejected
    intercept[IllegalArgumentException] {
      g.execute("INSERT INTO films VALUES (11, 99, 'Nope')")
    }
    assert(g.execute("SELECT * FROM films").count() == 1)
    // RESTRICT: referenced parent row cannot be deleted
    intercept[IllegalArgumentException] {
      g.execute("DELETE FROM genres WHERE id = 2")
    }
    // unreferenced parent row can
    g.execute("DELETE FROM genres WHERE id = 1")
    assert(g.execute("SELECT * FROM genres").count() == 1)
  }

  test("BEGIN/COMMIT/ROLLBACK and AS OF time travel") {
    val g = session()
    g.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO t VALUES (1, 'v1')")   // version 1
    g.execute("INSERT INTO t VALUES (2, 'v2')")   // version 2

    // staged txn: read-your-writes, invisible before commit
    g.execute("BEGIN")
    g.execute("INSERT INTO t VALUES (3, 'v3')")
    assert(g.execute("SELECT * FROM t").count() == 3)
    g.execute("COMMIT")
    assert(g.execute("SELECT * FROM t").count() == 3)

    g.execute("BEGIN")
    g.execute("INSERT INTO t VALUES (4, 'v4')")
    g.execute("ROLLBACK")
    assert(g.execute("SELECT * FROM t").count() == 3)

    // plain READ ONLY txn: snapshot-at-now, writes rejected
    g.execute("BEGIN READ ONLY")
    assert(g.execute("SELECT * FROM t").count() == 3)
    intercept[IllegalArgumentException] { g.execute("INSERT INTO t VALUES (8, 'x')") }
    intercept[IllegalArgumentException] { g.execute("DELETE FROM t WHERE id = 1") }
    g.execute("ROLLBACK")

    // MVCC: AS OF is a GLOBAL commit version resolved through the
    // journal (ast.rs:11-14): g1 = CREATE, g2 = first INSERT, ...
    g.execute("BEGIN READ ONLY AS OF SYSTEM TIME 2")
    val old = g.execute("SELECT v FROM t").collect()
    assert(old.length == 1 && old(0).getString(0) == "v1")
    intercept[IllegalArgumentException] { g.execute("INSERT INTO t VALUES (9, 'x')") }
    g.execute("COMMIT")
    assert(g.execute("SELECT * FROM t").count() == 3)

    // a table created after g is INVISIBLE at g — global snapshot, not
    // per-table version pairing
    g.execute("CREATE TABLE later_t (id INTEGER PRIMARY KEY)")
    g.execute("BEGIN READ ONLY AS OF SYSTEM TIME 2")
    assert(g.execute("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("t"))
    intercept[Exception] { g.execute("SELECT * FROM later_t").collect() }
    g.execute("ROLLBACK")
  }

  test("UPDATE/DELETE inside BEGIN: staged, invisible before COMMIT, undone by ROLLBACK") {
    val g = session()
    g.execute("CREATE TABLE acc (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO acc VALUES (1, 10), (2, 20), (3, 30)")

    val g2 = new GraftSQL(spark, g.catalog) // independent session, same catalog
    g.execute("BEGIN")
    g.execute("UPDATE acc SET v = v + 1 WHERE id < 3")
    g.execute("DELETE FROM acc WHERE id = 3")
    // read-your-writes in the txn session...
    assert(g.execute("SELECT v FROM acc WHERE id = 1").collect()(0).getLong(0) == 11)
    assert(g.execute("SELECT count(*) AS n FROM acc").collect()(0).getLong(0) == 2)
    // ...invisible to the other session before COMMIT
    assert(g2.execute("SELECT v FROM acc WHERE id = 1").collect()(0).getLong(0) == 10)
    assert(g2.execute("SELECT count(*) AS n FROM acc").collect()(0).getLong(0) == 3)
    g.execute("COMMIT")
    assert(g2.execute("SELECT v FROM acc WHERE id = 1").collect()(0).getLong(0) == 11)
    assert(g2.execute("SELECT count(*) AS n FROM acc").collect()(0).getLong(0) == 2)

    g.execute("BEGIN")
    g.execute("DELETE FROM acc")
    assert(g.execute("SELECT count(*) AS n FROM acc").collect()(0).getLong(0) == 0)
    g.execute("ROLLBACK")
    assert(g.execute("SELECT count(*) AS n FROM acc").collect()(0).getLong(0) == 2)
  }

  test("NAN and INFINITY are float literals, as in the reference lexer") {
    val g = session()
    // reference lexer.rs:98,110 — NAN/INFINITY are keywords lexed to
    // FLOAT literals; Spark alone would resolve them as columns
    val r = g.execute(
      "SELECT nan AS a, INFINITY AS b, -infinity AS c, 'NAN' AS s, 1 + infinity AS d")
      .collect()(0)
    assert(r.getDouble(0).isNaN)
    assert(r.getDouble(1) == Double.PositiveInfinity)
    assert(r.getDouble(2) == Double.NegativeInfinity)
    assert(r.getString(3) == "NAN") // string literal untouched
    assert(r.getDouble(4) == Double.PositiveInfinity)
    // NaN compares per SQL float semantics through WHERE too
    val n = g.execute("SELECT 1 AS x WHERE NAN = NAN").count()
    assert(n == 0 || n == 1) // engine-defined; must not throw
    // no interference with the ^/! rewrites
    assert(g.execute("SELECT 2 ^ 3 AS p").collect()(0).getLong(0) == 8L)
    // a backtick-quoted identifier is an explicit column reference and
    // must NOT be rewritten into the literal
    assert(GraftSQL.rewriteOps("SELECT `nan`, nan AS x") ==
      "SELECT `nan`, CAST('NaN' AS DOUBLE) AS x")
    assert(GraftSQL.rewriteOps("SELECT `infinity` FROM t") ==
      "SELECT `infinity` FROM t")
  }

  test("COMPACT TABLE and VACUUM maintenance statements") {
    val g = session()
    g.execute("CREATE TABLE mt (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO mt VALUES (1, 10)")
    g.execute("INSERT INTO mt VALUES (2, 20)")
    g.execute("INSERT INTO mt VALUES (3, 30)")
    val st = g.execute("COMPACT TABLE mt").collect()(0).getString(0)
    assert(st.contains("v4"), st)
    assert(g.execute("SELECT count(*) AS n FROM mt").collect()(0).getLong(0) == 3)
    val vac = g.execute("VACUUM mt KEEP 1").collect()(0).getString(0)
    assert(vac.contains("removed 4"), vac)
    assert(g.execute("SELECT count(*) AS n FROM mt").collect()(0).getLong(0) == 3)
    // COMPACT JOURNAL folds commit history; AS OF at the fold point
    // still resolves, and later statements keep journaling above it
    val gBefore = g.catalog.globalVersion()
    val cj = g.execute("COMPACT JOURNAL").collect()(0).getString(0)
    assert(cj.contains(s"g$gBefore"), cj)
    g.execute("INSERT INTO mt VALUES (4, 40)")
    assert(g.catalog.globalVersion() == gBefore + 1)
    g.execute(s"BEGIN READ ONLY AS OF SYSTEM TIME $gBefore")
    assert(g.execute("SELECT count(*) AS n FROM mt").collect()(0).getLong(0) == 3)
    g.execute("ROLLBACK")
    // maintenance is rejected inside transactions
    g.execute("BEGIN")
    intercept[IllegalArgumentException] { g.execute("COMPACT TABLE mt") }
    intercept[IllegalArgumentException] { g.execute("VACUUM mt") }
    intercept[IllegalArgumentException] { g.execute("COMPACT JOURNAL") }
    g.execute("ROLLBACK")
  }

  test("CREATE INDEX statement: post-hoc index visible in DESCRIBE, scans pruned") {
    val g = session()
    g.execute("CREATE TABLE ixt (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO ixt VALUES (1, 10), (100, 20)")
    g.execute("INSERT INTO ixt VALUES (2, 30), (99, 40)")
    val st = g.execute("CREATE INDEX ON ixt (v)").collect()(0).getString(0)
    assert(st.contains("ixt(v)"), st)
    val desc = g.execute("DESCRIBE ixt").collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(desc("v"), "DESCRIBE must show v as indexed")
    assert(g.execute("SELECT id FROM ixt WHERE v = 40").collect()
      .map(_.getLong(0)).toSeq == Seq(99L))
    g.execute("BEGIN")
    intercept[IllegalArgumentException] { g.execute("CREATE INDEX ON ixt (id)") }
    g.execute("ROLLBACK")
    // DROP INDEX is metadata-only; DESCRIBE reflects it, data unchanged
    val dst = g.execute("DROP INDEX ON ixt (v)").collect()(0).getString(0)
    assert(dst.contains("ixt(v)"), dst)
    val desc2 = g.execute("DESCRIBE ixt").collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(!desc2("v"), "v no longer indexed")
    assert(g.execute("SELECT count(*) AS n FROM ixt").collect()(0).getLong(0) == 4)
    intercept[IllegalArgumentException] { g.execute("DROP INDEX ON ixt (v)") }
  }

  test("SHOW HISTORY lists retained versions; vacuum prunes the listing") {
    val g = session()
    g.execute("CREATE TABLE ht (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO ht VALUES (1, 10)")
    g.execute("INSERT INTO ht VALUES (2, 20)")
    g.execute("DELETE FROM ht WHERE id = 1")
    val h = g.execute("SHOW HISTORY ht").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(h.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(h.count(_._4) == 1 && h.find(_._4).get._1 == 3)
    assert(h.map(_._3).toSeq == Seq(0L, 1L, 2L, 1L), "row counts per version")
    g.execute("VACUUM ht KEEP 1")
    val h2 = g.execute("SHOW HISTORY ht").collect().map(_.getInt(0))
    assert(h2.toSeq == Seq(3), "vacuumed versions must leave the history")
  }

  test("CLONE TABLE statement: zero-copy clone via SQL, then divergence") {
    val g = session()
    g.execute("CREATE TABLE orig (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO orig VALUES (1, 10), (2, 20)")
    val st = g.execute("CLONE TABLE orig AS copy2").collect()(0).getString(0)
    assert(st.contains("copy2"), st)
    assert(g.execute("SELECT count(*) AS n FROM copy2").collect()(0).getLong(0) == 2)
    g.execute("INSERT INTO copy2 VALUES (3, 30)")
    assert(g.execute("SELECT count(*) AS n FROM copy2").collect()(0).getLong(0) == 3)
    assert(g.execute("SELECT count(*) AS n FROM orig").collect()(0).getLong(0) == 2)
    // PK constraint travels with the clone
    intercept[IllegalArgumentException] { g.execute("INSERT INTO copy2 VALUES (1, 99)") }
    // rejected inside transactions (DDL is non-transactional here)
    g.execute("BEGIN")
    intercept[IllegalArgumentException] { g.execute("CLONE TABLE orig AS c3") }
    g.execute("ROLLBACK")
  }

  test("BEGIN while a transaction is open fails instead of leaking the staged txn") {
    val g = session()
    g.execute("CREATE TABLE nb (id INTEGER PRIMARY KEY)")
    g.execute("BEGIN")
    g.execute("INSERT INTO nb VALUES (1)")
    // a nested BEGIN must not silently replace (and leak) the open
    // txn's staging dirs
    intercept[IllegalArgumentException] { g.execute("BEGIN") }
    intercept[IllegalArgumentException] { g.execute("BEGIN READ ONLY") }
    // the original txn is still the active one: its write survives to COMMIT
    g.execute("COMMIT")
    assert(g.execute("SELECT count(*) AS n FROM nb").collect()(0).getLong(0) == 1)
    // and no orphaned txn staging is left behind
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(g.catalog.root))
    try {
      import scala.jdk.CollectionConverters._
      val stray = leftovers.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".txn-")).toList
      assert(stray.isEmpty, s"leaked staging: $stray")
    } finally leftovers.close()
  }

  test("write-write conflict through SQL: second committer fails") {
    val g1 = session()
    val g2 = new GraftSQL(spark, g1.catalog)
    g1.execute("CREATE TABLE w (id INTEGER PRIMARY KEY, v INTEGER)")
    g1.execute("INSERT INTO w VALUES (1, 1)")
    g1.execute("BEGIN")
    g2.execute("BEGIN")
    g1.execute("UPDATE w SET v = 100 WHERE id = 1")
    g2.execute("UPDATE w SET v = 200 WHERE id = 1")
    g1.execute("COMMIT")
    intercept[IllegalArgumentException] { g2.execute("COMMIT") }
    assert(g1.execute("SELECT v FROM w").collect()(0).getLong(0) == 100)
  }

  test("EXPLAIN never executes: DML under EXPLAIN leaves the table untouched") {
    val g = session()
    g.execute("CREATE TABLE ex (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO ex VALUES (1, 10)")
    val p1 = g.execute("EXPLAIN INSERT INTO ex VALUES (2, 20)").collect()(0).getString(0)
    val p2 = g.execute("EXPLAIN DELETE FROM ex").collect()(0).getString(0)
    assert(p1.contains("INSERT INTO") && p2.contains("DELETE FROM"))
    assert(g.execute("SELECT count(*) AS n FROM ex").collect()(0).getLong(0) == 1)
    // multi-line EXPLAIN SELECT still plans
    val p3 = g.execute("EXPLAIN\nSELECT * FROM ex").collect()(0).getString(0)
    assert(p3.contains("Physical Plan"))
    // inside an open txn, EXPLAIN DML plans for real — against the
    // TXN VIEW (reference Explain(Box<Statement>) plans any statement
    // in any context, ast.rs:17) — and still executes nothing
    g.execute("BEGIN")
    g.execute("CREATE TABLE extxn (id INTEGER PRIMARY KEY)")
    val p4 = g.execute("EXPLAIN INSERT INTO extxn VALUES (1)").collect()(0).getString(0)
    assert(p4.contains("not executed") && p4.contains("Physical Plan"), p4)
    val p5 = g.execute("EXPLAIN UPDATE ex SET v = 0").collect()(0).getString(0)
    assert(p5.contains("not executed") && p5.contains("Physical Plan"), p5)
    g.execute("ROLLBACK")
    // a READ ONLY session has no would-be-written plan: routing line
    g.execute("BEGIN READ ONLY")
    val p6 = g.execute("EXPLAIN DELETE FROM ex").collect()(0).getString(0)
    assert(p6.contains("not executed") && !p6.contains("Physical Plan"), p6)
    g.execute("COMMIT")
    assert(g.execute("SELECT count(*) AS n FROM ex").collect()(0).getLong(0) == 1)
  }

  test("txn-aware EXPLAIN DML: plans reflect staged data on txn-created and txn-modified tables") {
    val g = session()
    g.execute("CREATE TABLE txe (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO txe VALUES (1, 10), (2, 20)")
    val v0 = g.catalog.currentVersion("txe")

    g.execute("BEGIN")
    // txn-MODIFIED table: stage a delete, then EXPLAIN UPDATE — the
    // planned frame must read the staged dir (1 surviving row), not
    // the published snapshot (2 rows)
    g.execute("DELETE FROM txe WHERE id = 2")
    val upTxt = g.execute("EXPLAIN UPDATE txe SET v = v + 1 WHERE id = 1")
      .collect()(0).getString(0)
    assert(upTxt.contains("not executed") && upTxt.contains("Physical Plan"), upTxt)
    assert(upTxt.toUpperCase.contains("CASE WHEN"), upTxt)
    // the staged-read claim, checked on the plan TEXT: the FileScan
    // path must be the txn's staged dir (data/txn-<id>-<seq>), not the
    // published snapshot's dir
    assert(upTxt.contains("txn-"), upTxt)
    assert(g.catalog.asOf("txe", v0).count() == 2)

    // txn-CREATED table: EXPLAIN of every DML verb returns a real plan
    g.execute("CREATE TABLE txnew (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO txnew VALUES (7, 70)")
    val insTxt = g.execute("EXPLAIN INSERT INTO txnew VALUES (8, 80)")
      .collect()(0).getString(0)
    assert(insTxt.contains("Physical Plan"), insTxt)
    val mgTxt = g.execute("EXPLAIN MERGE INTO txnew VALUES (7, 99)")
      .collect()(0).getString(0)
    assert(mgTxt.contains("Physical Plan") && mgTxt.toLowerCase.contains("anti"), mgTxt)
    val delTxt = g.execute("EXPLAIN DELETE FROM txnew WHERE id = 7")
      .collect()(0).getString(0)
    assert(delTxt.contains("Physical Plan") && delTxt.contains("Filter"), delTxt)

    // EXPLAIN published nothing: COMMIT publishes exactly the staged
    // writes, with the usual semantics
    g.execute("COMMIT")
    assert(g.execute("SELECT count(*) AS n FROM txe").collect()(0).getLong(0) == 1)
    assert(g.execute("SELECT v FROM txe WHERE id = 1").collect()(0).getLong(0) == 10)
    assert(g.execute("SELECT count(*) AS n FROM txnew").collect()(0).getLong(0) == 1)

    // and ROLLBACK after explains leaves the world untouched
    g.execute("BEGIN")
    g.execute("DELETE FROM txe WHERE id = 1")
    val d2 = g.execute("EXPLAIN DELETE FROM txe").collect()(0).getString(0)
    assert(d2.contains("Physical Plan"), d2)
    g.execute("ROLLBACK")
    assert(g.execute("SELECT count(*) AS n FROM txe").collect()(0).getLong(0) == 1)
  }

  test("EXPLAIN DML returns the real would-be-written plan, never publishing") {
    val g = session()
    g.execute("CREATE TABLE exd (id INTEGER PRIMARY KEY, v INTEGER, s STRING)")
    g.execute("INSERT INTO exd VALUES (1, 10, 'a'), (2, 20, 'b')")
    val v0 = g.catalog.currentVersion("exd")

    // UPDATE: the CoW conditional projection must be visible
    val up = g.execute("EXPLAIN UPDATE exd SET v = v + 1 WHERE id = 1")
      .collect()(0).getString(0)
    assert(up.contains("not executed") && up.contains("Physical Plan"), up)
    assert(up.toUpperCase.contains("CASE WHEN"), up)

    // DELETE: the anti-filter must be visible
    val del = g.execute("EXPLAIN DELETE FROM exd WHERE id = 2").collect()(0).getString(0)
    assert(del.contains("Physical Plan") && del.contains("Filter"), del)

    // MERGE: the matched-key anti-join + append union must be visible
    val mg = g.execute("EXPLAIN MERGE INTO exd VALUES (2, 99, 'z')")
      .collect()(0).getString(0)
    assert(mg.contains("Physical Plan"), mg)
    assert(mg.toLowerCase.contains("anti"), mg)
    assert(mg.contains("Union"), mg)

    // INSERT: the aligned-values frame plans too
    val ins = g.execute("EXPLAIN INSERT INTO exd VALUES (3, 30, 'c')")
      .collect()(0).getString(0)
    assert(ins.contains("Physical Plan"), ins)

    // nothing published, nothing changed — same version, same rows
    assert(g.catalog.currentVersion("exd") == v0)
    assert(g.execute("SELECT count(*) AS n FROM exd").collect()(0).getLong(0) == 2)
    assert(g.execute("SELECT v FROM exd WHERE id = 1").collect()(0).getLong(0) == 10)
  }

  test("EXPLAIN SELECT over an indexed table surfaces the manifest file skip") {
    val g = session()
    g.execute("CREATE TABLE ixe (id INTEGER PRIMARY KEY, v INTEGER INDEX)")
    for (b <- 0 until 4)
      g.execute("INSERT INTO ixe VALUES " +
        (0 until 20).map(i => s"(${b * 20 + i}, ${b * 1000 + i})").mkString(", "))
    val p = g.execute("EXPLAIN SELECT id FROM ixe WHERE v BETWEEN 2000 AND 2019")
      .collect()(0).getString(0)
    assert(p.contains("Physical Plan"), p)
    val re = raw"IndexPrune: ixe kept (\d+)/(\d+) files".r
    val m = re.findFirstMatchIn(p).getOrElse(fail(s"no IndexPrune line in:\n$p"))
    assert(m.group(1).toInt < m.group(2).toInt, p)
  }

  test("BEGIN READ ONLY pins a snapshot: repeatable reads across concurrent commits") {
    val g = session()
    val writer = new GraftSQL(spark, g.catalog)
    g.execute("CREATE TABLE rr (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO rr VALUES (1)")
    g.execute("BEGIN READ ONLY")
    assert(g.execute("SELECT count(*) AS n FROM rr").collect()(0).getLong(0) == 1)
    writer.execute("INSERT INTO rr VALUES (2)")
    // the snapshot must NOT see the concurrent commit
    assert(g.execute("SELECT count(*) AS n FROM rr").collect()(0).getLong(0) == 1)
    g.execute("COMMIT")
    assert(g.execute("SELECT count(*) AS n FROM rr").collect()(0).getLong(0) == 2)
  }

  test("string literals containing keywords/separators survive statement parsing") {
    val g = session()
    g.execute("CREATE TABLE sl (id INTEGER PRIMARY KEY, note STRING, tag STRING)")
    g.execute("INSERT INTO sl VALUES (1, 'x', 'y')")
    // 'where' inside a SET string must not truncate the SET list
    g.execute("UPDATE sl SET note = 'a where b', tag = 'c, d' WHERE id = 1")
    val r = g.execute("SELECT note, tag FROM sl").collect()(0)
    assert(r.getString(0) == "a where b" && r.getString(1) == "c, d")
  }

  test("constraint keywords inside DEFAULT string literals are not parsed as constraints") {
    val g = session()
    g.execute("""CREATE TABLE kw (
      id INTEGER PRIMARY KEY,
      note STRING DEFAULT 'not null yet',
      memo STRING DEFAULT 'unique primary key index')""")
    val m = g.catalog.meta("kw")
    assert(m.notNull == Seq("id"), m.notNull)     // only the PK
    assert(m.unique.isEmpty && m.indexes.isEmpty) // nothing leaked from literals
    g.execute("INSERT INTO kw (id, note) VALUES (1, NULL)") // note IS nullable
    assert(g.execute("SELECT memo FROM kw").collect()(0).getString(0)
      == "unique primary key index")
  }

  test("constraint keywords inside identifiers are not parsed as constraints") {
    val g = session()
    g.execute("CREATE TABLE unique_users (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO unique_users VALUES (1)")
    g.execute("CREATE TABLE orders2 (id INTEGER PRIMARY KEY, uid INTEGER REFERENCES unique_users)")
    val m = g.catalog.meta("orders2")
    assert(m.unique.isEmpty, m.unique) // 'UNIQUE' inside the table name must not leak
    assert(m.references == Map("uid" -> "unique_users"))
    // two orders from the same user are fine — uid is NOT unique
    g.execute("INSERT INTO orders2 VALUES (1, 1), (2, 1)")
    assert(g.execute("SELECT count(*) AS n FROM orders2").collect()(0).getLong(0) == 2)
  }

  test("DEFAULT literals: multi-word strings, NULL, escaped quotes") {
    val g = session()
    g.execute("""CREATE TABLE dl (
      id INTEGER PRIMARY KEY,
      name STRING DEFAULT 'john doe',
      nick STRING DEFAULT 'o''brien',
      age INTEGER DEFAULT NULL)""")
    g.execute("INSERT INTO dl (id) VALUES (1)")
    val r = g.execute("SELECT name, nick, age FROM dl").collect()(0)
    assert(r.getString(0) == "john doe")
    assert(r.getString(1) == "o'brien")
    assert(r.isNullAt(2))
  }

  test("SQL-text SELECT over an indexed table prunes manifest files (IndexLookup parity)") {
    val g = session()
    g.execute("CREATE TABLE ix (id INTEGER PRIMARY KEY, v INTEGER INDEX, s STRING)")
    // four inserts => four delta dirs, each covering a disjoint indexed
    // range — the layout whose files a range WHERE can skip
    for (b <- 0 until 4)
      g.execute("INSERT INTO ix VALUES " +
        (0 until 50).map(i => s"(${b * 50 + i}, ${b * 1000 + i}, 'r$b')").mkString(", "))
    val rows = g.execute(
      "SELECT id, v FROM ix WHERE v BETWEEN 2000 AND 2049 ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (100L until 150L))
    val (kept, all) = g.lastPruned("ix")
    assert(kept < all, s"SQL front must skip manifest files: kept=$kept of $all")
    // result parity with the unpruned programmatic path (q33's oracle shape)
    val full = g.catalog.scan("ix")
      .filter(col("v") >= 2000 && col("v") <= 2049)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(full == rows.map(_.getLong(0)).toSeq)
    // alias-qualified references prune too
    g.execute("SELECT a.id FROM ix a WHERE a.v >= 3000 AND a.s = 'r3'").collect()
    assert(g.lastPruned.get("ix").exists { case (k, a) => k < a }, g.lastPruned)
    // a pinned session prunes too — against the PINNED version's own
    // stats (planFilesAt), not the current manifest's
    g.execute("BEGIN READ ONLY")
    g.execute("SELECT id FROM ix WHERE v = 2000").collect()
    assert(g.lastPruned.get("ix").exists { case (k, a) => k < a }, g.lastPruned)
    g.execute("ROLLBACK")
    // a self-joined table shares one view — two occurrences, no pruning
    g.execute("SELECT x.id FROM ix x JOIN ix y ON x.id = y.id WHERE x.v = 2000").collect()
    assert(g.lastPruned.isEmpty)
    // an inner-join ON conjunct prunes the joined side
    g.execute("CREATE TABLE dim (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO dim VALUES (100), (101)")
    g.execute("SELECT d.id FROM dim d JOIN ix ON d.id = ix.id AND ix.v >= 2000").collect()
    assert(g.lastPruned.get("ix").exists { case (k, a) => k < a }, g.lastPruned)
  }

  test("SQL pruning is type-aware: numeric literal on a string index never prunes") {
    val g = session()
    g.execute("CREATE TABLE mixp (id INTEGER PRIMARY KEY, s STRING INDEX)")
    // two delta files whose STRING stats order disagrees with numeric
    // order: byte-wise '0999' < '150' but numerically 999 > 150
    g.execute("INSERT INTO mixp VALUES (1, '0500'), (2, '0999')")
    g.execute("INSERT INTO mixp VALUES (3, '100'), (4, '200')")
    val viaSql = g.execute("SELECT id FROM mixp WHERE s > 150 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    // ground truth: the same predicate over the unpruned scan
    val full = g.catalog.scan("mixp").filter(col("s") > lit(150))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSql == full, s"sql=$viaSql full=$full")
    assert(g.lastPruned.get("mixp").forall { case (k, a) => k == a },
      s"mixed-type conjunct must not skip files: ${g.lastPruned}")
    // the same column prunes fine under a string literal
    g.execute("SELECT id FROM mixp WHERE s > '150'").collect()
    assert(g.lastPruned.get("mixp").exists { case (k, a) => k < a }, g.lastPruned)
  }

  test("DEFAULT accepts constant expressions, folded at CREATE (ast.rs:82)") {
    val g = session()
    g.execute("""CREATE TABLE de (
      id INTEGER PRIMARY KEY,
      n INTEGER DEFAULT 1+1,
      m INTEGER DEFAULT -5,
      d INTEGER DEFAULT 7/2,
      p INTEGER DEFAULT 2^5,
      s STRING DEFAULT upper('a' || 'b'))""")
    g.execute("INSERT INTO de (id) VALUES (1)")
    val r = g.execute("SELECT n, m, d, p, s FROM de").collect()(0)
    assert(r.getLong(0) == 2L)   // folded at DDL time
    assert(r.getLong(1) == -5L)
    assert(r.getLong(2) == 3L)   // reference integer division
    assert(r.getLong(3) == 32L)  // reference ^ exponentiation
    assert(r.getString(4) == "AB")
    // non-foldable defaults are rejected AT CREATE, not at first insert
    intercept[Exception] {
      g.execute("CREATE TABLE bad (id INTEGER PRIMARY KEY, r FLOAT DEFAULT rand())")
    }
    assert(!g.catalog.exists("bad"))
    // ALTER TABLE ADD COLUMN takes expression defaults too
    g.execute("ALTER TABLE de ADD COLUMN extra INTEGER DEFAULT 10*10")
    g.execute("INSERT INTO de (id) VALUES (2)")
    val rows = g.execute("SELECT id, extra FROM de ORDER BY id").collect()
    assert(rows(0).isNullAt(1) && rows(1).getLong(1) == 100L)
  }

  test("DEFAULT string literals unescape backslash sequences like Spark's parser") {
    val g = session()
    // Spark's default dialect reads 'don\'t' as don't — the stored
    // default must agree with how the same literal evaluates elsewhere
    g.execute("""CREATE TABLE bs (id INTEGER PRIMARY KEY, v STRING DEFAULT 'don\'t')""")
    g.execute("INSERT INTO bs (id) VALUES (1)")
    assert(g.execute("SELECT v FROM bs").collect()(0).getString(0) == "don't")
  }

  test("a table named only inside a string literal registers no view") {
    val g = session()
    g.execute("CREATE TABLE lit_probe (id INTEGER PRIMARY KEY, note STRING)")
    g.execute("INSERT INTO lit_probe VALUES (1, 'orders were late')")
    g.execute("CREATE TABLE orders (id INTEGER PRIMARY KEY)")
    val r = g.execute("SELECT note FROM lit_probe WHERE note = 'orders were late'")
    assert(r.count() == 1)
    assert(g.lastRegistered == Seq("lit_probe"), g.lastRegistered)
  }

  test("LIMIT/OFFSET accept constant expressions like the reference (ast.rs:46-48)") {
    val g = session()
    g.execute("CREATE TABLE lim (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO lim VALUES (1), (2), (3), (4), (5), (6), (7)")
    assert(g.execute("SELECT id FROM lim ORDER BY id LIMIT 2+3").count() == 5)
    val r = g.execute("SELECT id FROM lim ORDER BY id LIMIT 2*2 OFFSET 1+1")
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(3L, 4L, 5L, 6L), r)
  }

  test("reference INTEGER / INTEGER is truncating integer division (expression.rs:142-152)") {
    val g = session()
    def one(sql: String): Any = g.execute(sql).collect()(0).get(0)
    // Spark alone answers 1.5 — the reference truncates like Rust i64 `/`
    assert(one("SELECT 3 / 2 AS x") == 1L)
    assert(one("SELECT 7 / 2 AS x") == 3L)
    // truncation is toward zero, not floor
    assert(one("SELECT -7 / 2 AS x") == -3L)
    // left-assoc chain stays integral: (100 / 6) / 2 = 16 / 2 = 8
    assert(one("SELECT 100 / 6 / 2 AS x") == 8L)
    // any float operand → float division, like the reference's mixes
    assert(one("SELECT 3.0 / 2 AS x").toString.toDouble == 1.5)
    assert(one("SELECT 3 / 2.0 AS x").toString.toDouble == 1.5)
    // integer division by zero is an error, not NULL (ANSI mode on:
    // the reference's "Can't divide by zero")
    intercept[Exception] { g.execute("SELECT 1 / 0 AS x").collect() }
    // columns dispatch the same way as literals
    g.execute("CREATE TABLE dv (id INTEGER PRIMARY KEY, n INTEGER, f FLOAT)")
    g.execute("INSERT INTO dv VALUES (1, 7, 2.0)")
    assert(one("SELECT n / 2 AS x FROM dv") == 3L)
    assert(one("SELECT n / f AS x FROM dv") == 3.5)
    // VALUES expressions evaluate with the same rules
    g.execute("INSERT INTO dv VALUES (2, 9 / 2, 9 / 2.0)")
    val r = g.execute("SELECT n, f FROM dv WHERE id = 2").collect()(0)
    assert(r.getLong(0) == 4L && r.getDouble(1) == 4.5)
    // a user-written CAST is outside the reference grammar and keeps
    // standard Spark float-division semantics
    assert(one("SELECT CAST(3 AS DOUBLE) / 2 AS x") == 1.5)
    // the narrowed type propagates across plan-node boundaries — CTE,
    // subquery, and post-aggregate references must re-bind, not crash
    // on stale double-typed attributes or silently stay double
    assert(one("WITH t AS (SELECT 7 / 2 AS x) SELECT x + 1 AS y FROM t") == 4L)
    assert(one("SELECT x + 1 AS y FROM (SELECT 7 / 2 AS x) t") == 4L)
    assert(one("SELECT x / 2 AS y FROM (SELECT 7 / 2 AS x) t") == 1L)
  }

  test("reference arithmetic reaches UPDATE/DELETE WHERE and stays consistent with SELECT") {
    val g = session()
    def one(sql: String): Any = g.execute(sql).collect()(0).get(0)
    g.execute("CREATE TABLE dw (id INTEGER PRIMARY KEY, n INTEGER, f FLOAT)")
    g.execute("INSERT INTO dw VALUES (1, 6, 0.0), (2, 7, 0.0), (3, 9, 0.0)")
    // reference: 7/2 = 3, so ids 1 AND 2 match n / 2 = 3 (float
    // division would match only id 1)
    assert(g.execute("SELECT count(*) AS c FROM dw WHERE n / 2 = 3")
      .collect()(0).getLong(0) == 2L)
    g.execute("DELETE FROM dw WHERE n / 2 = 3")
    assert(g.execute("SELECT id FROM dw").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // UPDATE SET stores the same exact value SELECT answers: 3 ^ 39
    // through power() would round past 2^53 before the write cast
    g.execute("UPDATE dw SET n = 3 ^ 39 WHERE id = 3")
    assert(one("SELECT n FROM dw WHERE id = 3") == 4052555153018976267L)
    // float-target division follows reference evaluation: 7 / 2 = 3
    // (Integer), stored as 3.0 — not power-of-double's 3.5
    g.execute("UPDATE dw SET f = 7 / 2 WHERE id = 3")
    assert(one("SELECT f FROM dw WHERE id = 3") == 3.0)
    // overflow in an UPDATE errors like the reference's checked_pow
    intercept[Exception] { g.execute("UPDATE dw SET n = 2 ^ 64 WHERE id = 3") }
  }

  test("window queries (outside the reference grammar) keep Spark semantics and run") {
    val g = session()
    g.execute("CREATE TABLE wq (id INTEGER PRIMARY KEY, v INTEGER, grp STRING)")
    g.execute("INSERT INTO wq VALUES (1, 1, 'a'), (2, 2, 'a'), (3, 10, 'b')")
    // integral avg INSIDE a window stays Catalyst's double Average —
    // rewriting it would not be a valid window function at all
    val rows = g.execute(
      "SELECT id, avg(v) OVER (PARTITION BY grp) AS w FROM wq ORDER BY id").collect()
    assert(rows(0).getDouble(1) == 1.5 && rows(2).getDouble(1) == 10.0)
    // scalar rules still apply inside window ARGUMENTS: 7/2 = 3
    val arg = g.execute(
      "SELECT sum(v * (7 / 2)) OVER (PARTITION BY grp) AS s FROM wq WHERE grp = 'b'")
      .collect()(0)
    assert(arg.getLong(0) == 30L)
    // the NAMED window form parses to UnresolvedWindowExpression, not
    // WindowExpression — the carve-out must cover both
    val named = g.execute(
      "SELECT avg(v) OVER w AS a FROM wq WINDOW w AS (PARTITION BY grp) ORDER BY id")
      .collect()
    assert(named(0).getDouble(0) == 1.5 && named(2).getDouble(0) == 10.0)
  }

  test("user-written power() and CAST keep Spark semantics; only ^ dispatches to RefPow") {
    val g = session()
    def one(sql: String): Any = g.execute(sql).collect()(0).get(0)
    // power() is Spark's builtin everywhere else — it must not
    // inherit the reference's exact-i64 ^ semantics
    assert(one("SELECT power(3, 39) AS x") == 4.052555153018976e18)
    assert(one("SELECT power(2, 64) AS x") == 1.8446744073709552e19) // no overflow error
    // while the reference operator is exact and checked
    assert(one("SELECT 3 ^ 39 AS x") == 4052555153018976267L)
    // the single i64 division overflow errors like Rust's panicking /
    intercept[Exception] {
      g.execute("SELECT (-9223372036854775807 - 1) / -1 AS x").collect()
    }
  }

  test("reference AVG over INTEGER is integer division in the finalizer (aggregation.rs:132-137)") {
    val g = session()
    def one(sql: String): Any = g.execute(sql).collect()(0).get(0)
    g.execute("CREATE TABLE av (id INTEGER PRIMARY KEY, v INTEGER, f FLOAT, grp STRING)")
    g.execute("INSERT INTO av VALUES (1, 1, 1.0, 'a'), (2, 2, 2.0, 'a'), (3, 10, 10.0, 'b')")
    // Spark alone answers 1.5; the reference's Average finalizer is
    // Integer(sum / count)
    assert(one("SELECT avg(v) AS x FROM av WHERE grp = 'a'") == 1L)
    // float input keeps float semantics
    assert(one("SELECT avg(f) AS x FROM av WHERE grp = 'a'") == 1.5)
    // grouped form dispatches the same way
    val rows = g.execute("SELECT grp, avg(v) AS a FROM av GROUP BY grp ORDER BY grp").collect()
    assert(rows(0).getLong(1) == 1L && rows(1).getLong(1) == 10L)
    // empty input → NULL, like the reference's (Null, _) arm
    assert(g.execute("SELECT avg(v) AS x FROM av WHERE id > 99").collect()(0).isNullAt(0))
    // mixed statement: other aggregates unaffected
    val m = g.execute("SELECT avg(v) AS a, sum(v) AS s, count(*) AS c, min(f) AS mn FROM av")
      .collect()(0)
    assert(m.getLong(0) == 4L && m.getLong(1) == 13L && m.getLong(2) == 3L
      && m.getDouble(3) == 1.0)
  }

  test("reference operators evaluate inside INSERT VALUES and UPDATE SET (ast.rs:29-38)") {
    val g = session()
    g.execute("CREATE TABLE calc (id INTEGER PRIMARY KEY, x FLOAT, n INTEGER)")
    // the reference accepts arbitrary expressions in VALUES tuples —
    // including its ^ and ! operators, which must be rewritten here too
    g.execute("INSERT INTO calc VALUES (1, 2 ^ 3, 4!)")
    val r = g.execute("SELECT x, n FROM calc WHERE id = 1").collect()(0)
    assert(r.getDouble(0) == 8.0 && r.getLong(1) == 24L)
    g.execute("UPDATE calc SET x = x ^ 2, n = 3! WHERE id = 1")
    val u = g.execute("SELECT x, n FROM calc WHERE id = 1").collect()(0)
    assert(u.getDouble(0) == 64.0 && u.getLong(1) == 6L)
  }

  test("reference `^` is exponentiation and postfix `!` is factorial (ast.rs:149-150)") {
    val g = session()
    def one(sql: String): Any = g.execute(sql).collect()(0).get(0)
    // Spark alone would answer 2 ^ 3 = 1 (XOR) — the silent-wrong-answer trap
    assert(one("SELECT 2 ^ 3 AS x") == 8L)
    assert(one("SELECT 5! AS x") == 120L)
    // right-associative like the reference: 2 ^ 3 ^ 2 = 2 ^ 9
    assert(one("SELECT 2 ^ 3 ^ 2 AS x") == 512L)
    // binds tighter than '*': 2 * 3 ^ 2 = 18, not 36
    assert(one("SELECT 2 * 3 ^ 2 AS x") == 18L)
    assert(one("SELECT (1 + 2)! AS x") == 6L)
    assert(one("SELECT 3! ^ 2 AS x") == 36L)
    // INTEGER ^ INTEGER is EXACT i64 (expression.rs:161-165) — 3^39
    // exceeds double's 2^53 mantissa, where pow() would round
    assert(one("SELECT 3 ^ 39 AS x") == 4052555153018976267L)
    // ...and overflow is an error like the reference's checked_pow
    intercept[Exception] { session().execute("SELECT 2 ^ 64 AS x").collect() }
    // the integer result feeds integer division (the rules compose):
    // reference: 2^3 = Integer 8, 8 / 3 = 2 — not pow's 8.0 / 3 = 2.667
    assert(one("SELECT 2 ^ 3 / 3 AS x") == 2L)
    // untouched inside string literals; != stays not-equals
    assert(one("SELECT 'a^b!' AS x") == "a^b!")
    assert(one("SELECT CASE WHEN 1 != 2 THEN 'ok' ELSE 'no' END AS x") == "ok")
    // function-call operands and nesting
    assert(one("SELECT abs(-3)! AS x") == 6L)
    assert(one("SELECT 2 ^ (3!) AS x") == 64L)
    assert(one("SELECT greatest(2, 3) ^ 2 AS x") == 9L)
    // escaped quote inside a literal doesn't derail the scanner
    assert(one("SELECT 'it''s^fine!' AS x") == "it's^fine!")
    // a lone comparison after a factorial-looking token: 5!=120 lexes
    // as 5 != 120 (greedy !=, same as the reference lexer)
    assert(one("SELECT CASE WHEN 5!=120 THEN 'ne' ELSE 'eq' END AS x") == "ne")
    // expressions over table columns
    g.execute("CREATE TABLE pw (id INTEGER PRIMARY KEY, n INTEGER)")
    g.execute("INSERT INTO pw VALUES (1, 4)")
    assert(one("SELECT n ^ 2 AS x FROM pw") == 16L)
    assert(one("SELECT n! AS x FROM pw WHERE id != 2") == 24L)
    // the reference's PREFIX operators bind tighter than ^ and !
    // (prec 9 vs 7/8, parser/mod.rs:712-725): a unary sign is part of
    // the operand — -2 ^ 2 is (-2)^2 = 4, NOT -(2^2)
    assert(one("SELECT -2 ^ 2 AS x") == 4L)
    assert(one("SELECT 2 ^ -2 AS x") == 0.25)
    // ...but a BINARY minus stays outside: 5 - 2 ^ 2 = 5 - 4
    assert(one("SELECT 5 - 2 ^ 2 AS x") == 1L)
    assert(one("SELECT 4 - 3! AS x") == -2L)
    // (-3)! like the reference's precedence — undefined, not -(3!)=-6
    assert(g.execute("SELECT -3! AS x").collect()(0).isNullAt(0))
  }

  test("rewriteOps is total and idempotent on adversarial input") {
    // the rewrite must never crash on malformed text (the parser will
    // reject it downstream with a proper error), and rewriting twice
    // must equal rewriting once (power/factorial contain no ^/!)
    val rng = new scala.util.Random(11)
    val alphabet = "ab1 ^!()'\"=,.<>*+-".toCharArray
    for (_ <- 1 to 500) {
      val soup = Array.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.length))).mkString
      val once = GraftSQL.rewriteOps(soup)
      assert(GraftSQL.rewriteOps(once) == once, s"input=[$soup] once=[$once]")
    }
    for (wellFormed <- Seq("SELECT 2 ^ 3 ^ 2", "SELECT (1+2)! * 3!", "a != b ^ c!")) {
      val once = GraftSQL.rewriteOps(wellFormed)
      assert(GraftSQL.rewriteOps(once) == once)
    }
  }

  test("SELECT registers only the temp views it references, and cleans them up") {
    val g = session()
    g.execute("CREATE TABLE vh_used (id INTEGER PRIMARY KEY)")
    g.execute("CREATE TABLE vh_unused (id INTEGER PRIMARY KEY)")
    spark.catalog.dropTempView("vh_used")
    spark.catalog.dropTempView("vh_unused")
    val df = g.execute("SELECT * FROM vh_used")
    assert(g.lastRegistered == Seq("vh_used")) // never the whole catalog
    df.collect() // frame stays valid after the views are dropped
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    assert(!views.contains("vh_used") && !views.contains("vh_unused"))
  }

  test("CREATE/DROP TABLE inside BEGIN are staged until COMMIT") {
    val g = session()
    val g2 = new GraftSQL(spark, g.catalog) // other session, same catalog
    g.execute("CREATE TABLE old_t (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO old_t VALUES (1)")

    g.execute("BEGIN")
    g.execute("CREATE TABLE new_t (id INTEGER PRIMARY KEY, v STRING DEFAULT 'd')")
    g.execute("INSERT INTO new_t (id) VALUES (7)")
    g.execute("DROP TABLE old_t")
    // txn sees its DDL...
    assert(g.execute("SELECT v FROM new_t").collect()(0).getString(0) == "d")
    intercept[Exception] { g.execute("SELECT * FROM old_t").collect() }
    // ...the other session does not
    intercept[Exception] { g2.execute("SELECT * FROM new_t").collect() }
    assert(g2.execute("SELECT count(*) AS n FROM old_t").collect()(0).getLong(0) == 1)
    g.execute("COMMIT")
    assert(g2.execute("SELECT count(*) AS n FROM new_t").collect()(0).getLong(0) == 1)
    intercept[Exception] { g2.execute("SELECT * FROM old_t").collect() }

    // ROLLBACK leaves no trace of staged DDL
    g.execute("BEGIN")
    g.execute("CREATE TABLE ghost (id INTEGER PRIMARY KEY)")
    g.execute("ROLLBACK")
    intercept[Exception] { g.execute("SELECT * FROM ghost").collect() }
  }

  test("ALTER TABLE ADD/DROP COLUMN through SQL text") {
    val g = session()
    g.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, name STRING)")
    g.execute("INSERT INTO t VALUES (1, 'a')")
    g.execute("ALTER TABLE t ADD COLUMN score FLOAT DEFAULT 0.5")
    // existing row reads NULL; new insert takes the default
    g.execute("INSERT INTO t (id, name) VALUES (2, 'b')")
    val rows = g.execute("SELECT id, score FROM t ORDER BY id").collect()
    assert(rows(0).isNullAt(1) && rows(1).getDouble(1) == 0.5)
    g.execute("ALTER TABLE t DROP COLUMN score")
    assert(g.execute("SELECT * FROM t").columns.toSeq == Seq("id", "name"))
    // constrained adds are rejected (existing rows could not satisfy them)
    intercept[IllegalArgumentException] {
      g.execute("ALTER TABLE t ADD COLUMN u STRING UNIQUE")
    }
  }

  test("rewrites survive quoted parens, backslash escapes, and named-window specs") {
    val g = session()
    // a quoted ')' inside the left operand of ^ must not corrupt the
    // backward operand scan
    val r1 = g.execute("SELECT length(replace('ab)', ')', 'cd')) ^ 2 AS v").collect()
    assert(r1(0).getLong(0) == 16L, "len('abcd')=4, 4^2=16")
    // backslash-escaped quote: content after \' is still INSIDE the
    // literal — the ^ in it must not be rewritten
    val r2 = g.execute("""SELECT 'don\'t ^ care' AS s""").collect()
    assert(r2(0).getString(0) == "don't ^ care")
    // reference arithmetic reaches a named WINDOW spec: n / 2 must be
    // integer division there, same as the inline OVER form
    g.execute("CREATE TABLE nums (id INTEGER PRIMARY KEY, n INTEGER)")
    g.execute("INSERT INTO nums VALUES (1, 4), (2, 5), (3, 6)")
    val named = g.execute(
      """SELECT id, count(*) OVER w AS c FROM nums
        |WINDOW w AS (PARTITION BY n / 2) ORDER BY id""".stripMargin)
      .collect().map(_.getLong(1)).toSeq
    // integer division: 4/2=2, 5/2=2 (truncating!), 6/2=3 → groups {4,5},{6}
    assert(named == Seq(2L, 2L, 1L), s"n/2 in a named window must truncate: $named")
    // WHERE with no space before the paren
    g.execute("UPDATE nums SET n = 0 WHERE(id = 3)")
    g.execute("DELETE FROM nums WHERE(id = 1)")
    assert(g.execute("SELECT id, n FROM nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 5L), (3L, 0L)))
    // malformed kernel parameters fail loudly, never reach unsafe reads
    intercept[Exception] { g.execute("SELECT fingerprint64('abc', 8, 0)").collect() }
    intercept[Exception] { g.execute("SELECT shingles64('abc', -2)").collect() }
  }

  test("SHOW TABLES / DESCRIBE / SHOW CREATE TABLE mirror the reference's introspection") {
    val g = session()
    g.execute("CREATE TABLE studios (id INTEGER PRIMARY KEY)")
    g.execute("""CREATE TABLE movies (
      id INTEGER PRIMARY KEY,
      studio_id INTEGER INDEX REFERENCES studios,
      title STRING NOT NULL UNIQUE,
      rating FLOAT DEFAULT 4.5)""")
    assert(g.execute("SHOW TABLES").collect().map(_.getString(0)).toSeq
      == Seq("movies", "studios"))
    val desc = g.execute("DESCRIBE movies").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(desc("id").getBoolean(3), "id is primary key")
    assert(desc("studio_id").getBoolean(5) && desc("studio_id").getString(7) == "studios")
    assert(desc("title").getBoolean(4) && !desc("title").getBoolean(2))
    assert(desc("rating").getString(6) == "4.5")
    // SHOW CREATE TABLE round-trips: re-executing recreates identical metadata
    val ddl = g.execute("SHOW CREATE TABLE movies").collect()(0).getString(0)
    val before = g.catalog.meta("movies")
    g.execute("DROP TABLE movies")
    g.execute(ddl)
    val after = g.catalog.meta("movies")
    assert(after.schema == before.schema && after.primaryKey == before.primaryKey
      && after.unique == before.unique && after.indexes == before.indexes
      && after.references == before.references && after.defaults == before.defaults)
  }

  test("CTAS and INSERT..SELECT route through the catalog, txn-staged inside BEGIN") {
    val g = session()
    g.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)")
    // CTAS: derived schema + rows land as a managed table
    g.execute("CREATE TABLE big AS SELECT id, v * 2 AS v2 FROM src WHERE v >= 20")
    assert(g.execute("SELECT id, v2 FROM big ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 40L), (3L, 60L)))
    // INSERT..SELECT appends query results
    g.execute("INSERT INTO big SELECT id, v AS v2 FROM src WHERE v = 10")
    assert(g.execute("SELECT count(*) AS n FROM big").collect()(0).getLong(0) == 3)
    // staged inside a txn: invisible to others before COMMIT
    g.execute("BEGIN")
    g.execute("CREATE TABLE derived AS SELECT id FROM src")
    assert(g.execute("SELECT count(*) AS n FROM derived").collect()(0).getLong(0) == 3)
    val g2 = new GraftSQL(spark, g.catalog)
    intercept[Exception] { g2.execute("SELECT * FROM derived").collect() }
    g.execute("COMMIT")
    assert(g2.execute("SELECT count(*) AS n FROM derived").collect()(0).getLong(0) == 3)
  }

  test("CTAS outside a txn is one statement: a failing SELECT leaves no table, a retry lands") {
    val g = session()
    g.execute("CREATE TABLE csrc (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO csrc VALUES (1, 10), (2, 20), (3, 30)")
    // the SELECT plans fine and fails only while the rows are written
    intercept[Exception] {
      g.execute("CREATE TABLE cdst AS SELECT id, " +
        "CASE WHEN v > 20 THEN raise_error('boom') ELSE v END AS v FROM csrc")
    }
    assert(!g.catalog.exists("cdst"), "a failed CTAS must not leave its table")
    g.execute("CREATE TABLE cdst AS SELECT id, v FROM csrc")
    assert(g.execute("SELECT count(*) AS n FROM cdst").collect()(0).getLong(0) == 3)
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(g.catalog.root))
    try {
      import scala.jdk.CollectionConverters._
      val stray = leftovers.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".txn-")).toList
      assert(stray.isEmpty, s"leaked staging: $stray")
    } finally leftovers.close()
  }

  test("MERGE INTO upserts through SQL text, inside and outside a txn") {
    val g = session()
    g.execute("CREATE TABLE kv (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    g.execute("MERGE INTO kv VALUES (2, 'TWO'), (3, 'three')")
    assert(g.execute("SELECT v FROM kv ORDER BY id").collect().map(_.getString(0)).toSeq
      == Seq("one", "TWO", "three"))
    // staged in a txn: invisible before COMMIT
    g.execute("BEGIN")
    g.execute("MERGE INTO kv VALUES (3, 'THREE'), (4, 'four')")
    assert(g.execute("SELECT count(*) AS n FROM kv").collect()(0).getLong(0) == 4)
    val g2 = new GraftSQL(spark, g.catalog)
    assert(g2.execute("SELECT count(*) AS n FROM kv").collect()(0).getLong(0) == 3)
    g.execute("COMMIT")
    assert(g2.execute("SELECT v FROM kv ORDER BY id").collect().map(_.getString(0)).toSeq
      == Seq("one", "TWO", "THREE", "four"))
  }

  test("MERGE INTO ... USING: all three clause kinds, table and subquery sources") {
    val g = session()
    g.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, v STRING, n INTEGER DEFAULT 0)")
    g.execute("INSERT INTO tgt VALUES (1, 'one', 10), (2, 'two', 20), (3, 'three', 30)")
    g.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO src VALUES (2, 'TWO'), (3, 'THREE'), (4, 'four')")

    // UPDATE + INSERT, table source, both aliases, expr over both sides
    g.execute("""MERGE INTO tgt t USING src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v, n = t.n + 1
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val rows = g.execute("SELECT id, v, n FROM tgt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "one", 10L), (2L, "TWO", 21L), (3L, "THREE", 31L),
      (4L, "four", 0L)), s"got $rows") // unmatched kept, matched updated, new inserted w/ DEFAULT

    // DELETE-only clause, subquery source
    g.execute("""MERGE INTO tgt t USING (SELECT id FROM src WHERE id = 4) s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    assert(g.execute("SELECT id FROM tgt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // INSERT-only clause (matched rows untouched) + INSERT * by-name form
    g.execute("""MERGE INTO tgt USING (SELECT id + 10 AS id, upper(v) AS v, 7 AS n
      FROM src) s ON tgt.id = s.id WHEN NOT MATCHED THEN INSERT *""")
    val after = g.execute("SELECT id, v, n FROM tgt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(after == Seq((1L, "one", 10L), (2L, "TWO", 21L), (3L, "THREE", 31L),
      (12L, "TWO", 7L), (13L, "THREE", 7L), (14L, "FOUR", 7L)), s"got $after")

    // cardinality rule: a target row matching two source rows errors
    g.execute("CREATE TABLE dup (k INTEGER, v STRING)")
    g.execute("INSERT INTO dup VALUES (1, 'a'), (1, 'b')")
    intercept[Exception] { g.execute(
      """MERGE INTO tgt t USING dup d ON t.id = d.k
        WHEN MATCHED THEN UPDATE SET v = d.v""") }
    // and the failed merge published nothing
    assert(g.execute("SELECT count(*) AS c FROM tgt").collect()(0).getLong(0) == 6)
  }

  test("MERGE INTO ... USING multi-clause cascade: AND conditions, first-match-wins, no-clause rows survive") {
    val g = session()
    g.execute("CREATE TABLE inv (id INTEGER PRIMARY KEY, qty INTEGER, state STRING)")
    g.execute("INSERT INTO inv VALUES (1, 5, 'live'), (2, 0, 'live'), (3, 7, 'live'), (4, 3, 'hold')")
    g.execute("CREATE TABLE upd (id INTEGER PRIMARY KEY, delta INTEGER)")
    g.execute("INSERT INTO upd VALUES (1, -5), (2, 4), (4, 1), (8, 9), (9, -1)")
    // cascade: zeroed rows DELETE; live rows take the delta; 'hold'
    // rows match NO clause and must survive untouched; inserts split
    // by a source-side condition, negatives not inserted
    g.execute("""MERGE INTO inv t USING upd s ON t.id = s.id
      WHEN MATCHED AND t.qty + s.delta <= 0 THEN DELETE
      WHEN MATCHED AND t.state = 'live' THEN UPDATE SET qty = t.qty + s.delta
      WHEN NOT MATCHED AND s.delta > 0 THEN INSERT (id, qty, state) VALUES (s.id, s.delta, 'new')
      WHEN NOT MATCHED THEN INSERT (id, qty, state) VALUES (s.id, 0, 'rejected')""")
    val rows = g.execute("SELECT id, qty, state FROM inv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq(
      (2L, 4L, "live"),     // second clause (first's cond false: 0+4 > 0)
      (3L, 7L, "live"),     // matched by no source row: untouched
      (4L, 3L, "hold"),     // matched, hits NO clause (not live, qty+1 > 0): survives
      (8L, 9L, "new"),      // first insert clause (delta > 0)
      (9L, 0L, "rejected")  // second insert clause (first's cond false)
    ), s"got $rows")        // id 1 deleted by the first clause (5-5 <= 0)
    // first-match-wins ORDER matters: an unconditional clause first
    // makes later clauses unreachable
    g.execute("""MERGE INTO inv t USING upd s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET state = 'touched'
      WHEN MATCHED AND t.qty > 0 THEN DELETE""")
    val after = g.execute("SELECT id, state FROM inv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((2L, "touched"), (3L, "live"), (4L, "touched"),
      (8L, "touched"), (9L, "touched")), s"got $after")
    // a CASE WHEN ... THEN inside a clause's AND condition must not be
    // mistaken for the clause's THEN (top-level THEN scan)
    g.execute("""MERGE INTO inv t USING upd s ON t.id = s.id
      WHEN MATCHED AND t.qty = CASE WHEN s.delta > 0 THEN 4 ELSE -99 END
        THEN UPDATE SET state = 'case-hit'""")
    val caseHit = g.execute("SELECT id FROM inv WHERE state = 'case-hit'")
      .collect().map(_.getLong(0)).toSeq
    assert(caseHit == Seq(2L), s"got $caseHit") // qty=4, delta=+4 -> CASE=4
  }

  test("MERGE INTO ... USING WHEN NOT MATCHED BY SOURCE: full-sync form + conditional cascade") {
    val g = session()
    g.execute("CREATE TABLE cur (id INTEGER PRIMARY KEY, v STRING, pin BOOLEAN DEFAULT FALSE)")
    g.execute("INSERT INTO cur VALUES (1, 'a', FALSE), (2, 'b', TRUE), (3, 'c', FALSE)")
    g.execute("CREATE TABLE feed (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO feed VALUES (1, 'A'), (4, 'D')")
    // the classic table-SYNC statement: update matches, insert new,
    // delete target rows the feed no longer carries — EXCEPT pinned
    // ones, which get marked instead (a BY SOURCE cascade)
    g.execute("""MERGE INTO cur t USING feed s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
      WHEN NOT MATCHED BY SOURCE AND t.pin = FALSE THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v || '?'""")
    val rows = g.execute("SELECT id, v FROM cur ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "A"),   // matched: updated
      (2L, "b?"),                   // unmatched-by-source but pinned: marked
      (4L, "D")),                   // new from feed; id 3 deleted
      s"got $rows")
    // BY SOURCE respects FK RESTRICT like any delete
    g.execute("CREATE TABLE kid (k INTEGER PRIMARY KEY, cid INTEGER REFERENCES cur)")
    g.execute("INSERT INTO kid VALUES (10, 4)")
    g.execute("CREATE TABLE empty_feed (id INTEGER PRIMARY KEY)")
    intercept[Exception] { g.execute(
      """MERGE INTO cur t USING empty_feed s ON t.id = s.id
        WHEN NOT MATCHED BY SOURCE THEN DELETE""") }
    assert(g.execute("SELECT count(*) AS c FROM cur").collect()(0).getLong(0) == 3)
    // a BY-SOURCE-ONLY statement (no WHEN MATCHED clause) must keep
    // every source-matched target row unchanged — only the anti side
    // goes through the cascade
    g.execute("CREATE TABLE solo (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO solo VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    g.execute("CREATE TABLE keep1 (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO keep1 VALUES (1)")
    g.execute("""MERGE INTO solo t USING keep1 s ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(g.execute("SELECT id FROM solo ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "the matched row must survive a BY-SOURCE-only delete sweep")

    // BY TARGET is the explicit synonym for the insert family; BY on a
    // plain MATCHED clause errors loudly
    g.execute("INSERT INTO feed VALUES (7, 'G')") // the one unmatched row
    g.execute("""MERGE INTO cur t USING feed s ON t.id = s.id
      WHEN NOT MATCHED BY TARGET THEN INSERT (id, v) VALUES (s.id + 100, s.v)""")
    assert(g.execute("SELECT v FROM cur WHERE id = 107")
      .collect().map(_.getString(0)).toSeq == Seq("G"))
    intercept[Exception] { g.execute(
      """MERGE INTO cur t USING feed s ON t.id = s.id
        WHEN MATCHED BY SOURCE THEN DELETE""") }
  }

  test("MERGE INTO ... USING inside a txn: staged, EXPLAIN'd, first-committer-wins") {
    val g = session()
    g.execute("CREATE TABLE kv2 (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO kv2 VALUES (1, 'one'), (2, 'two')")
    g.execute("CREATE TABLE delta (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO delta VALUES (2, 'TWO'), (5, 'five')")

    g.execute("BEGIN")
    // EXPLAIN inside the txn plans the staged frame without executing
    val plan = g.execute("""EXPLAIN MERGE INTO kv2 t USING delta s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
      .collect()(0).getString(0)
    assert(plan.contains("Join") || plan.contains("Union"), plan)
    assert(g.execute("SELECT count(*) AS c FROM kv2").collect()(0).getLong(0) == 2,
      "EXPLAIN must not execute")
    g.execute("""MERGE INTO kv2 t USING delta s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    // staged: a second session sees the pre-merge state
    val g2 = new GraftSQL(spark, g.catalog)
    assert(g2.execute("SELECT count(*) AS c FROM kv2").collect()(0).getLong(0) == 2)
    g.execute("COMMIT")
    assert(g2.execute("SELECT v FROM kv2 ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("one", "TWO", "five"))

    // first-committer-wins: a conflicting merge in a stale txn aborts
    g.execute("BEGIN")
    g.execute("""MERGE INTO kv2 t USING delta s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    g2.execute("UPDATE kv2 SET v = 'clash' WHERE id = 1") // moves the version
    intercept[Exception] { g.execute("COMMIT") }
    assert(g2.execute("SELECT count(*) AS c FROM kv2").collect()(0).getLong(0) == 3,
      "the aborted txn's staged delete must not publish")
  }

  test("MERGE INTO ... USING: FK RESTRICT on matched DELETE; malformed clauses error") {
    val g = session()
    g.execute("CREATE TABLE parent (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO parent VALUES (1, 'a'), (2, 'b')")
    g.execute("CREATE TABLE child (cid INTEGER PRIMARY KEY, pid INTEGER REFERENCES parent)")
    g.execute("INSERT INTO child VALUES (10, 1)")
    g.execute("CREATE TABLE hits (id INTEGER PRIMARY KEY)")
    g.execute("INSERT INTO hits VALUES (1)")
    intercept[Exception] { g.execute(
      """MERGE INTO parent p USING hits h ON p.id = h.id
        WHEN MATCHED THEN DELETE""") } // id=1 still referenced by child
    assert(g.execute("SELECT count(*) AS c FROM parent").collect()(0).getLong(0) == 2)
    // loud parse errors, never silent misparse
    intercept[Exception] { g.execute(
      "MERGE INTO parent p USING hits h ON p.id = h.id") } // no WHEN clause
    intercept[Exception] { g.execute(
      "MERGE INTO parent p USING (SELECT * FROM hits) ON p.id = id WHEN MATCHED THEN DELETE") } // no alias
    intercept[Exception] { g.execute(
      """MERGE INTO parent p USING hits h ON p.id = h.id
        WHEN MATCHED THEN UPDATE SET nosuch = 1""") } // unknown SET column
  }

  test("CREATE/DROP VIEW: session-scoped, stacked, EXPLAIN'd, current-snapshot semantics") {
    val g = session()
    g.execute("CREATE TABLE base (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO base VALUES (1, 10), (2, 20), (3, 30)")
    g.execute("CREATE VIEW big AS SELECT id, v FROM base WHERE v >= 20")
    assert(g.execute("SELECT count(*) AS c FROM big").collect()(0).getLong(0) == 2)
    // stacked views + expressions through the reference dialect
    g.execute("CREATE VIEW big2 AS SELECT id, v / 2 AS h FROM big")
    assert(g.execute("SELECT sum(h) AS s FROM big2").collect()(0).getLong(0) == 25)
    // EXPLAIN through a view plans without executing
    val plan = g.execute("EXPLAIN SELECT * FROM big2 WHERE id = 2")
      .collect()(0).getString(0)
    assert(plan.contains("Physical Plan"), plan.take(200))
    // a view is NON-VERSIONED: it re-reads the CURRENT snapshot
    g.execute("INSERT INTO base VALUES (4, 40)")
    assert(g.execute("SELECT count(*) AS c FROM big").collect()(0).getLong(0) == 3)
    // session scope: a second session over the same catalog cannot see it
    val g2 = new GraftSQL(spark, g.catalog)
    intercept[Exception] { g2.execute("SELECT * FROM big").collect() }
    // name hygiene: no table shadowing, duplicate needs OR REPLACE
    intercept[Exception] { g.execute("CREATE VIEW base AS SELECT 1 AS x") }
    intercept[Exception] { g.execute("CREATE VIEW big AS SELECT 1 AS x") }
    g.execute("CREATE OR REPLACE VIEW big AS SELECT id, v FROM base WHERE v >= 40")
    assert(g.execute("SELECT count(*) AS c FROM big").collect()(0).getLong(0) == 1)
    intercept[Exception] { g.execute("CREATE TABLE big (id INTEGER)") }
    // read-only surface: DML against a view fails (not a catalog table)
    intercept[Exception] { g.execute("INSERT INTO big2 VALUES (9, 9)") }
    // DROP removes only the session definition
    g.execute("DROP VIEW big2")
    intercept[Exception] { g.execute("SELECT * FROM big2").collect() }
    intercept[Exception] { g.execute("DROP VIEW big2") }
    assert(g.execute("SELECT count(*) AS c FROM base").collect()(0).getLong(0) == 4)
    // views work inside READ ONLY (they write nothing) and see the pin
    g.execute("BEGIN READ ONLY")
    g.execute("CREATE VIEW ro AS SELECT count(*) AS c FROM base")
    assert(g.execute("SELECT c FROM ro").collect()(0).getLong(0) == 4)
    g.execute("COMMIT")
  }

  test("views mixed with direct tables: the outer query's table bindings survive view expansion") {
    val g = session()
    g.execute("CREATE TABLE ta (id INTEGER PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO ta VALUES (1, 100), (2, 200)")
    g.execute("CREATE TABLE tb (id INTEGER PRIMARY KEY, w INTEGER)")
    g.execute("INSERT INTO tb VALUES (1, 7), (2, 9)")
    g.execute("CREATE VIEW vb AS SELECT id, w FROM tb")
    // the view expands over tb while the outer query references ta
    // directly — the nested expansion must not clobber the outer
    // query's registered table set
    val rows = g.execute(
      "SELECT ta.id, ta.v, vb.w FROM ta JOIN vb ON ta.id = vb.id ORDER BY ta.id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 100L, 7L), (2L, 200L, 9L)), s"got $rows")
  }

  test("CREATE OR REPLACE VIEW replaces case-insensitively; DROP kills the only definition") {
    val g = session()
    g.execute("CREATE TABLE src9 (id INTEGER PRIMARY KEY, w INTEGER)")
    g.execute("INSERT INTO src9 VALUES (1, 100)")
    g.execute("CREATE VIEW myv AS SELECT id, w FROM src9")
    g.execute("CREATE OR REPLACE VIEW MYV AS SELECT id, w + 1 AS w FROM src9")
    assert(g.execute("SELECT w FROM myv").collect()(0).getLong(0) == 101,
      "the replacement must win regardless of case")
    g.execute("DROP VIEW MYV")
    // the stale pre-replace definition must NOT resurface
    intercept[Exception] { g.execute("SELECT w FROM myv").collect() }
  }

  test("RESTORE TABLE ... VERSION through SQL text: rollback without rewrite") {
    val g = session()
    g.execute("CREATE TABLE r (id INTEGER PRIMARY KEY, v STRING)")
    g.execute("INSERT INTO r VALUES (1, 'a'), (2, 'b')") // v1
    g.execute("DELETE FROM r WHERE id = 2")              // v2
    val st = g.execute("RESTORE TABLE r VERSION 1").collect()(0).getString(0)
    assert(st.contains("-> v3"), st)
    val ids = g.execute("SELECT id FROM r ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L), "the deleted row must be back")
  }
}
