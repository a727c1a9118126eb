package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.sources.TableCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Scripted run of the [[Shell]] REPL — the reference's entanglesql
  * client surface (/root/reference/src/bin/entanglesql.rs): statement
  * accumulation to the semicolon, `!` meta commands, pipe-separated
  * rows, txn-aware prompt, non-fatal errors. */
class ShellSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Output with the inline prompts removed (prompts print without a
    * trailing newline, so results share their line). */
  private def stripPrompts(out: String): String =
    out.replaceAll("graft(:txn|@snapshot|\\.\\.\\.)?> ", "")

  private def script(lines: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-shell").toString
    val g = new GraftSQL(spark, new TableCatalog(spark, dir))
    val buf = new ByteArrayOutputStream()
    Shell.run(lines.iterator, new PrintStream(buf, true, "UTF-8"), g)
    buf.toString("UTF-8")
  }

  test("full session: DDL, DML, SELECT, meta commands, BEGIN/COMMIT, EXPLAIN") {
    val out = script(
      "CREATE TABLE movies (id INTEGER PRIMARY KEY, title STRING NOT NULL, rating FLOAT);",
      "INSERT INTO movies VALUES (1, 'Heat', 8.3), (2, 'Ronin', 7.3);",
      "!tables",
      "!headers on",
      // multi-line statement: complete only at the semicolon
      "SELECT id, title, rating FROM movies",
      "ORDER BY id;",
      "!headers off",
      // txn lifecycle with prompt state visible between statements
      "BEGIN;",
      "UPDATE movies SET rating = 9.9 WHERE id = 1;",
      "SELECT rating FROM movies WHERE id = 1;",
      "EXPLAIN DELETE FROM movies WHERE id = 2;",
      "COMMIT;",
      "SELECT rating FROM movies ORDER BY id;",
      "!status",
      "!table movies",
      "!exit",
      "SELECT should_never_run FROM movies;")

    // banner + !tables
    assert(out.contains("Connected to graft catalog"), out)
    assert(out.linesIterator.exists(_.trim.endsWith("movies")), out)
    // headers printed once enabled, pipe-separated rows
    assert(out.contains("id|title|rating"), out)
    assert(out.contains("1|Heat|8.3"), out)
    assert(out.contains("2|Ronin|7.3"), out)
    // prompt reflects txn state (reference entanglesql.rs:215-219)
    assert(out.contains("graft:txn> "), out)
    assert(out.contains("graft> "), out)
    // read-your-writes inside the txn, then committed value visible
    assert(out.contains("9.9"), out)
    // txn-aware EXPLAIN DML shows a real plan, not just routing
    assert(out.contains("Physical Plan"), out)
    // !status reports the catalog analog of the reference status dump
    assert(out.contains("1 tables") || out.contains("tables,"), out)
    assert(out.contains("MB disk"), out)
    // !table renders SHOW CREATE TABLE
    assert(out.contains("CREATE TABLE movies"), out)
    // !exit stops the REPL before the trailing statement
    assert(!out.contains("should_never_run"), out)
  }

  test("errors are printed and do not kill the session; partial input buffers") {
    val out = script(
      "CREATE TABLE t (id INTEGER PRIMARY KEY);",
      "INSERT INTO t VALUES (1);",
      "SELECT nope FROM t;",          // analysis error → printed, session lives
      "INSERT INTO t VALUES (1);",    // PK violation → printed, session lives
      "!nosuch",                      // unknown meta command
      "SELECT count(*) AS n",         // partial: continuation prompt
      "FROM t;",
      "SELECT 'semi ; inside literal' AS s FROM t;") // ; in a string must not split
    val clean = stripPrompts(out)
    val errs = clean.linesIterator.filter(_.startsWith("Error:")).toSeq
    assert(errs.size == 3, out)
    assert(out.contains("graft...> "), out) // continuation prompt appeared
    assert(clean.linesIterator.contains("1"), out) // count survived the errors
    assert(out.contains("semi ; inside literal"), out)
  }

  test("semicolons inside SQL comments do not split statements") {
    val out = script(
      "CREATE TABLE c (id INTEGER PRIMARY KEY, v STRING);",
      // a `;` inside a line comment must NOT end the statement early
      "INSERT INTO c VALUES (1, 'a') -- trailing note; with semicolon",
      ";",
      // block comment with a semicolon spanning the middle of a statement
      "SELECT id /* not ; the end */, v FROM c;",
      // a `--` INSIDE a string literal is data, not a comment opener
      "SELECT '--not a comment;' AS s FROM c;",
      // unterminated block comment buffers until its close arrives
      "SELECT count(*) AS n FROM c /* open",
      "still; open */;")
    val clean = stripPrompts(out)
    assert(!clean.contains("Error:"), out)
    assert(clean.contains("1|a"), out)
    assert(clean.contains("--not a comment;"), out)
    assert(out.contains("graft...> "), out) // open comment kept buffering
    assert(clean.linesIterator.toSeq.reverse
      .dropWhile(_.trim.isEmpty).headOption.exists(_.trim == "1"), out)
  }

  test("trailing comment after a semicolon completes the statement; meta commands stay live") {
    val out = script(
      "SELECT 1 AS one; -- trailing note",
      // the all-comment residue must NOT leave the shell in
      // continuation mode: the next `!` line is a meta command
      "!headers off",
      "SELECT 2 AS two;",
      // an OPEN block comment after the semicolon is still a partial
      "SELECT 3 AS three; /* open",
      "close */ SELECT 4 AS four;")
    val clean = stripPrompts(out)
    assert(!clean.contains("Error:"), out)
    assert(clean.linesIterator.exists(_.trim == "1"), out)
    // `!headers off` executed as a meta command, so no header line
    // precedes the `2` result
    assert(!clean.contains("two"), out)
    assert(clean.linesIterator.exists(_.trim == "2"), out)
    assert(clean.linesIterator.exists(_.trim == "4"), out)
  }

  test("--connect mode: thin client drives a live Server socket, txn included") {
    val root = java.nio.file.Files.createTempDirectory("graft-shell-conn").toString
    val srv = new Server(spark, root, 0).start()
    try {
      val buf = new ByteArrayOutputStream()
      Shell.connect("127.0.0.1", srv.boundPort, Iterator(
        "CREATE TABLE ct (id INTEGER PRIMARY KEY, v STRING);",
        "BEGIN;",
        "INSERT INTO ct VALUES (1, 'remote');",
        "COMMIT;",
        "SELECT v FROM ct;"), new PrintStream(buf, true, "UTF-8"))
      val out = buf.toString("UTF-8")
      assert(out.contains("CREATE TABLE ct"), out)
      assert(out.contains("BEGIN") && out.contains("COMMIT"), out)
      assert(out.linesIterator.contains("remote"), out)
      assert(!out.contains("Error:"), out)
    } finally {
      srv.close()
      graft.sources.TableCatalog.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("BEGIN READ ONLY snapshot prompt and rollback leave state intact") {
    val out = script(
      "CREATE TABLE r (id INTEGER PRIMARY KEY, v INTEGER);",
      "INSERT INTO r VALUES (1, 10);",
      "BEGIN READ ONLY;",
      "SELECT v FROM r;",
      "COMMIT;",
      "BEGIN;",
      "DELETE FROM r;",
      "ROLLBACK;",
      "SELECT count(*) AS n FROM r;")
    assert(out.contains("graft@snapshot> "), out)
    // the rollback preserved the row
    assert(stripPrompts(out).linesIterator.toSeq.reverse
      .dropWhile(_.trim.isEmpty).headOption.exists(_.trim == "1"), out)
  }

  test("EXPLAIN names each table's read route and !status counts reads per route") {
    // a comma-decimal default locale must not reach the status lines
    val locale = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val out = try stripPrompts(script(
      "CREATE TABLE r (id INTEGER PRIMARY KEY, v STRING);",
      "INSERT INTO r VALUES (1, 'a'), (2, 'b');",  // driver-checked
      "INSERT INTO r VALUES (3, 'c');",            // driver-checked
      "SELECT v FROM r WHERE id = 3;",           // local
      "BEGIN;",
      "SELECT count(*) AS n FROM r;",            // write txn: Spark
      // not a LocalRelation: spark-checked
      "INSERT INTO r (id, v) SELECT v.* FROM VALUES (4, 'd') AS v CROSS JOIN range(1);",
      "COMMIT;",
      "EXPLAIN SELECT v FROM r WHERE id BETWEEN 1 AND 2;", // local
      "!status"))
    finally java.util.Locale.setDefault(locale)
    val route = raw"IndexLookup: r local (\d+) rows \((\d+)/(\d+) files, (\d+) footer rows\)".r
      .findFirstMatchIn(out).getOrElse(fail(s"no route line in:\n$out"))
    assert(route.group(1).toInt == 2, out)
    assert(route.group(2).toInt <= route.group(3).toInt && route.group(4).toInt >= 2, out)
    val reads = raw"Reads:\s+(\d+) local, (\d+) spark".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Reads line in:\n$out"))
    assert((reads.group(1).toInt, reads.group(2).toInt) == ((2, 1)), out)
    val writes = raw"Writes:\s+(\d+) driver-checked, (\d+) spark-checked".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Writes line in:\n$out"))
    assert((writes.group(1).toInt, writes.group(2).toInt) == ((2, 1)), out)
    val storage = raw"Storage:\s+(\S+) MB disk".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Storage line in:\n$out"))
    assert(storage.group(1).matches("\\d+\\.\\d{3}") && storage.group(1).toDouble > 0, out)
  }

  test("!status counts SELECTs by route: a one-key join of two small tables runs on the driver") {
    val join = "SELECT o.id, o.day, l.n, l.price FROM o JOIN l ON o.id = l.oid " +
      "WHERE o.id = 2 AND l.oid = 2"
    val out = stripPrompts(script(
      "CREATE TABLE o (id INTEGER PRIMARY KEY, day STRING);",
      "CREATE TABLE l (oid INTEGER, n INTEGER, price FLOAT);",
      "INSERT INTO o VALUES (1, 'mon'), (2, 'tue'), (3, 'wed');",
      "INSERT INTO l VALUES (1, 1, 1.5), (2, 1, 2.5), (2, 2, 3.5), (3, 1, 4.5);",
      s"$join;",                          // driver: folds to one local scan
      "SELECT count(*) AS c FROM l;",      // spark: an aggregate is not folded
      s"EXPLAIN $join;",
      "!status"))
    assert(out.contains("2|tue|1|2.5") && out.contains("2|tue|2|3.5"), out)
    val statements = raw"Statements:\s+(\d+) driver, (\d+) spark".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Statements line in:\n$out"))
    assert((statements.group(1).toInt, statements.group(2).toInt) == ((1, 1)), out)
    val plan = out.substring(out.indexOf("== Physical Plan =="))
    assert(plan.contains("LocalTableScan") && !plan.contains("Join"), plan)
  }

  test("!status counts DML statements by write route; EXPLAIN ANALYZE names an UPDATE's") {
    val eight = (1 to 8).map(i => s"($i, 'v$i')").mkString(", ")
    val out = stripPrompts(script(
      "CREATE TABLE w (id INTEGER PRIMARY KEY, v STRING);",
      s"INSERT INTO w VALUES $eight;",          // an empty table's load: one part per core, a job
      "INSERT INTO w VALUES (100, 'x');",        // one part: driver
      "UPDATE w SET v = 'y' WHERE id = 100;",    // rewrites that part: driver
      "BEGIN;",
      "DELETE FROM w WHERE id = 100;",           // driver, staged
      "COMMIT;",
      "EXPLAIN ANALYZE UPDATE w SET v = 'z' WHERE id = 1;", // driver
      "SELECT id, v FROM w WHERE id <= 2;",
      "!status"))
    assert(out.contains("Write: w 1 part, written on the driver"), out)
    assert(out.contains("1|z") && out.contains("2|v2") && !out.contains("100|"), out)
    val written = raw"Written:\s+(\d+) driver, (\d+) spark".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Written line in:\n$out"))
    assert((written.group(1).toInt, written.group(2).toInt) == ((4, 1)), out)
    val writes = raw"Writes:\s+(\d+) driver-checked, (\d+) spark-checked".r
      .findFirstMatchIn(out).getOrElse(fail(s"no Writes line in:\n$out"))
    assert((writes.group(1).toInt, writes.group(2).toInt) == ((2, 0)), out)
  }
}
