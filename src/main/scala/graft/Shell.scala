package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}

import graft.sources.TableCatalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import scala.util.control.NonFatal

/** Interactive SQL client over [[GraftSQL]] — the analog of the
  * reference's `entanglesql` binary (/root/reference/src/bin/
  * entanglesql.rs): a stdin REPL that accumulates input until a
  * semicolon-terminated statement (entanglesql.rs:268-291's input
  * validator), executes it, and prints rows pipe-separated with
  * optional headers (entanglesql.rs:186-199). Meta commands mirror the
  * reference's `!` surface (entanglesql.rs:88-171): `!headers on|off`,
  * `!help`, `!status`, `!table <name>`, `!tables`, plus `!exit` for
  * scripted use. The prompt tracks transaction state like the
  * reference's (entanglesql.rs:215-219): `graft> ` idle, `graft:txn> `
  * inside BEGIN, `graft@snapshot> ` inside READ ONLY / AS OF.
  *
  * Usage: `runMain graft.Shell <catalog-root> [-e "stmt; stmt"]`, or
  * `runMain graft.Shell --connect host:port [-e …]` to run as a THIN
  * REMOTE CLIENT against a running [[Server]] (the reference client's
  * actual operation — entanglesql.rs connects over TCP and the
  * session, transactions included, lives server-side; no local Spark
  * starts in this mode). With `-e` the statements run once and the
  * process exits (entanglesql.rs:37-39); otherwise input reads stdin
  * until EOF.
  *
  * This object is the CLIENT surface (a human-usable SQL session over
  * the engine); the reference's server-socket surface is [[Server]],
  * which loops this same statement engine per connection.
  */
object Shell {

  /** One REPL session, parameterized over IO so a spec can script it.
    * Returns when `in` is exhausted or `!exit` is read. `out` is
    * flushed once per reply (a statement's rows or its `Error:` line, a
    * meta command's output, a prompt), so a buffered socket stream
    * sends each reply whole. */
  def run(in: Iterator[String], out: PrintStream, g: GraftSQL,
      interactive: Boolean = true): Unit = {
    var headers = false
    var buffer = new StringBuilder
    var done = false

    def prompt: String =
      if (g.inTransaction) "graft:txn> "
      else if (g.inReadOnly) "graft@snapshot> "
      else if (buffer.nonEmpty) "graft...> " // continuation
      else "graft> "

    def render(df: DataFrame): Unit = {
      if (headers) out.println(df.columns.mkString("|"))
      // toLocalIterator would hold the session across prints; a client
      // result set is human-scale — collect like the reference's
      // row-stream drain (entanglesql.rs:193-198)
      resultRows(df).foreach { row =>
        out.println(row.toSeq.map {
          case null => "NULL"
          case true => "TRUE"
          case false => "FALSE"
          case v => v.toString
        }.mkString("|"))
      }
    }

    def meta(cmd: String): Unit = {
      val parts = cmd.trim.split("\\s+").toSeq
      (parts.head.toLowerCase, parts.tail) match {
        case ("!headers", Seq("on"))  => headers = true; out.println("Headers enabled")
        case ("!headers", Seq("off")) => headers = false; out.println("Headers disabled")
        case ("!help", _) => out.println(
          """Enter a SQL statement terminated by a semicolon (;) to execute it and display the result.
            |The following commands are also available:
            |
            |    !headers <on|off>  Enable or disable column headers
            |    !help              This help message
            |    !status            Display engine status
            |    !table [table]     Display table schema, if it exists
            |    !tables            List tables
            |    !exit              Leave the shell
            |""".stripMargin)
        case ("!status", _) =>
          // the catalog analog of the reference's raft/MVCC status dump
          // (entanglesql.rs:112-160): table count, published versions,
          // bytes on disk, session txn state
          val tables = g.visibleTables
          val versions = tables.map(t =>
            try g.catalog.currentVersion(t) catch { case NonFatal(_) => 0 }).sum
          val bytes = dirBytes(java.nio.file.Paths.get(g.catalog.root))
          val txnState =
            if (g.inTransaction) "1 open txn"
            else if (g.inReadOnly) "read-only snapshot" else "idle"
          out.println(s"Catalog:  ${g.catalog.root} (${tables.size} tables, " +
            s"$versions published versions)")
          out.println("Storage:  %.3f MB disk".formatLocal(java.util.Locale.ROOT, bytes / 1e6))
          out.println(s"Session:  $txnState")
          // SELECT table bindings per read route (GraftSQL.bindRead's
          // guard), INSERT/MERGE statements per check route, DML
          // statements per write route (TableCatalog.writeData's guard)
          out.println(s"Reads:    ${g.localReads} local, ${g.sparkReads} spark")
          out.println(s"Statements: ${g.driverSelects} driver, ${g.sparkSelects} spark")
          out.println(s"Writes:   ${g.driverWrites} driver-checked, ${g.sparkWrites} spark-checked")
          out.println(s"Written:  ${g.driverWritten} driver, ${g.sparkWritten} spark")
        case ("!table", Seq(name)) => render(g.execute(s"SHOW CREATE TABLE $name"))
        case ("!tables", _) => g.visibleTables.foreach(out.println)
        case ("!exit" | "!quit", _) => done = true
        case (c, _) => out.println(s"Error: Unknown command $c")
      }
    }

    def drainStatements(): Unit = {
      // complete statements end at top-level semicolons (outside string
      // literals AND outside `--`/`/* */` comments — the reference's
      // lexer-based validator, 268-291); anything after the last one
      // stays buffered as a partial. Comments are blanked BEFORE string
      // masking (a quote inside a comment must not open a literal), and
      // the comment-blanked text is also what executes: comments are
      // noise to every statement handler, and blanking is
      // length-preserving so the split indexes line up across all
      // three views.
      var text = buffer.toString
      var noComments = GraftSQL.blankComments(text)
      var masked = GraftSQL.maskStrings(noComments)
      while (masked.contains(';')) {
        val i = masked.indexOf(';')
        val stmt = noComments.substring(0, i).trim
        text = text.substring(i + 1)
        noComments = noComments.substring(i + 1)
        masked = masked.substring(i + 1)
        if (stmt.nonEmpty) {
          try render(g.execute(stmt))
          catch { case NonFatal(e) =>
            out.println(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}")
          }
          out.flush()
        }
      }
      // residue that is nothing but comments/whitespace (a trailing
      // `-- note` after the last semicolon) is COMPLETE, not a partial:
      // keeping it would wedge the prompt in continuation mode and
      // shadow `!` meta commands until a stray semicolon arrived
      buffer =
        if (noComments.trim.isEmpty && !GraftSQL.inOpenBlockComment(text))
          new StringBuilder
        else new StringBuilder(text.dropWhile(_ == '\n'))
    }

    if (interactive)
      out.println(s"Connected to graft catalog at ${g.catalog.root}. " +
        "Enter !help for instructions.")
    while (!done && { if (interactive) { out.print(prompt); out.flush() }; in.hasNext }) {
      val line = in.next()
      if (buffer.isEmpty && line.trim.startsWith("!")) { meta(line); out.flush() }
      else if (line.trim.nonEmpty || buffer.nonEmpty) {
        buffer.append(line).append('\n')
        drainStatements()
      }
    }
  }

  /** `df`'s rows, as `df.collect()` returns them. A plan that ran on the
    * driver (a folded SELECT, a statement's status rows) is a
    * `LocalTableScanExec` whose rows are already computed: they are
    * converted interpreted, with no Row encoder and no projection
    * codegen, inside the one SQL execution `collect()` opens, so
    * listeners see the same execution id, start and end events and
    * `onSuccess("collect", qe)`. Any other plan is collected. */
  private[graft] def resultRows(df: DataFrame): Seq[Row] = df.queryExecution.executedPlan match {
    case scan: LocalTableScanExec =>
      SQLExecution.withNewExecutionId(df.queryExecution, Some("collect")) {
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        scan.rows.map(toRow(_).asInstanceOf[Row])
      }
    case _ => df.collect().toSeq
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(f => try java.nio.file.Files.size(f) catch { case NonFatal(_) => 0L })
        .sum()
      finally s.close()
    }

  /** Remote-client mode: pipe `in` lines to a [[Server]] socket and
    * print its responses — the reference client's connect-to-server
    * operation (entanglesql.rs connects over TCP; the session,
    * transactions included, lives server-side). Reader thread drains
    * responses concurrently so a large result streams while the next
    * statement is being typed; returns when the server closes. */
  def connect(host: String, port: Int, in: Iterator[String],
      out: PrintStream): Unit = {
    val sock = new java.net.Socket(host, port)
    val fromServer = new BufferedReader(
      new InputStreamReader(sock.getInputStream, "UTF-8"))
    val toServer = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
    val pump = new Thread(() =>
      try Iterator.continually(fromServer.readLine()).takeWhile(_ != null)
        .foreach(out.println)
      catch { case NonFatal(_) => () }, "graft-client-pump")
    pump.setDaemon(true)
    pump.start()
    try in.foreach(toServer.println)
    finally {
      try sock.shutdownOutput() catch { case NonFatal(_) => () }
      pump.join(30000) // drain the tail of the server's responses
      try sock.close() catch { case NonFatal(_) => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val oneShot = args.indexOf("-e") match {
      case -1 => None
      case i if i + 1 < args.length => Some(args(i + 1))
      case _ => sys.error("-e requires an argument")
    }
    def inputLines: Iterator[String] = oneShot match {
      case Some(cmds) =>
        Iterator(if (cmds.trim.endsWith(";")) cmds else cmds + ";")
      case None =>
        val reader = new BufferedReader(new InputStreamReader(System.in))
        Iterator.continually(reader.readLine()).takeWhile(_ != null)
    }
    // --connect host:port → thin remote client, NO local Spark at all
    // (the whole point of the server split: the client is a socket)
    args.indexOf("--connect") match {
      case i if i >= 0 && i + 1 < args.length =>
        val Array(h, p) = args(i + 1).split(":", 2)
        connect(h, p.toInt, inputLines, System.out)
        return
      case i if i >= 0 => sys.error("--connect requires host:port")
      case _ =>
    }
    val root = args.headOption.filterNot(a => a == "-e" || a == "--connect")
      .getOrElse("graft-data")
    val spark = GraftSession.builder(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-shell").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val g = new GraftSQL(spark, new TableCatalog(spark, root))
    run(inputLines, System.out, g, interactive = oneShot.isEmpty)
    spark.stop()
  }
}
