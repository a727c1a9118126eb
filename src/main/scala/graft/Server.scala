package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets

import graft.sources.TableCatalog
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Line-protocol SQL endpoint over [[GraftSQL]] — the analog of the
  * reference's `entangledb` server binary serving SQL over TCP
  * (/root/reference/src/server.rs:104 `serve_sql`; request surface
  * server.rs:124-128 Execute/GetTable/ListTables/Status, all already
  * expressed here as SQL statements or `!` meta commands). The
  * protocol is the [[Shell]]'s, verbatim: semicolon-terminated
  * statements in, pipe-separated rows out, `Error: …` lines for
  * failures — an `nc`-able endpoint, no wire format.
  *
  * Sessions are PER-CONNECTION like the reference's (server.rs:117
  * hands each accepted socket its own session): every connection gets
  * its own `spark.newSession()` (isolated temp-view/function registry,
  * so two connections' statements can never cross-bind a table name to
  * each other's snapshots) and its own [[GraftSQL]] transaction state
  * over a catalog instance sharing ONE root — exactly the sharing
  * shape the two-JVM CatalogSpec stress test pins, so snapshot
  * isolation and first-committer-wins hold ACROSS connections. A
  * connection that drops with a transaction open is rolled back:
  * staged work discarded, published state untouched.
  *
  * Deliberately small: the production network endpoint for a
  * Spark-native engine is Spark Connect / the Thrift server (SURVEY
  * §1); this closes the reference's server-socket surface for
  * compatibility without a wire-protocol project.
  *
  * Usage: `runMain graft.Server <catalog-root> [port]` (default 9750).
  */
final class Server(spark: SparkSession, root: String, port: Int = 0) {

  private val listener = new ServerSocket(port)
  @volatile private var closed = false

  private val workers = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-server-conn"); t.setDaemon(true); t
    })
  private val acceptor = new Thread(() => acceptLoop(), "graft-server-accept")
  acceptor.setDaemon(true)

  /** The listening port — pass 0 at construction to bind an ephemeral
    * one (the spec does). */
  def boundPort: Int = listener.getLocalPort

  def start(): Server = { acceptor.start(); this }

  private def acceptLoop(): Unit =
    while (!closed) {
      try {
        val c = listener.accept()
        workers.submit(new Runnable { def run(): Unit = serve(c) })
      } catch {
        case _: SocketException => () // listener closed → loop exits via `closed`
        case NonFatal(_) => ()
      }
    }

  private def serve(c: Socket): Unit = {
    val session = GraftSession.prepare(spark.newSession())
    val g = new GraftSQL(session, new TableCatalog(session, root))
    val in = new BufferedReader(
      new InputStreamReader(c.getInputStream, StandardCharsets.UTF_8))
    // one segment per reply: Shell.run flushes once after each
    // statement's rows and each meta reply, and with Nagle's algorithm
    // off that flush goes out at once instead of waiting for the
    // client's delayed ACK of the previous segment
    c.setTcpNoDelay(true)
    val out = new PrintStream(new java.io.BufferedOutputStream(c.getOutputStream, 1 << 16),
      false, "UTF-8")
    try Shell.run(
      Iterator.continually(in.readLine()).takeWhile(_ != null),
      out, g, interactive = false)
    catch { case NonFatal(_) => () }
    finally {
      // a dropped connection must not leak an open transaction
      if (g.inTransaction || g.inReadOnly)
        try g.execute("ROLLBACK") catch { case NonFatal(_) => () }
      out.flush()
      try c.close() catch { case NonFatal(_) => () }
    }
  }

  /** Block until [[close]] — keeps the server main alive (the accept
    * thread is a daemon so specs never leak it). */
  def awaitShutdown(): Unit = acceptor.join()

  def close(): Unit = {
    closed = true
    try listener.close() catch { case NonFatal(_) => () }
    workers.shutdownNow()
  }
}

object Server {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("graft-data")
    val port = args.lift(1).map(_.toInt).getOrElse(9750)
    val spark = GraftSession.builder(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-server").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val srv = new Server(spark, root, port).start()
    // scalastyle:off println
    println(s"graft server listening on port ${srv.boundPort}, catalog $root")
    // scalastyle:on println
    srv.awaitShutdown()
  }
}
