package perfbench

import java.io.{BufferedReader, ByteArrayOutputStream, InputStreamReader, PrintStream, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import graft.{GraftSQL, GraftSession, Shell}
import graft.sources.TableCatalog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** One client operation: its kind (`read`, or the write verb), the lines
  * it sends (each a complete statement) and what its output must be.
  * `expected = None` means only "no `Error:` line"; a write's effect is
  * checked through the final state. */
final case class Op(kind: String, lines: Seq[String], expected: Option[Seq[String]])

/** What one connection observed for one operation. */
final case class Done(op: Op, startNs: Long, endNs: Long, out: Seq[String], stmt: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = !out.exists(_.startsWith("Error:")) &&
    op.expected.forall(e => e.sorted == out.sorted)
}

/** A client session: a socket to `graft.Server`, or `graft.Shell.run`
  * driven in-process with the same statements (the traced form). */
trait Client {
  /** Runs `next()` closed-loop until it returns None. */
  def loop(next: () => Option[Op], done: Done => Unit): Unit
  def close(): Unit
}

/** Socket client. The line protocol has no end-of-result marker, so
  * each request is followed by an unknown meta command `!syncN`; its
  * `Error: Unknown command !syncN` reply closes the response without
  * running Spark. */
final class SocketClient(port: Int) extends Client {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val out = new PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
  private var seq = 0L

  def loop(next: () => Option[Op], done: Done => Unit): Unit = {
    var op = next()
    while (op.isDefined) {
      seq += 1
      val sync = s"!sync$seq"
      val marker = s"Error: Unknown command $sync"
      val t0 = System.nanoTime()
      op.get.lines.foreach(out.println)
      out.println(sync)
      out.flush()
      val got = mutable.ArrayBuffer.empty[String]
      var line = in.readLine()
      while (line != null && line != marker) { got += line; line = in.readLine() }
      if (line == null) got += "Error: connection closed"
      done(Done(op.get, t0, System.nanoTime(), got.toSeq, 0L))
      op = if (line == null) None else next()
    }
  }

  def close(): Unit = try sock.close() catch { case _: Exception => () }
}

/** In-process client: the per-connection session and `GraftSQL` that
  * `graft.Server` builds, fed to `Shell.run` through an iterator whose
  * `hasNext` marks the end of the previous operation. */
final class ShellClient(spark: SparkSession, root: String, traced: Option[PhaseProbe]) extends Client {
  private val session = GraftSession.prepare(spark.newSession())
  traced.foreach(_.attach(session))
  private val g: GraftSQL =
    if (traced.isDefined) new TracedGraftSQL(session, new TracedCatalog(session, root))
    else new GraftSQL(session, new TableCatalog(session, root))

  def loop(nextOp: () => Option[Op], done: Done => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val it = new Iterator[String] {
      private var cur: Option[Op] = None
      private var pending: List[String] = Nil
      private var t0 = 0L
      private var stmt = 0L
      private var finished = false
      def hasNext: Boolean = {
        if (pending.isEmpty && !finished) {
          cur.foreach { op =>
            val t1 = System.nanoTime()
            Tracer.record("shell", stmt, t0, t1)
            val out = buf.toString(StandardCharsets.UTF_8).linesIterator.toSeq
            buf.reset()
            done(Done(op, t0, t1, out, stmt))
          }
          cur = nextOp()
          cur match {
            case Some(op) =>
              pending = op.lines.toList
              stmt = Tracer.newStatement()
              session.sparkContext.setLocalProperty(SparkProbe.StmtKey, stmt.toString)
              t0 = System.nanoTime()
            case None => finished = true
          }
        }
        pending.nonEmpty
      }
      def next(): String = { val l = pending.head; pending = pending.tail; l }
    }
    Shell.run(it, ps, g, interactive = false)
  }

  def close(): Unit = ()
}

/** Statements, expected rows and catalog helpers of the `sql` workload:
  * a catalog of `lineitem` (INDEX l_orderkey) and `orders` (PRIMARY KEY +
  * INDEX o_orderkey) loaded from seeded parquet. */
object Sql {

  private val verbs = Seq("select", "insert", "update", "delete", "merge", "begin", "commit",
    "rollback")

  def verb(sql: String): String = {
    val w = sql.trim.takeWhile(c => !c.isWhitespace && c != ';').toLowerCase(java.util.Locale.ROOT)
    if (w == "with") "select" else if (verbs.contains(w)) w else "other"
  }

  /** Shell's rendering of one row. */
  def render(r: Row): String = r.toSeq.map {
    case null => "NULL"
    case true => "TRUE"
    case false => "FALSE"
    case v => v.toString
  }.mkString("|")

  def renderVals(vs: Seq[Any]): String = render(Row.fromSeq(vs))

  /** Order-insensitive checksum of rendered rows. */
  def checksum(lines: Iterable[String]): Long =
    lines.foldLeft(0L)((acc, l) => acc + scala.util.hashing.MurmurHash3.stringHash(l).toLong * 0x9E3779B97F4A7C15L)

  val DeltaKeys = 20

  def lineitemSelect(k: Long) = s"SELECT * FROM lineitem WHERE l_orderkey = $k;"
  def ordersRange(k: Long) = s"SELECT * FROM orders WHERE o_orderkey BETWEEN $k AND ${k + DeltaKeys};"
  def joinSelect(k: Long) =
    "SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_extendedprice FROM orders o " +
      s"JOIN lineitem l ON o.o_orderkey = l.l_orderkey WHERE o.o_orderkey = $k AND l.l_orderkey = $k;"

  /** A pool of read operations with their expected rows, computed from
    * the generated rows themselves (no Spark, no graft code). Keys are
    * uniform in [0, keyLimit); shapes repeat a fixed cycle of ten — seven
    * lineitem point reads, two orders ranges, one one-key join — so every
    * seed runs the same mix. `orders` holds key k at index k. */
  def readPool(orders: IndexedSeq[Row], lineitem: Seq[Row], seed: Long, keyLimit: Int,
      n: Int): IndexedSeq[Op] = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val cycle = "lllolllojl"
    val lines = lineitem.groupBy(_.getLong(0))
    (0 until n).map { i =>
      val k = r.nextInt(keyLimit).toLong
      cycle(i % cycle.length) match {
        case 'l' => Op("read", Seq(lineitemSelect(k)), Some(lines.getOrElse(k, Nil).map(render)))
        case 'o' => Op("read", Seq(ordersRange(k)),
          Some((k to k + DeltaKeys).filter(_ < orders.size).map(j => render(orders(j.toInt)))))
        case _ => Op("read", Seq(joinSelect(k)), Some(lines.getOrElse(k, Nil).map(l =>
          renderVals(Seq(k, orders(k.toInt).get(4), l.get(3), l.get(5))))))
      }
    }
  }

  /** Creates both tables in a fresh catalog root and loads the source
    * parquet through the catalog's INSERT path. */
  def load(spark: SparkSession, src: String, root: String): Unit = {
    val cat = new TableCatalog(spark, root)
    val o = spark.read.parquet(s"$src/orders.parquet")
    cat.createTable("orders", o.schema, primaryKey = Some("o_orderkey"), indexes = Seq("o_orderkey"))
    cat.insert("orders", o)
    val l = spark.read.parquet(s"$src/lineitem.parquet")
    cat.createTable("lineitem", l.schema, indexes = Seq("l_orderkey"))
    cat.insert("lineitem", l)
  }

  /** Data files in each table's current snapshot. */
  def fileCounts(spark: SparkSession, root: String): Map[String, Int] = {
    val cat = new TableCatalog(spark, root)
    Seq("orders", "lineitem").map(t => t -> cat.planFiles(t, lit(true))._2.size).toMap
  }

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  /** Rows of `table` as the SQL front returns them to a fresh session. */
  def visibleRows(spark: SparkSession, root: String, table: String): Seq[String] = {
    val s = GraftSession.prepare(spark.newSession())
    new GraftSQL(s, new TableCatalog(s, root)).execute(s"SELECT * FROM $table").collect().map(render).toSeq
  }
}

/** Writer scripts of the `sql` write phase, with an in-memory model of the
  * state each acknowledged operation implies. Writer A owns `orders`
  * (autocommit DML), writer B owns `lineitem` (BEGIN…COMMIT blocks);
  * both only touch keys in [bandLo, nOrders) or keys they create, which
  * readers never read. */
final class Writers(seed: Long, nOrders: Int, val bandLo: Int,
    ordersInit: Seq[Row], lineitemInit: Seq[Row]) {
  private val ra = new SplittableRandom(seed * 104729L + 1)
  private val rb = new SplittableRandom(seed * 104729L + 2)
  private val orders = mutable.LinkedHashMap.empty[Long, Vector[Any]]
  ordersInit.foreach(r => orders(r.getLong(0)) = r.toSeq.toVector)
  private val lineitem = mutable.HashMap.empty[Long, Vector[Vector[Any]]]
  lineitemInit.foreach { r =>
    lineitem(r.getLong(0)) = lineitem.getOrElse(r.getLong(0), Vector.empty) :+ r.toSeq.toVector
  }
  private var keyA = 10000000L
  private var keyB = 20000000L
  private val insertedA = mutable.ArrayBuffer.empty[Long]
  private val d0 = LocalDateTime.of(1996, 1, 1, 0, 0)

  private def q(s: String) = "'" + s + "'"
  private def ts(t: LocalDateTime) = s"TIMESTAMP_NTZ '${t.toLocalDate} 00:00:00'"
  private def lit(v: Any): String = v match {
    case s: String => q(s)
    case t: LocalDateTime => ts(t)
    case l: Long => s"${l}L"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case other => other.toString
  }
  private def tuple(vs: Seq[Any]) = vs.map(lit).mkString("(", ", ", ")")

  private def orderRow(k: Long, r: SplittableRandom): Vector[Any] = Vector(k, r.nextInt(1000).toLong,
    Seq("F", "O", "P")(r.nextInt(3)), math.round(r.nextDouble() * 400000) / 100.0,
    d0.plusDays(r.nextInt(2000)), "3-MEDIUM")

  private val cycleA = Seq("insert1", "update", "insert10", "merge", "delete")
  private var opsA = 0

  /** Writer A's next operation — the verbs cycle in a fixed order, keys
    * and values come from the seed — and the model update to apply once
    * it is acknowledged. */
  def nextA(): (Op, () => Unit) = synchronized {
    val kind = cycleA(opsA % cycleA.size)
    opsA += 1
    kind match {
      case "insert1" =>
        val row = orderRow(keyA, ra); keyA += 1
        (Op(kind, Seq(s"INSERT INTO orders VALUES ${tuple(row)};"), None),
          () => { orders(row(0).asInstanceOf[Long]) = row; insertedA += row(0).asInstanceOf[Long] })
      case "insert10" =>
        val rows = (0 until 10).map { _ => val r = orderRow(keyA, ra); keyA += 1; r }
        (Op(kind, Seq(s"INSERT INTO orders VALUES ${rows.map(tuple).mkString(", ")};"), None),
          () => rows.foreach { r => orders(r(0).asInstanceOf[Long]) = r; insertedA += r(0).asInstanceOf[Long] })
      case "update" =>
        val a = bandLo + ra.nextInt(nOrders - bandLo - 4)
        (Op(kind, Seq(s"UPDATE orders SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'F' " +
          s"WHERE o_orderkey BETWEEN $a AND ${a + 4};"), None),
          () => (a.toLong to a + 4L).foreach(k => orders.get(k).foreach(r =>
            orders(k) = r.updated(3, r(3).asInstanceOf[Double] + 1.5).updated(2, "F"))))
      case "merge" =>
        val existing = orderRow(bandLo + ra.nextInt(nOrders - bandLo), ra)
        val fresh = orderRow(keyA, ra); keyA += 1
        (Op(kind, Seq(s"MERGE INTO orders VALUES ${tuple(existing)}, ${tuple(fresh)};"), None),
          () => {
            orders(existing(0).asInstanceOf[Long]) = existing
            orders(fresh(0).asInstanceOf[Long]) = fresh; insertedA += fresh(0).asInstanceOf[Long]
          })
      case _ =>
        // every cycle inserts before it deletes, so insertedA is never empty here
        val k = insertedA(ra.nextInt(insertedA.size))
        (Op(kind, Seq(s"DELETE FROM orders WHERE o_orderkey = $k;"), None),
          () => { orders.remove(k); insertedA -= k })
    }
  }

  /** Writer B's next block: new lines for a fresh order key, and a
    * quantity bump on the lines of one band order. */
  def nextB(): (Op, () => Unit) = synchronized {
    val k = keyB; keyB += 1
    val lines = (1 to 1 + rb.nextInt(3)).map(i => Vector[Any](k, rb.nextInt(1000).toLong,
      rb.nextInt(50).toLong, i, (1 + rb.nextInt(50)).toDouble, math.round(rb.nextDouble() * 9e6) / 100.0,
      rb.nextInt(11) / 100.0, rb.nextInt(9) / 100.0, "N", "O", d0.plusDays(rb.nextInt(2000))))
    val b = (bandLo + rb.nextInt(nOrders - bandLo)).toLong
    (Op("txn", Seq("BEGIN;", s"INSERT INTO lineitem VALUES ${lines.map(tuple).mkString(", ")};",
      s"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE l_orderkey = $b;", "COMMIT;"), None),
      () => {
        lineitem(k) = lines.toVector
        lineitem.get(b).foreach(ls => lineitem(b) = ls.map(l => l.updated(4, l(4).asInstanceOf[Double] + 1)))
      })
  }

  def expectedOrders: Seq[String] = synchronized(orders.values.map(Sql.renderVals).toSeq)
  def expectedLineitem: Seq[String] = synchronized(lineitem.values.flatten.map(Sql.renderVals).toSeq)
}
