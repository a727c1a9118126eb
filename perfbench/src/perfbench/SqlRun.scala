package perfbench

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Server
import org.apache.spark.sql.SparkSession

/** The `sql` workload: SQL text over `graft.Server` sockets against a
  * catalog of `lineitem` and `orders`. A read phase runs the point-read
  * mix on every connection (the front door's fixed cost per statement);
  * a write phase then runs two writers (autocommit DML on `orders`,
  * BEGIN…COMMIT blocks on `lineitem`) for a fixed op count beside two
  * readers (the catalog write path, with reads seeing files grow). */
object SqlRun {
  import Main.{Args, Outcome}

  val Sf = 0.01
  val PoolSize = 1000
  val WarmupS = 1.5
  /** Writer A operations and writer B blocks per write phase. */
  val WriterOps = (8, 4)

  final class Phase(val reads: Seq[Done], val writes: Seq[Done], val readWallS: Double,
      val writeWallS: Double)

  def ms(ds: Seq[Done]): Seq[Double] = ds.map(_.ms)

  def run(spark: SparkSession, a: Args, nproc: Int): Outcome = {
    val t0 = System.nanoTime()
    val src = s"${a.work}/src"
    val n = Gen.sizes(Sf)
    val (os, orows) = Gen.orders(a.seed, n)
    val (ls, lrows) = Gen.lineitem(a.seed, n, orows)
    Gen.write(spark, src, Seq(("orders", os, orows), ("lineitem", ls, lrows)))
    // writers own the top fifth of the order keys; readers stay below it,
    // range reads included, so their expected rows never change
    val bandLo = n.orders * 4 / 5
    val pool = Sql.readPool(orows.toIndexedSeq, lrows, a.seed, bandLo - Sql.DeltaKeys - 1, PoolSize)
    val tSetup = System.nanoTime()

    val setups = (1 to Main.SetupRepeats).map { i =>
      val root = s"${a.work}/catalog-$i"
      val s0 = System.nanoTime()
      Sql.load(spark, src, root)
      val s1 = System.nanoTime()
      val server = new Server(spark, root).start()
      (root, server, (s1 - s0) / 1e9, (System.nanoTime() - s0) / 1e9)
    }
    setups.init.foreach { case (r, s, _, _) => s.close(); Main.deleteTree(r) }
    val (root, server, _, _) = setups.last
    val filesLoaded = Sql.fileCounts(spark, root)
    val loadedBytes = Sql.dirBytes(Paths.get(root))

    val conns = math.min(4, nproc).max(3)
    val writers = new Writers(a.seed, n.orders, bandLo, orows, lrows)
    val cursors = Array.fill(conns)(0L)
    val userBytes = new AtomicLong()
    var failed = 0L
    var attempted = 0L

    /** Closed loop on every client. With writer ops, the first two
      * clients are the writers and the readers stop when both are done;
      * otherwise the readers stop at the deadline. */
    def phase(clients: IndexedSeq[Client], seconds: Double, writerOps: (Int, Int) = (0, 0)): Phase = {
      val nWriters = if (writerOps._1 + writerOps._2 > 0) 2 else 0
      val reads = new ConcurrentLinkedQueue[Done]()
      val writes = new ConcurrentLinkedQueue[Done]()
      @volatile var writersDone = nWriters == 0
      val start = new CountDownLatch(1)
      val writerThreads = (0 until nWriters).map { i =>
        new Thread(() => {
          start.await()
          var left = if (i == 0) writerOps._1 else writerOps._2
          var apply: () => Unit = () => ()
          clients(i).loop(() =>
            if (left == 0) None
            else {
              left -= 1
              val (op, ap) = if (i == 0) writers.nextA() else writers.nextB()
              apply = ap
              Some(op)
            },
            d => {
              writes.add(d)
              if (d.ok) { apply(); userBytes.addAndGet(d.op.lines.map(_.length.toLong).sum) }
            })
        })
      }
      var deadline = 0L
      val readerThreads = (nWriters until clients.size).map { i =>
        new Thread(() => {
          start.await()
          clients(i).loop(() =>
            if (if (nWriters > 0) writersDone else System.nanoTime() >= deadline) None
            else {
              val k = cursors(i); cursors(i) += 1
              Some(pool(((i + k * conns) % pool.size).toInt))
            },
            d => reads.add(d))
        })
      }
      (writerThreads ++ readerThreads).foreach(_.start())
      val p0 = System.nanoTime()
      deadline = p0 + (seconds * 1e9).toLong
      start.countDown()
      writerThreads.foreach(_.join())
      val p1 = System.nanoTime()
      writersDone = true
      readerThreads.foreach(_.join())
      val p2 = System.nanoTime()
      val ph = new Phase(reads.asScala.toSeq, writes.asScala.toSeq, (p2 - p0) / 1e9, (p1 - p0) / 1e9)
      attempted += ph.reads.size + ph.writes.size
      failed += (ph.reads ++ ph.writes).count(!_.ok)
      ph
    }

    val sockets = (0 until conns).map(_ => new SocketClient(server.boundPort))
    // warm-up: reads on every connection beside each writer's first operation
    phase(sockets, WarmupS, (1, 1))
    val info = mutable.LinkedHashMap[String, Any]("sf" -> Sf, "connections" -> conns,
      "write_phase" -> "2 writers + readers on the other connections", "writer_ops" -> Seq(WriterOps._1, WriterOps._2),
      "setup_repeats" -> Main.SetupRepeats, "setup_s_each" -> setups.map(_._4),
      "load_s_each" -> setups.map(_._3), "inputs_s" -> (tSetup - t0) / 1e9,
      "files_after_load" -> filesLoaded, "orders_rows" -> orows.size, "lineitem_rows" -> lrows.size)
    def kinds(ph: Phase): Map[String, Any] = ph.writes.groupBy(_.op.kind).map { case (k, ds) =>
      k -> Map("n" -> ds.size, "p50_ms" -> Report.median(ms(ds)))
    }
    var spans: Seq[Span] = Nil
    val metrics =
      if (!a.trace) {
        val reads = phase(sockets, a.seconds * 0.4)
        val mixed = phase(sockets, 0, WriterOps)
        val m = new Metrics
        m("setup_s", "s") = Report.median(setups.map(_._4))
        m("op_geomean_ms", "ms") = Report.geomean(ms(mixed.writes))
        m("ops_per_s", "1/s") = mixed.writes.size / mixed.writeWallS
        m("read_geomean_ms", "ms") = Report.geomean(ms(reads.reads))
        info ++= Seq("reads" -> reads.reads.size, "reads_per_s" -> reads.reads.size / reads.readWallS,
          "read_p50_ms" -> Report.median(ms(reads.reads)),
          "read_p90_ms" -> Report.pct(ms(reads.reads), 90),
          "read_p99_ms" -> Report.pct(ms(reads.reads), 99),
          "writes" -> mixed.writes.size, "write_p50_ms" -> Report.median(ms(mixed.writes)),
          "write_p90_ms" -> Report.pct(ms(mixed.writes), 90),
          "write_phase_s" -> mixed.writeWallS, "write_kinds" -> kinds(mixed),
          "reads_beside_writes" -> mixed.reads.size,
          "read_beside_writes_p50_ms" -> Report.pct(ms(mixed.reads), 50))
        m
      } else {
        val fifth = a.seconds * 0.2
        val viaSocket = phase(sockets, fifth)
        val plain = (0 until conns).map(_ => new ShellClient(spark, root, None))
        phase(plain, 1.0)
        val untraced = phase(plain, fifth)
        val probe = new SparkProbe
        val phases = new PhaseProbe
        val traced = (0 until conns).map(_ => new ShellClient(spark, root, Some(phases)))
        spark.sparkContext.addSparkListener(probe)
        Tracer.enabled = true
        phase(traced, 1.0)
        Tracer.spans.clear()
        val reads = phase(traced, fifth)
        val mixed = phase(traced, 0, WriterOps)
        Tracer.enabled = false
        spark.sparkContext.removeSparkListener(probe)
        spans = Tracer.all
        val m = Layers.zeroed()
        val p50 = (ds: Seq[Done]) => Report.pct(ms(ds), 50)
        m("server.wire_ms_p50", "ms") = p50(viaSocket.reads) - p50(untraced.reads)
        m("trace.overhead_ms_p50", "ms") = p50(reads.reads) - p50(untraced.reads)
        SqlLayers.fill(m, reads, mixed, spans, probe, phases)
        m("catalog.load_s", "s") = Report.median(setups.map(_._3))
        info ++= Seq("reads" -> reads.reads.size, "writes" -> mixed.writes.size,
          "socket_read_p50_ms" -> p50(viaSocket.reads), "inprocess_read_p50_ms" -> p50(untraced.reads),
          "traced_read_p50_ms" -> p50(reads.reads), "write_kinds" -> kinds(mixed))
        m
      }

    sockets.foreach(_.close())
    server.close()
    val filesEnd = Sql.fileCounts(spark, root)
    val diskEnd = Sql.dirBytes(Paths.get(root))
    info ++= Seq("files_end" -> filesEnd, "disk_mb_end" -> diskEnd / 1e6)
    if (a.trace) {
      metrics("catalog.files_end", "count") = filesEnd.values.sum.toDouble
      metrics("catalog.disk_mb", "MB") = diskEnd / 1e6
      metrics("catalog.bytes_written_per_user_byte", "ratio") =
        (diskEnd - loadedBytes).toDouble / userBytes.get.max(1L)
    }
    // every acknowledged write must be visible, and nothing else
    for ((table, want) <- Seq("orders" -> writers.expectedOrders, "lineitem" -> writers.expectedLineitem)) {
      val got = Sql.visibleRows(spark, root, table)
      val ok = got.size == want.size && Sql.checksum(got) == Sql.checksum(want)
      info(s"final_$table") = Map("rows" -> got.size, "expected_rows" -> want.size, "checksum_ok" -> ok)
      attempted += 1
      if (!ok) failed += 1
    }
    Outcome(attempted, failed, metrics, info, spans)
  }
}

/** Per-layer metrics of a traced read phase and write phase. */
object SqlLayers {
  import Layers.{p50, pctOr0}

  def fill(m: Metrics, reads: SqlRun.Phase, mixed: SqlRun.Phase, spans: Seq[Span],
      probe: SparkProbe, phases: PhaseProbe): Unit = {
    val done = reads.reads ++ mixed.reads ++ mixed.writes
    val readDone = reads.reads ++ mixed.reads
    val stmts = done.map(_.stmt).toSet
    val ss = spans.filter(s => stmts.contains(s.stmt))
    val self = Tracer.selfMs(ss)
    val byName = ss.groupBy(_.name)
    def named(n: String) = byName.getOrElse(n, Nil)
    def msOf(n: String) = named(n).map(_.ms)
    val nOps = done.size.max(1).toDouble
    val (jobs0, waits) = probe.snapshot
    val jobs = jobs0.filter(j => stmts.contains(j.stmt))
    val jobsByStmt = jobs.groupBy(_.stmt)
    val nanoToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1e6

    // shell self time: the whole operation minus GraftSQL.execute and the
    // Spark jobs that ran after execute returned (the row drain)
    val execs = ss.filter(_.name.startsWith("graftsql.")).groupBy(_.stmt)
    val shellSelf = named("shell").map { sh =>
      val ex = execs.getOrElse(sh.stmt, Nil)
      val lastExecEndMs = ex.map(_.endNs).maxOption.map(_ / 1e6 + nanoToEpochMs).getOrElse(0.0)
      val drainMs = jobsByStmt.getOrElse(sh.stmt, Nil)
        .filter(j => j.endMs >= 0 && j.startMs >= lastExecEndMs).map(j => (j.endMs - j.startMs).toDouble).sum
      sh.ms - ex.map(_.ms).sum - drainMs
    }
    m("shell.self_ms_p50", "ms") = p50(shellSelf)
    m("shell.rows_out", "count") = readDone.map(_.out.size).sum / readDone.size.max(1).toDouble
    m("graftsql.select_ms_p50", "ms") = p50(msOf("graftsql.select"))
    m("graftsql.select_ms_p99", "ms") = pctOr0(msOf("graftsql.select"), 99)
    m("graftsql.self_ms_p50", "ms") = p50(ss.filter(_.name.startsWith("graftsql.")).map(s => self(s.id)))
    for (v <- Seq("insert", "update", "delete", "merge", "begin", "commit"))
      m(s"graftsql.${v}_ms_p50", "ms") = p50(msOf(s"graftsql.$v"))

    val ids = ss.map(s => s.id -> s).toMap
    def outermost(pred: String => Boolean) =
      ss.filter(s => pred(s.name) && !ids.get(s.parent).exists(p => pred(p.name)))
    val meta = named("catalog.meta")
    m("catalog.meta_calls_per_stmt", "count") = meta.size / nOps
    m("catalog.meta_ms_per_stmt", "ms") = meta.map(_.ms).sum / nOps
    val plans = outermost(_.startsWith("catalog.planFiles"))
    m("catalog.plan_files_calls_per_stmt", "count") = plans.size / nOps
    m("catalog.plan_files_ms_p50", "ms") = p50(plans.map(_.ms))
    val counted = plans.filter(_.all > 0)
    m("catalog.prune_kept_frac", "ratio") =
      if (counted.isEmpty) 0.0 else counted.map(_.kept).sum.toDouble / counted.map(_.all).sum
    m("catalog.scan_ms_p50", "ms") = p50(outermost(_ == "catalog.scan").map(_.ms))
    for (v <- Seq("insert", "update", "delete", "merge"))
      m(s"catalog.${v}_ms_p50", "ms") = p50(outermost(_ == s"catalog.$v").map(_.ms))

    val readStmts = readDone.map(_.stmt).toSet
    val writeStmts = mixed.writes.map(_.stmt).toSet
    m("spark.jobs_per_read", "count") = jobs.count(j => readStmts.contains(j.stmt)) / readDone.size.max(1).toDouble
    m("spark.jobs_per_write", "count") = jobs.count(j => writeStmts.contains(j.stmt)) / mixed.writes.size.max(1).toDouble
    Layers.sparkTotals(m, jobs, waits, done.size)
    Layers.phases(m, phases)
  }
}
