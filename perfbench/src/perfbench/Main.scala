package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sources.{TableCatalog, Tables}
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  * java ... perfbench.Main --workload sql|declared_cold
  *   --seed N --seconds S --trace 0|1 --work DIR --cache DIR --out FILE
  * }}}
  *
  * Prints `metric <name> <value> <unit>` lines, then `RESULT <json>` with
  * the keys correct/attempted/failed/metrics; the full artifact (run
  * facts, sample counts, per-query detail, spans) goes to `--out`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cache: String, out: String)

  final case class Outcome(attempted: Long, failed: Long, metrics: Metrics,
      info: mutable.LinkedHashMap[String, Any], spans: Seq[Span] = Nil)

  val SetupRepeats = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("cache"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Seq("sql", "declared_cold").contains(a.workload),
      s"unknown workload ${a.workload}")
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = Report.loadavg()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$nproc]", nproc)
      .appName("perfbench")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val outcome =
      try a.workload match {
        case "sql" => SqlRun.run(spark, a, nproc)
        case _ => ColdRun.run(spark, a, nproc)
      } catch {
        case e: Throwable => spark.stop(); throw e
      }
    // retained heap: what the driver still holds once the run's garbage is
    // gone; Spark's cleaner drops blocks of collected frames asynchronously
    // after a GC, so collect, let it run, and collect again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val jvm = jvmFacts()
    val sparkVersion = spark.version
    spark.stop()

    val m = outcome.metrics
    if (a.trace) {
      m("jvm.heap_peak_mb", "MB") = jvm("heap_peak_mb")
      m("jvm.gc_s", "s") = jvm("gc_s")
      m("jvm.threads_peak", "count") = jvm("threads_peak")
    } else m("retained_heap_mb", "MB") = heapMb
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> (if (a.trace) 1 else 0), "nproc" -> nproc,
      "loadavg_before" -> loadBefore, "loadavg_after" -> Report.loadavg(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> sparkVersion, "spark_start_s" -> sparkStartS,
      "retained_heap_mb" -> heapMb) ++ jvm ++ outcome.info
    val correct = outcome.failed == 0 && outcome.attempted > 0
    val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed, "metrics" -> m.asJson)
    Report.write(Paths.get(a.out), Report.json(info ++ Seq("result" -> result)) + "\n")
    if (outcome.spans.nonEmpty)
      Report.write(Paths.get(a.out.stripSuffix(".json") + "-spans.jsonl"), Tracer.toJsonLines(outcome.spans))
    m.printLines()
    println("RESULT " + Report.json(result))
    System.out.flush()
    sys.exit(0)
  }

  private def jvmFacts(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    Map("heap_peak_mb" -> heapPeak, "gc_s" -> gc,
      "threads_peak" -> ManagementFactory.getThreadMXBean.getPeakThreadCount.toDouble)
  }

  def deleteTree(p: String): Unit = TableCatalog.deleteRecursively(Paths.get(p))
}

/** Per-layer metric names, in the order BENCHMARK.json lists them. Every
  * traced run reports all of them; a layer a workload never enters
  * reports 0. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "server.wire_ms_p50" -> "ms",
    "shell.self_ms_p50" -> "ms", "shell.rows_out" -> "count",
    "graftsql.select_ms_p50" -> "ms", "graftsql.select_ms_p99" -> "ms", "graftsql.self_ms_p50" -> "ms",
    "graftsql.insert_ms_p50" -> "ms", "graftsql.update_ms_p50" -> "ms", "graftsql.delete_ms_p50" -> "ms",
    "graftsql.merge_ms_p50" -> "ms", "graftsql.begin_ms_p50" -> "ms", "graftsql.commit_ms_p50" -> "ms",
    "catalog.meta_calls_per_stmt" -> "count", "catalog.meta_ms_per_stmt" -> "ms",
    "catalog.plan_files_calls_per_stmt" -> "count", "catalog.plan_files_ms_p50" -> "ms",
    "catalog.prune_kept_frac" -> "ratio", "catalog.scan_ms_p50" -> "ms",
    "catalog.insert_ms_p50" -> "ms", "catalog.update_ms_p50" -> "ms", "catalog.delete_ms_p50" -> "ms",
    "catalog.merge_ms_p50" -> "ms", "catalog.files_end" -> "count",
    "catalog.bytes_written_per_user_byte" -> "ratio", "catalog.load_s" -> "s", "catalog.disk_mb" -> "MB",
    "spark.analysis_ms_p50" -> "ms", "spark.optimization_ms_p50" -> "ms", "spark.planning_ms_p50" -> "ms",
    "spark.jobs_per_read" -> "count", "spark.jobs_per_write" -> "count",
    "spark.stages_per_stmt" -> "count", "spark.tasks_per_stmt" -> "count",
    "spark.task_wait_ms_p50" -> "ms", "spark.job_wall_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "operators.construct_s" -> "s", "operators.construct_jobs" -> "count",
    "operators.execute_s" -> "s", "operators.execute_jobs" -> "count",
    "operators.relational_cold_s" -> "s", "operators.dedup_cold_s" -> "s",
    "operators.similarity_cold_s" -> "s", "operators.text_cold_s" -> "s",
    "operators.sampling_cold_s" -> "s", "operators.warm_s" -> "s",
    "streaming.cold_s" -> "s", "streaming.microbatches" -> "count",
    "trace.overhead_ms_p50" -> "ms")

  /** A Metrics holding every layer metric at 0, to be filled in. */
  def zeroed(): Metrics = {
    val m = new Metrics
    names.foreach { case (n, u) => m(n, u) = 0.0 }
    m
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Report.median(xs)
  def pctOr0(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Report.pct(xs, q)

  /** Spark totals over the jobs of the given statements. */
  def sparkTotals(m: Metrics, jobs: Seq[SparkProbe.Job], waits: Seq[Double], nStmts: Int): Unit = {
    val per = nStmts.max(1).toDouble
    m("spark.stages_per_stmt", "count") = jobs.map(_.stages).sum / per
    m("spark.tasks_per_stmt", "count") = jobs.map(_.tasks).sum / per
    m("spark.task_wait_ms_p50", "ms") = p50(waits)
    m("spark.job_wall_s", "s") = jobs.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3
    m("spark.executor_run_s", "s") = jobs.map(_.runMs).sum / 1e3
    m("spark.executor_cpu_s", "s") = jobs.map(_.cpuNs).sum / 1e9
    m("spark.gc_s", "s") = jobs.map(_.gcMs).sum / 1e3
    m("spark.input_bytes", "bytes") = jobs.map(_.inputBytes).sum.toDouble
    m("spark.shuffle_read_bytes", "bytes") = jobs.map(_.shuffleRead).sum.toDouble
    m("spark.shuffle_write_bytes", "bytes") = jobs.map(_.shuffleWrite).sum.toDouble
    m("spark.spill_bytes", "bytes") = jobs.map(_.spill).sum.toDouble
  }

  def phases(m: Metrics, p: PhaseProbe): Unit = {
    m("spark.analysis_ms_p50", "ms") = p50(p.phase("analysis"))
    m("spark.optimization_ms_p50", "ms") = p50(p.phase("optimization"))
    m("spark.planning_ms_p50", "ms") = p50(p.phase("planning"))
  }
}

/** `declared_cold`. */
object ColdRun {
  import Main.{Args, Outcome}

  val Sf = 0.01
  val DataVersion = "v1"

  /** The fixed dataset (seed 0), generated once per checkout. */
  def data(spark: SparkSession, cache: String): String = {
    val dir = s"$cache/cold-$DataVersion-sf$Sf"
    if (!Files.exists(Paths.get(dir, "_COMPLETE"))) {
      Main.deleteTree(dir)
      Gen.write(spark, dir, Gen.all(0L, Sf))
      Files.writeString(Paths.get(dir, "_COMPLETE"), "")
    }
    dir
  }

  def run(spark: SparkSession, a: Args, nproc: Int): Outcome = {
    val dir = data(spark, a.cache)
    val order = Cold.Queries
    val setups = (1 to Main.SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val s = GraftSession.prepare(spark.newSession())
      Tables.lineitem(s, dir).groupBy("l_returnflag").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    // the JIT warm-up pass runs the queries side by side, each in its own
    // session: it only has to compile code paths, not time them
    val jitStart = System.nanoTime()
    val workers = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    val jitPass =
      try order.map(q => workers.submit(() => Cold.runIn(spark.newSession(), dir, q))).map(_.get)
      finally workers.shutdown()
    val jitS = (System.nanoTime() - jitStart) / 1e9
    val info = mutable.LinkedHashMap[String, Any]("sf" -> Sf, "connections" -> 0, "data_seed" -> 0,
      "data_dir" -> Paths.get(a.cache).relativize(Paths.get(dir)).toString, "order" -> order,
      "setup_s_each" -> setups, "jit_pass_s" -> jitS)

    def pass(onSession: SparkSession => Unit): Seq[(Cold.Run, SparkSession)] =
      order.map(q => Cold.runCold(spark, dir, q, onSession))

    var attempted = 0L
    var failed = 0L
    val expected = Expected.load()
    def check(runs: Seq[Cold.Run]): Unit = runs.foreach { r =>
      attempted += 1
      if (!Expected.matches(expected, r)) failed += 1
    }
    check(jitPass)

    if (!a.trace) {
      // one pass, and another only while it fits in --seconds
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer(pass(_ => ()).map(_._1))
      while ((System.nanoTime() - t0) * (passes.size + 1) / passes.size < a.seconds * 1e9)
        passes += pass(_ => ()).map(_._1)
      passes.foreach(check)
      val secs = passes.toSeq.flatten.map(_.totalS)
      val m = new Metrics
      m("setup_s", "s") = Report.median(setups)
      m("op_geomean_ms", "ms") = Report.geomean(secs) * 1e3
      m("ops_per_s", "1/s") = secs.size / secs.sum
      // every declared query is a read, so the reads are the same runs
      m("read_geomean_ms", "ms") = Report.geomean(secs) * 1e3
      val perQuery = Cold.Queries.map(q => q -> Report.median(passes.toSeq.map(_.find(_.name == q).get.totalS)))
      info ++= Seq("passes" -> passes.size, "runs" -> secs.size, "read_p50_ms" -> Report.median(secs) * 1e3,
        "read_p90_ms" -> Report.pct(secs, 90) * 1e3,
        "cold_total_s" -> perQuery.map(_._2).sum,
        "cold_geomean_s" -> Report.geomean(perQuery.map(_._2)), "per_query_s" -> perQuery.toMap,
        "oracle_sql" -> graft.SparkEntry.oracleSql.view.filterKeys(Cold.Queries.contains).toMap,
        "pass_s" -> passes.map(_.map(r => r.name -> r.totalS).toMap),
        "results" -> passes.last.map(r => r.name -> Map("rows" -> r.rows, "checksum" -> r.checksum,
          "error" -> r.error.orNull)).toMap)
      Outcome(attempted, failed, m, info)
    } else {
      val untraced = pass(_ => ()).map(_._1)
      val probe = new SparkProbe
      val phases = new PhaseProbe
      spark.sparkContext.addSparkListener(probe)
      val traced = pass(s => phases.attach(s))
      val warm = traced.map { case (r, s) => Cold.runIn(s, dir, r.name) }
      spark.sparkContext.removeSparkListener(probe)
      check(untraced); check(traced.map(_._1)); check(warm)
      val runs = traced.map(_._1)
      val m = Layers.zeroed()
      val (jobs, waits) = probe.snapshot
      val offset = System.currentTimeMillis() - System.nanoTime() / 1e6
      def inWindow(j: SparkProbe.Job, fromNs: Long, toNs: Long) =
        j.startMs >= fromNs / 1e6 + offset - 1 && j.startMs <= toNs / 1e6 + offset + 1
      val coldJobs = jobs.filter(j => runs.exists(r => inWindow(j, r.startNs, r.endNs)))
      m("operators.construct_s", "s") = runs.map(_.constructS).sum
      m("operators.construct_jobs", "count") =
        jobs.count(j => runs.exists(r => inWindow(j, r.startNs, r.builtNs))).toDouble
      m("operators.execute_s", "s") = runs.map(_.executeS).sum
      m("operators.execute_jobs", "count") =
        jobs.count(j => runs.exists(r => inWindow(j, r.builtNs, r.endNs))).toDouble
      for (f <- Seq("relational", "dedup", "similarity", "text", "sampling"))
        m(s"operators.${f}_cold_s", "s") = runs.filter(r => Cold.family(r.name) == f).map(_.totalS).sum
      m("operators.warm_s", "s") = warm.map(_.totalS).sum
      m("streaming.cold_s", "s") = runs.filter(r => Cold.family(r.name) == "streaming").map(_.totalS).sum
      m("streaming.microbatches", "count") = phases.microBatches.toDouble
      Layers.sparkTotals(m, coldJobs, waits, runs.size)
      Layers.phases(m, phases)
      val p50 = (rs: Seq[Cold.Run]) => Report.median(rs.map(_.totalS)) * 1e3
      m("trace.overhead_ms_p50", "ms") = p50(runs) - p50(untraced)
      info ++= Seq("cold_total_s_untraced" -> untraced.map(_.totalS).sum,
        "cold_total_s_traced" -> runs.map(_.totalS).sum,
        "per_query" -> runs.map(r => r.name -> Map("construct_s" -> r.constructS,
          "execute_s" -> r.executeS, "warm_s" -> warm.find(_.name == r.name).map(_.totalS).getOrElse(0.0),
          "jobs" -> jobs.count(j => inWindow(j, r.startNs, r.endNs)))).toMap)
      Outcome(attempted, failed, m, info)
    }
  }
}

/** Expected row count and checksum of each declared query on the fixed
  * dataset, stored with the benchmark (`expected_cold.json`, located by
  * the `perfbench.expected` system property). */
object Expected {
  private val entry = "\"(\\w+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(-?\\d+)\\s*,\\s*\"checksum\"\\s*:\\s*(-?\\d+)".r

  def load(): Map[String, (Long, Long)] = {
    val p = Paths.get(System.getProperty("perfbench.expected", "perfbench/expected_cold.json"))
    if (!Files.exists(p)) Map.empty
    else entry.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def matches(exp: Map[String, (Long, Long)], r: Cold.Run): Boolean =
    r.error.isEmpty && exp.get(r.name).exists { case (rows, h) => rows == r.rows && h == r.checksum }
}
