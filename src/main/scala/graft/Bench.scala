package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  * A warmup action first, so measured queries see a live executor
  * pool and compiled codegen rather than JVM startup.
  *
  * Robustness: each query runs SPARK_GRAFT_BENCH_RUNS times (default
  * 3) and reports the per-query MEDIAN — one background-load spike on
  * a shared box can no longer masquerade as a regression — and the
  * JSON self-reports /proc/loadavg before and after the suite so a
  * contaminated run is visible in the artifact itself.
  */
object Bench {

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "unavailable" }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
    val loadBefore = loadavg()

    // warmup: scan + shuffle + codegen once, outside any measurement
    sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()

    // optional name filter (local iteration aid; the driver never sets
    // it, so round artifacts always cover the full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        // noop-format write, not count(): under an aggregate-only action
        // Catalyst's EliminateSorts removes final ORDER BYs, so count()
        // under-measures sort-heavy queries; the noop sink consumes every
        // row of the complete plan
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${Option(e.getMessage).getOrElse(e)}")
            false
          }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      // per-run detail to stderr: the JSON median is the artifact, but
      // a spread across runs (JIT warm-up on run 1, load spike) should
      // be diagnosable from the round log without a re-run
      System.err.println(
        s"[bench] $name runs: ${times.map(t => f"$t%.2f").mkString(" ")}")
      // a failed query reports -1, never a deceptively fast "success";
      // the median only aggregates successful runs
      name -> (if (times.size == runs) median(times) else -1.0)
    }
    // 3-decimal per-query seconds: ms resolution is already below this
    // box's run-to-run noise, and the full JSON line for 183 queries
    // must stay as small as possible for tail-capture parsers. -1
    // (failed query) prints as -1.0, never a deceptively fast success.
    def fmt(v: Double): String =
      if (v < 0) "-1.0" else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json")
    val nproc = Runtime.getRuntime.availableProcessors
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"nproc":$nproc,"loadavg_before":"$loadBefore","loadavg_after":"${loadavg()}","out_file":"$outFile"}"""
    // the COMPLETE artifact goes to a file: a 183-query JSON line can
    // outgrow a captured-stdout ring buffer, and a truncated artifact
    // can't support round-over-round comparisons
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e")
    }
    // stop Spark BEFORE printing the artifact lines: nothing (shutdown
    // logging included) may follow them on stdout from this program
    spark.stop()
    println(json)
    // compact duplicate that fits ANY tail-capture window (a capped
    // stdout tail cuts the full line above mid-JSON, which has left
    // the driver's PERF comparison empty two rounds running); value
    // and unit mirror the full artifact, which lives in out_file
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"sf":"$sfDir","runs":$runs,"nproc":$nproc,"out_file":"$outFile"}""")
  }
}
