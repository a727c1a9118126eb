package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A JSON object of string values, keys in the map's order. */
  private def writeJson(path: String, kv: Iterable[(String, String)]): Unit = {
    val o = graft.sources.CatalogCodec.mapper.createObjectNode()
    kv.foreach { case (k, v) => o.put(k, v) }
    Files.write(Paths.get(path), graft.sources.CatalogCodec.mapper.writeValueAsBytes(o))
  }

  /** Runs every query and dumps its result under `outDir/<name>`.
    * Returns name → error for the ones that threw. COVERAGE CONTRACT:
    * every key in `queries` produces either a parquet dir or an entry
    * in the returned map (persisted as `errors.json`) — a crashed
    * query must surface as an error row downstream, never silently
    * vanish from the round's correctness artifact (round 4 shipped a
    * broken query that was invisible precisely because its row was
    * absent). */
  def dumpAll(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    writeJson(s"$outDir/errors.json", errors.toSeq.sortBy(_._1))
    val dumped = queries.keySet.filter(n => Files.exists(Paths.get(outDir, n)))
    System.err.println(
      s"[verify] coverage: ${dumped.size}/${queries.size} dumped, ${errors.size} failed" +
        (if (errors.nonEmpty) errors.keys.toSeq.sorted.mkString(" [", ", ", "]") else ""))
    // the contract itself: no key may be simultaneously undumped and unreported
    val vanished = queries.keySet -- dumped -- errors.keySet
    require(vanished.isEmpty, s"queries vanished without error rows: $vanished")
    errors
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration aid; the driver always calls with exactly two args,
    // which dumps everything)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    dumpAll(spark, sfDir, outDir, selected)
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }
}
