package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
