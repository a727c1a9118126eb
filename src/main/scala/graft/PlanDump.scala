package graft

/** Dump `.explain("formatted")` for named declared queries to files —
  * the optimization-round evidence artifact (plans/rNN/<query>_before/
  * after.txt). Args: <sfDir> <outDir> <name[,name...]|all>.
  *
  * The dump is construction + explain only for lazy queries; queries
  * that materialize eagerly at construction (stored-table bootstraps,
  * streaming sinks) pay their build, exactly like PlanAudit. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Set[String] =
      if (args.length < 3 || args(2) == "all") SparkEntry.queries.keySet
      else args(2).split(',').toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names(name)) {
        val txt =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name -> $outDir/$name.txt")
      }
    }
    spark.stop()
  }
}
