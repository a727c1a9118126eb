package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job profile of one declared query (optimization-round dev tool):
  * runs `<query>` once against `<sfDir>` through the bench's noop sink
  * and prints every Spark job's wall time, so fixed per-job overhead is
  * distinguishable from real compute. Each run's header splits the
  * time and the jobs into construct (until `fn(spark, dir)` returns:
  * the driver-side actions that build the frame) and execute (the
  * drain); a job's phase is the local property its submitting thread
  * carried, and its label is the action of the SQL execution it runs
  * under, so an AQE stage job reads like the `collect` that started it.
  * Args: <sfDir> <name> [runs]. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
    sources.Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()

    // written on the listener-bus thread, read and cleared on this one
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    // each SQL execution's description (its action's call site, such as
    // `collect at Scale.scala:84`) by execution id; the bus delivers an
    // execution's start before any job it runs
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val phaseKey = "graft.jobprofile.phase"
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => actions.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        // a job is named by the action of the SQL execution it runs under
        // (its root execution's, when nested), else by its description,
        // else by its final stage's call site. An AQE stage job's call
        // site, and the description Spark gives a recursive CTE's loop
        // job, are only the pool thread that submitted it.
        val action = Seq(SQLExecution.EXECUTION_ROOT_ID_KEY, SQLExecution.EXECUTION_ID_KEY)
          .flatMap(prop).flatMap(_.toLongOption).flatMap(id => Option(actions.get(id))).headOption
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
        val desc = action.orElse(prop("spark.job.description").filter(_.nonEmpty)).getOrElse(site)
        starts.put(j.jobId, (System.nanoTime(), desc, prop(phaseKey).getOrElse("unscoped")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (t0, desc, phase) =>
          jobs.merge(phase, 1, (a, b) => a + b)
          lines.add("  job %4d %-9s %7.3f s  %s".formatLocal(java.util.Locale.ROOT,
            j.jobId, phase, (System.nanoTime() - t0) / 1e9, desc))
        }
    }
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    (1 to runs).foreach { r =>
      lines.clear()
      jobs.clear()
      actions.clear()
      sc.addSparkListener(listener)
      sc.setLocalProperty(phaseKey, "construct")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(phaseKey, "execute")
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      sc.setLocalProperty(phaseKey, null)
      // drain the listener deterministically (listenerBus.waitUntilEmpty
      // is private[spark]): the bus delivers in order, so once every
      // started job has ended in OUR listener, its lines are complete —
      // a fixed sleep silently dropped lines whenever the bus ran behind
      Thread.sleep(50) // let queued start events land first
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!starts.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      sc.removeSparkListener(listener)
      def n(phase: String): Int = jobs.getOrDefault(phase, 0)
      println("== %s run %d: construct %.3f s, %d jobs; execute %.3f s, %d jobs%s"
        .formatLocal(java.util.Locale.ROOT, name, r, (t1 - t0) / 1e9, n("construct"),
          (t2 - t1) / 1e9, n("execute"),
          if (n("unscoped") > 0) s"; ${n("unscoped")} unscoped jobs" else ""))
      lines.forEach(println(_))
    }
    spark.stop()
  }
}
