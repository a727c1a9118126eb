package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `declared_cold` workload: each declared query built and drained
  * in a fresh `newSession()` after `catalog.clearCache()`, so no
  * session-keyed memo or cached frame of an earlier query survives. Only
  * public Spark API isolates the runs. */
object Cold {

  val Queries: Seq[String] = Seq(
    "q04_agg_group", "q20_point_lookup", "q43_recursive_cte", "q65_mad",
    "d07_dedup_incremental", "s11_ann_pq", "t22_nb_quality", "p01_hash_split",
    "st01_stream_window")

  def family(name: String): String =
    if (name.startsWith("st")) "streaming"
    else name.head match {
      case 'q' => "relational"
      case 'd' => "dedup"
      case 's' => "similarity"
      case 't' => "text"
      case 'p' => "sampling"
      case _ => "pipeline"
    }

  final case class Run(name: String, startNs: Long, builtNs: Long, endNs: Long,
      rows: Long, checksum: Long, error: Option[String]) {
    def constructS: Double = (builtNs - startNs) / 1e9
    def executeS: Double = (endNs - builtNs) / 1e9
    def totalS: Double = (endNs - startNs) / 1e9
  }

  /** Doubles round to 6 decimals before hashing, so a last-bit change in
    * a floating-point sum does not read as a different result. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** Row count and order-insensitive checksum, observed while the noop
    * sink drains the frame (no second execution). */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val ob = Observation()
    val cols = df.schema.fields.toIndexedSeq.map(f => hashable(df.col("`" + f.name + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    (df.observe(ob, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h")), ob)
  }

  private lazy val entries = SparkEntry.queries

  /** One run of `name` in session `s`: construction, then the noop drain. */
  def runIn(s: SparkSession, dir: String, name: String): Run = {
    val t0 = System.nanoTime()
    try {
      val df = entries(name)(s, dir)
      val t1 = System.nanoTime()
      val (obs, ob) = observed(df)
      obs.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val m = ob.get
      Run(name, t0, t1, t2, m("n").asInstanceOf[Long], m("h").asInstanceOf[Long], None)
    } catch {
      case e: Exception =>
        val t = System.nanoTime()
        Run(name, t0, t, t, -1, -1, Some(Option(e.getMessage).getOrElse(e.toString).linesIterator.next()))
    }
  }

  /** One cold run: cached data dropped, a fresh session, then [[runIn]].
    * Returns the session too, for a warm re-run in it. */
  def runCold(spark: SparkSession, dir: String, name: String,
      onSession: SparkSession => Unit): (Run, SparkSession) = {
    spark.catalog.clearCache()
    val s = spark.newSession()
    onSession(s)
    (runIn(s, dir, name), s)
  }
}
