package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSQL
import graft.sources.TableCatalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span on the same thread (0 at the top), `stmt` the statement or
  * query it belongs to; `kept`/`all` carry a `planFiles` result. */
final case class Span(id: Long, parent: Long, stmt: Long, name: String,
    startNs: Long, endNs: Long, kept: Int = -1, all: Int = -1) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; nothing is recorded
  * unless [[enabled]], so the untraced run pays one volatile read. */
object Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val stmt = ThreadLocal.withInitial[Long](() => 0L)

  def newStatement(): Long = { val id = ids.incrementAndGet(); stmt.set(id); id }

  /** Times `body` as a span under the thread's open span. */
  def span[A](name: String)(body: => A): A = spanFiles(name, (_: A) => (-1, -1))(body)

  /** [[span]] that also keeps a `planFiles` result's (kept, all) counts. */
  def spanFiles[A](name: String, files: A => (Int, Int))(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      var counts = (-1, -1)
      try { val out = body; counts = files(out); out }
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), stmt.get, name, t0, System.nanoTime(),
          counts._1, counts._2))
      }
    }

  /** Records an already-measured top-level interval (a whole statement). */
  def record(name: String, stmtId: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, stmtId, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.map(s => s.id -> ((s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)) / 1e6).toMap
  }

  def toJsonLines(ss: Seq[Span]): String = ss.sortBy(_.startNs).map { s =>
    Report.json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
      "stmt" -> s.stmt, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "kept" -> s.kept, "all" -> s.all))
  }.mkString("", "\n", "\n")
}

/** `TableCatalog` whose public read and write entry points record spans. */
class TracedCatalog(spark: SparkSession, root: String) extends TableCatalog(spark, root) {
  override def meta(name: String): TableCatalog.TableMeta = Tracer.span("catalog.meta")(super.meta(name))
  private val files = (r: (Seq[String], Seq[String])) => (r._1.size, r._2.size)
  override def planFiles(name: String, filter: Column): (Seq[String], Seq[String]) =
    Tracer.spanFiles("catalog.planFiles", files)(super.planFiles(name, filter))
  override def planFilesAt(name: String, version: Int, filter: Column): (Seq[String], Seq[String]) =
    Tracer.spanFiles("catalog.planFilesAt", files)(super.planFilesAt(name, version, filter))
  override def scan(name: String): DataFrame = Tracer.span("catalog.scan")(super.scan(name))
  override def scan(name: String, filter: Column): DataFrame =
    Tracer.span("catalog.scan")(super.scan(name, filter))
  override def scanFiles(name: String, rels: Seq[String]): DataFrame =
    Tracer.span("catalog.scan")(super.scanFiles(name, rels))
  override def asOf(name: String, version: Int): DataFrame =
    Tracer.span("catalog.scan")(super.asOf(name, version))
  override def insert(name: String, df: DataFrame): Int =
    Tracer.span("catalog.insert")(super.insert(name, df))
  override def update(name: String, set0: Map[String, Column], where: Column): Int =
    Tracer.span("catalog.update")(super.update(name, set0, where))
  override def delete(name: String, where: Column): Int =
    Tracer.span("catalog.delete")(super.delete(name, where))
  override def merge(name: String, source: DataFrame): Int =
    Tracer.span("catalog.merge")(super.merge(name, source))
  override def begin(): Txn = Tracer.span("catalog.begin")(super.begin())
}

/** `GraftSQL` whose `execute` records a span named by statement verb. */
class TracedGraftSQL(spark: SparkSession, catalog: TableCatalog) extends GraftSQL(spark, catalog) {
  override def execute(sql: String): DataFrame =
    Tracer.span("graftsql." + Sql.verb(sql))(super.execute(sql))
}

/** Per-job, per-stage and per-task facts from Spark's listener bus. One
  * instance, every callback synchronized: the bus thread writes while
  * the benchmark thread reads the totals. Jobs are attributed to the
  * statement whose id the submitting thread set as a local property. */
final class SparkProbe extends SparkListener {
  import SparkProbe.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val taskWaits = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stmt = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.StmtKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val j = Job(e.jobId, stmt, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSubmitMs.get(e.stageId).foreach(s => taskWaits += (e.taskInfo.launchTime - s).toDouble)
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: (Seq[Job], Seq[Double]) = synchronized {
    (jobs.values.map(_.copy()).toSeq, taskWaits.toSeq)
  }
}

object SparkProbe {
  val StmtKey = "perfbench.stmt"

  final case class Job(id: Int, stmt: Long, startMs: Long, var endMs: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var inputBytes: Long = 0L, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var spill: Long = 0L)
}

/** Catalyst phase durations (`QueryExecution.tracker`) of every action
  * a traced session runs, and micro-batch counts of its streams. */
final class PhaseProbe extends QueryExecutionListener {
  private val phases = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  @volatile private var batches = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += s.durationMs.toDouble
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      PhaseProbe.this.synchronized { batches += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers both listeners on a session (each session has its own). */
  def attach(s: SparkSession): SparkSession = {
    s.listenerManager.register(this)
    s.streams.addListener(streams)
    s
  }

  def phase(name: String): Seq[Double] = synchronized(phases.get(name).map(_.toSeq).getOrElse(Nil))
  def microBatches: Long = synchronized(batches)
}
