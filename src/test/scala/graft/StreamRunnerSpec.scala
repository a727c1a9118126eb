package graft

import org.apache.spark.sql.GraftListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The declared streams run through one runner, on a clone of the
  * caller's session that forwards every event to the caller's
  * listeners. */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a listener on the caller's session sees every event of st01, st02, st12 and st14") {
    import graft.streaming.StreamQueries
    val events = new java.util.concurrent.atomic.AtomicIntegerArray(3)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.incrementAndGet(0)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.incrementAndGet(1)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.incrementAndGet(2)
    }
    val queries = Seq("st01" -> StreamQueries.st01StreamWindow _,
      "st02" -> StreamQueries.st02StreamState _,
      "st12" -> StreamQueries.st12StreamSessionWindow _,
      "st14" -> StreamQueries.st14StreamDedupWatermark _)
    spark.streams.addListener(listener)
    // (started, progress, terminated) events per call
    val counts = try queries.map { case (id, run) =>
      (0 to 2).foreach(events.set(_, 0))
      run(spark, TestSpark.sf)
      GraftListenerBridge.flush(spark)
      id -> (events.get(0), events.get(1), events.get(2))
    } finally spark.streams.removeListener(listener)
    info(counts.mkString(", "))
    assert(counts == Seq("st01" -> (1, 1, 1), "st02" -> (1, 2, 1),
      "st12" -> (1, 2, 1), "st14" -> (1, 4, 1)))
  }

  test("only GraftSession sets session conf; only the runner starts and drains a stream") {
    val main = Path.of(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(main), main)
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.getFileName.toString -> Files.readAllLines(f).asScala.toIndexedSeq)
    def hits(pattern: String): Seq[(String, Int)] =
      for ((file, lines) <- sources; (line, i) <- lines.zipWithIndex if line.contains(pattern))
        yield (file, i + 1)
    val confWrites = Seq("conf.set(", "conf.unset(").flatMap(hits)
      .filterNot(_._1 == "GraftSession.scala")
    assert(confWrites.isEmpty, s"session conf written outside GraftSession: $confWrites")
    // the runner is StreamQueries.drain: its lines up to its closing brace
    val runner = sources.collectFirst { case ("StreamQueries.scala", lines) => lines }.get
    val from = runner.indexWhere(_.contains("private def drain("))
    val to = runner.indexWhere(_ == "  }", from)
    assert(from >= 0 && to > from, "StreamQueries.drain not found")
    def inRunner(hit: (String, Int)): Boolean =
      hit._1 == "StreamQueries.scala" && hit._2 > from + 1 && hit._2 <= to
    for (call <- Seq("processAllAvailable", "queryName(")) {
      assert(hits(call).nonEmpty && hits(call).forall(inRunner),
        s"$call outside the runner: ${hits(call).filterNot(inRunner)}")
    }
  }
}
