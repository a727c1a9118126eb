package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics with a MemoryStream source and
  * memory sink (SURVEY.md §2 st01/st02). */
class StreamsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  /** The progress events of the latest run of each named stream, from a
    * listener on the suite's own session: a declared stream runs on a
    * clone of the session, which forwards every event to it. */
  private object progress extends StreamingQueryListener {
    private val runs = new java.util.concurrent.ConcurrentHashMap[String, Vector[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(e.name).foreach(runs.put(_, Vector.empty))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(e.progress.name).foreach(runs.merge(_, Vector(e.progress), _ ++ _))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(name: String): Vector[StreamingQueryProgress] =
      Option(runs.get(name)).getOrElse(Vector.empty)
  }
  override def beforeAll(): Unit = spark.streams.addListener(progress)
  override def afterAll(): Unit = spark.streams.removeListener(progress)

  private def ts(minutes: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + minutes * 60000L)

  test("st01: windowed agg over a stream matches the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), "click", 1.0), Event(1, ts(5), "click", 2.0),
      Event(2, ts(61), "view", 3.0), Event(1, ts(65), "click", 4.0),
      Event(2, ts(200), "view", 0.5)) // advances watermark, closes earlier windows
    src.addData(events: _*)

    val q = Streams.windowedAgg(src.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("st01_out")
      .outputMode(OutputMode.Append).start()
    try { q.processAllAvailable(); src.addData(); q.processAllAvailable() }
    finally q.stop()

    val streamed = spark.table("st01_out")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = Streams.windowedAgg(events.toDF(), "1 hour", "10 minutes")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      // append mode only emits windows whose END passed the watermark
      // (max event time - 10 min); later windows are still open
      .filter(_._1.getTime + 3600000L <= ts(200).getTime - 600000L)
      .toSet
    // set EQUALITY, not subset: a double-emitted or spurious window
    // must fail, exactly-once emission is the append-mode contract
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.exists(_._2 == "click"))
  }

  test("st02: sessionization closes sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMinutes = 30, watermark = "1 minute")
      .writeStream.format("memory").queryName("st02_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 5 min apart (one session), then 40 min gap → new session
      src.addData(
        Event(1, ts(0), "click", 1.0), Event(1, ts(5), "click", 2.0),
        Event(1, ts(45), "view", 3.0),
        Event(2, ts(2), "view", 1.0))
      q.processAllAvailable()
      // far-future event pushes the watermark past every open timeout
      src.addData(Event(99, ts(1000), "click", 0.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(2000), "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val sessions = spark.table("st02_out").as[Session].collect()
      .groupBy(_.user_id).view.mapValues(_.sortBy(_.start_ts.getTime)).toMap
    val u1 = sessions(1L)
    assert(u1.length == 2, s"user1 sessions: ${u1.toSeq}")
    assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
    assert(u1(1).n_events == 1 && u1(1).total_value == 3.0)
    assert(sessions(2L).head.n_events == 1)
  }

  test("st03 DRIVER QUERY equals batch DISTINCT over the documents table") {
    val got = graft.streaming.StreamQueries.st03StreamDedup(spark, TestSpark.sf)
      .collect().map(_.getString(0)).toSeq
    val exp = sources.Tables.documents(spark, TestSpark.sf)
      .select("text").distinct().orderBy("text")
      .collect().map(_.getString(0)).toSeq
    assert(got == exp)
  }

  test("st09 DRIVER QUERY equals the batch gates + distinct over documents") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamQueries.st09StreamCurate(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val exp = sources.Tables.documents(spark, TestSpark.sf)
      .select(col("text"),
        graft.operators.TextAnalysis.nTokensCol.cast("int").as("n_tokens"),
        graft.operators.TextAnalysis.qualityScoreCol.as("quality_score"),
        graft.operators.TextAnalysis.nBlockedCol.as("n_blocked"))
      .filter(col("quality_score") >= graft.operators.TextAnalysis.qualityGate &&
        col("n_blocked") === 0)
      .dropDuplicates("text")
      .select("text", "n_tokens", "quality_score")
      .orderBy("text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == exp, "streaming curation must equal the batch gates")
    assert(got.nonEmpty && got.length <
      sources.Tables.documents(spark, TestSpark.sf).count(),
      "gates must keep some and reject some")
  }

  test("st09 stateful dedup is non-vacuous: planted duplicate texts collapse") {
    // zero duplicate texts exist at the unit SF, so st09's
    // dropDuplicates state store is only exercised against a corpus
    // with PLANTED clones; the curated stream must match the
    // unplanted run exactly (duplicates collapse in state)
    import org.apache.spark.sql.functions._
    // the streaming source's pathGlobFilter expects the testdata
    // layout (documents.parquet is a single FILE) — stage the planted
    // corpus then place the one part file under that exact name
    val dir     = java.nio.file.Files.createTempDirectory("graft-st09-dup").toString
    val staging = java.nio.file.Files.createTempDirectory("graft-st09-stage").toString
    val base = sources.Tables.documents(spark, TestSpark.sf)
    base.unionByName(base.withColumn("doc_id", col("doc_id") + 1000000L))
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val got = graft.streaming.StreamQueries.st09StreamCurate(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val want = graft.streaming.StreamQueries.st09StreamCurate(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == want, "planted clones must collapse to one row per text")
    assert(got.map(_._1).distinct.length == got.length, "output texts unique")
  }

  test("st10 DRIVER QUERY: catalog scan equals st09's curated set") {
    val got = graft.streaming.StreamQueries.st10StreamCurateIngest(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val want = graft.streaming.StreamQueries.st09StreamCurate(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == want,
      "the catalog table after streaming ingest must equal the curated stream")
    assert(got.nonEmpty)
  }

  test("st04 DRIVER QUERY equals the batch stream-static join; dim side broadcasts") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamQueries.st04StreamJoin(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batchDf = sources.Tables.events(spark, TestSpark.sf)
      .join(sources.Tables.customer(spark, TestSpark.sf)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .orderBy("hour_start", "c_mktsegment")
    val batch = batchDf.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
    // the dim side must broadcast IN THE STREAMING EXECUTION — assert
    // on the micro-batch's actual physical plan, not a batch stand-in
    val q = graft.streaming.StreamQueries.st04Agg(spark, TestSpark.sf)
      .writeStream.format("memory").queryName("st04_plan_probe")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val plan = org.apache.spark.sql.GraftColumnBridge.streamingExecutedPlan(q)
      assert(plan.isDefined, "no streaming execution captured")
      assert(plan.get.contains("BroadcastHashJoin"),
        s"stream-static join did not broadcast:\n${plan.get.take(800)}")
      assert(!plan.get.contains("SortMergeJoin") && !plan.get.contains("ShuffledHashJoin"))
    } finally q.stop()
  }

  test("st05 DRIVER QUERY equals the batch inequality join; symmetric hash join in plan") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamQueries.st05StreamStreamJoin(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), r.getTimestamp(4)))
    val ev = sources.Tables.events(spark, TestSpark.sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
    val batch = clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("error_ts") >= col("click_ts") &&
        col("error_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("c_user"), col("click_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
      .orderBy("click_id", "error_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), r.getTimestamp(4)))
    assert(streamed.nonEmpty, "expected click->error pairs in the fixture")
    assert(streamed.toSeq == batch.toSeq)
    // the streaming execution must use the stateful symmetric hash
    // join (both sides streaming), not a broadcast/static plan
    val q = graft.streaming.StreamQueries.st05Agg(spark, TestSpark.sf)
      .writeStream.format("memory").queryName("st05_plan_probe")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val plan = org.apache.spark.sql.GraftColumnBridge.streamingExecutedPlan(q)
      assert(plan.exists(_.contains("StreamingSymmetricHashJoin")),
        s"plan:\n${plan.getOrElse("none").take(600)}")
    } finally q.stop()
  }

  test("st02 DRIVER QUERY equals the batch sessionization") {
    val streamed = graft.streaming.StreamQueries.st02StreamState(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getInt(3), r.getDouble(4)))
    val batch = operators.Relational.q26Sessionize(spark, TestSpark.sf)
      .collect() // ordered (user_id, session_id) = (user_id, start_ts)
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4).toInt, r.getDouble(5)))
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && a._4 == b._4,
        s"$a vs $b")
      assert(math.abs(a._5 - b._5) < 1e-9, s"$a vs $b")
    }
  }

  test("st12 DRIVER QUERY: native streaming session windows equal batch q54") {
    val streamed = graft.streaming.StreamQueries
      .st12StreamSessionWindow(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getInt(2), r.getDouble(3)))
    val batch = operators.Relational.q54SessionWindow(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getInt(2), r.getDouble(3)))
    assert(streamed.length == batch.length,
      s"session count: streamed ${streamed.length} vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("st13 DRIVER QUERY: merged materialized view equals the batch per-user agg") {
    val got = graft.streaming.StreamQueries
      .st13StreamAggUpsert(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val batch = sources.Tables.events(spark, TestSpark.sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).cast("int").as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("value").cast("decimal(18,2)"))
            .cast("double"), 2).as("t"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length == batch.length && got.sameElements(batch),
      s"view rows ${got.length} vs batch ${batch.length}")
  }

  test("st03: streaming dedup emits each distinct document exactly once, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[String]
    val q = src.toDF().dropDuplicates("value")
      .writeStream.format("memory").queryName("st03_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData("a", "b", "a") // in-batch duplicate
      q.processAllAvailable()
      src.addData("b", "c") // cross-batch duplicate: state must remember b
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("st03_out").as[String].collect().sorted.toSeq
    assert(out == Seq("a", "b", "c"), out)
  }

  test("st14 DRIVER QUERY: watermark-bounded dedup drops replayed rows; state evicts") {
    val out = streaming.StreamQueries.st14StreamDedupWatermark(spark, TestSpark.sf)
      .collect().map(_.getLong(0))
    val expect = sources.Tables.events(spark, TestSpark.sf)
      .select("event_id").collect().map(_.getLong(0)).sorted
    // the replayed chunk (user_id % 7 == 0, re-ingested in a later
    // micro-batch) must vanish: output = the source rows exactly
    assert(out.length == expect.length,
      s"replayed duplicates survived: ${out.length} vs ${expect.length}")
    assert(out.sameElements(expect))
    // the state-bounding claim, observed on the live run: after the
    // sentinel batches push the watermark past every real event, the
    // state store holds only not-yet-expired sentinel keys — NOT the
    // corpus's distinct count (st03's unbounded-state contrast)
    val stateRows = progress.of("graft_st14")
      .flatMap(_.stateOperators.map(_.numRowsTotal)).lastOption.getOrElse(-1L)
    assert(stateRows >= 0, "no state metrics recorded")
    assert(stateRows < expect.length / 10,
      s"state not evicted under the watermark: $stateRows rows held " +
        s"for ${expect.length} distinct inputs")
    info(s"st14 state rows after last batch: $stateRows (inputs: ${expect.length})")
  }

  test("st16 DRIVER QUERY: streamed tokenization equals batch t20; zero state operators") {
    val got = streaming.StreamQueries.st16StreamTokenize(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val want = operators.TextAnalysis.queries("t20_tokenize")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, "streamed tokenization must equal the batch t20 output")
    // the stream is STATELESS: one kernel call per doc, no state store
    val st16StateOperators = progress.of("graft_st16")
      .map(_.stateOperators.length).maxOption.getOrElse(-1)
    assert(st16StateOperators == 0,
      s"expected zero state operators, saw ${st16StateOperators}")
  }

  test("st19 DRIVER QUERY: streamed packing equals the per-source batch prefix sum") {
    val got = streaming.StreamQueries.queries("st19_stream_pack")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // independent driver recompute: per-source prefix sum in doc_id order
    val docs = sources.Tables.documents(spark, TestSpark.sf)
      .filter("text IS NOT NULL").select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        (r.getString(2).count(_ == ' ') + 1).toLong))
    val want = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(_._1).foldLeft((0L, Seq.empty[(Long, String, Long, Long, Long, Long)])) {
        case ((cur, acc), (id, _, n)) =>
          (cur + n, acc :+ (id, src, n, cur, cur >> 8, cur % 256))
      }._2
    }.sortBy(_._1)
    assert(got == want, "streamed packing must equal the per-source batch prefix sum")
  }

  test("st19 cross-batch carry: the source cursor persists in state between micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String, Long)]
    val packed = streaming.StreamQueries.packStream(src.toDS())
    val q = packed.writeStream.format("memory").queryName("st19_carry")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((10L, "X", 3L), (11L, "X", 5L), (20L, "Y", 7L))
      q.processAllAvailable()
      src.addData((12L, "X", 2L), (21L, "Y", 1L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("st19_carry").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // batch 1: X packs 10 (0) then 11 (3); Y packs 20 (0)
    assert(out(10L) == 0L && out(11L) == 3L && out(20L) == 0L)
    // batch 2 CONTINUES each source's cursor from state: X held 8, Y held 7
    assert(out(12L) == 8L, s"X cursor must carry across batches, got ${out(12L)}")
    assert(out(21L) == 7L, s"Y cursor must carry across batches, got ${out(21L)}")
  }

  test("st18 DRIVER QUERY: streamed pair filtering equals batch m08; zero state operators") {
    val got = streaming.StreamQueries.st18StreamPairFilter(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val want = operators.Multimodal.queries("m08_pair_filter")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(got == want, "streamed pair scoring must equal the batch m08 output")
    assert(got.exists(_._3) && got.exists(!_._3), "both verdicts present")
    // stateless: descriptor + broadcast lookup + verdict, no state store
    val st18StateOperators = progress.of("graft_st18")
      .map(_.stateOperators.length).maxOption.getOrElse(-1)
    assert(st18StateOperators == 0,
      s"expected zero state operators, saw ${st18StateOperators}")
  }

  test("st15 DRIVER QUERY: streamed DSIR scores equal the batch t18 importance weights") {
    val got = streaming.StreamQueries.st15StreamDsir(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val want = operators.TextAnalysis.queries("t18_dsir_importance")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(got == want, "streamed scoring must equal the batch importance weights")
    assert(got.exists(_._3) && got.exists(!_._3), "both verdicts present")
  }

  test("st17 DRIVER QUERY: streamed NB classification equals batch t22 bit-for-bit") {
    val got = streaming.StreamQueries.st17StreamClassify(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val want = operators.TextAnalysis.queries("t22_nb_quality")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got == want, "streamed classification must equal the batch t22 output")
    assert(got.exists(_._4) && got.exists(!_._4), "both verdicts present")
  }

  test("st02 handles cross-batch late events: in-gap ones extend the session start") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMinutes = 30, watermark = "2 hours")
      .writeStream.format("memory").queryName("st02_late_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(Event(1, ts(60), "click", 1.0))
      q.processAllAvailable()
      // batch 2: late but within the 2h watermark, 10 min BEFORE the
      // open session's start — must merge and extend start, not vanish
      src.addData(Event(1, ts(50), "view", 2.0))
      q.processAllAvailable()
      // close everything via far-future sentinels
      src.addData(Event(99, ts(5000), "x", 0.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(9000), "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("st02_late_out").as[Session].collect().filter(_.user_id == 1L)
    assert(u1.length == 1, s"got ${u1.toSeq}")
    assert(u1(0).start_ts == ts(50) && u1(0).end_ts == ts(60))
    assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
  }

  test("st02 gap-merges consecutive late events instead of emitting singletons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("st02_latemerge_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(Event(1, ts(240), "click", 1.0)) // open session at 4h
      q.processAllAvailable()
      // two late events, 5 min apart, both > gap before the open
      // session: one merged session 0:00-0:05, not two singletons
      src.addData(Event(1, ts(0), "view", 2.0), Event(1, ts(5), "view", 3.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(5000), "x", 0.0)) // sentinels close state
      q.processAllAvailable()
      src.addData(Event(99, ts(9000), "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("st02_latemerge_out").as[Session].collect()
      .filter(_.user_id == 1L).sortBy(_.start_ts.getTime)
    assert(u1.length == 2, s"got ${u1.toSeq}")
    assert(u1(0).start_ts == ts(0) && u1(0).end_ts == ts(5) && u1(0).n_events == 2)
    assert(u1(1).start_ts == ts(240) && u1(1).n_events == 1)
  }

  test("st02 merges late events ACROSS batches into one session (no split emission)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("st02_xbatch_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(Event(1, ts(240), "click", 1.0)) // open session at 4h
      q.processAllAvailable()
      // late event in its own batch: must be BUFFERED (watermark has
      // not passed it), not flushed at end of batch
      src.addData(Event(1, ts(0), "view", 2.0))
      q.processAllAvailable()
      // a later batch's late event adjacent to it: one merged session
      // 0:00-0:05 — the old per-batch flush emitted [0,0] then [5,5]
      src.addData(Event(1, ts(5), "view", 3.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(5000), "x", 0.0)) // sentinels close state
      q.processAllAvailable()
      src.addData(Event(99, ts(9000), "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("st02_xbatch_out").as[Session].collect()
      .filter(_.user_id == 1L).sortBy(_.start_ts.getTime)
    assert(u1.length == 2, s"got ${u1.toSeq}")
    assert(u1(0).start_ts == ts(0) && u1(0).end_ts == ts(5)
      && u1(0).n_events == 2 && u1(0).total_value == 5.0)
    assert(u1(1).start_ts == ts(240) && u1(1).n_events == 1)
  }

  test("st02 late event bridges two buffered sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("st02_bridge_out")
      .outputMode(OutputMode.Append).start()
    try {
      // two sessions 50 min apart — separate (gap 30)
      src.addData(Event(1, ts(0), "a", 1.0), Event(1, ts(50), "b", 2.0))
      q.processAllAvailable()
      // a late event at 0:25 bridges them: 25-0 ≤ 30 and 50-25 ≤ 30
      src.addData(Event(1, ts(25), "c", 4.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(5000), "x", 0.0))
      q.processAllAvailable()
      src.addData(Event(99, ts(9000), "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("st02_bridge_out").as[Session].collect()
      .filter(_.user_id == 1L)
    assert(u1.length == 1, s"got ${u1.toSeq}")
    assert(u1(0).start_ts == ts(0) && u1(0).end_ts == ts(50)
      && u1(0).n_events == 3 && u1(0).total_value == 7.0)
  }

  test("st02 batch parity: a bounded frame emits the trailing open session too") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), "click", 1.0), Event(1, ts(5), "click", 2.0),
      Event(1, ts(45), "view", 3.0),
      Event(2, ts(2), "view", 1.0)).toDS()
    // batch execution never fires event-time timeouts — without the
    // end-of-iterator flush every user's last session would vanish
    val sessions = Streams.sessionize(events, gapMinutes = 30, watermark = "1 minute")
      .collect().groupBy(_.user_id).view.mapValues(_.sortBy(_.start_ts.getTime)).toMap
    assert(sessions(1L).length == 2, s"user1: ${sessions.get(1L)}")
    assert(sessions(1L)(1).n_events == 1 && sessions(1L)(1).total_value == 3.0)
    assert(sessions(2L).length == 1) // user2's only session is open-ended
  }

  test("sessionize preserves microsecond timestamps end-to-end") {
    import spark.implicits._
    val t0 = new java.sql.Timestamp(1700000000000L)
    t0.setNanos(123456000) // .123456 s
    val out = Streams.sessionize(Seq(Event(7, t0, "click", 1.0)).toDS(),
      gapMinutes = 30, watermark = "1 minute").collect()
    assert(out.length == 1)
    assert(out(0).start_ts.getNanos == 123456000, s"got ${out(0).start_ts.getNanos}")
  }

  test("st11 DRIVER QUERY: the streamed CMS sketch equals the batch sketch bit-for-bit") {
    val streamed = graft.streaming.StreamQueries.st11StreamSketch(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val batch = graft.operators.TextAnalysis.t15HeavyHitters(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assert(streamed == batch,
      "commutative grid merges make the streamed sketch exactly the batch sketch")
  }

  test("st10 replayed micro-batch is exactly-once: the marker txn makes re-ingest a no-op") {
    import spark.implicits._
    val cat = new sources.TableCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-eo").toString)
    import org.apache.spark.sql.types._
    cat.createTable("curated_stream", StructType(Seq(
      StructField("text", StringType, nullable = false))), primaryKey = Some("text"))
    cat.createTable("ingest_log", StructType(Seq(
      StructField("batch_id", LongType, nullable = false))), primaryKey = Some("batch_id"))
    val batch = Seq("alpha", "beta").toDF("text")
    graft.streaming.StreamQueries.idempotentIngest(spark, cat, "curated_stream", batch, 0L)
    val v = cat.currentVersion("curated_stream")
    // the at-least-once replay: same batch id arrives again after a restart
    graft.streaming.StreamQueries.idempotentIngest(spark, cat, "curated_stream", batch, 0L)
    assert(cat.currentVersion("curated_stream") == v, "replay must publish nothing")
    assert(cat.scan("curated_stream").count() == 2)
    // a NEW batch id still lands
    graft.streaming.StreamQueries.idempotentIngest(spark, cat, "curated_stream",
      Seq("gamma").toDF("text"), 1L)
    assert(cat.scan("curated_stream").count() == 3)
  }

  test("st20: two micro-batches of cluster maintenance equal the batch recompute; replay no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    val docs = sources.Tables.documents(spark, sf)
    val root = graft.sources.TableCatalog.tempRoot("graft-st20spec")
    val cat = new graft.sources.TableCatalog(spark, root)
    Dedup.d17InitStore(cat,
      Dedup.signatureOf(docs.filter(col("doc_id") % 2 === 0)))
    // drive the odd half through a MemoryStream in TWO micro-batches
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        Dedup.d17Maintain(spark, cat, Dedup.signatureOf(batch), bid)
      }
      .start()
    try {
      val odd = docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = odd.partition(_._1 % 4 == 1)
      src.addData(b1.toSeq: _*); q.processAllAvailable()
      src.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // the published map equals the full corpus-wide recompute (d06) —
    // the batch-decomposition theorem, now through the STREAM
    val got = cat.scan("corpus_cluster_map").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Dedup.queries("d06_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, {
      val g = got.toSet; val w = want.toSet
      s"streamed map diverged: extra=${(g -- w).take(5)} missing=${(w -- g).take(5)}"
    })
    // replayed micro-batch (restart semantics): marker gates it out
    val vSig = cat.currentVersion("corpus_signatures")
    val vMap = cat.currentVersion("corpus_cluster_map")
    Dedup.d17Maintain(spark, cat,
      Dedup.signatureOf(docs.filter(col("doc_id") % 4 === 3)), batchId = 1L)
    assert(cat.currentVersion("corpus_signatures") == vSig
      && cat.currentVersion("corpus_cluster_map") == vMap,
      "replayed micro-batch must be a no-op")
    // and the driver-facing query form runs end-to-end on the stream
    val viaQuery = graft.streaming.StreamQueries
      .queries("st20_stream_cluster_maintain")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaQuery == want, "st20 query must publish the recompute-equal map")
  }
}
