package graft.streaming

import graft.sources.{TableCatalog, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, GraftListenerBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Driver-visible streaming queries: real Structured Streaming
  * executions (readStream → stateful agg → memory sink) whose result
  * frames are comparable to their batch twins — so the same DuckDB
  * oracle that checks the batch query checks the streaming engine's
  * answer. Bounded input + complete mode ⇒ the streaming result must
  * equal the batch result exactly.
  */
object StreamQueries {

  /** Runs one bounded stream to its end and returns the session clone
    * it ran on: the one place a graft stream starts, drains and stops.
    *  - The stream runs on [[graft.GraftSession.streamSession]], a clone
    *    of `s` with the query's own state partition count, so nothing is
    *    written to `s`, neither conf nor temp view, and two streams can
    *    run on one caller session at once. `stream`, built on `s`, is
    *    rebound into the clone; the query is named `graft_<id>` there.
    *  - A stream posts its events only to the listeners of the session
    *    it runs on, so the caller's `StreamingQueryListener`s are added
    *    to the clone before the start and removed only after the stop
    *    and a listener-bus drain: they see every event of the run.
    *  - Its `checkpointLocation` is a writer option naming a fresh root
    *    on `/dev/shm` (never reused, so no accidental resume), deleted
    *    after. A bounded run commits offsets and state per micro-batch,
    *    and `/tmp` may be disk-backed where `/dev/shm` is tmpfs.
    *    Production streams pass their own durable checkpoint. */
  private def drain(s: SparkSession, id: String, stream: Dataset[_], statePartitions: Option[Int])
      (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): SparkSession = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val clone = graft.GraftSession.streamSession(s, statePartitions)
    val listeners = s.streams.listListeners()
    listeners.foreach(clone.streams.addListener)
    val shm = JPaths.get("/dev/shm")
    val ckptRoot = Option.when(JFiles.isDirectory(shm) && JFiles.isWritable(shm))(
      JFiles.createTempDirectory(shm, "graft-ckpt"))
    try {
      val q = sink(GraftColumnBridge.ofRows(clone, stream.queryExecution.logical)
        .writeStream.queryName(s"graft_$id")
        .options(ckptRoot.map(d => "checkpointLocation" -> d.toString).toMap)).start()
      try q.processAllAvailable()
      finally q.stop()
      clone
    } finally {
      try if (listeners.nonEmpty) GraftListenerBridge.flush(s)
      finally {
        listeners.foreach(clone.streams.removeListener)
        ckptRoot.foreach(TableCatalog.deleteRecursively)
      }
    }
  }

  /** [[drain]] into a memory sink, returning the sink's rows as a frame
    * of `s`: the sink's own plan rebound into `s`, so nothing is copied.
    * The clone's sink view is dropped, so a clone that outlives the call
    * holds no rows. */
  private def toMemory(s: SparkSession, id: String, stream: Dataset[_],
      mode: OutputMode, statePartitions: Option[Int]): DataFrame = {
    val clone = drain(s, id, stream, statePartitions)(_.format("memory").outputMode(mode))
    val rows = GraftColumnBridge.ofRows(s, clone.table(s"graft_$id").queryExecution.analyzed)
    clone.catalog.dropTempView(s"graft_$id")
    rows
  }

  /** [[drain]] through `f`, once per micro-batch (`foreachBatch`). */
  private def toBatches(s: SparkSession, id: String, stream: Dataset[_],
      mode: OutputMode, statePartitions: Option[Int])(f: (DataFrame, Long) => Unit): Unit =
    drain(s, id, stream, statePartitions)(_.outputMode(mode).foreachBatch(f))

  /** The raw events file-stream with `ts` normalized to µs
    * TimestampType — the shared front of every event-driven streaming
    * query (the source wants a directory, so the glob pins the events
    * file; the normalization is [[Tables.normalizeTs]], the SAME
    * branch the batch loader uses). ONE definition, so the timestamp
    * handling cannot drift between queries or testdata generations. */
  private def rawEventsStream(s: SparkSession, d: String): DataFrame = {
    Tables.normalizeTs(
      s.readStream
        .schema(s.read.parquet(s"$d/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  /** st01: the q19 hour-bucket aggregation executed by the streaming
    * engine. Source: file stream over the events parquet (one batch —
    * bounded); sink: in-memory table. */
  def st01StreamWindow(s: SparkSession, d: String): DataFrame = {
    val events = rawEventsStream(s, d)

    val agg = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

    toMemory(s, "st01", agg, OutputMode.Complete, Some(8))
      .orderBy("hour_start", "event_type")
  }

  /** st02: the q26 sessionization executed by the streaming engine
    * through [[Streams.sessionize]] (flatMapGroupsWithState custom
    * state). Bounded input is staged as three stream files — the real
    * events, then two far-future sentinel rows — consumed as TWO
    * micro-batches (maxFilesPerTrigger=2): event-time timeouts fire
    * against the PREVIOUS batch's watermark, so batch 1 (events +
    * sentinel 1) advances the watermark past every real session's gap
    * and batch 2 (sentinel 2) triggers the flush. The sentinel user's
    * own (still-open) session is filtered out. Result must equal the
    * batch/DuckDB sessionization exactly. */
  def st02StreamState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = withSentinelEventStream(s, d) { stream =>
      val typed = stream
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value"))
        .as[Streams.Event]
      toMemory(s, "st02", Streams.sessionize(typed, gapMinutes = 30, watermark = "10 minutes"),
          OutputMode.Append, Some(8))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"),
          // values are money-like 2-decimal doubles; rounding removes the
          // fp accumulation-order noise so the result is bit-stable
          // against the oracle's exact DECIMAL sum
          round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "start_ts")
    }
    out.getOrElse(
      Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Int, Double)]
        .toDF("user_id", "start_ts", "end_ts", "n_events", "total_value"))
  }

  /** Bounded events staged as a watermark-drivable file stream: the
    * source parquet byte-copied as chunk 0 plus two far-future
    * single-row SENTINEL chunks, consumed two files per trigger —
    * event-time timeouts and Append-mode session flushes fire against
    * the PREVIOUS batch's watermark, so batch 1 (events + sentinel 1)
    * advances the watermark past every real session and batch 2
    * (sentinel 2) triggers the flush. Sentinels are written in the
    * SAME ts encoding as the source file (ns-LONG vs µs-timestamp
    * generations both ship; every chunk is read under the source
    * schema), the stream is normalized through the shared
    * [[Tables.normalizeTs]], and the sentinel rows carry user_id −1
    * for the consumer to filter. Returns None when the events table is
    * empty. Shared by st02 (custom keyed state), st12 (native session
    * windows) and st13 (aggregate upsert). Staged per call and deleted
    * when `body` returns: every consumer drains the stream into a
    * memory sink or a catalog table inside `body`, so no frame it
    * returns reads the staged files. */
  private def withSentinelEventStream[T](s: SparkSession, d: String)
      (body: DataFrame => T): Option[T] = {
    // ts arrives as ns-LONG or µs-timestamp depending on the testdata
    // generation (Tables.scala documents both); every extraction below
    // branches on the actual type instead of assuming one encoding
    val rawSchema = s.read.parquet(s"$d/events.parquet").schema
    stageSentinels(s, d, rawSchema).map { tmp =>
      try body(Tables.normalizeTs(
        s.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "2")
          .parquet(tmp.resolve("stream").toString)))
      finally graft.sources.TableCatalog.deleteTree(tmp)
    }
  }

  /** Max event time in µs through the shared normalization branch —
    * never a raw getLong on an encoding-dependent column. None when
    * the events table is empty. */
  private def maxEventUs(s: SparkSession, d: String): Option[Long] = {
    val maxRow = Tables.normalizeTs(s.read.parquet(s"$d/events.parquet"))
      .agg(max(unix_micros(col("ts")))).head()
    if (maxRow.isNullAt(0)) None else Some(maxRow.getLong(0))
  }

  /** Fresh staging root on tmpfs when the box has one — the staged
    * copies are ephemeral by construction. */
  private def stagingRoot(): java.nio.file.Path = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val shm = JPaths.get("/dev/shm")
    if (JFiles.isDirectory(shm) && JFiles.isWritable(shm))
      JFiles.createTempDirectory(shm, "graft-stg")
    else JFiles.createTempDirectory("graft-stg")
  }

  /** Moves the single parquet part Spark wrote under `staging` into
    * `streamDir` as chunk n, stamped with a deterministic mtime so the
    * file source orders chunks as written. */
  private def publishChunk(staging: java.nio.file.Path,
      streamDir: java.nio.file.Path, n: Int): Unit = {
    import java.nio.file.{Files => JFiles}
    val listing = JFiles.list(staging)
    val dest = streamDir.resolve(f"chunk-$n%04d.parquet")
    try {
      val part = listing.iterator()
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) JFiles.move(p, dest)
      }
    } finally listing.close() // a leaked Files.list holds a directory fd
    dest.toFile.setLastModified(1700000000000L + n * 60000L) // source order
  }

  /** Writes sentinel chunk n (a single user_id −1 row at maxUs+offMs)
    * in the SAME ts encoding as the source file — every chunk is read
    * under the source schema, so a sentinel in the wrong physical type
    * would fail the whole stream (the columns absent from the file —
    * event_id, props — read back as NULL under that schema). */
  private def writeSentinel(s: SparkSession, tmp: java.nio.file.Path,
      streamDir: java.nio.file.Path, tsType: org.apache.spark.sql.types.DataType,
      maxUs: Long, offMs: Long, n: Int): Unit = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val staging = tmp.resolve(s"chunk$n")
    val sentinelUs = maxUs + offMs * 1000L
    val secs = Math.floorDiv(sentinelUs, 1000000L)
    val micros = Math.floorMod(sentinelUs, 1000000L)
    val sentinelDf = tsType match {
      case LongType => // ns-LONG generation: epoch-ns long
        Seq((-1L, sentinelUs * 1000L, "sentinel", 0.0))
          .toDF("user_id", "ts", "event_type", "value")
      case TimestampNTZType => // µs tz-naive generation
        Seq((-1L, java.time.LocalDateTime.ofEpochSecond(
            secs, (micros * 1000L).toInt, java.time.ZoneOffset.UTC),
          "sentinel", 0.0))
          .toDF("user_id", "ts", "event_type", "value")
      case _ => // µs UTC-adjusted timestamp
        Seq((-1L, java.time.Instant.ofEpochSecond(secs, micros * 1000L),
          "sentinel", 0.0))
          .toDF("user_id", "ts", "event_type", "value")
    }
    sentinelDf.coalesce(1).write.parquet(staging.toString)
    publishChunk(staging, streamDir, n)
  }

  /** Builds the staged directory: source byte-copy + two sentinel
    * chunks. None when the events table is empty. */
  private def stageSentinels(s: SparkSession, d: String,
      rawSchema: org.apache.spark.sql.types.StructType)
      : Option[java.nio.file.Path] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tsType = rawSchema("ts").dataType
    val maxUs = maxEventUs(s, d).getOrElse(return None)
    val tmp = stagingRoot()
    val streamDir = tmp.resolve("stream")
    JFiles.createDirectories(streamDir)
    // chunk 0 IS the source parquet, byte-copied — staging the stream
    // must not pay a full Spark rewrite of the events table
    val chunk0 = streamDir.resolve("chunk-0000.parquet")
    JFiles.copy(JPaths.get(d, "events.parquet"), chunk0)
    chunk0.toFile.setLastModified(1700000000000L)
    writeSentinel(s, tmp, streamDir, tsType, maxUs, 86400000L, 1)  // + 1 day
    writeSentinel(s, tmp, streamDir, tsType, maxUs, 172800000L, 2) // + 2 days
    Some(tmp)
  }

  /** st12: NATIVE session windows executed BY THE STREAMING ENGINE —
    * the streaming twin of batch q54 (and the built-in alternative to
    * st02's hand-rolled flatMapGroupsWithState): `session_window`
    * aggregation under a watermark merges each user's events into
    * dynamic gap-based sessions inside ONE stateful operator, and
    * Append mode emits a session only once its window is closed past
    * the watermark — the sentinel chunks drive the watermark past
    * every real session (st02's staging, shared). State is one merged
    * window per open session per user — not per event — the bound
    * that holds at any stream volume. Result must equal the batch
    * q54 / DuckDB lag+cumsum sessionization exactly. */
  def st12StreamSessionWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec2 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val out = withSentinelEventStream(s, d) { stream =>
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).cast("int").as("n_events"),
          round(sum(dec2(col("value"))).cast("double"), 2).as("total_value"))
        .select(col("user_id"), col("sw.start").as("start_ts"),
          col("n_events"), col("total_value"))
      toMemory(s, "st12", agg, OutputMode.Append, Some(8))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "start_ts")
    }
    out.getOrElse(
      Seq.empty[(Long, java.sql.Timestamp, Int, Double)]
        .toDF("user_id", "start_ts", "n_events", "total_value"))
  }

  /** st03: streaming EXACT dedup at ingest — the streaming twin of the
    * batch d01 operator: `dropDuplicates` over the content keeps state
    * per distinct document and emits each exactly once, so a
    * continuously-ingesting pipeline deduplicates as data lands
    * instead of re-scanning the corpus per batch. Bounded run over the
    * documents table; a production stream adds a watermark on an
    * event-time column to bound the state (withWatermark +
    * dropDuplicatesWithinWatermark). Output = the distinct document
    * set, which the DuckDB DISTINCT oracle checks exactly. */
  def st03StreamDedup(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    toMemory(s, "st03", stream.dropDuplicates("text").select(col("text")),
      OutputMode.Append, Some(8)).orderBy("text")
  }

  /** st14: streaming dedup with WATERMARK-BOUNDED state — st03's
    * production form (`dropDuplicatesWithinWatermark`): the state
    * store keeps a key only until the event-time watermark passes it,
    * so state is bounded by the stream's RATE × the delay window, not
    * by the corpus's lifetime distinct count (st03's `dropDuplicates`
    * state grows forever — fine for a bounded verification run, fatal
    * on an unbounded ingest). The staged stream makes the guarantee
    * observable: chunk 0 is the events table, chunk 1 RE-INGESTS a
    * subset of those exact rows (the retry/replay duplicates a real
    * ingest pipeline sees — arriving in a LATER micro-batch, within
    * the 1-day delay), and the sentinel chunks then push the watermark
    * past every real event. Duplicates are dropped (they either find
    * their key in state, or arrive below the watermark and are dropped
    * as late — both correct), so the output equals the source rows
    * exactly (the DuckDB oracle), and after the last batch the state
    * store holds only the not-yet-expired sentinel keys — asserted by
    * spec from the run's last progress event. */
  def st14StreamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import s.implicits._
    val rawSchema = s.read.parquet(s"$d/events.parquet").schema
    val tsType = rawSchema("ts").dataType
    maxEventUs(s, d) match {
      case None =>
        return Seq.empty[(Long, Long, String, Double)]
          .toDF("event_id", "user_id", "event_type", "value")
      case Some(maxUs) =>
        // staged per call like the sentinel staging, and deleted when
        // the call returns: the result is read from the memory sink
        val tmp = stagingRoot()
        try {
          val streamDir = tmp.resolve("stream")
          JFiles.createDirectories(streamDir)
          val chunk0 = streamDir.resolve("chunk-0000.parquet")
          JFiles.copy(JPaths.get(d, "events.parquet"), chunk0)
          chunk0.toFile.setLastModified(1700000000000L)
          // chunk 1: the replayed duplicates — an exact-row subset of
          // the source, re-written under the SOURCE encoding (the raw
          // read preserves the physical ts values for every generation)
          val dupStaging = tmp.resolve("chunk1")
          s.read.parquet(s"$d/events.parquet")
            .filter(pmod(col("user_id"), lit(7)) === 0)
            .coalesce(1).write.parquet(dupStaging.toString)
          publishChunk(dupStaging, streamDir, 1)
          writeSentinel(s, tmp, streamDir, tsType, maxUs, 86400000L, 2)
          writeSentinel(s, tmp, streamDir, tsType, maxUs, 172800000L, 3)
          val stream = Tables.normalizeTs(
            s.readStream.schema(rawSchema)
              .option("maxFilesPerTrigger", "1") // dups land in a LATER batch
              .parquet(streamDir.toString))
          val deduped = stream
            .withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"))
          toMemory(s, "st14", deduped, OutputMode.Append, Some(8))
            .filter(col("user_id") >= 0) // sentinel rows out
            .orderBy("event_id")
        } finally graft.sources.TableCatalog.deleteTree(tmp)
    }
  }

  /** st04: stream-static join — the streaming enrichment pattern (an
    * unbounded fact stream decorated by a small dimension table). The
    * static side is broadcast: no state, no stream-side shuffle for
    * the join itself; at 100 TB/day the dim ships once per executor
    * while the stream flows through. Windowed aggregation on the
    * joined frame; bounded input + complete mode ⇒ equals the batch
    * join, which the DuckDB oracle checks. */
  /** The st04 streaming frame, unstarted — split out so the spec can
    * run its own query over it and assert on the EXECUTED streaming
    * plan (the broadcast), not a batch approximation. */
  private[graft] def st04Agg(s: SparkSession, d: String): DataFrame = {
    val events = rawEventsStream(s, d)
    val dim = broadcast(Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")))

    events.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("c_mktsegment"),
        col("n_events"), col("sum_value"))
  }

  def st04StreamJoin(s: SparkSession, d: String): DataFrame = {
    toMemory(s, "st04", st04Agg(s, d), OutputMode.Complete, Some(8))
      .orderBy("hour_start", "c_mktsegment")
  }

  /** The st05 streaming frame, unstarted (split out for the spec's
    * plan assertion): watermarked stream-stream SELF-join — every
    * click paired with the same user's errors in the following 10
    * minutes. Both sides carry watermarks and the join condition
    * carries time bounds, so the state store retains only a bounded
    * window of each side (the unbounded-state trap of stream-stream
    * joins); an inner join emits pairs as soon as both sides arrive. */
  private[graft] def st05Agg(s: SparkSession, d: String): DataFrame = {
    val raw = rawEventsStream(s, d)
    val clicks = raw.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = raw.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "10 minutes")
    clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("error_ts") >= col("click_ts") &&
        col("error_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("error_id"), col("error_ts"))
  }

  /** st05: the stream-stream join executed live; bounded input ⇒ the
    * emitted pair set equals the batch inequality join, which the
    * DuckDB oracle checks. */
  def st05StreamStreamJoin(s: SparkSession, d: String): DataFrame =
    // 2, not 8: a stream-stream join keeps FOUR state stores per
    // shuffle partition, so its fixed commit cost scales 4× faster
    // with this knob than any other query here (measured: 2 beats 8
    // by ~20% on the bounded run)
    toMemory(s, "st05", st05Agg(s, d), OutputMode.Append, Some(2))
      .orderBy("click_id", "error_id")

  /** st06: streaming DECONTAMINATION at ingest — the streaming twin of
    * batch d08: documents stream in, their word-8-gram hash sets
    * (single-pass codegen kernel) probe a BROADCAST static eval-gram
    * set, and contaminated docs surface with their overlap counts as
    * they arrive. No stream-side state beyond the per-doc aggregate;
    * the eval set ships once per executor (benchmark sets stay small at
    * any corpus scale). Bounded run + complete mode ⇒ equals batch d08,
    * which the same DuckDB brute-force oracle checks. */
  def st06StreamDecontaminate(s: SparkSession, d: String): DataFrame = {
    import graft.functions.word_grams64
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    // the static side: in production, the benchmark gram table built
    // once at eval-set publication
    val evalGrams = Tables.documents(s, d)
      .filter(col("doc_id") % 20 === 0)
      .select(explode(word_grams64(col("text"), 8)).as("gh"))
      .distinct()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val flagged = stream
      .filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(word_grams64(col("text"), 8)).as("gh"))
      .join(broadcast(evalGrams), "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared_8grams"))
    toMemory(s, "st06", flagged, OutputMode.Complete, Some(8)).orderBy("doc_id")
  }

  /** st07: streaming ingest INTO the versioned catalog — the write
    * path a continuously-landing pipeline runs: each micro-batch
    * appends through [[graft.sources.TableCatalog.insert]] via
    * foreachBatch, so every batch is one atomic MVCC version with the
    * catalog's constraint validation (PK uniqueness batch-scoped
    * against the existing snapshot) applied AT ingest, and readers
    * always see a complete published version, never a half-written
    * batch. Output is the managed table's final scan; the DuckDB
    * oracle checks it equals the source exactly. */
  def st07StreamIngest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = graft.sources.TableCatalog.tempRoot("graft-st07")
    val cat = new graft.sources.TableCatalog(s, root)
    cat.createTable("events_ingest", StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType))), primaryKey = Some("event_id"))
    val stream = rawEventsStream(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
    toBatches(s, "st07", stream, OutputMode.Append, Some(8)) { (batch, _) =>
      cat.insert("events_ingest", batch)
    }
    cat.scan("events_ingest").orderBy("event_id")
  }

  /** st08: streaming corpus top-k terms (streaming twin of t05) —
    * complete-mode aggregation with an in-plan sort+limit: each
    * micro-batch re-emits the current global top 20, the live
    * leaderboard pattern. State is vocabulary-bounded (term counts),
    * not corpus-bounded; the sort runs over the aggregate's output,
    * never the raw stream. Bounded run ⇒ equals batch t05, same
    * oracle. */
  def st08StreamTopk(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val agg = stream
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)
    toMemory(s, "st08", agg, OutputMode.Complete, Some(8))
      .orderBy(col("n").desc, col("term"))
  }

  /** st09: streaming CURATION at ingest — the streaming twin of the
    * batch e01 pipeline: the quality + blocklist gates run as
    * stateless scan predicates on the stream (rejected documents cost
    * state NOTHING — they never reach a state store), and only the
    * survivors pay the stateful content dedup (the st03 pattern). The
    * gate expressions are the SINGLE shared definitions in
    * [[graft.operators.TextAnalysis]] (t02/t12/e01/st09 all consume
    * them), so the twins cannot drift. Output keys on the text (a streaming
    * first-arrival keeper is arrival-order-dependent, so doc_id is
    * not emitted); n_tokens/quality_score are pure functions of the
    * text, identical whichever duplicate arrived first. */
  def st09StreamCurate(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val curated = stream
      .select(col("text"),
        TextAnalysis.nTokensCol.cast("int").as("n_tokens"),
        TextAnalysis.qualityScoreCol.as("quality_score"),
        TextAnalysis.nBlockedCol.as("n_blocked"))
      .filter(col("quality_score") >= TextAnalysis.qualityGate && col("n_blocked") === 0)
      .dropDuplicates("text")
      .select("text", "n_tokens", "quality_score")
    toMemory(s, "st09", curated, OutputMode.Append, Some(8)).orderBy("text")
  }

  /** st10: streaming curation INTO the versioned catalog — the
    * streaming twin of batch e02 and the full production ingest path:
    * st09's stateless gates + stateful dedup run on the stream, and
    * each micro-batch of survivors lands in the catalog through
    * foreachBatch as one atomic MVCC version (st07's pattern) with the
    * text declared PRIMARY KEY — the catalog re-checks at publish what
    * the stream's state already guarantees (each text emitted once),
    * so a state-store bug could never corrupt the published table.
    * Readers always see a complete version; the final scan must equal
    * st09's gated-distinct oracle. */
  def st10StreamCurateIngest(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.types._
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val root = graft.sources.TableCatalog.tempRoot("graft-st10")
    val cat = new graft.sources.TableCatalog(s, root)
    cat.createTable("curated_stream", StructType(Seq(
      StructField("text", StringType, nullable = false),
      StructField("n_tokens", IntegerType),
      StructField("quality_score", DoubleType))), primaryKey = Some("text"))
    cat.createTable("ingest_log", StructType(Seq(
      StructField("batch_id", LongType, nullable = false))),
      primaryKey = Some("batch_id"))
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val curated = stream
      .select(col("text"),
        TextAnalysis.nTokensCol.cast("int").as("n_tokens"),
        TextAnalysis.qualityScoreCol.as("quality_score"),
        TextAnalysis.nBlockedCol.as("n_blocked"))
      .filter(col("quality_score") >= TextAnalysis.qualityGate && col("n_blocked") === 0)
      .dropDuplicates("text")
      .select("text", "n_tokens", "quality_score")
    toBatches(s, "st10", curated, OutputMode.Append, Some(8)) { (batch, bid) =>
      idempotentIngest(s, cat, "curated_stream", batch, bid)
    }
    cat.scan("curated_stream").orderBy("text")
  }

  /** EXACTLY-ONCE micro-batch publish: the data insert and the
    * batch-id marker commit in ONE catalog transaction, so a replayed
    * micro-batch (the restart case Structured Streaming's at-least-once
    * foreachBatch contract allows) sees its own marker and skips —
    * the (batchId, txn) idempotent-sink pattern, implemented on the
    * catalog's own MVCC txn instead of an external store. Shared by
    * st10 and the restart spec. */
  private[graft] def idempotentIngest(s: SparkSession,
      cat: graft.sources.TableCatalog, table: String,
      batch: DataFrame, bid: Long): Unit = {
    import s.implicits._
    val seen = !cat.scan("ingest_log").filter(col("batch_id") === bid).isEmpty
    if (!seen) {
      val t = cat.begin()
      try {
        t.insert("ingest_log", Seq(bid).toDF("batch_id"))
        t.insert(table, batch)
        t.commit()
      } catch { case e: Throwable => t.rollback(); throw e }
    }
  }

  /** st11: the Count-Min sketch maintained BY THE STREAMING ENGINE —
    * the sketch's native habitat: a complete-mode global aggregation
    * whose state IS the counter grid, updated per micro-batch by the
    * same custom Aggregator the batch t15 uses. Because grid merges
    * are commutative elementwise adds, the streamed sketch is
    * BIT-IDENTICAL to the batch sketch — asserted by the StreamsSpec
    * equality test, the strongest cross-engine check a sketch can
    * offer (q23's HLL can only bound error; this is exact equality).
    * Term source and probe read are shared with t15
    * ([[graft.operators.TextAnalysis.termCol]] / `cmsProbeFrame`), so
    * the twins cannot drift. */
  def st11StreamSketch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchAgg
    import graft.operators.TextAnalysis
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val agg = stream.select(TextAnalysis.termCol)
      .agg(SketchAgg.cmsSketch(col("term")).as("cms"))
    TextAnalysis.cmsProbeFrame(s, toMemory(s, "st11", agg, OutputMode.Complete, Some(1)))
  }

  /** st13: STREAMING MATERIALIZED VIEW into the lakehouse — the
    * aggregate-upsert ingest pattern: a complete-mode per-user
    * aggregation runs on the stream, and each micro-batch MERGEs the
    * refreshed aggregate into a catalog table keyed on user_id (the
    * CDC/upsert write path, vs st07/st10's append-only inserts).
    * Every batch is one atomic MVCC version produced by the catalog's
    * copy-on-write upsert — readers always see a consistent snapshot
    * of the view, never a half-refreshed one. The sentinel staging
    * (shared with st02/st12) forces MULTIPLE micro-batches, so rows
    * merged in batch 1 are genuinely UPDATED by batch 2's refresh —
    * the final scan must equal the batch aggregation exactly. */
  def st13StreamAggUpsert(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = graft.sources.TableCatalog.tempRoot("graft-st13")
    val cat = new graft.sources.TableCatalog(s, root)
    cat.createTable("user_stats", StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("n_events", IntegerType),
      StructField("total_value", DoubleType))), primaryKey = Some("user_id"))
    val out = withSentinelEventStream(s, d) { stream =>
      val agg = stream
        .groupBy("user_id")
        .agg(count(lit(1)).cast("int").as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_value"))
      toBatches(s, "st13", agg, OutputMode.Complete, Some(8)) { (batch, _) =>
        cat.merge("user_stats", batch)
      }
      cat.scan("user_stats").filter(col("user_id") >= 0).orderBy("user_id")
    }
    out.getOrElse {
      import s.implicits._
      Seq.empty[(Long, Int, Double)].toDF("user_id", "n_events", "total_value")
    }
  }

  /** st15: streaming DSIR scoring at ingest — the streaming twin of
    * batch t18 and the PRODUCTION shape of importance-resampling
    * selection: the unigram LM tables are trained OFFLINE (here: the
    * batch corpus aggregates, per-term log-likelihood-ratio weights
    * precomputed and BROADCAST — at scale a stored LM table shipped to
    * executors once, st04's stream-static pattern), and each arriving
    * document pays only a stateless explode + broadcast lookup; the
    * per-doc sum is the single stateful aggregation. Bounded run over
    * the documents stream, hash-exact vs t18's DuckDB oracle. */
  def st15StreamDsir(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    // static LM side, computed once (offline-training stand-in)
    // ONE exploded aggregation carries both counts (the t18/t21 rollup
    // recipe); localCheckpoint pins it because the totals job and the
    // broadcast build are separate ACTIONS that would each re-run the
    // corpus explode otherwise
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextAnalysis.termCol)
    val lm0 = terms.groupBy("term").agg(count(lit(1)).as("cr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
      .localCheckpoint()
    val tot = lm0.agg(sum(col("cr")), count(lit(1)), sum(col("ct"))).head()
    val (nr, v, nt) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val lm = broadcast(lm0
      .select(col("term"),
        (log((col("ct") + lit(1.0)) / lit((nt + v).toDouble)) -
          log((col("cr") + lit(1.0)) / lit((nr + v).toDouble))).as("llr")))

    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val agg = stream
      .select(col("doc_id"), TextAnalysis.termCol)
      .join(lm, "term") // stateless broadcast lookup, no stream shuffle
      .groupBy("doc_id")
      .agg((round(sum(col("llr")), 4) + lit(0.0)).as("dsir_score"))
    toMemory(s, "st15", agg, OutputMode.Complete, Some(8))
      .select(col("doc_id"), col("dsir_score"), (col("dsir_score") > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** st16: STREAMING TOKENIZATION — the steady-state twin of t20 and
    * the production serving shape of the tokenizer arc (t19 trains →
    * t20 applies batch-wide → st16 applies AT INGEST): the merge
    * table + vocabulary are trained OFFLINE ([[graft.operators
    * .TextAnalysis.bpeAssets]], the stored-asset stand-in) and
    * compiled into the same one-call [[graft.functions.BpeEncode]]
    * kernel, so every arriving document pays one stateless codegen
    * call — NO state store, NO stream shuffle, NO aggregation
    * (spec-asserted from the engine's own progress: zero state
    * operators). At 100 TB/day this is the highest-volume streaming
    * pass a pipeline runs, and its per-doc cost is exactly the batch
    * kernel's. Output hash-exact vs batch t20 on the bounded run. */
  def st16StreamTokenize(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val (merges, vocab) = TextAnalysis.bpeAssets(s, d) // offline-trained
    val enc = graft.functions.bpe_encode(TextAnalysis.termsArrayCol,
      merges.map(m => (m._2, m._3)), vocab, 8)
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    // token_ids projected to t20's CSV STRING form so the two outputs
    // stay hash-identical and every driver-visible column is scalar
    val toks = stream.select(col("doc_id"), enc.as("e"))
      .select(col("doc_id"), col("e.n_bpe_tokens").as("n_bpe_tokens"),
        concat_ws(",", col("e.token_ids")).as("token_ids"))
    // stateless: no state partitions to set
    toMemory(s, "st16", toks, OutputMode.Append, None).orderBy("doc_id")
  }

  /** st18: STREAMING IMAGE-TEXT PAIR FILTERING — the streaming twin
    * of batch m08 and the serving shape of the LAION gate: a crawler
    * scores each (image, caption) pair AS IT LANDS and drops
    * misaligned pairs before they ever reach storage. Entirely
    * STATELESS (st16's class): the image-side descriptor is computed
    * per arriving row inside the stream's own partition (the real P6
    * decode — payload bytes never shuffle), the text embedding joins
    * via a BROADCAST stream-static lookup (st04's pattern), the
    * verdict is a per-row expression — no state store, no stream
    * shuffle, no aggregation (zero state operators asserted from the
    * engine's own progress). Output hash-exact vs m08's DuckDB oracle
    * on the live run. */
  def st18StreamPairFilter(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    import s.implicits._
    val tvecs = broadcast(Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding").as("tvec")))
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val scored = stream.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        // partition = batch: a real CLIP tower would init once here
        (id, Multimodal.cellGrays(Multimodal.ppmPayload(id)).map(_.toFloat))
      }).toDF("doc_id", "ivec")
      .join(tvecs, "doc_id")
      .select(col("doc_id"),
        round(graft.functions.cosine_sim(col("ivec"), col("tvec")), 4)
          .as("align_score"))
      .withColumn("kept", col("align_score") >= Multimodal.PairTau)
    toMemory(s, "st18", scored, OutputMode.Append, None).orderBy("doc_id")
  }

  /** st17: STREAMING QUALITY CLASSIFICATION — the streaming twin of
    * batch t22 and the production serving shape of the supervised
    * quality gate (t22 trains → st17 scores AT INGEST): the NB weight
    * table is trained OFFLINE ([[graft.operators.TextAnalysis
    * .nbModel]], the stored-asset stand-in) and BROADCAST, so each
    * arriving document pays a stateless featurize + lookup (st04's
    * stream-static pattern — no stream shuffle for the model); the
    * per-doc weight sum is the single stateful aggregation, exactly
    * st15's shape. The featurization is the SAME single-explode
    * Column as batch training — zero feature drift between the model
    * and the stream it scores. Bounded run over the documents
    * stream, hash-exact vs t22's DuckDB oracle. */
  def st17StreamClassify(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val (w, prior) = TextAnalysis.nbModel(s, d) // offline-trained
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val agg = TextAnalysis.nbFeats(stream)
      .join(broadcast(w), "feat") // stateless broadcast lookup
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_feats"),
        (round(sum(col("w")) + lit(prior), 4) + lit(0.0)).as("nb_score"))
    toMemory(s, "st17", agg, OutputMode.Complete, Some(8))
      .withColumn("pred_trusted", col("nb_score") > 0)
      .orderBy("doc_id")
  }

  /** st19: STREAMING SEQUENCE PACKING — the stateful twin of p07 and
    * the last streaming ingest stage a training pipeline runs: as
    * documents land, each is assigned its absolute position in the
    * token stream (tokens_before → pack_id/pack_offset for a 256-token
    * bin), so sequences are packed INCREMENTALLY instead of by a batch
    * repack over the whole corpus. The state per source is ONE long
    * (the source's running token total — [[Streams]]-style
    * flatMapGroupsWithState): bounded by the number of sources, not by
    * volume or time, so an unbounded ingest runs forever (st14's state
    * contract). Packing is per SOURCE here — the production shape,
    * since streams interleave arrivals across sources and a global
    * cursor would serialize them; p07 remains the global batch repack.
    * Within a micro-batch the group's rows are ordered by doc_id
    * before the prefix walk, making the assignment deterministic and
    * (on this bounded one-batch run) exactly the per-source batch
    * prefix sum the DuckDB oracle computes; the cross-batch carry is
    * proven by a two-batch MemoryStream spec. Pack arithmetic is
    * shift/mod on the power-of-two budget — bit-exact on both
    * engines. */
  /** The st19 packing operator on any (doc_id, source, n_tokens)
    * stream — split out so the two-batch MemoryStream spec can drive
    * the CROSS-batch state carry the bounded driver run can't show.
    * State per source = one Long (the running token cursor); within a
    * micro-batch the group sorts by doc_id before the prefix walk —
    * the sort buffers one (source × micro-batch) slice of 16-byte-ish
    * tuples, bounded by trigger sizing (the knob that already bounds
    * every stateful operator's per-batch input), never by stream
    * lifetime. */
  private[graft] def packStream(
      rows: org.apache.spark.sql.Dataset[(Long, String, Long)]): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import rows.sparkSession.implicits._
    rows.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (src, it, state) =>
          var cursor = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_._1).map { case (id, _, n) =>
            val before = cursor
            cursor += n
            (id, src, n, before)
          }
          state.update(cursor)
          out.iterator
      }
      .toDF("doc_id", "source", "n_tokens", "tokens_before")
  }

  def st19StreamPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val rows = stream
      .filter(col("text").isNotNull)
      .select(col("doc_id"),  col("source"),
        graft.operators.TextAnalysis.nTokensCol.cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
    toMemory(s, "st19", packStream(rows), OutputMode.Append, Some(8))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tokens_before"),
        shiftright(col("tokens_before"), 8).as("pack_id"),
        (col("tokens_before") % 256).as("pack_offset"))
      .orderBy("doc_id")
  }

  val st19OracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(${graft.operators.TextAnalysis.nTokensSql} AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL
       |), c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS tokens_before
       |  FROM t)
       |SELECT doc_id, source, n_tokens, tokens_before,
       |       tokens_before // 256 AS pack_id,
       |       tokens_before % 256 AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** st20: STREAMING cluster maintenance — d17's production write-back
    * loop run BY the streaming engine: the stored corpus state
    * (signatures + cluster map + replay marker log) lives in a
    * versioned catalog, and each micro-batch of new documents runs ONE
    * [[graft.operators.Dedup.d17Maintain]] step — merge the batch's
    * near-dup delta into the stored map, append its signatures, mark
    * the batch id, all in one first-committer-wins txn. Exactly-once
    * under foreachBatch's at-least-once contract via the batch-id
    * marker (st10's discipline); the published map after the stream
    * drains is provably equal to one corpus-wide d06 recompute (d17's
    * batch-decomposition theorem), which is why this query shares
    * d06's DuckDB oracle verbatim. At 100 TB this is the at-ingest
    * dedup loop: per batch cost O(batch), the corpus is only ever read
    * through its stored tables, and a crashed/replayed micro-batch
    * can neither double-append signatures nor double-merge. */
  def st20StreamClusterMaintain(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val root = graft.sources.TableCatalog.tempRoot("graft-st20")
    val cat = new graft.sources.TableCatalog(s, root)
    Dedup.d17InitStore(cat, Dedup.signatureOf(
      s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") % 2 === 0)))
    val stream = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .filter(col("doc_id") % 2 =!= 0)
    // the caller's partition count: the batch function's own jobs
    // run under it, and the stream keeps no state
    toBatches(s, "st20", stream, OutputMode.Append, None) { (batch, bid) =>
      Dedup.d17Maintain(s, cat, Dedup.signatureOf(batch), bid)
    }
    cat.scan("corpus_cluster_map").orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st20_stream_cluster_maintain" -> (st20StreamClusterMaintain _),
    "st16_stream_tokenize" -> (st16StreamTokenize _),
    "st19_stream_pack" -> (st19StreamPack _),
    "st17_stream_classify" -> (st17StreamClassify _),
    "st18_stream_pair_filter" -> (st18StreamPairFilter _),
    "st01_stream_window" -> (st01StreamWindow _),
    "st02_stream_state"  -> (st02StreamState _),
    "st03_stream_dedup"  -> (st03StreamDedup _),
    "st04_stream_join"   -> (st04StreamJoin _),
    "st05_stream_stream_join" -> (st05StreamStreamJoin _),
    "st06_stream_decontaminate" -> (st06StreamDecontaminate _),
    "st07_stream_ingest" -> (st07StreamIngest _),
    "st08_stream_topk"   -> (st08StreamTopk _),
    "st09_stream_curate" -> (st09StreamCurate _),
    "st10_stream_curate_ingest" -> (st10StreamCurateIngest _),
    "st11_stream_sketch" -> (st11StreamSketch _),
    "st12_stream_session_window" -> (st12StreamSessionWindow _),
    "st13_stream_agg_upsert" -> (st13StreamAggUpsert _),
    "st14_stream_dedup_watermark" -> (st14StreamDedupWatermark _),
    "st15_stream_dsir" -> (st15StreamDsir _))

  /** Same oracle as the batch twin: tumbling 1h windows aligned to the
    * epoch are exactly date_trunc('hour'). */
  val oracleSql: Map[String, String] = Map(
    // the streamed maintenance loop's published map equals the full
    // batch recompute (d17's theorem) — d06's oracle, verbatim
    "st20_stream_cluster_maintain" ->
      graft.operators.Dedup.oracleSql("d06_dedup_clusters"),
    "st01_stream_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "st02_stream_state" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1
        |              WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
        |              ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id,
        |       CAST(MIN(ts) AS TIMESTAMP) AS start_ts,
        |       CAST(MAX(ts) AS TIMESTAMP) AS end_ts,
        |       CAST(COUNT(*) AS INT) AS n_events,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |FROM numbered
        |GROUP BY user_id, session_id
        |ORDER BY user_id, start_ts""".stripMargin,
    "st03_stream_dedup" ->
      "SELECT DISTINCT text FROM documents ORDER BY text",
    "st04_stream_join" ->
      """SELECT date_trunc('hour', ts) AS hour_start, c_mktsegment,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY hour_start, c_mktsegment""".stripMargin,
    // ts cast to µs TIMESTAMP in the CTE so both engines compare the
    // same precision in the inequality (the parquet column is ns)
    "st05_stream_stream_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |)
        |SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
        |       e.event_id AS error_id, e.ts AS error_ts
        |FROM ev c JOIN ev e
        |  ON c.event_type = 'click' AND e.event_type = 'error'
        | AND e.user_id = c.user_id
        | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, error_id""".stripMargin,
    // identical oracle to batch d08: the streaming run must produce the
    // same contaminated-doc set and overlap counts
    "st06_stream_decontaminate" -> graft.operators.Dedup.d08OracleSql,
    // the ingested managed table must equal the source, row for row
    "st07_stream_ingest" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // identical oracle to batch t05
    "st08_stream_topk" -> graft.operators.TextAnalysis.t05OracleSql,
    // e01's gates over the distinct text set: the gate expressions are
    // pure functions of text, so filter-then-distinct == distinct-then-
    // filter, and any duplicate's representative row scores the same
    "st09_stream_curate" -> st09OracleSql,
    // the catalog scan after streaming ingest must equal the gated
    // distinct set exactly — same oracle as st09
    "st10_stream_curate_ingest" -> st09OracleSql,
    // identical oracle to batch q54: the native streaming session
    // windows must reproduce the lag+cumsum sessionization exactly
    "st12_stream_session_window" -> graft.operators.Relational.q54OracleSql,
    // the materialized view after all merges must equal the batch
    // per-user aggregation (sentinel user filtered)
    "st13_stream_agg_upsert" ->
      """SELECT user_id, CAST(COUNT(*) AS INT) AS n_events,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // every replayed duplicate must be dropped: the output is exactly
    // the source rows (event_id is unique in the source, so DISTINCT
    // is not even needed — a surviving duplicate would double a row)
    "st14_stream_dedup_watermark" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // identical oracle to batch t18: offline-trained LM tables scored
    // over the stream must reproduce the batch importance weights
    "st15_stream_dsir" -> graft.operators.TextAnalysis.t18OracleSql,
    // the batch twin's oracle verbatim: same columns, same model
    "st17_stream_classify" -> graft.operators.TextAnalysis.t22OracleSql,
    "st18_stream_pair_filter" -> graft.operators.Multimodal.m08OracleSql,
    // per-source batch prefix sum: the bounded one-batch stream run
    // must assign exactly these positions (cross-batch carry is the
    // MemoryStream spec's job)
    "st19_stream_pack" -> st19OracleSql)

  private lazy val st09OracleSql: String =
    s"""WITH q AS (SELECT DISTINCT text FROM documents),
       |s AS (
       |  SELECT text,
       |    ${graft.operators.TextAnalysis.nTokensSql} AS n_tokens,
       |    ${graft.operators.TextAnalysis.qualityScoreSql} AS quality_score,
       |    ${graft.operators.TextAnalysis.nBlockedSql} AS nb
       |  FROM q)
       |SELECT text, n_tokens, quality_score FROM s
       |WHERE quality_score >= ${graft.operators.TextAnalysis.qualityGate} AND nb = 0
       |ORDER BY text""".stripMargin
}
