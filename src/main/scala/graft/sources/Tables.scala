package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the benchmark tables (TPC-H-ish star schema + events /
  * documents / embeddings). Reference analog: entangleDB's `Scan` plan
  * node (/root/reference/src/sql/plan/mod.rs:117) — here a parquet scan
  * that Catalyst prunes (ReadSchema) and filters (PushedFilters), which
  * is what makes the same query shape survive 100 TB: the scan only
  * reads the columns/row-groups the query needs.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` has shipped in two parquet encodings
    * across testdata generations: TIMESTAMP(NANOS), which Spark only
    * reads as raw longs (the legacy nanosAsLong conf, which every
    * graft session carries from [[graft.GraftSession]]), and plain µs
    * timestamps (NTZ when written tz-naive). Surface both as
    * microsecond TimestampType — matching DuckDB's reading of the same
    * file, so oracles stay comparable. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(s.read.parquet(s"$d/events.parquet"))

  /** Normalize a frame's `ts` column to µs TimestampType regardless of
    * which physical encoding the parquet carried. The session timezone
    * is UTC, so the NTZ→LTZ cast is value-preserving. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      // integer `div`, not `/`: double division loses precision at
      // nanosecond-epoch magnitude (~1.7e18 > 2^53). A LongType ts is
      // epoch NANOSECONDS by contract (the TIMESTAMP(NANOS) legacy read
      // path); the range guard raises loudly if a generation ever ships
      // raw µs/ms longs (~1000×/10⁶× smaller), instead of silently
      // dividing them into wrong timestamps.
      case LongType => raw.withColumn("ts", expr(
        """timestamp_micros(
          |  if(ts is null or ts >= 631152000000000000L, ts,
          |     raise_error(concat('graft: LongType ts outside the epoch-ns range: ',
          |                        cast(ts as string)))) div 1000)""".stripMargin))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Registers every table as a temp view so the SQL front
    * (`spark.sql`) sees the same catalog DuckDB does. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
