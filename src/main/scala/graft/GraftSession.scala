package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

/** Session factory for the graft engine.
  *
  * The reference (entangleDB) boots a server exposing a SQL surface over
  * its storage engine (/root/reference/src/server.rs); on Spark the
  * equivalent "server" is a configured SparkSession with the graft
  * function library registered so the full surface is reachable from
  * both the DataFrame API and `spark.sql`.
  *
  * Scale defaults: AQE on (runtime re-plan, skew-join splitting),
  * shuffle partitions sized for the local harness (a real cluster would
  * set this to ~2-3x total cores or rely on AQE coalescing).
  */
object GraftSession {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new plans.GraftExtensions) // domain optimizer rules
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // TIMESTAMP(NANOS) parquet reads as raw longs (Tables.events);
      // set on the context, so every session of it inherits the key,
      // newSession() included, and no operator sets it per call
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // plans over LocalRelations fold through plans.FoldLocalRelations,
      // interpreted; Spark's own rule compiles each filter it folds
      .config("spark.sql.optimizer.excludedRules",
        org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.ruleName)

  def create(master: String = "local[32]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
    spark
  }

  /** Idempotent per-session setup: registers the graft SQL functions
    * and declares the TIMESTAMP(NANOS) parquet handling (the events
    * table needs it; without the conf Spark refuses such files
    * outright). [[builder]] already puts the conf on the context; the
    * set here covers sessions it did not build (the Verify main owns
    * its session). */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    functions.Registry.registerAll(spark)
    // the TopKPerGroup planner strategy, for sessions NOT built through
    // GraftSession.builder (extensions bind at construction only; the
    // experimental hook is the supported post-hoc route — the driver's
    // Verify main owns its own session)
    if (!spark.experimental.extraStrategies.contains(plans.TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.TopKPerGroupStrategy
    // the driver fold, by the same post-hoc route (a builder session
    // has it from its extensions). Such a session keeps Spark's
    // ConvertToLocalRelation, which folds filters first, compiled; this
    // rule then folds the joins, with the same rows either way
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(plans.FoldLocalRelations) &&
        !spark.experimental.extraOptimizations.contains(plans.FoldLocalRelations))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.FoldLocalRelations
    spark
  }

  /** The session one bounded stream runs on
    * ([[graft.streaming.StreamQueries]]'s runner): a clone of `s`
    * (`cloneSession`), so it sees the caller's conf, functions, temp
    * views and optimizer extensions, with two settings of its own that
    * the caller never sees:
    *  - `spark.sql.shuffle.partitions` = `statePartitions` when given
    *    (None keeps the caller's). A stateful operator keeps one state
    *    store per shuffle partition (a stream-stream join keeps four),
    *    each committing a delta file per micro-batch, and a query pins
    *    its state partitioning from this value when it starts. At the
    *    default that is fixed overhead for a bounded input (at
    *    production scale the count goes up with volume instead); results
    *    do not depend on it.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` = false:
    *    every watermark advance a bounded input needs comes from a data
    *    batch (st02's sentinel chunks exist for this), so an extra
    *    empty micro-batch per query is overhead.
    * Writing these on the clone, never on `s`, is what lets two streams
    * share one caller session: there is nothing to restore. */
  def streamSession(s: SparkSession, statePartitions: Option[Int]): SparkSession = {
    val clone = org.apache.spark.sql.GraftSessionBridge.cloneSession(s)
    statePartitions.foreach(n => clone.conf.set("spark.sql.shuffle.partitions", n.toString))
    clone.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    clone
  }

  /** EXPLAIN analog (reference: ast.rs:17 `Explain`). Returns the
    * formatted physical plan, the artifact a user would inspect for
    * pushdown / join strategy / codegen spans. */
  def explainPlan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** `plan` with each of `bindings` visible under its name: one
    * `WITH name AS (<frame>), …` around the parsed statement. The
    * analyzer resolves the names through its own CTE scoping
    * (`ctePrecedencePolicy = CORRECTED`), so the statement's own CTE of
    * the same name shadows a binding at any depth, and nothing is
    * written to the session: two callers sharing one SparkSession can
    * bind one name to different frames at the same time. */
  def bindNames(plan: LogicalPlan, bindings: Seq[(String, DataFrame)]): LogicalPlan =
    if (bindings.isEmpty) plan
    else UnresolvedWith(plan, bindings.map { case (n, df) =>
      (n, SubqueryAlias(n, df.queryExecution.analyzed), None) })
}
