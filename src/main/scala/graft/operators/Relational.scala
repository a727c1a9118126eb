package graft.operators

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's relational query surface re-expressed Spark-first.
  *
  * Covers entangleDB's SELECT pipeline (scan, filter, project,
  * aggregate, having, order, limit, offset — /root/reference/src/sql/
  * parser/ast.rs:40-49), its join types (ast.rs:69-74), its aggregate
  * set (execution/aggregation.rs:77-81), its expression operators
  * (ast.rs:130-158) and its EXPLAIN (ast.rs:17).
  *
  * Everything is declared through the DataFrame API so Catalyst runs
  * the same optimizations the reference hand-rolls (constant folding,
  * filter pushdown, NLJ→hash join upgrade — plan/optimizer.rs) plus
  * the ones it lacks (column pruning into the scan, partial map-side
  * aggregation, broadcast joins, AQE).
  *
  * Determinism: money aggregates are exact integer sums finished
  * through DECIMAL ([[money]]), so they are order-independent and
  * bit-stable under any partitioning — required for distributed
  * correctness at 100 TB, where partial-agg order is arbitrary; every
  * oracle-checked query ends in a total ORDER BY.
  */
object Relational {

  /** Exact money arithmetic: DOUBLE column → DECIMAL(18,2). */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** SQL text with each of `bindings` bound to its name inside the
    * plan ([[GraftSession.bindNames]]): a declared query never rebinds
    * the caller session's names to its own dataset. */
  private def sqlOver(s: SparkSession, bindings: Seq[(String, DataFrame)])(text: String): DataFrame =
    GraftColumnBridge.ofRows(s,
      GraftSession.bindNames(s.sessionState.sqlParser.parsePlan(text), bindings))

  /** The exact integer CENTS of a 2-decimal money double. The stored
    * double is the nearest representation of a value with exactly two
    * decimals (spec-checked against the generator, max observed
    * |c·100 − round(c·100)| ≤ 1e-9 across every money column), so one
    * correctly-rounded multiply keeps the error far below 0.5 and
    * round() recovers the exact cents. NULL propagates like the
    * decimal cast. */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  /** p·(1−d) in exact 10^-4 units: the value decimal(18,2)×decimal(18,2)
    * carries at scale 4. */
  private[graft] def discUnits(p: Column, d: Column): Column =
    cents(p) * (lit(100L) - cents(d))

  /** A finished exact LONG sum in 10^-`scale` units, surfaced as the
    * double the DECIMAL plan yields (DuckDB's
    * CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)). Rows add as codegen
    * longs, which are exact and order-independent; a decimal(18,2) sum
    * would buffer at precision 28 and pay BigDecimal arithmetic per
    * row. Only the finished sum, once per group or window row, goes
    * through DECIMAL: the scaling multiply is exact, and the cast is
    * the same correctly-rounded Decimal.toDouble that the decimal plan
    * applies to the same rational. So the double is the decimal plan's
    * bit for bit at every |Σ| < 2^63 units. Past that the ANSI long sum
    * raises ARITHMETIC_OVERFLOW rather than return a value. */
  private[graft] def money(units: Column, scale: Int): Column =
    (units.cast("decimal(20,0)") * lit(BigDecimal(1, scale))).cast("double")

  /** Σ c, exact (see [[money]]). */
  private[graft] def dsum(c: Column): Column = money(sum(cents(c)), 2)

  /** Σ p·(1−d), the TPC-H discounted-price aggregate, exact. */
  private[graft] def dsumDisc(p: Column, d: Column): Column = money(sum(discUnits(p, d)), 4)

  /** Σ p·d, the plain product aggregate, exact. */
  private[graft] def dsumProd(p: Column, d: Column): Column =
    money(sum(cents(p) * cents(d)), 4)

  // ---------------------------------------------------------------- q01
  def q01ScanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  // ---------------------------------------------------------------- q02
  def q02Filter(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(
        (col("l_quantity") >= 30 && col("l_discount") <= 0.05
          && !(col("l_returnflag") === "A")) || col("l_tax").isNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q03
  def q03ExprMath(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + col("l_tax")).as("qty_plus_tax"),
        (col("l_extendedprice") * col("l_discount")).as("discount_amt"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        (-col("l_tax")).as("neg_tax"),
        pow(lit(2.0), col("l_linenumber")).as("pow2"),
        factorial(col("l_linenumber")).as("fact"),
        (col("l_quantity").cast("int") % 7).as("qty_mod7"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q04
  /** TPC-H Q1 shape: the flagship aggregation (all five reference
    * aggregates over grouped data, partial-agg map-side combine). */
  def q04AggGroup(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumDisc(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- q05
  def q05Having(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .filter(col("n_orders") >= 3 && col("total_spent") > 100000.0)
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- q06
  def q06OrderLimitOffset(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10)
      .limit(50)

  // ---------------------------------------------------------------- q07
  def q07JoinInner(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q08
  def q08JoinLeft(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q09
  def q09JoinRight(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q10
  def q10JoinCross(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  // ---------------------------------------------------------------- q11
  /** TPC-H Q5 shape: 6-table join tree. Dimension tables are
    * broadcast (region/nation/supplier are tiny at any SF), so the
    * only shuffles are the two fact-fact joins and the final agg. */
  def q11JoinMultiway(s: SparkSession, d: String): DataFrame = {
    val c  = Tables.customer(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val li = Tables.lineitem(s, d)
    val su = Tables.supplier(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(su),
        li("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q12
  def q12Like(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    p.filter(col("p_name").like("%gear%")
        || (col("p_type").like("SMALL%") && !col("p_brand").like("%#1%")))
      .select("p_partkey", "p_name", "p_brand", "p_type")
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q13
  def q13ExprCaseNull(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("other").as("status_word"),
        coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")), lit("URGENT!"))
          .as("prio"),
        nullif(col("o_orderstatus"), lit("P")).isNull.as("is_pending"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q14
  def q14Distinct(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select("c_mktsegment", "c_nationkey")
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  // ---------------------------------------------------------------- q15
  /** The SQL front: full SQL text through spark.sql over the
    * registered catalog — TPC-H Q3 shape. Identical ANSI text runs on
    * DuckDB as the oracle. */
  val q15Sql: String =
    """SELECT o_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |         AS revenue,
      |       o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  def q15SqlInterface(s: SparkSession, d: String): DataFrame =
    sqlOver(s, Seq("customer", "orders", "lineitem").map(n => n -> Tables.load(s, d, n)))(q15Sql)

  // ---------------------------------------------------------------- q16
  /** EXPLAIN surface (reference ast.rs:17): formatted physical plans
    * of representative queries, the user-facing plan-inspection API.
    * Expression ids (`#123`) and `plan_id`s count the frames the
    * session built before, so they are masked: the text depends on the
    * plans alone. */
  def q16ExplainPlans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def plan(df: DataFrame): String = GraftSession.explainPlan(df)
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    Seq(
      ("q04_agg_group", plan(q04AggGroup(s, d))),
      ("q07_join_inner", plan(q07JoinInner(s, d))),
      ("q11_join_multiway", plan(q11JoinMultiway(s, d))))
      .toDF("query", "plan")
  }

  // ---------------------------------------------------------------- q17
  def q17AggGlobal(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        dsum(col("l_quantity")).as("sum_qty"))
  }

  // ---------------------------------------------------------------- q18
  /** Window functions (reference README §5 goal). Total order inside
    * each partition window ⇒ deterministic ranks and running sums. */
  def q18WindowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        money(sum(cents(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_spent"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  // ---------------------------------------------------------------- q19
  /** Batch twin of the streaming tumbling-window aggregation
    * (streaming/Streams.scala) — hour buckets over the events table. */
  def q19WindowAgg(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.groupBy(
        date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  // ---------------------------------------------------------------- q20
  /** Point lookup by key (reference: KeyLookup / IndexLookup plan
    * nodes, plan/mod.rs:77-92). On Spark the "index" is the pushed
    * EqualTo predicate: parquet row-group stats + dictionary/page
    * filtering skip everything but the matching blocks, the columnar
    * analog of an index probe. */
  def q20PointLookup(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") === 1000L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  }

  // ---------------------------------------------------------------- q21
  /** Semi/anti joins (EXISTS / NOT EXISTS): one pass each, no
    * duplication of the probe side, build side broadcast when small. */
  def q21SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select("o_custkey")
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_orders"))
    val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_orders"))
    withO.unionByName(withoutO).orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q22
  /** Set operations: UNION / INTERSECT / EXCEPT (symmetric difference
    * of customer-nations vs supplier-nations). */
  def q22SetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("nk")).distinct()
    val b = Tables.supplier(s, d).filter(col("s_acctbal") > 0)
      .select(col("s_nationkey").as("nk")).distinct()
    a.union(b).distinct().except(a.intersect(b)).orderBy("nk")
  }

  // ---------------------------------------------------------------- q23
  /** Sketch aggregate: HyperLogLog++ distinct counts per group — the
    * constant-memory distinct the exact countDistinct can't give at
    * 100 TB. rsd 0.02, not tighter: each halving of rsd quadruples the
    * register array, and at 0.01 the aggregation buffers get heavy
    * enough to dominate the query (measured 2.4 s vs 0.4 s at sf0.1)
    * while actual error stays ~1% either way at these cardinalities.
    * rows-only (sketch estimates are engine-specific); the spec bounds
    * error at 5% of exact. */
  def q23ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q24
  /** ROLLUP grouping sets: per-(flag,status) + per-flag + grand total
    * in one pass. */
  def q24Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // ---------------------------------------------------------------- q25
  /** As-of join (time-series): for every error event, the most recent
    * click by the same user at-or-before it. Spark-first realization:
    * a single window pass over the *unioned* stream — one shuffle on
    * user_id, running max of the click timestamp — instead of a
    * user×user range join (which explodes on heavy users). This is
    * the form that survives skew at scale. */
  def q25AsofJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d).filter(col("event_type").isin("error", "click"))
    // RANGE frame on ts, not ROWS: ASOF `err.ts >= click.ts` includes a
    // click sharing the error's exact timestamp, and a range frame
    // includes all current-row peers regardless of their sort position
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts").as("err_ts"),
        col("last_click_ts"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q26
  /** Batch sessionization (the batch twin of streaming/Streams
    * .sessionize): gap > 30 min starts a new session; session index =
    * running sum of gap flags; one shuffle on user_id. All time math
    * in epoch microseconds so the DuckDB oracle is bit-identical. */
  def q26Sessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byUser) > 1800000000L, 1)
          .when(lag(col("us"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }

  // ---------------------------------------------------------------- q27
  /** PIVOT: orders-per-status matrix by customer nation. Explicit
    * value list keeps the output schema static (required both for the
    * oracle and for any production consumer at scale — dynamic pivot
    * values force an extra distinct pass over the data). */
  def q27Pivot(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderstatus")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_nationkey")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("c_nationkey"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy("c_nationkey")
  }

  // ---------------------------------------------------------------- q28
  /** Scalar subquery: parts priced above the global average. Catalyst
    * plans the subquery as a one-row broadcast — no per-row
    * re-evaluation. */
  def q28ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val avgPrice = p.agg(
      (dsum(col("p_retailprice")) / count(lit(1))).as("a"))
    p.crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("a"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q29
  /** Correlated EXISTS (TPC-H Q4 shape): order priorities with a
    * late-shipping lineitem. Decorrelated by Catalyst to a semi-join
    * — the scalable plan (no per-order probe). */
  def q29CorrelatedExists(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
        && col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val lateLi = Tables.lineitem(s, d).filter(col("l_shipdate") > to_timestamp(lit("1997-06-01")))
      .select("l_orderkey")
    o.join(lateLi, o("o_orderkey") === lateLi("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q30
  /** NOT IN over a subquery (TPC-H Q16 flavor): suppliers' nations
    * that never placed a 'P' order via their customers — anti-join
    * form (the NOT IN null trap avoided by construction: keys are
    * non-null). */
  def q30NotIn(s: SparkSession, d: String): DataFrame = {
    val su = Tables.supplier(s, d)
    val pNations = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("s_nationkey")).distinct()
    su.join(pNations, Seq("s_nationkey"), "left_anti")
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey")
  }

  // ---------------------------------------------------------------- q31
  /** String function surface: case, trim, substring, concat, replace,
    * padding — all codegen'd builtins, dialect-portable. */
  def q31StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        trim(concat(lit("  "), col("p_type"), lit(" "))).as("trimmed"),
        substring(col("p_name"), 1, 4).as("sub4"),
        concat_ws("-", col("p_brand"), col("p_type")).as("joined"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        length(col("p_name")).as("len"))
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- q32
  /** Datetime function surface: extraction + truncation (the portable
    * subset — identical semantics in Spark and DuckDB). */
  def q32Datetime(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- q33
  /** Secondary-index range lookup (reference schema.rs:154-155 per-
    * column INDEX, plan/mod.rs:77-92 IndexLookup): loads customer into
    * a catalog table indexed on c_acctbal — range-partitioned sorted
    * layout + per-file min/max in the manifest — then scans through
    * the index-pruning path, which hands Spark only the files whose
    * stats overlap the predicate. Result is identical to the full
    * filter (the DuckDB oracle proves it); the pruning itself is
    * spec-asserted (fewer files read than the manifest holds). */
  // one indexed-table fixture per dataset (the parquet + manifests are
  // session-independent): repeated calls (verify + bench + specs, even
  // across sessions in one JVM) measure the LOOKUP, not a rebuild, and
  // /tmp holds at most one copy per dataset
  private val q33Fixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def q33IndexLookup(s: SparkSession, d: String): DataFrame = {
    val root = q33Fixtures.computeIfAbsent(d, _ => {
      val r = java.nio.file.Files.createTempDirectory("graft-q33")
      val cat = new graft.sources.TableCatalog(s, r.toString)
      val cust = Tables.customer(s, d)
      cat.createTable("customer_idx", cust.schema, indexes = Seq("c_acctbal"))
      cat.insert("customer_idx", cust)
      // each JVM cleans up its own fixture — repeated bench/verify runs
      // must not accumulate table copies in /tmp
      sys.addShutdownHook(graft.sources.TableCatalog.deleteRecursively(r))
      r.toString
    })
    new graft.sources.TableCatalog(s, root)
      .scan("customer_idx", col("c_acctbal") >= 9000.0 && col("c_acctbal") <= 9500.0)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q34
  /** Sliding time-window analytics: 7-day moving average of daily
    * revenue — a RANGE frame over epoch days, one shuffle (the window
    * ordering), partial-agg'd daily rollup underneath. The frame sum
    * runs in DECIMAL so the average is order-independent and
    * bit-identical to the oracle. */
  def q34MovingAvg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(dsum(col("o_totalprice")).as("day_total"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      .withColumn("ma7",
        sum(dec(col("day_total"))).over(w).cast("double")
          / count(lit(1)).over(w))
      .select(col("day"), col("day_total"), col("ma7"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------- q35
  /** CUBE grouping sets: all 2^2 aggregation combinations in one pass
    * (q24's ROLLUP covers the hierarchy; CUBE covers the lattice). */
  def q35Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // ---------------------------------------------------------------- q36
  /** Exact percentile (median): `percentile` sorts within the
    * aggregate — the exact form; production at 100 TB flips
    * `spark.graft.percentile.approx=true` ([[Scale.pctl]]) and the
    * SAME query shape runs on the mergeable approx_percentile sketch
    * (spec-bounded rank error). Integer-valued quantities make the
    * interpolation arithmetic bit-identical across engines. */
  def q36Median(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        Scale.pctl(s, col("l_quantity"), 0.5).as("median_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q37
  /** Ordered string aggregation (LISTAGG/STRING_AGG). Realized as
    * array_sort(collect_list) + array_join: the sort makes the result
    * a pure function of the group's SET of values — deterministic
    * under any partitioning/merge order, which a bare
    * collect_list-then-join is not. */
  def q37StringAgg(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d)
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("r_name")

  // ---------------------------------------------------------------- q38
  /** Array/list function surface: split, size, sort, slice, contains,
    * element access — single scan, all codegen builtins. */
  def q38ArrayFuncs(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("p_name"), " ")
    Tables.part(s, d).select(
      col("p_partkey"),
      size(toks).as("n_tokens"),
      array_join(slice(array_sort(toks), 1, 3), "|").as("first3"),
      array_contains(toks, "green").as("has_green"),
      element_at(toks, 1).as("tok1"))
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q39
  /** Regular-expression surface: group extraction, match counting,
    * boolean match — all codegen'd builtins over one scan. */
  def q39RegexpExtract(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
      regexp_count(col("p_brand"), lit("\\d")).cast("int").as("n_digits"),
      col("p_type").rlike("PLATED|BRUSHED").as("finished"))
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- q40
  /** Date/interval arithmetic: day offsets, month arithmetic with
    * end-of-month clamping, day difference, last_day. (The oracle
    * computes the 90-day offset as DATE + integer, not a second
    * INTERVAL literal: DuckDB 1.0's subexpression elimination treats
    * INTERVAL 90 DAY = INTERVAL 3 MONTH — 1 month ≡ 30 days — and
    * silently reuses whichever constant appears first.) */
  def q40IntervalArith(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_add(col("o_orderdate"), 90).as("due_date"),
      add_months(col("o_orderdate"), 3).as("plus3mo"),
      datediff(lit(java.sql.Date.valueOf("1998-12-31")), col("o_orderdate"))
        .cast("int").as("days_to_eoy"),
      last_day(col("o_orderdate")).as("month_end"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- q41
  /** Correlated LATERAL subquery (top-N per outer row) — Catalyst
    * decorrelates the ORDER+LIMIT lateral into a ranked window join
    * rather than re-executing the subquery per row. Same SQL runs on
    * both engines verbatim. */
  val q41Sql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  def q41Lateral(s: SparkSession, d: String): DataFrame =
    sqlOver(s, Seq("customer", "orders").map(n => n -> Tables.load(s, d, n)))(q41Sql)

  // ---------------------------------------------------------------- q42
  /** Explicit GROUPING SETS (the general form behind q24's ROLLUP and
    * q35's CUBE — an arbitrary subset of the lattice in ONE pass) with
    * GROUPING() markers disambiguating a real NULL group key from a
    * superaggregate row. Same SQL runs on both engines verbatim; one
    * Expand + one aggregate exchange, not one scan per set. */
  val q42Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |       CAST(GROUPING(l_linestatus) AS INT) AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  def q42GroupingSets(s: SparkSession, d: String): DataFrame =
    sqlOver(s, Seq("lineitem" -> Tables.lineitem(s, d)))(q42Sql)

  // ---------------------------------------------------------------- q43
  /** Recursive CTE (WITH RECURSIVE): iterative ancestor walk over a
    * data-driven edge list — the construct behind hierarchy/graph
    * queries a fixpoint loop cannot express in one statement. Depth is
    * explicitly bounded (< 12) so the identical SQL stays inside both
    * engines' recursion budgets (Spark's default level limit is 100,
    * and its MAX RECURSION LEVEL escape hatch does not parse
    * elsewhere). Execution is one join + dedup-free UNION ALL per
    * level — each level shuffles only the frontier, the d06 property;
    * d06 itself remains the driver-loop form for UNBOUNDED-diameter
    * graphs, where a checkpointed loop beats in-plan recursion. */
  val q43Sql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT a.doc_id AS child, b.doc_id AS parent
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id - 20 AND b.source = a.source
      |), walk(child, anc, depth) AS (
      |  SELECT child, parent, 1 FROM edges
      |  UNION ALL
      |  SELECT w.child, e.parent, w.depth + 1
      |  FROM walk w JOIN edges e ON w.anc = e.child
      |  WHERE w.depth < 12
      |)
      |SELECT child AS doc_id, MIN(anc) AS far_ancestor, CAST(MAX(depth) AS INT) AS n_hops
      |FROM walk GROUP BY child ORDER BY doc_id""".stripMargin

  /** The Spark-side execution MATERIALIZES the edge list first: Spark
    * does not materialize non-recursive CTEs, so `edges` — a documents
    * self-join — would otherwise re-plan and re-execute inside EVERY
    * iteration of the recursion's loop (measured: one documents scan +
    * self-join per level, 12 levels). The recursive CTE itself is
    * unchanged (same construct, same SQL shape, same result — the
    * DuckDB oracle still runs [[q43Sql]] verbatim); each iteration now
    * joins the frontier against the checkpointed edge rows only. */
  private val q43WalkSql: String =
    """WITH RECURSIVE walk(child, anc, depth) AS (
      |  SELECT child, parent, 1 FROM edges
      |  UNION ALL
      |  SELECT w.child, e.parent, w.depth + 1
      |  FROM walk w JOIN edges e ON w.anc = e.child
      |  WHERE w.depth < 12
      |)
      |SELECT child AS doc_id, MIN(anc) AS far_ancestor, CAST(MAX(depth) AS INT) AS n_hops
      |FROM walk GROUP BY child ORDER BY doc_id""".stripMargin

  def q43RecursiveCte(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val edges = docs.as("a")
      .join(docs.as("b"),
        col("b.doc_id") === col("a.doc_id") - 20 && col("b.source") === col("a.source"))
      .select(col("a.doc_id").as("child"), col("b.doc_id").as("parent"))
      .localCheckpoint()
    sqlOver(s, Seq("edges" -> edges))(q43WalkSql)
  }

  // ---------------------------------------------------------------- q44
  /** Multiset set operations (EXCEPT ALL / INTERSECT ALL): duplicates
    * carry multiplicity — max(n_a - n_b, 0) and min(n_a, n_b) copies
    * respectively — where q22's distinct forms collapse them. Both
    * engines run the identical SQL; Catalyst plans each as one
    * aggregate-style exchange on the row value (no join explosion). */
  val q44Sql: String =
    """WITH e AS (
      |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 48
      |  EXCEPT ALL
      |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 48
      |), i AS (
      |  SELECT l_suppkey FROM lineitem WHERE l_quantity >= 48
      |  INTERSECT ALL
      |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 48
      |)
      |SELECT 'except_all' AS op, l_suppkey, COUNT(*) AS n FROM e GROUP BY l_suppkey
      |UNION ALL
      |SELECT 'intersect_all' AS op, l_suppkey, COUNT(*) AS n FROM i GROUP BY l_suppkey
      |ORDER BY op, l_suppkey""".stripMargin

  def q44SetOpsAll(s: SparkSession, d: String): DataFrame =
    sqlOver(s, Seq("lineitem" -> Tables.lineitem(s, d)))(q44Sql)

  // ---------------------------------------------------------------- q45
  /** Window DISTRIBUTION functions (ntile/percent_rank/cume_dist) —
    * the quantile-bucketing surface q18's rank family doesn't cover.
    * The window orders by (price, key), a total order, so ranks have
    * no tie ambiguity and both engines' (rank-1)/(n-1) arithmetic is
    * bit-identical. One shuffle on the partition key. */
  def q45WindowDistribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  val q45OracleSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Fixed-width numeric HISTOGRAM (value profiling — the first query
    * run against any new 100 TB column). One groupBy on ~30 bucket
    * keys: map-side partial aggregation collapses every scan partition
    * to at most n_buckets rows before the (trivial) shuffle, so cost
    * is scan-bound at any scale. Sum goes through DECIMAL for
    * order-independent bit-stability. */
  def q46Histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 5000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"),
        dsum(col("l_extendedprice")).as("total"))
      .orderBy("bucket")

  val q46OracleSql: String =
    """SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
      |       COUNT(*) AS n,
      |       MIN(l_extendedprice) AS lo,
      |       MAX(l_extendedprice) AS hi,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Exact multi-QUANTILE per group (interpolated, type-7 — the
    * convention Spark's `percentile` and DuckDB's `quantile_cont`
    * share, so the oracle is bit-exact). Exact percentiles buffer a
    * group's value multiset on the agg side; that is the oracle-grade
    * variant — at 100 TB the same query shape runs with
    * `approx_percentile` (KLL-style sketch, mergeable, bounded
    * memory) and q23's precedent covers sketch grading. */
  def q47Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Scale.pctl(s, col("l_quantity"), 0.25).as("p25"),
        Scale.pctl(s, col("l_quantity"), 0.5).as("p50"),
        Scale.pctl(s, col("l_quantity"), 0.75).as("p75"),
        Scale.pctl(s, col("l_quantity"), 0.9).as("p90"))
      .orderBy("l_returnflag")

  val q47OracleSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |       quantile_cont(l_quantity, 0.25) AS p25,
      |       quantile_cont(l_quantity, 0.50) AS p50,
      |       quantile_cont(l_quantity, 0.75) AS p75,
      |       quantile_cont(l_quantity, 0.90) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Time-RANGE window frames — the interval-based moving aggregate
    * (each event sees the same user's preceding hour): a RANGE frame
    * over a numeric event-time key, where q34's frame is ROWS-based.
    * Frame peers are defined by VALUE distance, so ties in ts are
    * whole-peer-group inclusive on both engines (well-defined, unlike
    * a ROWS frame under ties). One shuffle on the partition key; the
    * running decimal sum is order-independent-exact. */
  def q48RangeWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L) // one hour of µs, inclusive
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).cast("int").as("n_prev_hour"),
        round(sum(col("value").cast("decimal(28,10)")).over(w).cast("double"), 2)
          .as("sum_prev_hour"))
      .orderBy("event_id")
  }

  val q48OracleSql: String =
    """SELECT event_id, user_id, ts,
      |       CAST(COUNT(*) OVER w AS INT) AS n_prev_hour,
      |       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE), 2)
      |         AS sum_prev_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** UNPIVOT (wide → long melt): per-returnflag aggregate unpivoted so
    * each metric becomes a (metric, value) row — the reshape feeding
    * metric stores and plotting layers. Spark's native `unpivot`
    * expands in the PROJECT stage (an Expand node: no join, no
    * shuffle beyond the upstream agg), exactly how the relational
    * UNPIVOT should execute at scale — output rows = input rows ×
    * n_metrics with zero exchanges added. */
  def q49Unpivot(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        // exact product per row (no double rounding), then sum
        dsumProd(col("l_extendedprice"), col("l_discount")).as("sum_disc"))
    agg.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  val q49OracleSql: String =
    """WITH a AS (
      |  SELECT l_returnflag,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |           AS sum_disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'sum_qty'   AS metric, sum_qty   AS value FROM a
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_disc'  AS metric, sum_disc  AS value FROM a)
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---------------------------------------------------------------- q50
  /** JSON field extraction over the events `props` column
    * (semi-structured payloads are the norm for event streams):
    * `get_json_object` runs per-row inside the scan stage — codegen,
    * no shuffle — then one aggregation by event_type. At 100 TB the
    * JSON parse cost is the scan's CPU bound; extracting the one
    * needed path (instead of `from_json` with a full schema)
    * materializes only the projected field. */
  def q50JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        sum("k").as("sum_k"),
        count_distinct(pmod(col("k"), lit(10))).as("n_k_mod10"))
      .orderBy("event_type")

  val q50OracleSql: String =
    """SELECT event_type,
      |       COUNT(CAST(json_extract(props, '$.k') AS INT)) AS n,
      |       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
      |       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
      |       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS INT) % 10) AS n_k_mod10
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Conditional (FILTER-clause) aggregation: several differently-
    * filtered aggregates of the SAME scan in ONE pass — the
    * cohort-metrics shape that would otherwise be N self-joins. Each
    * conditional aggregate is a when()-guarded partial, so the whole
    * query is a single scan + single agg exchange; the SQL FILTER
    * clause compiles to exactly this. */
  def q51FilteredAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_all"),
        count(when(col("l_discount") > 0.05, 1)).as("n_highdisc"),
        count(when(col("l_quantity") >= 25, 1)).as("n_bulk"),
        dsum(when(col("l_discount") > 0.05, col("l_extendedprice")))
          .as("rev_highdisc"),
        dsum(when(col("l_quantity") >= 25, col("l_extendedprice")))
          .as("rev_bulk"),
        avg(when(col("l_tax").isNotNull, col("l_quantity"))).as("avg_qty_taxed"))
      .orderBy("l_returnflag")

  val q51OracleSql: String =
    """SELECT l_returnflag,
      |       COUNT(*) AS n_all,
      |       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
      |       COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |              FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_highdisc,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |              FILTER (WHERE l_quantity >= 25) AS DOUBLE) AS rev_bulk,
      |       AVG(l_quantity) FILTER (WHERE l_tax IS NOT NULL) AS avg_qty_taxed
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q52
  /** FULL OUTER join — the one join type the reference's AST lacks
    * (ast.rs:69-74 stops at Right); completes the join family so a
    * reconciliation query (rows present on either side, matched where
    * possible) runs natively. Shuffled hash/merge join on the key;
    * null-extended rows on both sides. Sort order pins NULLS FIRST
    * explicitly — Spark and DuckDB default opposite null ordering. */
  def q52JoinFull(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000)
      .select("c_custkey", "c_acctbal")
    val ord = Tables.orders(s, d)
      .filter(col("o_totalprice") > 400000)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_acctbal"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  val q52OracleSql: String =
    """SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
      |FULL OUTER JOIN
      |     (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
      |      WHERE o_totalprice > 400000) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q53
  /** RANGE (interval) JOIN — match each event to the time interval
    * containing it, with NO shared equi-key between the sides (here:
    * nightly maintenance windows 22:00–02:00 spanning midnight,
    * derived per distinct event day). The naive formulation is a pure
    * theta join — a nested-loop/cartesian that dies at scale. This is
    * the BUCKETED interval join instead: each interval is exploded
    * over every day-bucket it overlaps (`sequence(day, day+1)` — a
    * window crossing midnight appears under both days), events carry
    * their own day bucket, and the join becomes an EQUI join on the
    * bucket with the range predicate as a residual filter. Each event
    * has one bucket, so no post-join dedup is needed. At 100 TB the
    * bucket key shuffles both sides hash-partitioned and candidate
    * volume is |events| × (windows per bucket) — linear, never the
    * |events|×|windows| product; bucket width tunes the residual
    * selectivity exactly like any interval-tree granularity. */
  def q53RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        to_date(col("ts")).as("bucket"))
    val win = Tables.events(s, d)
      .select(to_date(col("ts")).as("day")).distinct()
      .select(col("day"),
        (col("day").cast("timestamp") + expr("INTERVAL 22 HOURS")).as("w_start"),
        (col("day").cast("timestamp") + expr("INTERVAL 26 HOURS")).as("w_end"))
      .select(explode(sequence(col("day"), date_add(col("day"), 1))).as("bucket"),
        col("w_start"), col("w_end"))
    ev.join(win, "bucket")
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("event_id"), col("user_id"), col("ts"), col("w_start"))
      .orderBy("event_id")
  }

  val q53OracleSql: String =
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |win AS (SELECT day,
      |               CAST(day AS TIMESTAMP) + INTERVAL 22 HOUR AS w_start,
      |               CAST(day AS TIMESTAMP) + INTERVAL 26 HOUR AS w_end
      |        FROM days)
      |SELECT e.event_id, e.user_id, e.ts, w.w_start
      |FROM events e JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** NATIVE session windows — the engine's built-in `session_window`
    * aggregation (dynamic-gap session assignment inside the aggregate
    * operator) vs q26's manual lag+cumsum formulation: same sessions,
    * two implementations, which is exactly what makes it worth
    * grading — the built-in merges per-event [ts, ts+gap) ranges in
    * ONE aggregation pass (no window function, no two-phase
    * flag+cumsum), shuffling once on user_id. The session END differs
    * by convention (built-in: last_ts + gap; q26: last_ts), so the
    * comparable surface is (user, start, n, total). Boundary
    * semantics, EMPIRICALLY PINNED by the session_window-boundary
    * spec: an event at EXACTLY last_ts + gap MERGES into the session
    * (Spark treats the [ts, ts+gap] boundary inclusively), so the
    * oracle's lag formulation splits on `diff > gap` — the same
    * convention as q26, so the two formulations agree on every
    * input, boundary included. */
  def q54SessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        round(dsum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("sw.start").as("start_ts"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "start_ts")

  val q54OracleSql: String =
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
      |       CAST(COUNT(*) AS INT) AS n_events,
      |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      |FROM numbered
      |GROUP BY user_id, session_id
      |ORDER BY user_id, start_ts""".stripMargin

  // ---------------------------------------------------------------- q55
  /** ARGMAX / ARGMIN per group ("which order had the group's highest
    * price") via STRUCT-ordered MAX/MIN — deliberately NOT the bare
    * `max_by`/`arg_max` aggregates: under tied values those return an
    * arbitrary row (partition-order-dependent — nondeterministic on a
    * cluster and unverifiable against any oracle). A (value, key)
    * struct makes the comparison a total order, so the result is
    * deterministic under any partitioning — same single-pass, zero
    * extra shuffle, and the fix every distributed argmax needs at any
    * scale. */
  def q55Argmax(s: SparkSession, d: String): DataFrame = {
    val pk = struct(col("l_extendedprice").as("p"), col("l_orderkey").as("k"))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(max(pk).as("mx"), min(pk).as("mn"))
      .select(col("l_returnflag"),
        col("mx.k").as("top_order"), col("mx.p").as("top_price"),
        col("mn.k").as("bottom_order"), col("mn.p").as("bottom_price"))
      .orderBy("l_returnflag")
  }

  val q55OracleSql: String =
    """SELECT l_returnflag,
      |       MAX({'p': l_extendedprice, 'k': l_orderkey}).k AS top_order,
      |       MAX({'p': l_extendedprice, 'k': l_orderkey}).p AS top_price,
      |       MIN({'p': l_extendedprice, 'k': l_orderkey}).k AS bottom_order,
      |       MIN({'p': l_extendedprice, 'k': l_orderkey}).p AS bottom_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Time-series GAP FILLING over a generated date spine: every hour
    * between the table's bounds appears, with COALESCE(0) where no
    * events landed — the densification every downstream charting /
    * forecasting consumer needs (a groupBy alone silently drops empty
    * buckets). The spine derives from a 1-row min/max aggregate and
    * `sequence()` — thousands of rows however big the fact table, so
    * the fill join broadcasts the spine; fact-side work is the same
    * single agg as q19. */
  def q56GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val spine = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("hour_start"))
    val agg = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
    spine.join(agg, Seq("hour_start"), "left")
      .select(col("hour_start"), coalesce(col("n"), lit(0L)).as("n_purchases"))
      .orderBy("hour_start")
  }

  val q56OracleSql: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS lo,
      |         date_trunc('hour', MAX(ts)) AS hi
      |  FROM events
      |),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM b
      |),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |)
      |SELECT s.hour_start, COALESCE(a.n, 0) AS n_purchases
      |FROM spine s LEFT JOIN agg a ON s.hour_start = a.hour_start
      |ORDER BY s.hour_start""".stripMargin

  // ---------------------------------------------------------------- q57
  /** CORRELATED scalar subquery in the SELECT list (per-row lookup:
    * each customer's maximum order price, NULL where they have no
    * orders) — the missing sibling of q28 (uncorrelated scalar) and
    * q29 (correlated EXISTS). The naive reading is a per-row probe;
    * Catalyst DECORRELATES it into one aggregate over orders plus a
    * left outer join — the only plan that survives at scale — while
    * the oracle runs the same correlated text directly. Written as SQL
    * text because correlation is a parser-level feature the DataFrame
    * API cannot express. */
  def q57CorrelatedScalar(s: SparkSession, d: String): DataFrame =
    sqlOver(s, Seq("customer" -> Tables.customer(s, d), "orders" -> Tables.orders(s, d)))(q57Sql)

  private val q57Sql: String =
    """SELECT c_custkey, c_name,
      |       (SELECT MAX(o_totalprice) FROM orders
      |        WHERE o_custkey = c_custkey) AS max_order_price
      |FROM customer
      |WHERE c_acctbal > 5000
      |ORDER BY c_custkey""".stripMargin

  val q57OracleSql: String = q57Sql

  // ---------------------------------------------------------------- q58
  /** FORWARD FILL (per-key LOCF imputation): gaps in a measure take
    * the key's most recent observed value — `last_value(...,
    * ignoreNulls)` over a running frame, q56's sibling for the other
    * time-series repair (densify rows vs impute values). Values below
    * the sensor floor (< 2) are the planted nulls; a key's leading
    * nulls stay null (nothing to carry). One shuffle on user_id; the
    * running frame streams each partition — no buffering beyond the
    * frame cursor. Rounding pins the carried value to money precision
    * so the carried double is bit-identical cross-engine. */
  def q58ForwardFill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val measured = when(col("value") < 2, lit(null)).otherwise(round(col("value"), 2))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        measured.as("measured"),
        last(measured, ignoreNulls = true).over(w).as("filled"))
      .orderBy("event_id")
  }

  val q58OracleSql: String =
    """SELECT event_id, user_id, ts,
      |       CASE WHEN value < 2 THEN NULL ELSE ROUND(value, 2) END AS measured,
      |       last_value(CASE WHEN value < 2 THEN NULL
      |                       ELSE ROUND(value, 2) END IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Statistical aggregates per group — covariance, correlation,
    * standard deviation — computed from DECIMAL MOMENT SUMS rather
    * than the engines' streaming `corr`/`stddev` aggregates. The
    * built-ins update running moments whose floating-point result
    * depends on partition merge ORDER (nondeterministic on a cluster,
    * and engine-specific), while Σx, Σy, Σx², Σy², Σxy in DECIMAL are
    * exact and order-independent; the closed-form finishers then run
    * identical double arithmetic on identical inputs on both engines.
    * Same single scan + single exchange of constant-size partials as
    * any groupBy — the moment-sum trick costs nothing and is the only
    * formulation that is bit-reproducible at scale.
    *
    * Precision headroom, quantified (the honest 100 TB caveat): the
    * decimal products here are DECIMAL(38,4) (18,2 × 18,2), so SUM
    * saturates at 10³⁴. The largest term is y² ≈ 10¹⁰ (price ≤ ~100k),
    * leaving ~10²⁴ rows of headroom per group — ten orders of
    * magnitude beyond a 100 TB table (~10¹² rows), so overflow is not
    * reachable at the target scale with these columns. It IS reachable
    * with wider inputs (e.g. raw 10⁹-scale values squared → 10¹⁸/row →
    * ~10¹⁶-row ceiling), and with ANSI mode off Spark would return
    * NULL aggregates SILENTLY — so the spec asserts every published
    * moment is non-null, and inputs wider than ~10⁵ should pre-scale
    * (divide by a power of ten, multiply back in the finisher) rather
    * than widen the decimal (38 digits is the physical cap).
    *
    * Why DECIMAL and not [[money]]'s long sums: Σy² in 10^-4 units is
    * already 0.80·2^63 per l_returnflag group at sf0.1 (three groups,
    * so it grows linearly with the table) and passes 2^63 at about
    * sf0.125. A long would raise there; DECIMAL(38,4) is the one exact
    * representation at that magnitude. */
  def q59StatsAgg(s: SparkSession, d: String): DataFrame = {
    val x = dec(col("l_quantity"))            // ≤ 50.00
    val y = dec(col("l_extendedprice"))       // ≤ ~100k.00
    val n  = count(lit(1)).cast("double")
    val sx = sum(x).cast("double");  val sy  = sum(y).cast("double")
    val sxx = sum(x * x).cast("double"); val syy = sum(y * y).cast("double")
    val sxy = sum(x * y).cast("double")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round((sxy - sx * sy / n) / n, 4).as("covar_pop"),
        round(sqrt((sxx - sx * sx / n) / (n - 1)), 6).as("stddev_qty"),
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  val q59OracleSql: String =
    """SELECT l_returnflag,
      |  ROUND((sxy - sx*sy/n) / n, 4)                     AS covar_pop,
      |  ROUND(SQRT((sxx - sx*sx/n) / (n-1)), 6)           AS stddev_qty,
      |  ROUND((n*sxy - sx*sy)
      |        / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag,
      |         CAST(COUNT(*) AS DOUBLE) AS n,
      |         CAST(SUM(x) AS DOUBLE) AS sx,  CAST(SUM(y) AS DOUBLE) AS sy,
      |         CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
      |         CAST(SUM(x*y) AS DOUBLE) AS sxy
      |  FROM (SELECT l_returnflag,
      |               CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |        FROM lineitem)
      |  GROUP BY l_returnflag
      |) ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q60
  /** DETERMINISTIC MODE per group (the most frequent value; ties go to
    * the smallest value) — the engines' own `mode()` aggregates pick
    * an ARBITRARY row under ties (partition-order-dependent on a
    * cluster, unverifiable against any oracle). Two aggregations:
    * count per (group, value) — bounded cardinality, map-side partials
    * collapse the scan — then q55's struct-order trick with the count
    * NEGATED so one `min` expresses (count DESC, value ASC). No window
    * function, no sort; the second aggregate's input is already tiny
    * (distinct pairs, not rows) at any corpus size. */
  def q60Mode(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("c_nationkey")
      .agg(min(struct((-col("cnt")).as("nc"), col("c_mktsegment").as("v")))
        .as("m"))
      .select(col("c_nationkey"), col("m.v").as("modal_segment"),
        (-col("m.nc")).as("n_customers"))
      .orderBy("c_nationkey")

  val q60OracleSql: String =
    """SELECT c_nationkey,
      |       MIN({'nc': -cnt, 'v': c_mktsegment}).v  AS modal_segment,
      |       -MIN({'nc': -cnt, 'v': c_mktsegment}).nc AS n_customers
      |FROM (SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
      |      FROM customer GROUP BY 1, 2)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q61
  /** DISTINCT COUNT OVER A WINDOW — "how many distinct order
    * priorities has this row's customer ever used", attached to every
    * row. Spark's window functions reject COUNT(DISTINCT) outright;
    * the standard re-expression is `size(collect_set(...))` over the
    * partition — one shuffle on the partition key, set state bounded
    * by the distinct values (5 priorities), not the row count. The
    * oracle runs DuckDB's native COUNT(DISTINCT ...) OVER, so the
    * rewrite is proven equivalent, not just plausible. */
  def q61WindowDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        size(collect_set(col("o_orderpriority")).over(w)).as("n_prios"))
      .orderBy("o_orderkey")
  }

  val q61OracleSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(COUNT(DISTINCT o_orderpriority)
      |              OVER (PARTITION BY o_custkey) AS INT) AS n_prios
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q62
  /** RATIO-TO-REPORT (percent of total): each nation's share of global
    * revenue. The naive formulation windows `SUM() OVER ()` across the
    * raw fact table — a single-partition trap at any scale. Here the
    * corpus collapses FIRST (one groupBy to n_nation rows, map-side
    * partials), and only the bounded aggregate flows through the
    * empty-frame window — the total is computed over ≤ 25 rows however
    * large the fact table. Exact long sums keep shares bit-stable. */
  def q62RatioToReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(discUnits(col("l_extendedprice"), col("l_discount"))).as("rev"))
    // `rev` rides the window as exact LONG ten-thousandths; the
    // DIVISION runs on the doubles of the finished sums (decimal÷decimal
    // result scale differs between engines; identical doubles divide
    // bit-identically)
    rev
      .select(col("n_name"), money(col("rev"), 4).as("revenue"),
        round(money(col("rev"), 4) /
          money(sum(col("rev")).over(Window.partitionBy()), 4), 6)
          .as("share"))
      .orderBy("n_name")
  }

  val q62OracleSql: String =
    """WITH rev AS (
      |  SELECT n_name,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |)
      |SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
      |       ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 6)
      |         AS share
      |FROM rev ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q64
  /** TOP-N PER GROUP through the library's custom whole-operator plan
    * node ([[graft.plans.TopKPerGroup]]): each customer's 3 highest-
    * priced orders. The `row_number window ≤ n` formulation must sort
    * every partition completely and shuffle EVERY order row before
    * discarding any; the custom operator keeps a bounded k-row heap
    * per group and plans a MAP-SIDE PARTIAL pass (the partial-agg
    * pattern), so the one exchange carries at most k rows per (group,
    * input partition) — the difference that matters when the fact
    * table is 100 TB and k is 3. Total order (price DESC, orderkey
    * ASC) ⇒ deterministic under any partitioning; the DuckDB oracle
    * runs the window formulation, proving the operator equivalent. */
  def q64TopNPerGroup(s: SparkSession, d: String): DataFrame =
    Scale.topKPerGroup(Tables.orders(s, d), Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  val q64OracleSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q65
  /** MEDIAN ABSOLUTE DEVIATION per group — the robust outlier gate
    * (MAD tolerates the very outliers a stddev threshold is skewed
    * by). Inherently TWO aggregation passes — the deviations need the
    * group's median first — composed as: exact per-group median
    * (n_group rows) BROADCAST back onto the scan, then the second
    * aggregate over |x − median|. Both exchanges carry constant-size
    * partials; the broadcast join never shuffles the fact side. At
    * 100 TB both `percentile` calls swap for `approx_percentile`
    * (q47's sketch note) on an unchanged shape. */
  def q65Mad(s: SparkSession, d: String): DataFrame = {
    if (s.conf.get("spark.graft.percentile.approx", "false").toBoolean) {
      // the documented 100 TB mode: mergeable sketches on the original
      // two-aggregate shape (unchanged from the build rounds)
      val med = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(Scale.pctl(s, col("l_extendedprice"), 0.5).as("med"))
      Tables.lineitem(s, d)
        .join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          round(first(col("med")), 4).as("median_price"),
          round(Scale.pctl(s, abs(col("l_extendedprice") - col("med")), 0.5), 4)
            .as("mad"))
        .orderBy("l_returnflag")
    } else {
      // EXACT medians by SKETCH-BRACKETED SELECTION (round-10): the
      // built-in exact `percentile` buffers each group's full value
      // multiset in an OpenHashMap per partition and merges the maps —
      // the dominant cost of this query. Instead, [[Scale.exactPctl]]
      // brackets each group's k-th/(k+1)-th order statistics with one
      // mergeable bounded-memory sketch pass, reads the exact order
      // statistics out of the ~8n/accuracy bracket rows with one more
      // pass, and interpolates with Spark's own percentile formula —
      // bit-identical to the aggregate (spec-asserted on this very
      // table), in 4 narrow passes with no value-multiset buffers.
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val medians = Scale.exactPctl(s, li, "l_returnflag",
        col("l_extendedprice"), 0.5)
      val flags = medians.keys.toSeq.sorted
      val medCol = flags.foldLeft(lit(null).cast("double")) {
        case (acc, flag) =>
          when(col("l_returnflag") === flag, lit(medians(flag))).otherwise(acc)
      }
      val mads = Scale.exactPctl(s, li.select(col("l_returnflag"),
          abs(col("l_extendedprice") - medCol).as("dev")),
        "l_returnflag", col("dev"), 0.5)
      // round(_, 4) exactly as the Round expression does for doubles
      def r4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      flags.map(f => (f, r4(medians(f)), r4(mads(f))))
        .toDF("l_returnflag", "median_price", "mad")
        .orderBy("l_returnflag")
    }
  }

  val q65OracleSql: String =
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l.l_returnflag,
      |       ROUND(ANY_VALUE(m.med), 4) AS median_price,
      |       ROUND(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5), 4) AS mad
      |FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q66
  /** FUNNEL analysis (conversion sequencing): for each user, the
    * first click and the first purchase AFTER that click — did the
    * funnel convert, and how long did it take. Pure conditional
    * aggregation: min(ts) filtered per stage, the second stage's min
    * conditioned on the first via a self-free two-aggregate compose —
    * one scan, one exchange on user_id, no self-join (the naive
    * events×events formulation explodes quadratically in events per
    * user). */
  def q66Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("first_click"))
    // purchases join the per-user click time (broadcast: one row per
    // user — dimension-sized, not event-sized), keeping only later ones
    val conv = ev.filter(col("event_type") === "purchase")
      .join(broadcast(firstClick), "user_id")
      .filter(col("ts") >= col("first_click"))
      .groupBy("user_id")
      .agg(min(col("ts")).as("first_purchase"))
    firstClick.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("first_click"), col("first_purchase"),
        col("first_purchase").isNotNull.as("converted"),
        (unix_micros(col("first_purchase")) - unix_micros(col("first_click")))
          .as("micros_to_convert"))
      .orderBy("user_id")
  }

  val q66OracleSql: String =
    """WITH fc AS (
      |  SELECT user_id, MIN(ts) AS first_click FROM events
      |  WHERE event_type = 'click' GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id, MIN(e.ts) AS first_purchase
      |  FROM events e JOIN fc ON e.user_id = fc.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click
      |  GROUP BY e.user_id
      |)
      |SELECT fc.user_id, fc.first_click, fp.first_purchase,
      |       fp.first_purchase IS NOT NULL AS converted,
      |       epoch_us(fp.first_purchase) - epoch_us(fc.first_click)
      |         AS micros_to_convert
      |FROM fc LEFT JOIN fp ON fc.user_id = fp.user_id
      |ORDER BY fc.user_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** RETENTION / COHORT analysis: users grouped by their first-seen
    * day, then "how many of each cohort were active N days later" —
    * the engagement matrix every product-analytics deployment
    * computes. The cohort map is one row per user (dimension-sized):
    * it BROADCASTS back onto the event scan, so the fact table
    * shuffles once, keyed on the (cohort, offset) pair with map-side
    * partials; `count(distinct user)` swaps for q23's HLL sketch at
    * 100 TB on an unchanged shape. */
  def q67Retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cohort = ev.groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
    ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .join(broadcast(cohort), "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  val q67OracleSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
      |  FROM events GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
      |)
      |SELECT c.cohort_day,
      |       CAST(date_diff('day', c.cohort_day, a.day) AS INT) AS day_offset,
      |       COUNT(DISTINCT a.user_id) AS n_active
      |FROM activity a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------- q68
  /** The 100 TB QUANTILE PATH, exercised rather than footnoted: q47's
    * multi-quantile profile through `approx_percentile` — Spark's
    * Greenwald-Khanna sketch, whose per-partition summaries MERGE (one
    * exchange of constant-size sketches, like q23's HLL), where the
    * exact `percentile` buffers every value per group. Rank error is
    * bounded by 1/accuracy; the spec verifies the bound against the
    * exact values. Rows-only: the sketch's exact output is
    * engine-specific by nature (DuckDB's approx_quantile uses t-digest
    * — same contract, different arithmetic). */
  def q68ApproxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.9), 10000)")
        .as("qs"))
      .select(col("l_returnflag"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"),
        col("qs")(2).as("p75"), col("qs")(3).as("p90"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q69
  /** SKEW-SAFE (salted) join as an end-to-end query: q07's
    * revenue-by-priority join executed through [[Scale.saltedJoin]] —
    * the dimension side replicated over 4 salt ids and the fact side
    * scattered across them, so a single HOT KEY spreads over 4 tasks
    * instead of stalling one (AQE's skew handling splits oversized
    * PARTITIONS, not hot keys — salting is the lever when one key
    * dominates). Inner-join semantics are identical by construction,
    * which the q07-shaped oracle proves: the answer is bit-equal to
    * the unsalted join. */
  def q69SkewJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Scale.saltedJoin(li, o, "l_orderkey", salt = 4)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val q69OracleSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |         AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q70
  /** q70: TIME-WEIGHTED AVERAGE per (user, day) — the TWAP/telemetry
    * aggregate: each observation is weighted by how long it was the
    * CURRENT value (µs until the user's next event that day; the day's
    * last observation carries no interval and drops out). Everything
    * up to the final division is INTEGER/DECIMAL-exact — µs weights
    * are integers, value·weight products are DECIMAL sums — so the
    * emitted double is bit-identical on both engines regardless of
    * partitioning (the q59 order-independence discipline). One shuffle
    * on the (user, day) window key; the groupBy reuses it.
    *
    * Why DECIMAL and not [[money]]'s long sums: a (user, day) group
    * holds at most 8.64·10^10 µs of weight, so its sum does not grow
    * with the table (2.9·10^-4 of 2^63 at sf0.1). But in cents·µs one
    * row overflows a long once |value| passes about $1.07·10^6 held for
    * a day, and nothing bounds `value`. The long path would raise on
    * inputs that DECIMAL(38,2) sums exactly. */
  def q70TimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        date_trunc("day", col("ts")).as("day"), col("value"))
      .withColumn("wus", unix_micros(lead(col("ts"), 1).over(w)) -
        unix_micros(col("ts")))
      .filter(col("wus").isNotNull)
      .groupBy("user_id", "day")
      .agg(
        count(lit(1)).cast("int").as("n_intervals"),
        sum(col("wus")).as("observed_us"),
        round(sum(dec(col("value")) * col("wus")).cast("double") /
          sum(col("wus")), 4).as("twap"))
      .orderBy("user_id", "day")
  }

  val q70OracleSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
      |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      |  FROM events),
      |w AS (
      |  SELECT user_id, day, value,
      |         epoch_us(LEAD(ts) OVER (PARTITION BY user_id, day
      |                                 ORDER BY ts, event_id))
      |           - epoch_us(ts) AS wus
      |  FROM e)
      |SELECT user_id, day,
      |       CAST(COUNT(*) AS INT) AS n_intervals,
      |       CAST(SUM(wus) AS BIGINT) AS observed_us,
      |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2)) * wus) AS DOUBLE)
      |             / SUM(wus), 4) AS twap
      |FROM w WHERE wus IS NOT NULL
      |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project"      -> (q01ScanProject _),
    "q02_filter"            -> (q02Filter _),
    "q03_expr_math"         -> (q03ExprMath _),
    "q04_agg_group"         -> (q04AggGroup _),
    "q05_having"            -> (q05Having _),
    "q06_order_limit_offset" -> (q06OrderLimitOffset _),
    "q07_join_inner"        -> (q07JoinInner _),
    "q08_join_left"         -> (q08JoinLeft _),
    "q09_join_right"        -> (q09JoinRight _),
    "q10_join_cross"        -> (q10JoinCross _),
    "q11_join_multiway"     -> (q11JoinMultiway _),
    "q12_like"              -> (q12Like _),
    "q13_expr_case_null"    -> (q13ExprCaseNull _),
    "q14_distinct"          -> (q14Distinct _),
    "q15_sql_interface"     -> (q15SqlInterface _),
    "q16_explain_plans"     -> (q16ExplainPlans _),
    "q17_agg_global"        -> (q17AggGlobal _),
    "q18_window_funcs"      -> (q18WindowFuncs _),
    "q19_window_agg"        -> (q19WindowAgg _),
    "q20_point_lookup"      -> (q20PointLookup _),
    "q21_semi_anti"         -> (q21SemiAnti _),
    "q22_setops"            -> (q22SetOps _),
    "q23_approx_distinct"   -> (q23ApproxDistinct _),
    "q24_rollup"            -> (q24Rollup _),
    "q25_asof_join"         -> (q25AsofJoin _),
    "q26_sessionize"        -> (q26Sessionize _),
    "q27_pivot"             -> (q27Pivot _),
    "q28_scalar_subquery"   -> (q28ScalarSubquery _),
    "q29_correlated_exists" -> (q29CorrelatedExists _),
    "q30_not_in"            -> (q30NotIn _),
    "q31_string_funcs"      -> (q31StringFuncs _),
    "q32_datetime"          -> (q32Datetime _),
    "q33_index_lookup"      -> (q33IndexLookup _),
    "q34_moving_avg"        -> (q34MovingAvg _),
    "q35_cube"              -> (q35Cube _),
    "q36_median"            -> (q36Median _),
    "q37_string_agg"        -> (q37StringAgg _),
    "q38_array_funcs"       -> (q38ArrayFuncs _),
    "q39_regexp"            -> (q39RegexpExtract _),
    "q40_interval_arith"    -> (q40IntervalArith _),
    "q41_lateral"           -> (q41Lateral _),
    "q42_grouping_sets"     -> (q42GroupingSets _),
    "q43_recursive_cte"     -> (q43RecursiveCte _),
    "q44_setops_all"        -> (q44SetOpsAll _),
    "q45_window_distribution" -> (q45WindowDistribution _),
    "q46_histogram"         -> (q46Histogram _),
    "q47_percentiles"       -> (q47Percentiles _),
    "q48_range_window"      -> (q48RangeWindow _),
    "q49_unpivot"           -> (q49Unpivot _),
    "q50_json_extract"      -> (q50JsonExtract _),
    "q51_filtered_agg"      -> (q51FilteredAgg _),
    "q52_join_full"         -> (q52JoinFull _),
    "q53_range_join"        -> (q53RangeJoin _),
    "q54_session_window"    -> (q54SessionWindow _),
    "q55_argmax"            -> (q55Argmax _),
    "q56_gap_fill"          -> (q56GapFill _),
    "q57_correlated_scalar" -> (q57CorrelatedScalar _),
    "q58_forward_fill"      -> (q58ForwardFill _),
    "q59_stats_agg"         -> (q59StatsAgg _),
    "q60_mode"              -> (q60Mode _),
    "q61_window_distinct"   -> (q61WindowDistinct _),
    "q62_ratio_to_report"   -> (q62RatioToReport _),
    "q64_topn_per_group"    -> (q64TopNPerGroup _),
    "q65_mad"               -> (q65Mad _),
    "q66_funnel"            -> (q66Funnel _),
    "q67_retention"         -> (q67Retention _),
    "q68_approx_percentiles" -> (q68ApproxPercentiles _),
    "q69_skew_join"         -> (q69SkewJoin _),
    "q70_time_weighted_avg" -> (q70TimeWeightedAvg _))

  val oracleSql: Map[String, String] = Map(
    "q01_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
        |FROM lineitem
        |WHERE (l_quantity >= 30 AND l_discount <= 0.05 AND NOT (l_returnflag = 'A'))
        |   OR l_tax IS NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_expr_math" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_quantity + l_tax AS qty_plus_tax,
        |       l_extendedprice * l_discount AS discount_amt,
        |       l_extendedprice / l_quantity AS unit_price,
        |       -l_tax AS neg_tax,
        |       POWER(2.0, l_linenumber) AS pow2,
        |       CAST(factorial(l_linenumber) AS BIGINT) AS fact,
        |       CAST(l_quantity AS INT) % 7 AS qty_mod7
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       MIN(l_quantity) AS min_qty,
        |       MAX(l_quantity) AS max_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q05_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 3
        |   AND CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 100000.0
        |ORDER BY o_custkey""".stripMargin,
    "q06_order_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 50 OFFSET 10""".stripMargin,
    "q07_join_inner" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q08_join_left" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        |         AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q09_join_right" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q10_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "q11_join_multiway" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q12_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
        |WHERE p_name LIKE '%gear%'
        |   OR (p_type LIKE 'SMALL%' AND p_brand NOT LIKE '%#1%')
        |ORDER BY p_partkey""".stripMargin,
    "q13_expr_case_null" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderstatus = 'F' THEN 'finished'
        |            WHEN o_orderstatus = 'O' THEN 'open'
        |            ELSE 'other' END AS status_word,
        |       COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio,
        |       NULLIF(o_orderstatus, 'P') IS NULL AS is_pending
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q14_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "q15_sql_interface" -> q15Sql,
    "q17_agg_global" ->
      """SELECT COUNT(*) AS n_rows,
        |       COUNT(DISTINCT l_suppkey) AS n_supp,
        |       MIN(l_shipdate) AS min_ship,
        |       MAX(l_shipdate) AS max_ship,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem""".stripMargin,
    "q18_window_funcs" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |         CAST(RANK() OVER w AS INT) AS rnk,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |              OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice DESC, o_orderkey ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |           AS running_spent
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q19_window_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "q20_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey = 1000""".stripMargin,
    "q21_semi_anti" ->
      """SELECT c_custkey, TRUE AS has_orders FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, FALSE AS has_orders FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q22_setops" ->
      """WITH a AS (SELECT DISTINCT c_nationkey AS nk FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |     b AS (SELECT DISTINCT s_nationkey AS nk FROM supplier
        |           WHERE s_acctbal > 0)
        |(SELECT nk FROM a UNION SELECT nk FROM b)
        |EXCEPT
        |(SELECT nk FROM a INTERSECT SELECT nk FROM b)
        |ORDER BY nk""".stripMargin,
    "q24_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q25_asof_join" ->
      """WITH errors AS (SELECT * FROM events WHERE event_type = 'error'),
        |     clicks AS (SELECT * FROM events WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id,
        |       CAST(e.ts AS TIMESTAMP) AS err_ts,
        |       CAST(c.ts AS TIMESTAMP) AS last_click_ts
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY e.event_id""".stripMargin,
    "q26_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
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
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(MIN(ts) AS TIMESTAMP) AS start_ts,
        |       CAST(MAX(ts) AS TIMESTAMP) AS end_ts,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM numbered
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q27_pivot" ->
      """SELECT c_nationkey,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q28_scalar_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q29_correlated_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q30_not_in" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE s_nationkey NOT IN (
        |  SELECT c_nationkey FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderstatus = 'P')
        |ORDER BY s_suppkey""".stripMargin,
    "q31_string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS up,
        |  LOWER(p_brand) AS lo,
        |  TRIM('  ' || p_type || ' ') AS trimmed,
        |  SUBSTRING(p_name, 1, 4) AS sub4,
        |  CONCAT_WS('-', p_brand, p_type) AS joined,
        |  REGEXP_REPLACE(p_name, ' ', '_', 'g') AS snake,
        |  LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  CAST(LENGTH(p_name) AS INT) AS len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q32_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(dayofmonth(o_orderdate) AS INT) AS dom,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  date_trunc('month', o_orderdate) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q33_index_lookup" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal >= 9000 AND c_acctbal <= 9500
        |ORDER BY c_custkey""".stripMargin,
    "q34_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1
        |)
        |SELECT day, day_total,
        |       CAST(SUM(CAST(day_total AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |         / COUNT(*) OVER w AS ma7
        |FROM daily
        |WINDOW w AS (ORDER BY day
        |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q35_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q36_median" ->
      """SELECT l_returnflag, MEDIAN(l_quantity) AS median_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q37_string_agg" ->
      """SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
        |       COUNT(*) AS n_nations
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q38_array_funcs" ->
      """SELECT p_partkey,
        |       CAST(len(string_split(p_name, ' ')) AS INT) AS n_tokens,
        |       array_to_string(list_sort(string_split(p_name, ' '))[1:3], '|') AS first3,
        |       list_contains(string_split(p_name, ' '), 'green') AS has_green,
        |       string_split(p_name, ' ')[1] AS tok1
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q39_regexp" ->
      """SELECT p_partkey,
        |       regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |       CAST(len(regexp_extract_all(p_brand, '\d')) AS INT) AS n_digits,
        |       regexp_matches(p_type, 'PLATED|BRUSHED') AS finished
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q40_interval_arith" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) + 90 AS due_date,
        |       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT)
        |         AS days_to_eoy,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q41_lateral" -> q41Sql,
    "q42_grouping_sets" -> q42Sql,
    "q43_recursive_cte" -> q43Sql,
    "q44_setops_all" -> q44Sql,
    "q45_window_distribution" -> q45OracleSql,
    "q46_histogram"   -> q46OracleSql,
    "q47_percentiles" -> q47OracleSql,
    "q48_range_window" -> q48OracleSql,
    "q49_unpivot"      -> q49OracleSql,
    "q50_json_extract" -> q50OracleSql,
    "q51_filtered_agg" -> q51OracleSql,
    "q52_join_full"    -> q52OracleSql,
    "q53_range_join"   -> q53OracleSql,
    "q54_session_window" -> q54OracleSql,
    "q55_argmax"       -> q55OracleSql,
    "q56_gap_fill"     -> q56OracleSql,
    "q57_correlated_scalar" -> q57OracleSql,
    "q58_forward_fill" -> q58OracleSql,
    "q59_stats_agg" -> q59OracleSql,
    "q60_mode" -> q60OracleSql,
    "q61_window_distinct" -> q61OracleSql,
    "q62_ratio_to_report" -> q62OracleSql,
    "q64_topn_per_group" -> q64OracleSql,
    "q65_mad" -> q65OracleSql,
    "q66_funnel" -> q66OracleSql,
    "q67_retention" -> q67OracleSql,
    "q69_skew_join" -> q69OracleSql,
    "q70_time_weighted_avg" -> q70OracleSql)
}
