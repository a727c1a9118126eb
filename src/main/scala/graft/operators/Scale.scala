package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: the join strategies a 100 TB deployment reaches
  * for when the defaults hit their limits (SURVEY.md §3).
  *
  * - [[saltedJoin]]: skew mitigation when one key dominates — AQE's
  *   skew-join splits oversized *partitions*, but a single hot KEY
  *   still lands in one task; salting spreads it over `salt` tasks.
  * - [[writeBucketed]] / co-located joins: pre-shuffling fact tables
  *   into matching bucket layouts makes every later equi-join on the
  *   bucket key shuffle-free — the biggest single lever for repeated
  *   joins over the same keys.
  */
object Scale {

  /** Percentile aggregate with an EXECUTABLE 100 TB mode. Default:
    * exact `percentile` — the DuckDB-oracle-exact semantics the
    * correctness gate needs, which buffers each group's value multiset
    * (ObjectHashAggregate). With `spark.graft.percentile.approx=true`:
    * the mergeable, bounded-memory `approx_percentile` sketch (rank
    * error ≤ N/accuracy; accuracy from
    * `spark.graft.percentile.accuracy`, default 10000) on the SAME
    * query shape — the config-gated swap-in used by q36/q47/q65/p09/
    * p14, so the documented scale claim is executable, not prose. The
    * conf is read at plan-build time, like every other graft knob. */
  def pctl(s: SparkSession, c: Column, p: Double): Column =
    if (s.conf.get("spark.graft.percentile.approx", "false").toBoolean)
      // cast: approx_percentile returns the INPUT type (it picks a real
      // data value, no interpolation); exact percentile returns double.
      // The two modes must agree on the output SCHEMA for the swap to
      // be shape-preserving.
      approx_percentile(c, lit(p),
        lit(s.conf.get("spark.graft.percentile.accuracy", "10000").toInt))
        .cast("double")
    else percentile(c, lit(p))

  /** EXACT per-group percentile by SKETCH-BRACKETED SELECTION — the
    * distributed form of the exact `percentile` aggregate, for the
    * case where buffering each group's full value multiset (the
    * aggregate's OpenHashMap per partition, merged across partitions)
    * is the dominant cost.
    *
    * Pass 1 (mergeable, bounded memory): per group, the row count n
    * and an approx_percentile sketch queried at p±4ε (ε = 1/accuracy).
    * The sketch's rank error is ≤ εn, so the returned value bracket
    * [a, b] provably contains the target order statistics at ranks
    * k = ⌊p(n−1)⌋ and k+1: rank(a) ≤ (p−3ε)n < k and
    * rank(b) ≥ (p+3ε)n > k+1, with 3εn slack each side.
    * Pass 2 (codegen filters): per group, |{v < a}|, |{v = a}|,
    * |{v = b}| and the sorted values STRICTLY inside (a, b) — at most
    * the ≈8εn ranks between the two sketch answers, however many rows
    * tie at a bracket end. The order statistics are indexed over the
    * run `a × |{v = a}| ++ inside ++ b × |{v = b}|` (one run when
    * a = b) without materializing it. The exact k-th/(k+1)-th values
    * are read off by index and interpolated with the percentile
    * aggregate's own formula ((hi−pos)·lo + (pos−lo)·hi, pos = p·(n−1))
    * — the same double arithmetic, hence the same result bit for bit
    * (spec-asserted against the aggregate on the real tables and on
    * groups of one or two distinct values).
    *
    * Driver memory is groups × 8n/accuracy rows (tune
    * spark.graft.percentile.accuracy upward for enormous groups). If a
    * degenerate sketch ever leaves a target index outside the
    * collected bracket (mathematically excluded by the rank bound, but
    * guarded anyway), that group FALLS BACK to the exact aggregate —
    * correctness never rests on the sketch. */
  def exactPctl(s: SparkSession, df: DataFrame, groupCol: String,
      value: Column, p: Double): Map[String, Double] =
    exactPctlBracketed(s, df, groupCol, value, p).map { case (g, (v, _)) => g -> v }

  /** [[exactPctl]] with each group's collected in-bracket value count
    * (what a spec bounds). */
  private[graft] def exactPctlBracketed(s: SparkSession, df: DataFrame, groupCol: String,
      value: Column, p: Double): Map[String, (Double, Int)] = {
    val acc = s.conf.get("spark.graft.percentile.accuracy", "10000").toInt
    val eps = 1.0 / acc
    val pLo = math.max(0.0, p - 4 * eps)
    val pHi = math.min(1.0, p + 4 * eps)
    val sketch = df.groupBy(groupCol)
      .agg(count(value).as("n"),
        approx_percentile(value, array(lit(pLo), lit(pHi)), lit(acc)).as("br"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2)))
      .filter(_._2 > 0L)
    if (sketch.isEmpty) return Map.empty
    // per-group bracket filters ride ONE pass as when-chains keyed on
    // the group column — no join, no per-group jobs
    val aOf = sketch.foldLeft(lit(null).cast("double")) { case (c, (g, _, br)) =>
      when(col(groupCol) === g, lit(br.head)).otherwise(c) }
    val bOf = sketch.foldLeft(lit(null).cast("double")) { case (c, (g, _, br)) =>
      when(col(groupCol) === g, lit(br.last)).otherwise(c) }
    val resolved = df.groupBy(groupCol)
      .agg(count(when(value < aOf, 1)).as("below"),
        count(when(value === aOf, 1)).as("atA"),
        count(when(value === bOf, 1)).as("atB"),
        sort_array(collect_list(when(value > aOf && value < bOf, value)))
          .as("inside"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getSeq[Double](4)))
      .toMap
    sketch.map { case (g, n, br) =>
      val pos = p * (n - 1)
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val (below, atA, atB0, inside) = resolved(g)
      val (a, b) = (br.head, br.last)
      // a = b under SQL equality (NaN = NaN, -0.0 = 0.0): one run
      val atB = if (a == b || (a.isNaN && b.isNaN)) 0L else atB0
      def at(rank: Long): Option[Double] = {
        val i = rank - below
        if (i < 0) None
        else if (i < atA) Some(a)
        else if (i - atA < inside.length) Some(inside((i - atA).toInt))
        else if (i - atA - inside.length < atB) Some(b)
        else None
      }
      val exact = (at(lower), at(higher)) match {
        case (Some(lo), Some(hi)) =>
          if (higher == lower) lo else (higher - pos) * lo + (pos - lower) * hi
        case _ =>
          // guarded fallback: the exact aggregate for this group only
          df.filter(col(groupCol) === g)
            .agg(percentile(value, lit(p))).head().getDouble(0)
      }
      g -> (exact, inside.length)
    }.toMap
  }

  /** Hot-set probe join with the HOSTILE-CORPUS guard shared by
    * d14/t25 (and any future duplicated-content probe): the hot frame
    * is bounded by how much DUPLICATED content exists, not corpus
    * size — but a boilerplate-heavy web crawl makes exactly that bound
    * the failure mode (site-wide templates can push it to GBs), so the
    * broadcast is gated structurally, never assumed.
    *
    * The gate is BYTE-aware, not row-count-only: broadcast requires
    * rows ≤ `spark.graft.hotBroadcastLimit` (default 10M) AND
    * estimated bytes ≤ `spark.graft.hotBroadcastBytes` (default
    * 128 MB). 10M 8-byte hash keys (~80 MB — the documented 100 TB
    * shape, where the key is hashed before the guard) broadcast fine;
    * 10k full text lines of 100 KB each are ~1 GB and must degrade to
    * a shuffle-hash join even though the row count passes. The
    * estimate is the EXACT octet length for string/binary columns
    * (+16 B per-value overhead) plus each remaining column's fixed
    * defaultSize, summed in the same aggregate as the row count — one
    * job either way.
    *
    * Materialization: eager localCheckpoint + the sizing aggregate run
    * at frame-construction time — the join strategy is structural, so
    * the decision cannot wait for the first action; callers' EXPLAIN
    * paths pay one bounded aggregate over the hot frame, never the
    * full join. localCheckpoint rather than persist, DELIBERATELY:
    * these hot frames are per-query (d14/t25 build a fresh one per
    * invocation), and a persist() registers a CacheManager entry the
    * session holds strongly until an unpersist that no caller is
    * positioned to issue — a long-lived server session would leak one
    * materialized frame per query. Checkpointed RDDs are released by
    * the ContextCleaner when the frame is garbage-collected. The
    * tradeoff is executor-loss sensitivity (a lost executor
    * invalidates a non-reliable checkpoint mid-query and the QUERY
    * restarts); at 100 TB a pipeline materializes the hot set as a
    * stored table instead, where neither concern exists. */
  def hotGuardedJoin(s: SparkSession, probe: DataFrame, hot: DataFrame,
      keys: Seq[String], joinType: String): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val hotM = hot.localCheckpoint()
    val rowLimit = s.conf.get("spark.graft.hotBroadcastLimit", "10000000").toLong
    val byteLimit = s.conf.get("spark.graft.hotBroadcastBytes",
      (128L * 1024 * 1024).toString).toLong
    val rowBytes = hotM.schema.fields.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L)) + lit(16L)
        case dt => lit(dt.defaultSize.toLong)
      }
    }.reduce(_ + _)
    val sized = hotM.agg(count(lit(1)).as("n"), sum(rowBytes).as("bytes")).head()
    val n = sized.getLong(0)
    val bytes = if (sized.isNullAt(1)) 0L else sized.getLong(1)
    if (n <= rowLimit && bytes <= byteLimit) probe.join(broadcast(hotM), keys, joinType)
    else probe.join(hotM.hint("shuffle_hash"), keys, joinType)
  }

  /** Top-k rows per group through the custom
    * [[graft.plans.TopKPerGroup]] plan node — bounded-heap selection
    * with a MAP-SIDE PARTIAL pass, vs the row_number window's
    * full-sort-and-shuffle-everything. `order` is (column, ascending)
    * pairs and MUST be total (include a unique tie-break column) for a
    * deterministic result. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val plan = df.queryExecution.analyzed
    // resolve by name over ALL matches: after a join the plan can carry
    // two attributes with one name — silently binding the first could
    // group or order on the wrong side's column with no error
    def attr(n: String) = plan.output.filter(_.name.equalsIgnoreCase(n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(s"topKPerGroup: no column $n")
      case many => throw new IllegalArgumentException(
        s"topKPerGroup: ambiguous column $n (${many.size} attributes match — " +
          "alias or select the intended one first)")
    }
    val ord = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    org.apache.spark.sql.GraftColumnBridge.ofRows(df.sparkSession,
      graft.plans.TopKPerGroup(groupCols.map(attr), ord, k, plan))
  }

  /** Skew-safe inner equi-join: replicates each `right` row `salt`
    * times (salt id appended to the key) and scatters `left` rows
    * uniformly over the salt ids, so a hot key's probe rows spread
    * across `salt` tasks instead of one. Semantics identical to
    * `left.join(right, key)` for inner joins. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salt: Int): DataFrame = {
    require(salt >= 1, s"saltedJoin: salt must be >= 1, got $salt (0 would drop every row)")
    val saltCol = "__graft_salt"
    val l = left.withColumn(saltCol, (rand(seed = 7) * salt).cast("int"))
    val r = right.withColumn(saltCol, explode(array((0 until salt).map(lit): _*)))
    l.join(r, Seq(key, saltCol), "inner").drop(saltCol)
  }

  /** Writes `df` bucketed by `key` into the session catalog as
    * `table`. Two tables bucketed the same way equi-join on the
    * bucket key with NO exchange on either side. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Reads a bucketed table back from the session catalog. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Skew-safe per-group cap: keep the `n` rows with the smallest
    * `ord` per `group` — same result as one `row_number` window, but a
    * window puts an entire group in one task, so one mega-group (the
    * single-domain crawl dump) stalls the stage. Two phases bound it:
    * rank within (group, hash-salt) sub-groups — each task sees
    * ~group/salt rows — keep sub-top-n (≤ salt·n survivors per group,
    * regardless of group size), then re-rank the survivors exactly.
    * Phase 2's per-group input is ≤ salt·n rows, constant, so its
    * window can never skew.
    *
    * The salt hashes `saltKey` (default: `ord`), so the spread — and
    * with it the phase-1 bound — needs saltKey values to be ~unique
    * within a group: salting a low-cardinality key (e.g. a date
    * column with millions of rows per date) lands each value's rows
    * in ONE bucket and the bound is lost. Pass a unique row id as
    * `saltKey` in that case. Deterministic for distinct `ord` values
    * (ties broken by the salt partition, like any non-total window
    * order). */
  def saltedCapPerGroup(df: DataFrame, group: String, ord: String,
      n: Int, salt: Int, saltKey: Option[String] = None): DataFrame = {
    require(n >= 1 && salt >= 1, s"saltedCapPerGroup: n=$n salt=$salt")
    import org.apache.spark.sql.expressions.Window
    val saltCol = "__graft_capsalt"
    val sub = Window.partitionBy(col(group), col(saltCol)).orderBy(col(ord))
    val fin = Window.partitionBy(col(group)).orderBy(col(ord))
    df.withColumn(saltCol, pmod(xxhash64(col(saltKey.getOrElse(ord))), lit(salt)))
      .withColumn("__sub_rn", row_number().over(sub))
      .filter(col("__sub_rn") <= n) // survivors: ≤ salt·n per group
      .withColumn("rn", row_number().over(fin))
      .filter(col("rn") <= n)
      .drop(saltCol, "__sub_rn")
  }
}
