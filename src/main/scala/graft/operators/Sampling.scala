package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset splitting / sampling for training pipelines (SURVEY.md §2
  * scale ops). Both are single-scan, shuffle-free column operations —
  * assignment is a function of the row, so it is stable under
  * re-partitioning, retries, and incremental reprocessing (the
  * property `randomSplit` does NOT have: its assignment depends on
  * partition layout). */
object Sampling {

  /** p01: deterministic train/val/test assignment by key hash:
    * pmod(xxhash64(doc_id), 100) → <90 train, <95 val, else test.
    * Re-running over a grown corpus never reassigns an existing row. */
  def p01HashSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(xxhash64(col("doc_id")), lit(100))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** p02: stratified sample — per-stratum Bernoulli decided by a PURE
    * row function (key hash vs per-stratum threshold), so membership
    * is stable under re-partitioning, task retries, and corpus growth.
    * `sampleBy` would not be: it draws from rand(seed), whose value
    * depends on partition index and row position — the moment file
    * splits shift, a different sample comes back. Strata absent from
    * the fraction map are excluded (sampleBy semantics). */
  def p02StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val fractions = Seq("en" -> 0.5, "fr" -> 0.5, "de" -> 0.5, "es" -> 0.5, "zh" -> 0.5)
    val seed = 42L
    val draw = pmod(xxhash64(col("doc_id"), col("lang"), lit(seed)), lit(10000))
    val threshold = fractions.foldLeft(lit(-1)) { case (acc, (l, f)) =>
      when(col("lang") === l, lit((f * 10000).toInt)).otherwise(acc)
    }
    Tables.documents(s, d)
      .filter(draw < threshold)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** p03: leakage-safe TEMPORAL split — train strictly before the
    * cutoff, test at/after it. The split every time-series / events
    * model needs: a hash split would leak future rows of a user into
    * training. Pure row predicate → single scan, no shuffle except the
    * final presentation sort, stable under reprocessing; and unlike
    * p01/p02's engine-specific hashes, exactly SQL-expressible, so it
    * is DuckDB-oracle-checked. */
  def p03TimeSplit(s: SparkSession, d: String): DataFrame = {
    // to_timestamp resolves in the pinned SESSION timezone (UTC) —
    // java.sql.Timestamp.valueOf would parse in the JVM default zone
    // and silently shift the cutoff against the UTC-literal oracle
    val cutoff = to_timestamp(lit("2024-01-22 00:00:00"))
    Tables.events(s, d)
      .select(
        col("event_id"), col("user_id"),
        when(col("ts") < cutoff, "train").otherwise("test").as("split"))
      .orderBy("event_id")
  }

  val p03OracleSql: String =
    """SELECT event_id, user_id,
      |       CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
      |            THEN 'train' ELSE 'test' END AS split
      |FROM events ORDER BY event_id""".stripMargin

  /** p04: per-group quota cap — "keep at most N documents per
    * language/domain", the balance pass crawl pipelines run so one
    * giant domain can't dominate the corpus. Deterministic rank
    * (doc_id order, no RNG) so reprocessing keeps the same rows. One
    * shuffle on the group key; at 100 TB the rank never materializes
    * the group — row_number streams each partition, and AQE's skew
    * split doesn't apply to windows, so a pathological mega-group is
    * the one skew [[Scale.saltedCapPerGroup]] bounds (rank within
    * hash-salted subgroup, then exact re-rank of the ≤ salt·N
    * survivors — spec-proven identical to this plain cap). */
  def p04CapPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 50)
      .orderBy("lang", "doc_id")
  }

  val p04OracleSql: String =
    """SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
      |  SELECT doc_id, lang,
      |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin

  /** p05: EXACT-QUOTA mixture composition — build a training mix that
    * hits target proportions per source class exactly ("upweight
    * curated, downweight web"), not in expectation like p02's
    * Bernoulli. Budget = 40% of the corpus; web sources (src0-src9)
    * get 25% of the budget, curated (src10+) get 75%. Selection within
    * a class is a deterministic rank over an arithmetic PRF
    * (LCG — pure BIGINT arithmetic, so the DuckDB oracle reproduces it
    * bit-exactly; production would swap in xxhash64, p01's pattern),
    * tie-broken by doc_id → reprocessing-stable. One shuffle on the
    * class key; quotas are driver-side literals from a parquet-footer
    * count. A 2-class partition ranks whole classes on single
    * partitions at 100 TB — there, rank via [[Scale.saltedCapPerGroup]]
    * (salted two-phase rank, spec-proven identical). */
  def p05Mixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val budget = docs.count() * 40 / 100 // footer count; integer math in both engines
    val webQuota = budget * 25 / 100
    val curQuota = budget * 75 / 100
    val cls = when(substring(col("source"), 4, 8).cast("int") < 10, "web")
      .otherwise("curated")
    // key reduced mod 2^31 BEFORE the multiply: doc_id * multiplier
    // must stay inside i64 at ANY corpus size (Spark would silently
    // wrap negative past ~8e9 docs while DuckDB errors — breaking both
    // the oracle and the determinism claim at exactly the scale this
    // operator targets); (2^31-1) * 1103515245 < 2^63 always holds
    val prf = (pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L)
      + lit(12345L)) % lit(2147483648L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("class")).orderBy(col("prf"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), cls.as("class"), prf.as("prf"))
      .withColumn("rn", row_number().over(w))
      .filter(
        (col("class") === "web" && col("rn") <= webQuota) ||
          (col("class") === "curated" && col("rn") <= curQuota))
      .select("doc_id", "source", "class")
      .orderBy("doc_id")
  }

  val p05OracleSql: String =
    """WITH n AS (SELECT COUNT(*) AS nd FROM documents),
      |cls AS (
      |  SELECT doc_id, source,
      |         CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10
      |              THEN 'web' ELSE 'curated' END AS class,
      |         ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS prf
      |  FROM documents
      |),
      |ranked AS (
      |  SELECT doc_id, source, class,
      |         ROW_NUMBER() OVER (PARTITION BY class ORDER BY prf, doc_id) AS rn
      |  FROM cls
      |)
      |SELECT r.doc_id, r.source, r.class
      |FROM ranked r CROSS JOIN n
      |WHERE (r.class = 'web'     AND r.rn <= (n.nd * 40 // 100) * 25 // 100)
      |   OR (r.class = 'curated' AND r.rn <= (n.nd * 40 // 100) * 75 // 100)
      |ORDER BY r.doc_id""".stripMargin

  /** p06: deterministic EPOCH SHUFFLE — the training-order pass: rows
    * get a global order that is a pure function of (seed, key), so
    * every rerun, worker, and resumed job sees the identical order
    * (a `rand()`-based orderBy is partition-layout-dependent and
    * unrepeatable). Different seeds give independent epoch orders.
    * One range-partitioned sort at any scale — exactly what writing a
    * shuffled training manifest costs. The arithmetic PRF (p05's LCG)
    * makes it DuckDB-oracle-exact; production would use xxhash64. */
  def p06EpochShuffle(s: SparkSession, d: String): DataFrame = {
    val seed = 3L
    // same mod-2^31 reduction as p05: the multiply stays in i64 at
    // any corpus size on both engines
    val prf = (pmod(col("doc_id"), lit(2147483648L)) * lit(22695477L)
      + lit(seed)) % lit(2147483648L)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), prf.as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))
  }

  val p06OracleSql: String =
    """SELECT doc_id, source,
      |       ((doc_id % 2147483648) * 22695477 + 3) % 2147483648 AS shuffle_key
      |FROM documents
      |ORDER BY shuffle_key, doc_id""".stripMargin

  /** p07: SEQUENCE PACKING — the concat-and-cut layout LLM training
    * uses: documents are laid out in doc_id order and cut every 256
    * tokens; each doc learns which pack it starts in and at what
    * offset. The core is an exclusive prefix sum of token counts in a
    * global order — computed the DISTRIBUTED way: contiguous doc_id
    * buckets prefix-sum IN PARALLEL (window partitioned by bucket),
    * and only the ≤32 per-bucket subtotals go through a single-row
    * prefix pass before broadcasting back. A naive
    * `Window.orderBy(doc_id)` would drag the whole corpus into ONE
    * partition — the formulation here is the one that survives 100 TB
    * (bucket boundaries come from value ranges, so the result is
    * independent of physical layout; at scale the ingest-time
    * bucketing supplies them for free). Pack arithmetic is
    * shift/modulo on a power-of-two budget — bit-exact on both
    * engines. */
  def p07PackSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // contiguous value-range buckets: doc_id span / 32 (footer-cheap
    // bounds scan; ids are dense here, and sparse ids only unbalance
    // buckets, never break correctness)
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    // empty table: min/max are NULL — any bounds work, the scan is empty
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val bsz = math.max(1L, (span + 31) / 32)
    val nTokens =
      (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
        .cast("long")
    val base = docs.select(col("doc_id"), nTokens.as("n_tokens"),
      ((col("doc_id") - lo) / bsz).cast("long").as("pid"))
    val wPrev = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPid = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤32 rows: the only single-partition step is over bucket subtotals
    val offsets = base.groupBy("pid").agg(sum("n_tokens").as("bucket_tokens"))
      .select(col("pid"),
        coalesce(sum("bucket_tokens").over(wPid), lit(0L)).as("pid_offset"))
    base.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(sum("n_tokens").over(wPrev), lit(0L)) + col("pid_offset"))
          .as("tokens_before"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        shiftright(col("tokens_before"), 8).as("pack_id"),
        (col("tokens_before") % 256).as("pack_offset"),
        shiftright(col("tokens_before") + col("n_tokens") - 1, 8).as("pack_id_end"))
      .orderBy("doc_id")
  }

  val p07OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1
      |              AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |              AS BIGINT) AS tokens_before
      |  FROM t)
      |SELECT doc_id, n_tokens, tokens_before,
      |       tokens_before // 256 AS pack_id,
      |       tokens_before % 256 AS pack_offset,
      |       (tokens_before + n_tokens - 1) // 256 AS pack_id_end
      |FROM c ORDER BY doc_id""".stripMargin

  /** p08: DATA SELECTION UNDER A TOKEN BUDGET — the "best data first"
    * curation step: rank documents by quality score (t02's shared
    * formula) and take them greedily until the token budget is
    * exhausted (the document that crosses the line is kept:
    * membership is `tokens_before < B`). The running total in
    * (score DESC, doc_id) order is p07's distributed prefix sum
    * re-keyed on SCORE-RANGE buckets: scores live in [0,1], so
    * `pid = floor((1-score)*32)` gives 32 contiguous buckets in rank
    * order — every score in bucket b sorts before every score in
    * b+1 — so buckets prefix-sum IN PARALLEL and only the ≤32
    * subtotals pass through a single-row window before broadcasting
    * back. A naive `Window.orderBy(score)` would drag the corpus
    * into one partition; this shape survives 100 TB. */
  def p08TokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 12000L
    // null-text rows carry no tokens and no score — excluded up front
    // so the running sum is well-defined on both engines
    val base = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.nTokensCol.cast("long").as("n_tokens"),
        TextAnalysis.qualityScoreCol.as("quality_score"))
      .withColumn("pid",
        least(lit(31L), floor((lit(1.0) - col("quality_score")) * 32).cast("long")))
    val wPrev = Window.partitionBy("pid")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPid = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    // ≤32 rows: the only single-partition step is over bucket subtotals
    val offsets = base.groupBy("pid").agg(sum("n_tokens").as("bucket_tokens"))
      .select(col("pid"),
        coalesce(sum("bucket_tokens").over(wPid), lit(0L)).as("pid_offset"))
    base.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        (coalesce(sum("n_tokens").over(wPrev), lit(0L)) + col("pid_offset"))
          .as("tokens_before"))
      .filter(col("tokens_before") < budget)
      .orderBy("doc_id")
  }

  val p08OracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(${TextAnalysis.nTokensSql} AS BIGINT) AS n_tokens,
       |    ${TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tokens_before
       |  FROM t)
       |SELECT doc_id, n_tokens, quality_score, tokens_before
       |FROM c WHERE tokens_before < 12000 ORDER BY doc_id""".stripMargin

  /** p09: PER-GROUP QUANTILE GATE — keep each language's top quality
    * quartile. The threshold is an exact type-7 p75 per language (the
    * q47 convention Spark's `percentile` and DuckDB's `quantile_cont`
    * share — bit-identical on this corpus, probe-verified), computed
    * by an aggregation that collapses to n_lang rows, broadcast back,
    * and applied as a scan predicate. No per-group sort window
    * anywhere: a `percent_rank` formulation would funnel each
    * language's documents into ONE partition (5 langs = 5 partitions
    * regardless of cluster size); this is one map-side agg + one
    * map-side filter, skew-proof at 100 TB. At that scale the exact
    * percentile swaps for `approx_percentile` (mergeable sketch) on
    * the same query shape. */
  def p09QualityQuantile(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreCol.as("quality_score"))
    val thresholds = scored.groupBy("lang")
      .agg(Scale.pctl(s, col("quality_score"), 0.75).as("lang_p75"))
    scored.join(broadcast(thresholds), "lang")
      .filter(col("quality_score") >= col("lang_p75"))
      .select("doc_id", "lang", "quality_score", "lang_p75")
      .orderBy("doc_id")
  }

  val p09OracleSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |    ${TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM documents WHERE text IS NOT NULL),
       |th AS (
       |  SELECT lang, quantile_cont(quality_score, 0.75) AS lang_p75
       |  FROM sc GROUP BY lang)
       |SELECT doc_id, sc.lang, quality_score, lang_p75
       |FROM sc JOIN th ON sc.lang = th.lang
       |WHERE quality_score >= lang_p75 ORDER BY doc_id""".stripMargin

  /** p10: TEMPERATURE-REBALANCED language sampling — the multilingual
    * mixing pass (mT5/XLM-R style): high-resource languages are
    * down-weighted so the sampled mix is flatter than the corpus.
    * T=2 temperature ⇒ per-language quota ∝ √n_lang, realized in
    * INTEGER-EXACT arithmetic: isqrt = FLOOR(SQRT(n)) (IEEE sqrt is
    * correctly rounded, so both engines agree bit-for-bit on exact
    * integer inputs), quota = budget * isqrt_l div Σ isqrt — no
    * float normalization to drift at a rounding boundary. Selection
    * within a language is the p05 arithmetic-PRF rank (deterministic,
    * reprocessing-stable, oracle-bit-exact). Plan shape: one tiny
    * n_lang-row aggregate broadcast back; the per-language rank is one
    * shuffle on the lang key (at 100 TB: [[Scale.saltedCapPerGroup]],
    * p05's documented swap-in). */
  def p10TemperatureSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val budget = docs.count() * 30 / 100 // footer count; integer math in both engines
    val isqrt = floor(sqrt(col("n_l"))).cast("long")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .select(col("lang"), isqrt.as("r"))
    // Σ isqrt via an unbounded window over the n_lang-row frame (≤ a
    // few dozen rows at any corpus size — the single partition is the
    // quota table, never the data)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val quotas = counts.withColumn("sr", sum(col("r")).over(wAll))
      .select(col("lang"), expr(s"($budget * r) div sr").as("quota"))
    val prf = (pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L)
      + lit(54321L)) % lit(2147483648L)
    val w = Window.partitionBy(col("lang")).orderBy(col("prf"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), prf.as("prf"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), "lang")
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  val p10OracleSql: String =
    """WITH n AS (SELECT COUNT(*) AS nd FROM documents),
      |c AS (SELECT lang, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS r
      |      FROM documents GROUP BY lang),
      |s AS (SELECT CAST(SUM(r) AS BIGINT) AS sr FROM c),
      |quota AS (
      |  SELECT lang, ((SELECT nd * 30 // 100 FROM n) * r) // (SELECT sr FROM s) AS qt
      |  FROM c),
      |ranked AS (
      |  SELECT doc_id, lang,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY ((doc_id % 2147483648) * 1103515245 + 54321) % 2147483648,
      |                    doc_id) AS rn
      |  FROM documents)
      |SELECT rk.doc_id, rk.lang
      |FROM ranked rk JOIN quota q ON rk.lang = q.lang
      |WHERE rk.rn <= q.qt ORDER BY rk.doc_id""".stripMargin

  // ---------------------------------------------------------------- p11
  /** Leakage-safe train/val/test split: near-dup CLUSTERS co-travel —
    * every member of a d06 cluster gets the split of its cluster
    * representative, so a near-duplicate of a training document can
    * never land in the test set (the contamination p01's independent
    * per-doc hash cannot rule out). Assignment is a pure function of
    * cluster_rep (Knuth multiplicative hash mod 100 — SQL-expressible,
    * so the oracle checks it end-to-end), hence stable under corpus
    * growth for existing clusters. Plan shape: the cluster map is tiny
    * relative to the corpus (one row per clustered doc), broadcast
    * against the scan — no shuffle at all on the corpus side. */
  def p11LeakSafeSplit(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.clusterMap(s, d) // (doc_id, cluster_rep)
    val bucket = pmod(
      pmod(col("cluster_rep") * lit(2654435761L), lit(4294967296L)),
      lit(100L))
    Tables.documents(s, d)
      .select("doc_id")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  val p11OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtesSql},
       |rep AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
       |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
       |)
       |SELECT doc_id, cluster_rep,
       |       CASE WHEN b < 90 THEN 'train'
       |            WHEN b < 95 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (SELECT doc_id, cluster_rep,
       |             cluster_rep * 2654435761 % 4294967296 % 100 AS b
       |      FROM rep)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p12
  /** Deterministic source INTERLEAVE — the training-order pass that
    * feeds a balanced stream: position p of the epoch cycles the
    * sources round-robin (pos = rank_within_source · n_sources +
    * source_idx), so a consumer reading in pos order never sees a long
    * run of one source, and the order is a pure function of the data
    * (reprocessing-stable, unlike any RNG shuffle). Complements p06:
    * p06 randomizes order, p12 balances it. One rank exchange per
    * source partition; at 100 TB a handful of giant source partitions
    * rank via [[Scale.saltedCapPerGroup]]'s two-phase pattern (or
    * p07's bucketed prefix sum), query shape unchanged. The n_sources
    * normalizer is a 1-row aggregate broadcast back (p09's pattern —
    * never a window over the corpus). */
  def p12Interleave(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val sidx = substring(col("source"), 4, 8).cast("int")
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), sidx.as("sidx"),
        (row_number().over(w) - 1).as("rk"))
    // the normalizer is ONE row — broadcast it to every task (the
    // plan's BroadcastNestedLoopJoin over a 1-row build side is the
    // intended scalar-broadcast shape, q28/s06's precedent, and is
    // allowlisted in PlanAudit)
    val ns = ranked.agg((max(col("sidx")) + 1).as("ns"))
    ranked.crossJoin(broadcast(ns))
      .select((col("rk").cast("long") * col("ns") + col("sidx")).as("pos"),
        col("doc_id"), col("source"))
      .orderBy("pos")
  }

  val p12OracleSql: String =
    """WITH n AS (SELECT MAX(CAST(SUBSTR(source, 4) AS INT)) + 1 AS ns FROM documents),
      |r AS (SELECT doc_id, source, CAST(SUBSTR(source, 4) AS INT) AS sidx,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rk
      |      FROM documents)
      |SELECT CAST(rk * n.ns + r.sidx AS BIGINT) AS pos, doc_id, source
      |FROM r CROSS JOIN n ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------- p13
  /** FRACTIONAL-WEIGHT UPSAMPLING — the mixing pass that repeats
    * high-value data a NON-INTEGER number of times ("curated ×2.3,
    * web ×0.7"): every doc gets floor(w) guaranteed copies plus one
    * more with probability frac(w), decided by p05's arithmetic PRF —
    * so reruns/retries replicate the exact same rows (a Bernoulli
    * `rand()` draw would resample per attempt), per-class totals hit
    * weight·n within one PRF quantum, and the realized copy count is a
    * pure function of doc_id. The fan-out is `explode(sequence(...))`
    * inside the scan stage — zero shuffle at any corpus size (t11's
    * chunk shape); weights are tenths so all arithmetic stays integer
    * and the DuckDB oracle is bit-exact. */
  def p13Upsample(s: SparkSession, d: String): DataFrame = {
    // weight in tenths per source class: curated 23 (×2.3), web 7 (×0.7)
    val cls = when(substring(col("source"), 4, 8).cast("int") < 10, "web")
      .otherwise("curated")
    val wTenths = when(col("class") === "web", 7).otherwise(23)
    val prf = (pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L)
      + lit(12345L)) % lit(2147483648L)
    Tables.documents(s, d)
      .select(col("doc_id"), cls.as("class"))
      .withColumn("n_copies",
        (lit(wTenths) / 10).cast("int") +
          when(prf < (wTenths % 10) * lit(214748364L), 1).otherwise(0))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("class"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  val p13OracleSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |         CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10
      |              THEN 'web' ELSE 'curated' END AS class,
      |         ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS prf
      |  FROM documents
      |), n AS (
      |  SELECT doc_id, class,
      |         CASE WHEN class = 'web' THEN 7 ELSE 23 END // 10
      |           + CASE WHEN prf < (CASE WHEN class = 'web' THEN 7 ELSE 23 END % 10)
      |                        * 214748364 THEN 1 ELSE 0 END AS n_copies
      |  FROM c
      |)
      |SELECT doc_id, class, CAST(u.copy AS INT) AS copy
      |FROM n, LATERAL unnest(generate_series(1, n_copies)) AS u(copy)
      |WHERE n_copies > 0
      |ORDER BY doc_id, copy""".stripMargin

  // ---------------------------------------------------------------- p14
  /** p14: CURRICULUM ordering — the easy-to-hard training schedule
    * (Bengio et al. 2009): documents are staged by GLOBAL quality
    * quartile (stage 0 = cleanest quartile first, stage 3 = the tail)
    * and, within a stage, ordered by p05's arithmetic PRF so the
    * schedule is deterministic and reprocessing-stable where a
    * `rand()` shuffle is not. Every document gets its absolute
    * training position: stage offset + PRF rank.
    *
    * Scale shape: the three quartile thresholds are ONE 1-row exact-
    * percentile aggregate broadcast back (p09's pattern;
    * `approx_percentile` swaps in at 100 TB); stage sizes for the
    * offsets are a 4-row aggregate windowed over itself (4 rows at
    * ANY corpus size); within-stage rank is one shuffle keyed on the
    * stage — the salted two-phase form (p05 note) swaps in when one
    * stage dominates. */
  def p14Curriculum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.qualityScoreCol.as("q"))
    val th = scored.agg(
      Scale.pctl(s, col("q"), 0.25).as("p25"),
      Scale.pctl(s, col("q"), 0.50).as("p50"),
      Scale.pctl(s, col("q"), 0.75).as("p75"))
    // staged feeds TWO consumers (the 4-row offset aggregate and the
    // final rank+join), each of which would re-run the scan + the
    // 1-row percentile aggregate + the threshold broadcast — the old
    // plan showed 8 document scans and two exact-percentile passes.
    // localCheckpoint pins the doc-count-sized rows once.
    val staged = scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("q"),
        when(col("q") >= col("p75"), 0)
          .when(col("q") >= col("p50"), 1)
          .when(col("q") >= col("p25"), 2)
          .otherwise(3).as("stage"))
      .withColumn("prf",
        (pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L)
          + lit(12345L)) % lit(2147483648L))
      .localCheckpoint()
    // stage offsets: exclusive running sum over the 4 stage counts
    val offsets = staged.groupBy("stage").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("stage"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("stage", "offset")
    val w = Window.partitionBy(col("stage")).orderBy(col("prf"), col("doc_id"))
    staged
      .withColumn("rn", row_number().over(w))
      .join(broadcast(offsets), "stage")
      .select(col("doc_id"), col("stage"),
        (col("offset") + col("rn")).as("position"))
      .orderBy("position")
  }

  val p14OracleSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id, ${graft.operators.TextAnalysis.qualityScoreSql} AS q
       |  FROM documents WHERE text IS NOT NULL),
       |th AS (
       |  SELECT quantile_cont(q, 0.25) AS p25, quantile_cont(q, 0.50) AS p50,
       |         quantile_cont(q, 0.75) AS p75 FROM sc),
       |st AS (
       |  SELECT doc_id,
       |         CASE WHEN q >= p75 THEN 0 WHEN q >= p50 THEN 1
       |              WHEN q >= p25 THEN 2 ELSE 3 END AS stage,
       |         ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS prf
       |  FROM sc CROSS JOIN th),
       |ofs AS (
       |  SELECT stage,
       |         COALESCE(SUM(cnt) OVER (ORDER BY stage
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM (SELECT stage, COUNT(*) AS cnt FROM st GROUP BY stage)),
       |rk AS (
       |  SELECT doc_id, stage,
       |         ROW_NUMBER() OVER (PARTITION BY stage ORDER BY prf, doc_id) AS rn
       |  FROM st)
       |SELECT rk.doc_id, CAST(rk.stage AS INT) AS stage,
       |       CAST(off + rn AS BIGINT) AS position
       |FROM rk JOIN ofs ON rk.stage = ofs.stage
       |ORDER BY position""".stripMargin

  // ---------------------------------------------------------------- p15
  /** p15: PARETO-ACCEPTANCE selection over the t22 classifier score —
    * GPT-3's documented filtering rule verbatim (Brown et al. 2020,
    * Appendix A: "kept documents if np.random.pareto(α) >
    * 1 − document_score", α = 9): instead of a hard threshold, every
    * document gets a heavy-tailed acceptance draw, so low-scoring
    * documents still enter the corpus at a small, principled rate —
    * the diversity-preserving soft filter the hard p09 quantile gate
    * cannot express. `document_score` is the NB posterior
    * σ(nb_score); the Pareto draw inverts numpy's Lomax CDF,
    * (1−u)^(−1/α) − 1, with u the DETERMINISTIC p10 LCG uniform —
    * reprocessing-stable and DuckDB-recomputable end-to-end where an
    * RNG would be neither. Composes t22's [[TextAnalysis.nbScored]]
    * frame directly (the e05/p11 cross-operator precedent): one
    * definition of the classifier, zero drift.
    *
    * Scale shape: inherits t22's (model = vocabulary-sized broadcast
    * table; corpus text never shuffles); the acceptance rule itself
    * is a stateless per-row expression — zero additional exchanges.
    * Draw and score are 4-dp rounded BEFORE the comparison in both
    * engines, so keep-membership can never hinge on sub-ulp libm
    * agreement (the t13/t21 precedent applied to a boundary). */
  def p15ParetoSelect(s: SparkSession, d: String): DataFrame = {
    val prf = (pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L)
      + lit(54321L)) % lit(2147483648L)
    val u = prf.cast("double") / lit(2147483648.0)
    val draw = round(pow(lit(1.0) - u, lit(-1.0 / 9.0)) - lit(1.0), 4) + lit(0.0)
    val score = round(lit(1.0) / (lit(1.0) + exp(-col("nb_score"))), 4) + lit(0.0)
    TextAnalysis.nbScored(s, d)
      .select(col("doc_id"), col("nb_score"),
        score.as("doc_score"), draw.as("pareto_draw"))
      .withColumn("keep", col("pareto_draw") > lit(1.0) - col("doc_score"))
      .orderBy("doc_id")
  }

  val p15OracleSql: String =
    s"""WITH ${graft.operators.TextAnalysis.nbCtesSql},
       |dr AS (
       |  SELECT doc_id, nb_score,
       |         ROUND(1.0 / (1.0 + EXP(-nb_score)), 4) + 0.0 AS doc_score,
       |         ROUND(POWER(1.0 - (((doc_id % 2147483648) * 1103515245 + 54321)
       |                 % 2147483648) / 2147483648.0, -1.0 / 9.0) - 1.0, 4) + 0.0
       |           AS pareto_draw
       |  FROM nbsc)
       |SELECT doc_id, nb_score, doc_score, pareto_draw,
       |       pareto_draw > 1.0 - doc_score AS keep
       |FROM dr ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_hash_split"        -> (p01HashSplit _),
    "p02_stratified_sample" -> (p02StratifiedSample _),
    "p03_time_split"        -> (p03TimeSplit _),
    "p04_cap_per_group"     -> (p04CapPerGroup _),
    "p05_mixture"           -> (p05Mixture _),
    "p06_epoch_shuffle"     -> (p06EpochShuffle _),
    "p07_pack_sequences"    -> (p07PackSequences _),
    "p08_token_budget"      -> (p08TokenBudget _),
    "p09_quality_quantile"  -> (p09QualityQuantile _),
    "p10_temperature_sample" -> (p10TemperatureSample _),
    "p11_leak_safe_split"   -> (p11LeakSafeSplit _),
    "p12_interleave"        -> (p12Interleave _),
    "p13_upsample"          -> (p13Upsample _),
    "p14_curriculum"        -> (p14Curriculum _),
    "p15_pareto_select"     -> (p15ParetoSelect _))

  // p01/p02 rows-only: engine-specific RNG/hash
  val oracleSql: Map[String, String] = Map(
    "p03_time_split"    -> p03OracleSql,
    "p04_cap_per_group" -> p04OracleSql,
    "p05_mixture"       -> p05OracleSql,
    "p06_epoch_shuffle" -> p06OracleSql,
    "p07_pack_sequences" -> p07OracleSql,
    "p08_token_budget" -> p08OracleSql,
    "p09_quality_quantile" -> p09OracleSql,
    "p10_temperature_sample" -> p10OracleSql,
    "p11_leak_safe_split" -> p11OracleSql,
    "p12_interleave" -> p12OracleSql,
    "p13_upsample" -> p13OracleSql,
    "p14_curriculum" -> p14OracleSql,
    "p15_pareto_select" -> p15OracleSql)
}
