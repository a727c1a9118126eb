package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline COMPOSITION (SURVEY.md §2 scale ops):
  * the point of having every operator in one engine is that the whole
  * chain runs as ONE declarative plan Catalyst can optimize globally,
  * instead of N materialization round-trips between tools.
  *
  * e01 composes quality scoring (t02's formula) → blocklist filtering
  * (t12's predicate) → exact dedup (d01's hash grouping) → the final
  * curated training set. The gate expressions are the SINGLE shared
  * definitions in [[TextAnalysis]] (consumed by t02, t12, e01, st09 —
  * four call sites, zero drift). Plan shape: both filters are
  * scan-stage predicates evaluated BEFORE the only shuffle, so
  * rejected documents never leave their input partition; the dedup
  * window shuffles the survivors keyed on an 8-byte content hash
  * (never the text — the projection drops it first), carrying only
  * the slim output columns. At 100 TB: one pass over the corpus, one
  * survivors-only exchange.
  */
object Pipeline {
  import TextAnalysis.{nTokensCol, qualityScoreCol, nBlockedCol,
    nTokensSql, qualityScoreSql, nBlockedSql, qualityGate}

  // ---------------------------------------------------------------- e01
  def e01Curate(s: SparkSession, d: String): DataFrame = {
    val staged = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        nTokensCol.cast("int").as("n_tokens"), qualityScoreCol.as("quality_score"),
        nBlockedCol.as("n_blocked"), xxhash64(col("text")).as("h"))
      .filter(col("quality_score") >= qualityGate && col("n_blocked") === 0)
    // d01's dedup contract: min doc_id per content hash is the keeper
    // (2^-64 collision odds, the established d01 precedent)
    staged
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "lang", "source", "n_tokens", "quality_score")
      .orderBy("doc_id")
  }

  /** Oracle: the same three stages in the same order (filters first,
    * dedup among survivors), with DuckDB partitioning the dedup window
    * by the text itself where Spark uses the 64-bit hash. */
  val e01OracleSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, lang, source, text,
       |    $nTokensSql AS n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM documents),
       |f AS (
       |  SELECT * FROM q
       |  WHERE quality_score >= $qualityGate
       |    AND $nBlockedSql = 0),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM f)
       |SELECT doc_id, lang, source, n_tokens, quality_score
       |FROM k WHERE doc_id = keeper ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e02
  /** e02: the curation pipeline landed in the LAKEHOUSE — e01's curated
    * set ingested into the versioned [[graft.sources.TableCatalog]] as
    * one atomic MVCC version with PRIMARY KEY validation at write time,
    * then read back through the catalog's manifest scan. This is the
    * production handoff the pipeline ends with: downstream trainers
    * read a published table version (time-travelable, constraint-
    * checked), never a loose directory of files. The ingest cost is
    * e01's plan + one parquet write; the scan result must equal e01's
    * output exactly, which the same DuckDB oracle checks. */
  def e02CurateIngest(s: SparkSession, d: String): DataFrame = {
    val root = graft.sources.TableCatalog.tempRoot("graft-e02")
    val cat = new graft.sources.TableCatalog(s, root)
    val curated = e01Curate(s, d)
    cat.createTable("curated_docs", curated.schema, primaryKey = Some("doc_id"))
    cat.insert("curated_docs", curated)
    cat.scan("curated_docs").orderBy("doc_id")
  }

  // ---------------------------------------------------------------- e03
  /** e03: INCREMENTAL curation — the steady-state production run: a
    * NEW batch (odd doc_ids, d07's convention) is gated, deduped
    * within itself, and then checked for near-dups against the STORED
    * corpus (even doc_ids) — only survivors come out, and nothing
    * corpus-sized is recomputed: the corpus side is d07's stored
    * signature table, the gates are scan predicates on the new batch
    * only, the in-batch dedup shuffles survivors on an 8-byte hash,
    * and the corpus check is an anti-join against d07's incremental
    * match set (new-batch bands probing stored corpus bands — never a
    * corpus self-join). At 100 TB/day of new data against an existing
    * 100 TB corpus, per-run cost scales with the BATCH, not the
    * corpus. */
  def e03CurateIncremental(s: SparkSession, d: String): DataFrame = {
    val gated = Tables.documents(s, d)
      .filter(col("doc_id") % 2 =!= 0) // the new batch
      .select(col("doc_id"), col("lang"), col("source"),
        nTokensCol.cast("int").as("n_tokens"),
        qualityScoreCol.as("quality_score"),
        nBlockedCol.as("n_blocked"), xxhash64(col("text")).as("h"))
      .filter(col("quality_score") >= qualityGate && col("n_blocked") === 0)
    val deduped = gated
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
    // d07's UNSORTED pair frame: the public d07 adds a presentation
    // ORDER BY that this anti-join would immediately discard — a full
    // range-partitioned sort for nothing (guide §2.4's accidental sort)
    val corpusMatched = Dedup.d07Pairs(s, d)
      .select(col("new_doc").as("doc_id")).distinct()
    deduped.join(corpusMatched, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_tokens", "quality_score")
      .orderBy("doc_id")
  }

  /** Oracle: e01's gate/dedup stages restricted to the odd batch, then
    * the brute-force cross-parity near-dup matches removed (d07's
    * oracle restriction). */
  val e03OracleSql: String =
    s"""WITH ${Dedup.bruteCtes("\n   AND (a.doc_id % 2 = 0) != (b.doc_id % 2 = 0)")},
       |matched AS (
       |  SELECT DISTINCT CASE WHEN doc_b % 2 != 0 THEN doc_b ELSE doc_a END AS nd
       |  FROM scored WHERE jaccard >= 0.8),
       |q AS (
       |  SELECT doc_id, lang, source, text,
       |    $nTokensSql AS n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM documents WHERE doc_id % 2 != 0),
       |f AS (
       |  SELECT * FROM q
       |  WHERE quality_score >= $qualityGate
       |    AND $nBlockedSql = 0),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM f)
       |SELECT doc_id, lang, source, n_tokens, quality_score
       |FROM k
       |WHERE doc_id = keeper AND doc_id NOT IN (SELECT nd FROM matched)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e04
  /** e04: the FULL training-data materialization — quality gate +
    * blocklist → exact dedup → SEQUENCE PACKING — composed as ONE
    * Catalyst plan. This is the end state every stage in the library
    * builds toward: gates run in the scan (rejects never leave their
    * partition), survivors cross the one hash-keyed dedup exchange,
    * and p07's distributed exclusive prefix sum assigns every
    * surviving token its position in the packed 256-token training
    * layout — per-bucket windows in parallel, only ≤32 bucket
    * subtotals through the single-row stage. No stage materializes:
    * Catalyst plans gate+dedup+pack globally, which is the argument
    * for one engine instead of N tools with N round-trips. */
  def e04CuratePack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val bsz = math.max(1L, (span + 31) / 32)
    val survivors = docs
      .select(col("doc_id"), nTokensCol.cast("long").as("n_tokens"),
        qualityScoreCol.as("quality_score"), nBlockedCol.as("n_blocked"),
        xxhash64(col("text")).as("h"))
      .filter(col("quality_score") >= qualityGate && col("n_blocked") === 0)
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("n_tokens"),
        ((col("doc_id") - lo) / bsz).cast("long").as("pid"))
    val wPrev = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPid = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = survivors.groupBy("pid").agg(sum("n_tokens").as("bt"))
      .select(col("pid"), coalesce(sum("bt").over(wPid), lit(0L)).as("pid_offset"))
    survivors.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(sum("n_tokens").over(wPrev), lit(0L)) + col("pid_offset"))
          .as("tokens_before"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        shiftright(col("tokens_before"), 8).as("pack_id"))
      .orderBy("doc_id")
  }

  val e04OracleSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, text,
       |    CAST($nTokensSql AS BIGINT) AS n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM documents),
       |f AS (
       |  SELECT * FROM q
       |  WHERE quality_score >= $qualityGate
       |    AND $nBlockedSql = 0),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM f),
       |surv AS (SELECT doc_id, n_tokens FROM k WHERE doc_id = keeper),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS tokens_before
       |  FROM surv)
       |SELECT doc_id, n_tokens, tokens_before,
       |       tokens_before // 256 AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e05
  /** e05: the e04 materialization with DSIR DATA SELECTION composed in
    * — gates + blocklist → importance keep (t18's target-vs-raw LLR >
    * 0, the "select data that looks like the target domain" pass) →
    * exact dedup → sequence packing, ONE Catalyst plan. The DSIR score
    * is a pure function of `text`, so the keep filter commutes with
    * the hash dedup (every duplicate carries the same score) and is
    * applied BEFORE the dedup exchange — rejected docs never shuffle.
    * The scoring subtree is [[TextAnalysis.dsirScoreFrame]] (shared
    * with t18 — one definition); its vocabulary-sized LM tables ride
    * broadcast joins, so composing selection in adds ZERO corpus-side
    * exchanges beyond e04's: the doc_id-keyed score join is the only
    * new shuffle, against an already-gated survivor set. */
  /** p07's distributed exclusive prefix sum over a survivor set
    * (doc_id, n_tokens [, carry...]): ≤32 doc_id-range buckets run
    * their windows in PARALLEL; only the ≤32 bucket subtotals cross
    * the single-row global stage; then 256-token pack ids. Shared by
    * e05/e06 — one packer definition, zero drift. `docs` supplies the
    * doc_id bounds (the full table, so bucket ranges are stable
    * whatever the upstream gates kept). */
  private def packPrefix(docs: DataFrame, survivors: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L) else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val bsz = math.max(1L, (span + 31) / 32)
    // the survivor frame feeds TWO consumers (the ≤32-row subtotal
    // aggregate and the offset-join probe), whose exchanges differ, so
    // Catalyst would re-run the whole upstream cascade for each —
    // measured 2× on e06, whose survivors subtree carries the NB + LM
    // scoring (7.7 → 3.9 s at sf0.1). localCheckpoint pins the
    // survivor-sized rows once (the t19/s10/d06 recipe); the
    // materialized set is bounded by the pack OUTPUT itself, so this
    // holds at any corpus scale.
    val withPid = survivors
      .withColumn("pid", ((col("doc_id") - lo) / bsz).cast("long"))
      .localCheckpoint()
    val wPrev = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPid = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withPid.groupBy("pid").agg(sum("n_tokens").as("bt"))
      .select(col("pid"), coalesce(sum("bt").over(wPid), lit(0L)).as("pid_offset"))
    withPid.join(broadcast(offsets), "pid")
      .withColumn("tokens_before",
        coalesce(sum("n_tokens").over(wPrev), lit(0L)) + col("pid_offset"))
      .withColumn("pack_id", shiftright(col("tokens_before"), 8))
      .select((Seq("doc_id") ++ carry ++
        Seq("n_tokens", "tokens_before", "pack_id")).map(col): _*)
  }

  def e05CurateSelectPack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs
      .select(col("doc_id"), nTokensCol.cast("long").as("n_tokens"),
        qualityScoreCol.as("quality_score"), nBlockedCol.as("n_blocked"),
        xxhash64(col("text")).as("h"))
      .filter(col("quality_score") >= qualityGate && col("n_blocked") === 0)
      .join(TextAnalysis.dsirScoreFrame(s, d), "doc_id")
      .filter(col("dsir_score") > 0) // the selection pass
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("n_tokens"))
    packPrefix(docs, survivors).orderBy("doc_id")
  }

  val e05OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS term
       |  FROM documents),
       |dt AS (SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       |raw AS (SELECT term, COUNT(*)::BIGINT AS cr FROM toks GROUP BY 1),
       |tgt AS (SELECT term, COUNT(*)::BIGINT AS ct FROM toks WHERE source = 'src0' GROUP BY 1),
       |tot AS (SELECT (SELECT SUM(cr) FROM raw) AS nr,
       |               (SELECT COUNT(*) FROM raw) AS v,
       |               (SELECT SUM(ct) FROM tgt) AS nt),
       |dsir AS (
       |  SELECT doc_id,
       |         ROUND(SUM(c * (ln((COALESCE(ct, 0) + 1.0) / (nt + v))
       |                      - ln((cr + 1.0) / (nr + v)))), 4) + 0.0 AS dsir_score
       |  FROM dt JOIN raw USING (term) LEFT JOIN tgt USING (term) CROSS JOIN tot
       |  GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id, text,
       |    CAST($nTokensSql AS BIGINT) AS n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM documents),
       |f AS (
       |  SELECT q.* FROM q JOIN dsir USING (doc_id)
       |  WHERE quality_score >= $qualityGate
       |    AND $nBlockedSql = 0
       |    AND dsir_score > 0),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM f),
       |surv AS (SELECT doc_id, n_tokens FROM k WHERE doc_id = keeper),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS tokens_before
       |  FROM surv)
       |SELECT doc_id, n_tokens, tokens_before,
       |       tokens_before // 256 AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e06
  /** e06: the FULL QUALITY CASCADE, composed — the exact three-stage
    * filter architecture the production web-crawl pipelines describe
    * (MassiveText/Gopher → CCNet → GPT-3), then dedup, then pack, as
    * ONE Catalyst plan:
    *   1. RULE stage — Gopher's heuristic battery (t23's shared
    *      metric/keep columns) runs INSIDE the scan: rejects never
    *      leave their input partition;
    *   2. CLASSIFIER stage — t22's trained NB log-odds gate
    *      (nb_score > 0), a per-doc score frame joined on doc_id;
    *   3. LM stage — t21's CCNet perplexity tertiles with CORPUS-wide
    *      thresholds, keeping head+middle (the bucket rides along for
    *      mixture observability downstream);
    *   4. exact dedup on the 8-byte content hash (d01's keeper rule);
    *   5. p07's distributed prefix-sum pack into the 256-token layout.
    * Stage order is the cheap-to-expensive discipline: the scan-stage
    * rule filter shrinks the corpus before anything shuffles. The
    * stage-2/3 score frames are per-doc aggregates of the SAME corpus
    * — at 100 TB they are the stored at-ingest columns (st17 scores
    * the stream as it lands; t21/t22 write score tables once), so the
    * cascade's steady-state cost is three stored-column filters + the
    * survivors-only dedup exchange + the ≤32-subtotal pack stage.
    * Every Gopher survivor has ≥ 50 words, hence ≥ 2 tokens, hence a
    * perplexity row — the stage-3 inner join is lossless by
    * construction, not by luck. */
  def e06QualityCascadePack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gated = docs
      .select(Seq(col("doc_id"), col("text"),
        nTokensCol.cast("long").as("n_tokens")) ++
        TextAnalysis.gopherMetricCols: _*)
      .filter(TextAnalysis.gopherKeepCol)
      .select(col("doc_id"), col("n_tokens"), xxhash64(col("text")).as("h"))
    val nbKeep = TextAnalysis.nbScored(s, d)
      .filter(col("nb_score") > 0).select("doc_id")
    val pplKeep = TextAnalysis.pplBucketFrame(s, d)
      .filter(col("bucket") =!= "tail").select(col("doc_id"), col("bucket"))
    val surv = gated.join(nbKeep, "doc_id").join(pplKeep, "doc_id")
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "bucket", "n_tokens")
    packPrefix(docs, surv, carry = Seq("bucket")).orderBy("doc_id")
  }

  /** Oracle: the same five stages — t23's gopher metrics, t22's NB
    * CTE chain ([[TextAnalysis.nbCtesSql]], the shared definition),
    * t21's smoothed-LM tertiles, text-window dedup, serial prefix
    * sum. */
  /** The cascade's GATE CTE chain — gopher metrics (gm/gk), the
    * trusted-slice bigram LM with perplexity tertiles (pp..bk) — as
    * one string shared VERBATIM by the e06/e07, e08 and e09 oracles
    * (the nbCtesSql precedent): one definition, so the three oracles
    * can never drift on what the "same" cascade keeps. */
  private val cascadeCtesSql: String =
    s"""|g AS (
       |  SELECT doc_id, text, lang, source,
       |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
       |  FROM documents
       |),
       |gm AS (
       |  SELECT doc_id,
       |    CAST(len(l) AS INT) AS n_words,
       |    ROUND(CAST(COALESCE(list_sum(list_transform(l, x -> length(x))), 0) AS DOUBLE)
       |          / GREATEST(len(l), 1), 4) + 0.0 AS mean_word_len,
       |    ROUND(CAST((length(text) - length(replace(text, '#', '')))
       |             + (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE)
       |          / GREATEST(len(l), 1), 4) + 0.0 AS symbol_ratio,
       |    ROUND(CAST(len(list_filter(l, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
       |          / GREATEST(len(l), 1), 4) + 0.0 AS alpha_frac,
       |    CAST(len(list_filter(l, x -> list_contains(
       |      ['the','be','to','of','and','that','have','with'], x))) AS INT) AS n_stop
       |  FROM g),
       |gk AS (
       |  SELECT doc_id FROM gm
       |  WHERE n_words BETWEEN 50 AND 100000
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_ratio <= 0.1
       |    AND alpha_frac >= 0.8
       |    AND n_stop >= 2),
       |pp AS (
       |  SELECT doc_id, lang, source,
       |         unnest([{'w1': l[i], 'w2': l[i+1]} for i in generate_series(1, len(l)-1)],
       |                recursive := true)
       |  FROM g WHERE len(l) >= 2),
       |tpb AS (SELECT w1, w2 FROM pp WHERE lang = 'en' AND source IN ('src0', 'src1')),
       |c2b AS (SELECT w1, w2, COUNT(*) AS n2 FROM tpb GROUP BY 1, 2),
       |c1b AS (SELECT w1, COUNT(*) AS n1 FROM tpb GROUP BY 1),
       |vvb AS (SELECT COUNT(DISTINCT w2) AS v FROM tpb),
       |pplsc AS (
       |  SELECT p.doc_id,
       |         ROUND(EXP(-AVG(LN(CAST(COALESCE(n2, 0) + 1 AS DOUBLE) /
       |                           CAST(COALESCE(n1, 0) + v AS DOUBLE)))), 4) + 0.0 AS ppl
       |  FROM pp p LEFT JOIN c2b USING (w1, w2) LEFT JOIN c1b USING (w1) CROSS JOIN vvb
       |  GROUP BY p.doc_id),
       |thb AS (SELECT quantile_cont(ppl, 1.0/3) AS t1,
       |               quantile_cont(ppl, 2.0/3) AS t2 FROM pplsc),
       |bk AS (
       |  SELECT doc_id, CASE WHEN ppl <= t1 THEN 'head'
       |                      WHEN ppl <= t2 THEN 'middle'
       |                      ELSE 'tail' END AS bucket
       |  FROM pplsc CROSS JOIN thb)""".stripMargin

  val e06OracleSql: String =
    s"""WITH ${TextAnalysis.nbCtesSql},
       |$cascadeCtesSql,
       |q AS (SELECT doc_id, text, CAST($nTokensSql AS BIGINT) AS n_tokens FROM documents),
       |surv AS (
       |  SELECT q.doc_id, q.text, q.n_tokens, bk.bucket
       |  FROM q
       |  JOIN gk USING (doc_id)
       |  JOIN (SELECT doc_id FROM nbsc WHERE nb_score > 0) nk USING (doc_id)
       |  JOIN bk USING (doc_id)
       |  WHERE bk.bucket <> 'tail'),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM surv),
       |sv AS (SELECT doc_id, bucket, n_tokens FROM k WHERE doc_id = keeper),
       |c AS (
       |  SELECT doc_id, bucket, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS tokens_before
       |  FROM sv)
       |SELECT doc_id, bucket, n_tokens, tokens_before,
       |       tokens_before // 256 AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e07
  /** The STORED score table (doc_id, n_tokens, h, gopher_keep,
    * nb_score, bucket) — e06's gates as at-ingest columns, the d13
    * stored-cluster precedent: at production st17 scores the stream
    * as it lands and the t21/t22 training jobs backfill, so the
    * recurring cascade never recomputes a gate. Built per call into a
    * [[graft.sources.TableCatalog.tempRoot]] catalog table (deleted at
    * JVM exit); LEFT joins keep EVERY
    * document in the table (a doc too short to score carries a NULL
    * bucket / nb_score — the gate filters drop them, preserving e06's
    * inner-join semantics in storage form). Doubles round-trip
    * parquet bit-exactly, so the stored path reproduces the inline
    * derivation value-for-value. */
  private def scoreTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // lang/source ride along: ingest metadata the e09 manifest
    // groups on — stored once like every other score column
    val base = docs.select(Seq(col("doc_id"), col("lang"), col("source"),
        nTokensCol.cast("long").as("n_tokens"),
        xxhash64(col("text")).as("h")) ++
        TextAnalysis.gopherMetricCols: _*)
      .withColumn("gopher_keep", TextAnalysis.gopherKeepCol)
      .select("doc_id", "lang", "source", "n_tokens", "h", "gopher_keep")
    val scored = base
      .join(TextAnalysis.nbScored(s, d).select("doc_id", "nb_score"),
        Seq("doc_id"), "left")
      .join(TextAnalysis.pplBucketFrame(s, d).select("doc_id", "bucket"),
        Seq("doc_id"), "left")
    val root = graft.sources.TableCatalog.tempRoot("graft-e07")
    val cat = new graft.sources.TableCatalog(s, root)
    cat.createTable("doc_scores", scored.schema, primaryKey = Some("doc_id"))
    cat.insert("doc_scores", scored)
    cat.scan("doc_scores")
  }

  /** e07: e06's STEADY-STATE form — the identical cascade run from
    * the STORED score table. The recurring query's plan touches ONLY
    * stored columns: no document scan, no feature explode, no LM
    * join, no percentile aggregate (spec-asserted: no Generate, no
    * percentile, no documents.parquet anywhere in the executed plan)
    * — three stored-column filters, the survivors-only dedup
    * exchange, and the ≤32-subtotal pack stage. This is the query a
    * 100 TB pipeline actually re-runs when gates are tuned: the
    * expensive passes happened once at ingest. Result is
    * row-identical to e06 (same DuckDB oracle). */
  /** The cascade's SURVIVOR rule over the stored score table — gate
    * conjunction + dedup-keeper window — as one definition shared by
    * e07 (materialization) and e09 (mixture manifest), the Spark-side
    * twin of the oracles' shared [[cascadeCtesSql]]: a gate tweak
    * cannot make the manifest describe a different dataset than the
    * one e07 packs. Keeps every stored column; consumers project. */
  private def cascadeSurvivors(scores: DataFrame): DataFrame =
    scores
      .filter(col("gopher_keep") && col("nb_score") > 0 &&
        col("bucket") =!= "tail")
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))

  def e07CascadeStored(s: SparkSession, d: String): DataFrame = {
    val scores = scoreTable(s, d)
    val surv = cascadeSurvivors(scores).select("doc_id", "bucket", "n_tokens")
    packPrefix(scores, surv, carry = Seq("bucket")).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- e08
  /** e08: the cascade FUNNEL REPORT — documents and tokens surviving
    * each gate of e06's cascade, one row per stage (ingested → gopher
    * → NB classifier → perplexity → dedup). t23 gives which-RULE
    * observability inside the gopher gate; this is which-STAGE
    * observability across the whole pipeline — the number a data team
    * actually watches when tuning gates ("the NB gate kills 40%; is
    * that intended?"), and the datasheet row a curated-corpus release
    * publishes.
    *
    * Runs from e07's STORED score table: ONE scan computing the four
    * cumulative stage flags as plain column conjunctions, the dedup
    * keeper flag via one window over the stored hash, then a single
    * map-side-combined aggregate down to 5 rows (stack-reshaped).
    * Unlike e07 the window runs over ALL rows, not survivors-only —
    * the report counts what dedup WOULD keep among stage-3 survivors,
    * and a funnel is a one-off observability query, not the recurring
    * materialization. */
  def e08FunnelReport(s: SparkSession, d: String): DataFrame = {
    val flagged = scoreTable(s, d)
      .withColumn("s1", col("gopher_keep"))
      .withColumn("s2", col("s1") && col("nb_score") > 0)
      .withColumn("s3", col("s2") && col("bucket").isNotNull &&
        col("bucket") =!= "tail")
      .withColumn("s4", col("s3") && col("doc_id") ===
        min(when(col("s3"), col("doc_id"))).over(Window.partitionBy("h")))
    def d_(c: Column) = sum(when(c, 1L).otherwise(0L))
    def t_(c: Column) = sum(when(c, col("n_tokens")).otherwise(0L))
    flagged.agg(
        count(lit(1)).as("d0"), sum("n_tokens").as("t0"),
        d_(col("s1")).as("d1"), t_(col("s1")).as("t1"),
        d_(col("s2")).as("d2"), t_(col("s2")).as("t2"),
        d_(col("s3")).as("d3"), t_(col("s3")).as("t3"),
        d_(col("s4")).as("d4"), t_(col("s4")).as("t4"))
      .select(expr(
        """stack(5,
          |  0, 'ingested',      d0, t0,
          |  1, 'gopher',        d1, t1,
          |  2, 'nb_classifier', d2, t2,
          |  3, 'perplexity',    d3, t3,
          |  4, 'dedup',         d4, t4)
          |AS (stage_idx, stage, n_docs, n_tokens)""".stripMargin))
      .orderBy("stage_idx")
  }

  /** Oracle: e06's own CTE chain, counted per stage. */
  val e08OracleSql: String =
    s"""WITH ${TextAnalysis.nbCtesSql},
       |$cascadeCtesSql,
       |q AS (SELECT doc_id, text, CAST($nTokensSql AS BIGINT) AS n_tokens FROM documents),
       |st1 AS (SELECT q.* FROM q JOIN gk USING (doc_id)),
       |st2 AS (SELECT st1.* FROM st1
       |        JOIN (SELECT doc_id FROM nbsc WHERE nb_score > 0) nk USING (doc_id)),
       |st3 AS (SELECT st2.* FROM st2 JOIN bk USING (doc_id) WHERE bk.bucket <> 'tail'),
       |st4 AS (SELECT * FROM (
       |          SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM st3)
       |        WHERE doc_id = keeper)
       |SELECT * FROM (
       |  SELECT CAST(0 AS INT) AS stage_idx, 'ingested' AS stage,
       |         COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM q
       |  UNION ALL
       |  SELECT 1, 'gopher', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st1
       |  UNION ALL
       |  SELECT 2, 'nb_classifier', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st2
       |  UNION ALL
       |  SELECT 3, 'perplexity', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st3
       |  UNION ALL
       |  SELECT 4, 'dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st4
       |) ORDER BY stage_idx""".stripMargin

  // ---------------------------------------------------------------- e09
  /** e09: the MIXTURE MANIFEST — the per-(lang, source) composition of
    * the cascade's FINAL dataset (e07's survivors): document and token
    * counts and each cell's share of the total. This is the datasheet
    * table a curated-corpus release publishes (what the model will
    * actually see, by provenance) and the number mixture tuning (p05)
    * and tokenizer-equity audits (t24) take as input — e08 reports the
    * funnel BY STAGE, e09 reports the survivors BY PROVENANCE.
    *
    * Runs from e07's STORED score table (lang/source are stored score
    * columns like every gate input): one scan → the survivor filter +
    * dedup-keeper window → ONE map-side-combined aggregate down to
    * (lang × source)-many rows. The share denominators follow q62's
    * discipline — aggregate FIRST, then an empty-frame window over the
    * ≤|lang×source| group rows, never a SinglePartition pass over the
    * corpus. Shares divide exact Longs in double — bit-identical on
    * both engines. */
  def e09MixtureManifest(s: SparkSession, d: String): DataFrame = {
    val surv = cascadeSurvivors(scoreTable(s, d))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    surv.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_docs") / sum("n_docs").over(w), 6).as("doc_share"),
        round(col("n_tokens") / sum("n_tokens").over(w), 6).as("token_share"))
      .orderBy("lang", "source")
  }

  /** Oracle: e06's CTE chain with lang/source carried through, grouped
    * by provenance. */
  val e09OracleSql: String =
    s"""WITH ${TextAnalysis.nbCtesSql},
       |$cascadeCtesSql,
       |q AS (SELECT doc_id, text, lang, source,
       |             CAST($nTokensSql AS BIGINT) AS n_tokens FROM documents),
       |surv AS (
       |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tokens
       |  FROM q
       |  JOIN gk USING (doc_id)
       |  JOIN (SELECT doc_id FROM nbsc WHERE nb_score > 0) nk USING (doc_id)
       |  JOIN bk USING (doc_id)
       |  WHERE bk.bucket <> 'tail'),
       |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM surv),
       |sv AS (SELECT lang, source, n_tokens FROM k WHERE doc_id = keeper),
       |agg AS (
       |  SELECT lang, source, COUNT(*) AS n_docs,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM sv GROUP BY lang, source)
       |SELECT lang, source, n_docs, n_tokens,
       |       ROUND(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
       |         AS doc_share,
       |       ROUND(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
       |         AS token_share
       |FROM agg ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- e10
  /** The staged snapshot history e10 diffs: a catalog table whose
    * version chain replays a dataset's life — v1 bulk load (doc_id % 7
    * ≠ 3), v2 late-arrival insert (the % 7 = 3 docs), v3 takedown
    * delete (doc_id % 11 = 5 — the GDPR/opt-out pass), v4 in-place
    * correction (UPDATE prefixing text where doc_id % 13 = 6). Built
    * per call in a [[graft.sources.TableCatalog.tempRoot]] catalog
    * (deleted at JVM exit). */
  private def snapshotStore(s: SparkSession, d: String): (graft.sources.TableCatalog, Int) = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "text")
    val root = graft.sources.TableCatalog.tempRoot("graft-e10")
    val cat = new graft.sources.TableCatalog(s, root)
    cat.createTable("docs_snap", docs.schema, primaryKey = Some("doc_id"))
    val v1 = cat.insert("docs_snap", docs.filter(col("doc_id") % 7 =!= 3))
    cat.insert("docs_snap", docs.filter(col("doc_id") % 7 === 3))
    cat.delete("docs_snap", col("doc_id") % 11 === 5)
    cat.update("docs_snap",
      Map("text" -> concat(lit("edited "), col("text"))),
      col("doc_id") % 13 === 6)
    (cat, v1)
  }

  /** e10: SNAPSHOT DIFF — what changed between two versions of a
    * managed dataset (the lakehouse CDC/table_changes query, computed
    * from MVCC snapshots): each doc that was ADDED, REMOVED, or
    * CHANGED between the bulk-load version and the current one, with
    * its token count on each side. This is the audit a curated-corpus
    * release publishes next to e09's manifest ("what moved since the
    * last release") and the input an incremental re-train consumes —
    * and it makes the catalog's time travel a QUERY operator, not just
    * a DDL feature (cat_timetravel's reader surface).
    *
    * Shape: TWO snapshot scans of the SAME table (asOf v1, current)
    * full-outer-joined on the primary key; presence flags classify
    * add/remove, a null-safe text compare classifies change, unchanged
    * rows drop. At 100 TB the two snapshots share almost all their
    * parquet files (copy-on-write), so the production fast path diffs
    * the MANIFESTS first and row-diffs only the files that differ —
    * this query is that row-level kernel; the join is one exchange
    * keyed on the PK, and at ingest-bucketed layout it is co-located. */
  def e10SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val (cat, v1) = snapshotStore(s, d)
    def side(df: DataFrame, tag: String) = df.select(
      col("doc_id"), lit(true).as(s"in_$tag"), col("text").as(s"t_$tag"),
      nTokensCol.cast("long").as(s"n_tokens_$tag"))
    val old = side(cat.asOf("docs_snap", v1), "old")
    val cur = side(cat.scan("docs_snap"), "new")
    old.join(cur, Seq("doc_id"), "full_outer")
      .filter(col("in_old").isNull || col("in_new").isNull ||
        !(col("t_old") <=> col("t_new")))
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .otherwise("changed").as("status"),
        col("n_tokens_old"), col("n_tokens_new"))
      .orderBy("doc_id")
  }

  /** Oracle: replay the same version chain set-algebraically over the
    * raw documents table. Presence is keyed on the join sides' doc_id
    * (NOT text nullability — null-text docs exist), change on
    * IS DISTINCT FROM. */
  val e10OracleSql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3
       |), cur AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 13 = 6 THEN 'edited ' || text ELSE text END AS text
       |  FROM documents WHERE doc_id % 11 <> 5
       |), o AS (
       |  SELECT doc_id, TRUE AS in_old, text AS t_old,
       |         CAST($nTokensSql AS BIGINT) AS n_tokens_old
       |  FROM v1
       |), n AS (
       |  SELECT doc_id, TRUE AS in_new, text AS t_new,
       |         CAST($nTokensSql AS BIGINT) AS n_tokens_new
       |  FROM cur
       |)
       |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       |       CASE WHEN in_old IS NULL THEN 'added'
       |            WHEN in_new IS NULL THEN 'removed'
       |            ELSE 'changed' END AS status,
       |       n_tokens_old, n_tokens_new
       |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
       |WHERE in_old IS NULL OR in_new IS NULL OR t_old IS DISTINCT FROM t_new
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e10_snapshot_diff" -> (e10SnapshotDiff _),
    "e09_mixture_manifest" -> (e09MixtureManifest _),
    "e06_quality_cascade_pack" -> (e06QualityCascadePack _),
    "e07_cascade_stored" -> (e07CascadeStored _),
    "e08_funnel_report" -> (e08FunnelReport _),
    "e01_curate" -> (e01Curate _),
    "e02_curate_ingest" -> (e02CurateIngest _),
    "e03_curate_incremental" -> (e03CurateIncremental _),
    "e04_curate_pack" -> (e04CuratePack _),
    "e05_curate_select_pack" -> (e05CurateSelectPack _))

  val oracleSql: Map[String, String] = Map(
    "e01_curate" -> e01OracleSql,
    // the ingested managed table must equal the curated set exactly
    "e02_curate_ingest" -> e01OracleSql,
    "e03_curate_incremental" -> e03OracleSql,
    "e04_curate_pack" -> e04OracleSql,
    "e05_curate_select_pack" -> e05OracleSql,
    "e06_quality_cascade_pack" -> e06OracleSql,
    // the stored-score cascade must reproduce e06 exactly
    "e07_cascade_stored" -> e06OracleSql,
    "e08_funnel_report" -> e08OracleSql,
    "e09_mixture_manifest" -> e09OracleSql,
    "e10_snapshot_diff" -> e10OracleSql)
}
