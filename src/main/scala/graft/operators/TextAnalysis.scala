package graft.operators

import graft.functions.{fingerprint64, word_gram_stats}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2
  * scale ops): language ID, quality scoring, token counting, document
  * fingerprinting. All single-scan column pipelines — no shuffle, no
  * UDFs; everything stays inside whole-stage codegen, so throughput is
  * scan-bound at any corpus size.
  */
object TextAnalysis {

  // ---------------------------------------------------------------- t01
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "for",
      "on", "with", "as", "was", "at", "by", "a"),
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "et", "en", "un",
      "une", "est", "que", "pour", "dans", "au"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den",
      "im", "für", "auf", "ein", "eine", "zu", "nicht"),
    "es" -> Seq("el", "los", "las", "y", "una", "es", "por", "para",
      "con", "del", "se", "no", "como", "más", "pero"))

  /** Occurrences of any `lang` stopword among `tokens` (higher-order
    * filter over the token array — codegen'd, no UDF). */
  private def stopHits(tokens: Column, lang: String): Column =
    size(filter(tokens, t => array_contains(typedLit(stopwords(lang)), t)))

  /** n-gram/stopword-heuristic language ID. CJK codepoints short-
    * circuit to zh; otherwise the language with the most stopword
    * hits wins (fixed tie order en > fr > de > es, 'und' when no
    * evidence). */
  def t01LangId(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = split(lower(col("text")), "\\s+")
    val scored = docs.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).as("cjk"),
      stopHits(toks, "en").as("s_en"), stopHits(toks, "fr").as("s_fr"),
      stopHits(toks, "de").as("s_de"), stopHits(toks, "es").as("s_es"))
    val best = greatest(col("s_en"), col("s_fr"), col("s_de"), col("s_es"))
    scored.select(
        col("doc_id"), col("labeled_lang"),
        when(col("cjk") > 0, "zh")
          .when(best === 0, "und")
          .when(col("s_en") === best, "en")
          .when(col("s_fr") === best, "fr")
          .when(col("s_de") === best, "de")
          .otherwise("es").as("pred_lang"),
        col("s_en"), col("s_fr"), col("s_de"), col("s_es"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- shared gate exprs
  /** ONE definition (Column + DuckDB fragment) for the text-gate
    * expressions consumed by t02/t12 AND the e01/st09 curation twins
    * ([[Pipeline]], StreamQueries) — four call sites, zero drift. All
    * pure functions of `text`. */
  private[graft] val blockPhrases = Seq(
    "slow query", "big table table", "merge batch",
    "vector table", "stream window stream", "hash value table")

  private[graft] val blockPhrasesSqlList: String = blockPhrases
    .map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")

  private[graft] def nTokensCol: Column =
    length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1

  /** The quality score: length/punct/digit/word-length structural
    * heuristic. Ratio denominators floored at 1: an empty document
    * must score 0, not null (Spark x/0 → null, DuckDB → inf — both
    * wrong AND divergent from each other). */
  private[graft] def qualityScoreCol: Column = {
    val nChars  = length(col("text"))
    val charDen = greatest(nChars, lit(1))
    val nSpaces = nChars - length(replace(col("text"), lit(" "), lit("")))
    val nTokens = nSpaces + 1
    val nPunct  = nChars - length(translate(col("text"), ".,!?;:", ""))
    val nDigit  = nChars - length(translate(col("text"), "0123456789", ""))
    least(lit(1.0), nTokens.cast("double") / 50.0) *
      (lit(1.0) - least(lit(0.5),
        nPunct.cast("double") / charDen + nDigit.cast("double") / charDen)) *
      least(lit(1.0), ((nChars - nSpaces).cast("double") / nTokens) / 8.0)
  }

  private[graft] def nBlockedCol: Column =
    size(filter(typedLit(blockPhrases), p => col("text").contains(p)))

  private[graft] val nTokensSql: String =
    "CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1 AS INT)"

  private[graft] val qualityScoreSql: String =
    """LEAST(1.0, CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1 AS DOUBLE) / 50.0)
      |  * (1.0 - LEAST(0.5,
      |       CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / GREATEST(LENGTH(text), 1)
      |     + CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS DOUBLE) / GREATEST(LENGTH(text), 1)))
      |  * LEAST(1.0, (CAST(LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) AS DOUBLE)
      |      / (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1)) / 8.0)""".stripMargin

  private[graft] val nBlockedSql: String =
    s"len(list_filter($blockPhrasesSqlList, p -> contains(text, p)))"

  /** The e01/st09 curation quality gate. 0.371 sits between lattice
    * points of the score distribution (scores land on a 0.0025 grid at
    * every SF) with ≥1e-3 margin both sides — gate membership never
    * hinges on ulp-level float agreement between Spark and DuckDB. */
  private[graft] val qualityGate = 0.371

  // ---------------------------------------------------------------- t02
  /** Quality scoring: structural ratios a pretraining filter keys on.
    * Character-class counts via length deltas (dialect-portable, so
    * the DuckDB oracle reproduces them bit-for-bit). */
  def t02Quality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nChars  = length(col("text"))
    val charDen = greatest(nChars, lit(1))
    val nSpaces = nChars - length(replace(col("text"), lit(" "), lit("")))
    val nTokens = nSpaces + 1
    val nPunct  = nChars - length(translate(col("text"), ".,!?;:", ""))
    val nDigit  = nChars - length(translate(col("text"), "0123456789", ""))
    val nAlpha  = nChars - length(regexp_replace(col("text"), "[A-Za-z]", ""))
    docs.select(
        col("doc_id"),
        nChars.as("n_chars"),
        nTokens.as("n_tokens"),
        (nPunct.cast("double") / charDen).as("punct_ratio"),
        (nDigit.cast("double") / charDen).as("digit_ratio"),
        (nAlpha.cast("double") / charDen).as("alpha_ratio"),
        ((nChars - nSpaces).cast("double") / nTokens).as("avg_word_len"),
        qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")
  }

  val t02OracleSql: String =
    s"""SELECT doc_id,
       |  CAST(LENGTH(text) AS INT) AS n_chars,
       |  $nTokensSql AS n_tokens,
       |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |    / GREATEST(LENGTH(text), 1) AS punct_ratio,
       |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS DOUBLE)
       |    / GREATEST(LENGTH(text), 1) AS digit_ratio,
       |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
       |    / GREATEST(LENGTH(text), 1) AS alpha_ratio,
       |  CAST(LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) AS DOUBLE)
       |    / (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1) AS avg_word_len,
       |  $qualityScoreSql
       |    AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** Token counting: whitespace tokens plus a BPE-ish segmentation
    * (letter runs / digit runs / single other symbols). */
  def t03Tokens(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("alpha_runs"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("digit_runs"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"))
      .orderBy("doc_id")
  }

  val t03OracleSql: String =
    """SELECT doc_id,
      |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+')) AS INT) AS alpha_runs,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]+')) AS INT) AS digit_runs,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
      |    AS bpe_ish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Winnowing fingerprints (8-gram hashes, window 16): the compact
    * per-document signature used for containment / plagiarism-style
    * matching. Emits set size and extremes; the full set lives in the
    * array column for downstream joins. */
  def t04Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint64(col("text"), 8, 16).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).as("n_fingerprints"),
        array_min(col("fp")).as("fp_min"),
        array_max(col("fp")).as("fp_max"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- t05
  /** Corpus-level top-k terms: explode tokens → count → TakeOrdered.
    * The shuffle moves (term, partial count) pairs only — map-side
    * partial aggregation keeps it bounded by vocabulary, not corpus. */
  def t05TopTerms(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  val t05OracleSql: String =
    """SELECT term, COUNT(*) AS n
      |FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(term)
      |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- t06
  // Patterns shared by the Spark query and the DuckDB oracle — kept to
  // the regex subset where Java's engine and RE2 agree (char classes,
  // bounded repeats, \b on ASCII).
  private val EmailRe  = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe  = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val LongIdRe = "\\b\\d{9,}\\b"

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before a corpus ships. Pure codegen column
    * expressions (regexp_count / chained regexp_replace), one scan, no
    * UDFs; at 100 TB this is embarrassingly parallel and
    * pushdown-friendly (the counts prune to the text column only). */
  def t06PiiRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("int").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("int").as("n_phones"),
      regexp_count(col("text"), lit(LongIdRe)).cast("int").as("n_long_ids"),
      regexp_count(col("text"), lit("\\d")).cast("int").as("n_digit_chars"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        LongIdRe, "<ID>").as("redacted"))
      .orderBy("doc_id")

  val t06OracleSql: String =
    """SELECT doc_id,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT)
      |    AS n_phones,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b\d{9,}\b')) AS INT) AS n_long_ids,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\d')) AS INT) AS n_digit_chars,
      |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
      |    '\b\d{9,}\b', '<ID>', 'g') AS redacted
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t07
  /** Text canonicalization — the normalize pass that runs BEFORE exact
    * dedup in a real pipeline (d01 on raw text misses "same document,
    * different whitespace/case"): lowercase, strip punctuation to
    * spaces, collapse whitespace runs, trim. Emits the canonical text
    * plus the size of the canonical-dedup partition it lands in, so
    * the oracle also checks the normalize→dedup composition. */
  def t07Normalize(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "),
      "\\s+", " "))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), canon.as("canonical"))
      .withColumn("h", xxhash64(col("canonical")))
    // window count partitioned on the 8-BYTE HASH, not the text (the
    // d01 pattern): one scan + one shuffle whose exchange key is h, so
    // a 100 TB run routes and sorts 8-byte keys instead of whole
    // documents. Collision-SAFE, not merely collision-tolerant: the
    // distinct-canonical count within each hash group rides the same
    // window buffer, and a group that mixes two canonicals (a real
    // xxhash64 collision) raises instead of returning a merged count.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    // NULL text ⇒ NULL canonical: those rows count each other (the
    // old partition-by-text window grouped NULLs together), never mix
    // with a real canonical that happens to share the NULL hash, and
    // never trip the collision check — count(col) skips NULLs, so
    // n_nonnull/n_distinct see only real canonicals
    docs
      .select(col("doc_id"), col("canonical"),
        count(lit(1)).over(w).as("n_in_bucket"),
        count(col("canonical")).over(w).as("n_nonnull"),
        size(collect_set(col("canonical")).over(w)).as("n_distinct"))
      .select(col("doc_id"), col("canonical"),
        when(col("canonical").isNull, col("n_in_bucket") - col("n_nonnull"))
          .when(col("n_distinct") === 1, col("n_nonnull"))
          .otherwise(raise_error(concat(
            lit("t07: xxhash64 collision on canonical text of doc "),
            col("doc_id")))).as("n_same"))
      .orderBy("doc_id")
  }

  val t07OracleSql: String =
    """WITH canon AS (
      |  SELECT doc_id,
      |         TRIM(REGEXP_REPLACE(
      |           REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
      |           '\s+', ' ', 'g')) AS canonical
      |  FROM documents
      |)
      |SELECT c.doc_id, c.canonical, g.n_same
      |FROM canon c
      |JOIN (SELECT canonical, COUNT(*) AS n_same FROM canon GROUP BY canonical) g
      |  ON c.canonical = g.canonical
      |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- t08
  /** TF-IDF term weighting — the relevance/quality signal behind
    * keyword extraction and near-duplicate triage. Shape at scale:
    * explode → map-side partial counts per (doc, term); the document
    * frequency table is VOCABULARY-sized, so it broadcasts and the
    * tf←df join never shuffles the corpus; the doc count N is a
    * parquet-footer count folded into the plan as a literal (the d05
    * pattern — O(1) metadata read, cheaper than a one-row-broadcast
    * join node). The score is rounded to 4 decimals so the two
    * engines' last-ulp `ln` deltas can't flip the hash (the s01
    * pattern). */
  def t08TfIdf(s: SparkSession, d: String): DataFrame =
    tfidfFrame(s, d).orderBy("doc_id", "term")

  /** The scored (doc, term, tf, df, tfidf) frame, shared by t08 and
    * t16's keyword extraction — one definition, the scores cannot
    * drift between the two consumers. */
  private def tfidfFrame(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count().toDouble
    // tf feeds TWO consumers (the df rollup and the scoring join), so
    // without the checkpoint the corpus explode+aggregate runs twice
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("int").as("tf"))
      .localCheckpoint()
    // tf is already distinct per (doc, term): df = row count per term
    val df = tf.groupBy("term").agg(count(lit(1)).cast("int").as("df"))
    tf.join(broadcast(df), "term")
      .select(
        col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") * log(lit(nDocs) / col("df")), 4)
          .as("tfidf"))
  }

  val t08OracleSql: String =
    """WITH terms AS (
      |  SELECT doc_id, term
      |  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(term)
      |), tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf
      |  FROM terms GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term
      |), n AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      |)
      |SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |       ROUND(CAST(tf.tf AS DOUBLE) * LN(n.n_docs / df.df), 4) AS tfidf
      |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |ORDER BY tf.doc_id, tf.term""".stripMargin

  // ---------------------------------------------------------------- t16
  /** PER-DOCUMENT KEYWORD EXTRACTION: each document's 3 most
    * distinctive terms — t08's TF-IDF scores pushed through the
    * library's custom [[graft.plans.TopKPerGroup]] operator (q64's
    * node, here consumed by the text pipeline): a bounded 3-row heap
    * per doc with the map-side partial pass, instead of a row_number
    * window that would sort every (doc, term) partition and shuffle
    * every scored row. Ranking on the ROUNDED score (+ term tie-break)
    * keeps the order total and cross-engine stable — the unrounded
    * ln() differs in the last ulp between engines, the 4-decimal gap
    * does not (t08's precedent). */
  def t16Keywords(s: SparkSession, d: String): DataFrame =
    Scale.topKPerGroup(tfidfFrame(s, d), Seq("doc_id"),
        Seq(("tfidf", false), ("term", true)), 3)
      .select("doc_id", "term", "tfidf")
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))

  val t16OracleSql: String =
    """WITH terms AS (
      |  SELECT doc_id, term
      |  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(term)
      |), tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf
      |  FROM terms GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term
      |), n AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         ROUND(CAST(tf.tf AS DOUBLE) * LN(n.n_docs / df.df), 4) AS tfidf
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, term, tfidf,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY tfidf DESC, term) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, tfidf DESC, term""".stripMargin

  // ---------------------------------------------------------------- t17
  /** N-GRAM NOVELTY scoring — the curation signal between t10's
    * intra-doc repetition and d08's cross-set contamination: what
    * fraction of a document's word 8-grams appear NOWHERE else in the
    * corpus. Low novelty = boilerplate/template text even when no
    * single doc is a near-duplicate. The per-doc DISTINCT gram-hash
    * sets come from the single-pass [[graft.functions.word_grams64]]
    * codegen kernel (d08's — no dedup shuffle ever runs); the count
    * exchange carries 8-byte hashes with map-side partials, and the
    * count join keys on the same 8 bytes (corpus-sized on both sides —
    * a shuffle join by necessity, AQE-planned; at 100 TB the gram
    * count table is the stored inverted index d08's notes describe).
    * Docs under 8 tokens have no 8-grams and drop out, exactly like
    * the oracle. */
  def t17Novelty(s: SparkSession, d: String): DataFrame = {
    import graft.functions.word_grams64
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(word_grams64(col("text"), 8)).as("gh"))
    val counts = grams.groupBy("gh").agg(count(lit(1)).as("n"))
    grams.join(counts, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        sum(when(col("n") === 1, 1).otherwise(0)).cast("int").as("n_unique"),
        round(avg(when(col("n") === 1, 1.0).otherwise(0.0)), 4).as("novelty"))
      .orderBy("doc_id")
  }

  val t17OracleSql: String =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, ARRAY_TO_STRING(t[i:i+7], ' ') AS g
      |  FROM toks, UNNEST(RANGE(1, LEN(t)-6)) AS r(i)
      |  WHERE LEN(t) >= 8
      |),
      |dg AS (SELECT DISTINCT doc_id, g FROM grams),
      |cnt AS (SELECT g, COUNT(*) AS n FROM dg GROUP BY g)
      |SELECT dg.doc_id,
      |       CAST(COUNT(*) AS INT) AS n_grams,
      |       CAST(SUM(CASE WHEN cnt.n = 1 THEN 1 ELSE 0 END) AS INT) AS n_unique,
      |       ROUND(AVG(CASE WHEN cnt.n = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
      |FROM dg JOIN cnt USING (g)
      |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin

  // ---------------------------------------------------------------- t09
  /** Per-language corpus statistics — the "dataset card" summary every
    * shipped training corpus publishes: doc counts, token volume, mean
    * and median document length. One scan + one shuffle of
    * constant-size partial aggregates per group; the median uses the
    * exact in-aggregate sort (integer lengths → bit-identical
    * interpolation, the q36 recipe), where 100 TB production would
    * swap in approx_percentile (q23's sketch pattern). */
  def t09CorpusStats(s: SparkSession, d: String): DataFrame = {
    val nChars  = length(col("text"))
    val nTokens = nChars - length(replace(col("text"), lit(" "), lit(""))) + 1
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).cast("int").as("n_docs"),
        sum(nTokens.cast("bigint")).as("total_tokens"),
        // integer char sums are exact in both engines; one double
        // division at the end keeps the mean bit-stable
        (sum(nChars.cast("bigint")).cast("double") / count(lit(1))).as("avg_chars"),
        percentile(nChars, lit(0.5)).as("median_chars"))
      .orderBy("lang")
  }

  val t09OracleSql: String =
    """SELECT lang,
      |  CAST(COUNT(*) AS INT) AS n_docs,
      |  CAST(SUM(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) + 1)
      |       AS BIGINT) AS total_tokens,
      |  CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  MEDIAN(LENGTH(text)) AS median_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Repetition-based quality filter (the Gopher-rules family): per
    * document, the fraction of word 2-grams that are duplicates and the
    * fraction claimed by the single most frequent 2-gram — boilerplate
    * and template spam score high on both; docs exceeding either
    * threshold are flagged (keep=0). Shape at scale: the per-doc
    * [total, distinct, top] triple comes from the single-pass
    * [[graft.functions.Kernels.wordGramStats]] codegen kernel —
    * NO explode, NO shuffle (vs the naive explode → count → re-agg,
    * which shuffles every gram twice); only the presentation sort
    * exchanges data. Fractions round to 4 decimals (the s01/t08 ulp
    * pattern). */
  def t10Repetition(s: SparkSession, d: String): DataFrame = {
    val st = word_gram_stats(col("text"), 2)
    val total   = col("total_2grams").cast("double")
    val dupFrac = (col("total_2grams") - col("distinct_2grams")).cast("double") / total
    val topFrac = col("top").cast("double") / total
    Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(st, 1).cast("int").as("total_2grams"),
        element_at(st, 2).cast("int").as("distinct_2grams"),
        element_at(st, 3).as("top"))
      .filter(col("total_2grams") >= 1) // docs with < 2 tokens have no grams
      .select(
        col("doc_id"), col("total_2grams"), col("distinct_2grams"),
        round(dupFrac, 4).as("dup2_frac"),
        round(topFrac, 4).as("top2_frac"),
        when(dupFrac <= 0.2 && topFrac <= 0.1, 1).otherwise(0)
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val t10OracleSql: String =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      |  FROM toks, UNNEST(RANGE(1, LEN(t))) AS r(i)
      |  WHERE LEN(t) >= 2
      |),
      |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
      |agg AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
      |        FROM cnt GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(total AS INT) AS total_2grams,
      |  CAST(n_distinct AS INT) AS distinct_2grams,
      |  ROUND(CAST(total - n_distinct AS DOUBLE)/total, 4) AS dup2_frac,
      |  ROUND(CAST(top AS DOUBLE)/total, 4) AS top2_frac,
      |  CAST(CASE WHEN CAST(total - n_distinct AS DOUBLE)/total <= 0.2
      |             AND CAST(top AS DOUBLE)/total <= 0.1 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t11
  /** Sliding-window token CHUNKING — context-window prep: each
    * document becomes overlapping 32-token chunks on a 24-token
    * stride. `explode(sequence(...))` fans each row out to ~n/stride
    * chunk rows INSIDE the scan stage — no shuffle, no UDF; at 100 TB
    * this is the embarrassingly-parallel map the chunk writer wants
    * (the ORDER BY is presentation-only; a pipeline sink drops it and
    * the whole operator stays inside whole-stage codegen). */
  def t11Chunk(s: SparkSession, d: String): DataFrame = {
    val L = 32; val S = 24
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(S))).as("start"))
      .select(col("doc_id"),
        (col("start") / S).cast("int").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(L)), " ").as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(L)).as("chunk_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** DuckDB twin: 1-based inclusive list slice == Spark's
    * slice(start+1, L); generate_series is inclusive like sequence. */
  val t11OracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks,
      |             UNNEST(generate_series(0, len(toks) - 1, 24)) AS start
      |      FROM t)
      |SELECT doc_id,
      |  CAST(start // 24 AS INT) AS chunk_id,
      |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
      |  CAST(LEAST(len(toks) - start, 32) AS INT) AS chunk_tokens
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- t12
  /** Multi-phrase BLOCKLIST filter — content filtering against a
    * banned-phrase list. The list rides into codegen as an array
    * LITERAL (`filter(typedLit(...), contains)`): no broadcast var, no
    * join, no shuffle — a pure single-scan predicate at any corpus
    * size. A production list of 10⁵ phrases would swap the linear
    * probe for an Aho-Corasick Expression; the operator contract
    * (matched list + keep flag) is what pipelines compose on. The
    * phrase list is the shared [[blockPhrases]] consumed by all four
    * gate call sites (t12, e01, st09, and the nBlocked fragments). */
  def t12Blocklist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        filter(typedLit(blockPhrases), p => col("text").contains(p)).as("hits"))
      .select(col("doc_id"),
        size(col("hits")).as("n_hits"),
        array_join(col("hits"), "|").as("matched"),
        (size(col("hits")) === 0).cast("int").as("keep"))
      .orderBy("doc_id")

  val t12OracleSql: String = {
    s"""WITH h AS (
       |  SELECT doc_id,
       |         list_filter($blockPhrasesSqlList, p -> contains(text, p)) AS hits
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(hits) AS INT) AS n_hits,
       |  COALESCE(array_to_string(hits, '|'), '') AS matched,
       |  CAST(CASE WHEN len(hits) = 0 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- t12b
  /** t12b: the 10⁵-phrase blocklist path EXERCISED — t12's documented
    * Aho-Corasick swap-in as a real codegen Expression
    * ([[graft.functions.MultiContains]]): ONE automaton pass per
    * document (O(text + matches)) instead of the array-literal probe's
    * O(phrases · text), with the SAME observable contract (matched
    * phrase list + keep flag — the automaton returns phrase-list
    * indexes, mapped back to strings in the projection, so hit order
    * is list order exactly like t12's `filter`). Same single-scan
    * shape: no join, no broadcast, no shuffle; the automaton rides
    * into the generated code as a driver-built reference object. The
    * DuckDB oracle is t12's — both formulations must answer
    * identically — and a spec proves equality against a GENERATED
    * 10⁴-phrase list where the linear probe is measurably slower. */
  def t12bBlocklistAc(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        transform(
          graft.functions.multi_contains(col("text"), blockPhrases),
          i => element_at(typedLit(blockPhrases), i + 1)).as("hits"))
      .select(col("doc_id"),
        size(col("hits")).as("n_hits"),
        array_join(col("hits"), "|").as("matched"),
        (size(col("hits")) === 0).cast("int").as("keep"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- t13
  /** t13: per-document codepoint ENTROPY gate — the CCNet-style
    * gibberish filter: near-zero entropy is one repeated character,
    * unusually high is random bytes; natural prose sits in a band.
    * The entropy is a single-scan codegen kernel
    * ([[graft.functions.CharEntropy]] — per-doc counts in a flat
    * array, no explode, NO shuffle; the naive form shuffles every
    * character of the corpus). Emitted rounded to 4 decimals, where
    * the engines' ln/fold differences (~1e-13 relative) are orders of
    * magnitude below the boundary. */
  def t13Entropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        round(graft.functions.char_entropy(col("text")), 4).as("char_entropy"))
      .withColumn("keep", col("char_entropy") >= 2.0 && col("char_entropy") <= 6.0)
      .orderBy("doc_id")

  val t13OracleSql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
      |), counts AS (
      |  SELECT doc_id, ch, COUNT(*)::BIGINT AS c FROM chars GROUP BY doc_id, ch
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
      |         ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS char_entropy
      |  FROM counts GROUP BY doc_id
      |)
      |SELECT doc_id, CAST(n AS INT) AS n_chars, char_entropy,
      |       char_entropy >= 2.0 AND char_entropy <= 6.0 AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t14
  /** Corpus bigram language-model scoring — the CCNet/KenLM-style
    * perplexity filter: score each document by the mean log-probability
    * of its word bigrams under the bigram LM estimated from the corpus
    * itself (p(w2|w1) = c(w1,w2)/c(w1)). Low scorers are boilerplate /
    * keyword-stuffed / scrambled text that per-character heuristics
    * (t02/t13) miss.
    *
    * Scale shape: bigram emission is `transform(sequence)` inside the
    * scan stage (codegen, no shuffle); the two count tables are
    * map-side-partial groupBys (the n_vocab / n_bigram_vocab result
    * rows are tiny next to the corpus, and the 'the'-head skew lives
    * in the partial agg, never a window buffer); probe joins hash on
    * the count keys with AQE free to broadcast the vocab side. The
    * per-doc mean rounds to 4 decimals — t13's precedent: engine
    * ln/accumulation deltas sit ~1e9× below that boundary.
    * A production run over 100 TB prunes the count tables (min-count
    * threshold) exactly like KenLM pruning; the query shape is
    * unchanged. */
  def t14BigramLm(s: SparkSession, d: String): DataFrame = {
    val toks = filter(split(lower(col("text")), " ", -1), t => t =!= "")
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(l) - 1),
           |  i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // c1 is a pure ROLLUP of the bigram table (n1(w1) = Σ_w2 n2), and
    // the bigram fan-out itself is materialized ONCE (r9): the count
    // build and the scoring join otherwise each re-run the corpus
    // explode — the plan showed two scans + two fan-outs
    val pairsM = pairs.localCheckpoint()
    val c2 = pairsM.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      .localCheckpoint()
    val c1 = c2.groupBy("w1").agg(sum("n2").as("n1"))
    pairsM
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(log(col("n2").cast("double") / col("n1"))), 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  val t14OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      |  FROM documents
      |),
      |pairs AS (
      |  SELECT doc_id,
      |         unnest([{'w1': l[i], 'w2': l[i+1]} for i in generate_series(1, len(l)-1)],
      |                recursive := true)
      |  FROM toks WHERE len(l) >= 2
      |),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM pairs GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS n1 FROM pairs GROUP BY 1)
      |SELECT p.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
      |       ROUND(AVG(LN(CAST(n2 AS DOUBLE) / n1)), 4) AS avg_logp
      |FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- t15
  /** Heavy-hitter estimation via a Count-Min sketch
    * ([[graft.functions.SketchAgg]]) — the novel-sketch custom
    * aggregate: the whole corpus folds into ONE Depth×Width counter
    * grid (map-side partial grids add elementwise — commutative, so
    * the sketch is bit-deterministic under any partitioning), then a
    * fixed probe list of terms reads its estimates from the broadcast
    * grid. Guarantees (spec-proven against exact counts): estimate ≥
    * true count always; estimate ≤ true + εN. Engine-hash output ⇒
    * rows-only for the driver, property-spec-verified like q23's HLL.
    * At 100 TB: shuffle volume for the aggregation is one 32 KB grid
    * per partition — frequency profiling with zero per-term state. */
  /** The term stream feeding the sketch — ONE definition shared by the
    * batch t15 and the streaming st11 twin, so the tokenization cannot
    * drift between them. */
  /** Per-document term ARRAY — the single tokenization definition t20's
    * whole-document encoder shares with [[termCol]], so the corpus
    * tokenizer cannot drift from the per-term stream. */
  private[graft] def termsArrayCol: Column =
    filter(split(lower(col("text")), " ", -1), t => t =!= "")

  private[graft] def termCol: Column =
    explode(termsArrayCol).as("term")

  /** Probe-side estimate read over a 1-row sketch frame (`cms`:
    * Array[Long]) — shared by t15 and st11: positions are
    * driver-computed with the SAME hash the aggregator uses. */
  private[graft] def cmsProbeFrame(s: SparkSession, sketch: DataFrame): DataFrame = {
    import graft.functions.SketchAgg
    import s.implicits._
    val probes = Seq("the", "and", "table", "query", "data", "stream",
      "hash", "window", "join", "zebra")
    val probeDf = probes.map { t =>
      (t, (0 until SketchAgg.Depth).map(r => r * SketchAgg.Width + SketchAgg.pos(t, r)))
    }.toDF("term", "idx")
    probeDf.crossJoin(broadcast(sketch))
      .select(col("term"),
        array_min(transform(col("idx"), i => element_at(col("cms"), i + 1)))
          .as("est_count"))
      .orderBy("term")
  }

  def t15HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchAgg
    val sketch = Tables.documents(s, d).select(termCol)
      .agg(SketchAgg.cmsSketch(col("term")).as("cms"))
    cmsProbeFrame(s, sketch)
  }

  // ---------------------------------------------------------------- t25
  /** t25: LINE-level dedup removal with the DOC-level drop gate — the
    * RefinedWeb "remove duplicated lines, drop heavily-deduplicated
    * documents" pass (Penedo et al. 2023, §MacroData Refinement: line
    * dedup runs between the repetition flags (t10) and the span passes
    * (d12/d14); a document losing too much of itself to dedup is
    * boilerplate and leaves the corpus entirely). Rule: a line
    * occurring ≥ 2 times corpus-wide (intra- OR inter-document —
    * both copies go) is removed from every document; a document whose
    * removed-line fraction is ≥ [[LineDropFrac]] is flagged keep=false.
    *
    * Line convention: production corpora pass `split(text, '\n')`;
    * the synthetic fixture is single-line, so the driver query uses
    * the documented 12-word reflow (the same derived-segment
    * convention as d12's spans, at line granularity) — the operator
    * itself ([[t25Pipeline]]) takes the line array as a Column and is
    * splitter-agnostic.
    *
    * Scale shape = d12's: line fan-out in the scan (posexplode,
    * codegen), map-side-combined counting exchange on the line key
    * (xxhash64 at 100 TB), hot set (bounded by duplicated text volume)
    * broadcast back as a hash probe, reassembly one doc_id-keyed
    * exchange. The doc gate is a pure per-row projection after the
    * reassembly aggregate — no extra pass. */
  private val LineW = 12
  private val LineDropFrac = 0.3

  def t25LineDedup(s: SparkSession, d: String): DataFrame =
    t25Pipeline(s, Tables.documents(s, d).select(col("doc_id"),
      expr(s"""transform(sequence(0, cast(ceil(size(split(text, ' ')) / $LineW.0)
              |  as int) - 1),
              |  i -> array_join(slice(split(text, ' '), i * $LineW + 1, $LineW), ' '))"""
        .stripMargin).as("lines")))

  /** The splitter-agnostic pass over (doc_id, lines array). The hot
    * probe goes through the SHARED hostile-corpus guard
    * ([[Scale.hotGuardedJoin]] — d14's discipline): broadcast under
    * `spark.graft.hotBroadcastLimit` rows, shuffle-hash join above it,
    * because a boilerplate-heavy crawl makes the duplicated-line set
    * exactly the thing that outgrows a broadcast. */
  private[graft] def t25Pipeline(s: SparkSession, docLines: DataFrame): DataFrame = {
    // the line fan-out feeds the hot-set aggregate AND the probe side
    // of the guarded join — materialized once instead of exploding the
    // corpus twice (the d09 fingerprint-index discipline)
    val lines = docLines.select(col("doc_id"),
      posexplode(col("lines")).as(Seq("pos", "line")))
      .localCheckpoint()
    val hot = lines.groupBy("line").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("line"), lit(true).as("is_hot"))
    Scale.hotGuardedJoin(s, lines, hot, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("is_hot")).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("is_hot").isNull,
            struct(col("pos"), col("line"))))),
          x => x("line")), " ").as("cleaned"))
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        round(col("n_removed") / col("n_lines"), 4).as("removed_frac"),
        (col("n_removed") / col("n_lines") < LineDropFrac).as("keep"),
        col("cleaned"))
      .orderBy("doc_id")
  }

  val t25OracleSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |),
       |segs AS (
       |  SELECT doc_id, i,
       |         array_to_string(words[i*$LineW+1 : i*$LineW+$LineW], ' ') AS line
       |  FROM (SELECT doc_id, words,
       |               unnest(generate_series(0,
       |                 CAST(ceil(len(words) / $LineW.0) AS BIGINT) - 1)) AS i
       |        FROM w)
       |),
       |hot AS (SELECT line FROM segs GROUP BY line HAVING COUNT(*) >= 2),
       |agg AS (
       |  SELECT s.doc_id,
       |         COUNT(*) AS n_lines,
       |         COUNT(*) FILTER (WHERE h.line IS NOT NULL) AS n_removed,
       |         COALESCE(string_agg(s.line, ' ' ORDER BY s.i)
       |                    FILTER (WHERE h.line IS NULL), '') AS cleaned
       |  FROM segs s LEFT JOIN hot h ON s.line = h.line
       |  GROUP BY s.doc_id
       |)
       |SELECT doc_id, n_lines, n_removed,
       |       ROUND(CAST(n_removed AS DOUBLE) / n_lines, 4) AS removed_frac,
       |       (CAST(n_removed AS DOUBLE) / n_lines < $LineDropFrac) AS keep,
       |       cleaned
       |FROM agg ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t25_line_dedup"  -> (t25LineDedup _),
    "t01_langid"      -> (t01LangId _),
    "t02_quality"     -> (t02Quality _),
    "t03_tokens"      -> (t03Tokens _),
    "t04_fingerprint" -> (t04Fingerprint _),
    "t05_top_terms"   -> (t05TopTerms _),
    "t06_pii_redact"  -> (t06PiiRedact _),
    "t07_normalize"   -> (t07Normalize _),
    "t08_tfidf"       -> (t08TfIdf _),
    "t09_corpus_stats" -> (t09CorpusStats _),
    "t10_repetition"  -> (t10Repetition _),
    "t11_chunk"       -> (t11Chunk _),
    "t12_blocklist"   -> (t12Blocklist _),
    "t12b_blocklist_ac" -> (t12bBlocklistAc _),
    "t13_entropy"     -> (t13Entropy _),
    "t14_bigram_lm"   -> (t14BigramLm _),
    "t15_heavy_hitters" -> (t15HeavyHitters _),
    "t16_keywords"    -> (t16Keywords _),
    "t17_novelty"     -> (t17Novelty _),
    "t18_dsir_importance" -> (t18DsirImportance _),
    "t19_bpe_train"   -> (t19BpeTrain _),
    "t20_tokenize"    -> (t20Tokenize _),
    "t21_ppl_bucket"  -> (t21PerplexityBucket _),
    "t22_nb_quality"  -> (t22NbQuality _),
    "t23_gopher_rules" -> (t23GopherRules _),
    "t24_fertility"   -> (t24Fertility _))

  /** t01's stopword-count heuristic is integer arithmetic over token
    * lists — DuckDB reproduces it exactly (list lambdas + the same
    * regexes), making langid oracle-checked rather than rows-only. */
  private def sqlList(lang: String): String =
    stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  val t01OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang AS labeled_lang, text,
       |         REGEXP_SPLIT_TO_ARRAY(LOWER(text), '\\s+') AS t
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, labeled_lang,
       |    LEN(REGEXP_EXTRACT_ALL(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |    CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS(${sqlList("en")}, x))) AS INT) AS s_en,
       |    CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS(${sqlList("fr")}, x))) AS INT) AS s_fr,
       |    CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS(${sqlList("de")}, x))) AS INT) AS s_de,
       |    CAST(LEN(LIST_FILTER(t, x -> LIST_CONTAINS(${sqlList("es")}, x))) AS INT) AS s_es
       |  FROM toks
       |)
       |SELECT doc_id, labeled_lang,
       |  CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN GREATEST(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
       |       WHEN s_en = GREATEST(s_en, s_fr, s_de, s_es) THEN 'en'
       |       WHEN s_fr = GREATEST(s_en, s_fr, s_de, s_es) THEN 'fr'
       |       WHEN s_de = GREATEST(s_en, s_fr, s_de, s_es) THEN 'de'
       |       ELSE 'es' END AS pred_lang,
       |  s_en, s_fr, s_de, s_es
       |FROM sc ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t25_line_dedup" -> t25OracleSql,
    "t01_langid"     -> t01OracleSql,
    "t02_quality"    -> t02OracleSql,
    "t03_tokens"     -> t03OracleSql,
    "t05_top_terms"  -> t05OracleSql,
    "t06_pii_redact" -> t06OracleSql,
    "t07_normalize"  -> t07OracleSql,
    "t08_tfidf"      -> t08OracleSql,
    "t09_corpus_stats" -> t09OracleSql,
    "t10_repetition" -> t10OracleSql,
    "t11_chunk"      -> t11OracleSql,
    "t12_blocklist"  -> t12OracleSql,
    "t12b_blocklist_ac" -> t12OracleSql, // identical contract, same oracle
    "t13_entropy"    -> t13OracleSql,
    "t14_bigram_lm"  -> t14OracleSql,
    "t16_keywords"   -> t16OracleSql,
    "t17_novelty"    -> t17OracleSql,
    "t18_dsir_importance" -> t18OracleSql,
    "t21_ppl_bucket" -> t21OracleSql,
    "t22_nb_quality" -> t22OracleSql,
    "t23_gopher_rules" -> t23OracleSql)

  // ---------------------------------------------------------------- t18
  /** t18: DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — the
    * domain-targeted data-selection pass: each raw document scores
    * Σ_w c_w(doc)·(ln p̂_target(w) − ln p̂_raw(w)), the unigram
    * log-likelihood ratio between a TARGET domain (here: source
    * 'src0') and the full RAW pool, add-1 smoothed over the raw
    * vocabulary; keep = score > 0 (looks more like the target than
    * the pool). Complements t14 (absolute bigram perplexity) with the
    * RELATIVE signal actual pretraining selection uses.
    *
    * Shape: per-(doc, term) counts collapse map-side; both unigram
    * tables are vocabulary-sized aggregates joined back with AQE
    * broadcast (at 100 TB they are the stored unigram LM tables, the
    * t14 note); totals ride a 1-row aggregate. The corpus text never
    * shuffles — terms do, as in t05/t08. 4-decimal rounding per the
    * t13/t14 ln-delta precedent. */
  /** (doc_id, dsir_score) — the scoring subtree, shared by t18 and the
    * e05 pipeline composition (one definition, the gates-shared-exprs
    * discipline). */
  private[operators] def dsirScoreFrame(s: SparkSession, d: String): DataFrame = {
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), termCol)
    // NOTE on shape: two tighter fusions were measured and REJECTED
    // here (the st15 prelude DOES use the fused single-aggregation
    // form, where separate driver ACTIONS would otherwise re-run the
    // explode): (a) deriving both LM tables from the doc-term table
    // trades two explodes for paying the doc-term shuffle twice
    // (t18 0.59 s → ~1.0 s at sf0.1); (b) fusing raw+tgt into one
    // aggregation left t18 flat but cost the e05 composition ~25%
    // (1.8 s → 2.27 s A/B at equal load). The three map-side-combined
    // aggregations below each shuffle only vocabulary-sized rows.
    val docTerm = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val raw = terms.groupBy("term").agg(count(lit(1)).as("cr"))
    val tgt = terms.filter(col("source") === "src0")
      .groupBy("term").agg(count(lit(1)).as("ct"))
    val totals = raw.agg(
      sum(col("cr")).as("nr"), count(lit(1)).as("v"))
      .crossJoin(tgt.agg(sum(col("ct")).as("nt")))
    docTerm
      .join(raw, "term")
      .join(tgt, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      // + 0.0 normalizes IEEE negative zero: a near-zero sum can round
      // to -0.0 on one engine and +0.0 on the other (str-compare trap)
      .agg((round(sum(
        col("c") * (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            (col("nt") + col("v"))) -
          log((col("cr") + lit(1.0)) / (col("nr") + col("v"))))), 4) + lit(0.0))
        .as("dsir_score"))
  }

  def t18DsirImportance(s: SparkSession, d: String): DataFrame =
    dsirScoreFrame(s, d)
      .select(col("doc_id"), col("dsir_score"),
        (col("dsir_score") > 0).as("keep"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- t19
  /** t19: BPE TOKENIZER TRAINING (Sennrich et al. 2016, "Neural
    * machine translation of rare words with subword units") — learn
    * the first `BpeMerges` byte-pair merges over the corpus, the
    * vocabulary-construction pass every LLM pipeline runs before
    * tokenizing anything. The distributed shape is the real one:
    *
    *  - the corpus collapses ONCE to a (word, freq) table — BPE
    *    statistics are frequency-weighted over the word VOCABULARY,
    *    so after this single corpus pass every round's cost is
    *    vocabulary-bounded, not corpus-bounded;
    *  - each round counts adjacent symbol pairs (scan-stage explode of
    *    the segmentation arrays, map-side partial sums, ONE
    *    vocabulary-keyed exchange), reads the argmax pair — one row —
    *    to the driver, and applies it via the codegen
    *    [[graft.functions.BpeMerge]] kernel with the pair as plan
    *    literals (left-to-right non-overlapping, the reference
    *    semantics: "aaa" + (a,a) → ["aa","a"]);
    *  - the segmentation frame is localCheckpointed per round (the
    *    d06/s10 iterative-lineage recipe) — it is vocabulary-sized,
    *    so each checkpoint is tiny at any corpus scale.
    *
    * Ties break (count DESC, left ASC, right ASC) — fully
    * deterministic, so the learned merge table is reproducible under
    * any partitioning. Rows-only (iterative data-dependent rewrites
    * aren't single-statement SQL); the spec re-derives the whole merge
    * sequence from a driver-side reference implementation. */
  private val BpeMerges = 10

  /** Spark rounds the last t19 training run paid — observability for
    * the batched-merge claim (−1 until it trains). */
  @volatile private[graft] var t19TrainRounds: Int = -1

  /** Trained merge table (rank, left, right, pair_count) PLUS the id
    * vocabulary (sorted base code points, then `</w>`, then merge
    * products in rank order), trained once per call — the
    * trained-tokenizer-as-asset shape a real pipeline stores. Values
    * are vocabulary-sized driver Seqs (tens of entries here, ~100 KB
    * at a production 30k-merge vocabulary). */
  private[graft] def bpeAssets(
      s: SparkSession, d: String): (Seq[(Int, String, String, Long)], Seq[String]) =
    bpeTrainOn(s,
      Tables.documents(s, d)
        .select(termCol)
        .groupBy("term").agg(count(lit(1)).as("freq")),
      BpeMerges)

  /** The training loop over an arbitrary (term, freq) word table and
    * merge budget — split from [[bpeAssets]] so a production-scale
    * budget (1,000+ merges over a rich vocabulary) can be trained and
    * MEASURED against the same code path the suite's 10-merge assets
    * use ([[graft.BpeScale]]); the batched-greedy acceptance rule is
    * what keeps Spark rounds ≪ merges at that budget. */
  private[graft] def bpeTrainOn(s: SparkSession, words0: DataFrame,
      budget: Int): (Seq[(Int, String, String, Long)], Seq[String]) = {
    import graft.functions.bpe_merge
    val words = words0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init segmentation: characters + the end-of-word marker. The
    // frame is vocabulary-sized — coalesce keeps the 20 per-round
    // stages from scheduling 32 near-empty tasks each (narrow, no
    // shuffle; at production vocab sizes the knob goes UP instead)
    var seg = words.select(col("freq"),
      concat(split(col("term"), ""), array(lit("</w>"))).as("seg"))
      .coalesce(8)
      .localCheckpoint()
    // base vocabulary: every code point of the word table, sorted —
    // a vocabulary-sized distinct, collected once alongside training.
    // Also the training loop's CURRENT symbol set (base + products so
    // far), which the batch-safety rule consults.
    val baseChars = words
      .select(explode(split(col("term"), "")).as("c")).distinct()
      .orderBy("c").collect().map(_.getString(0)).toSeq
    val currentSymbols = scala.collection.mutable.Set[String](baseChars: _*)
    currentSymbols += "</w>"

    // BATCHED training rounds: each round counts pairs ONCE, then
    // accepts a greedy PREFIX of the (count DESC, l, r)-sorted
    // candidates that is PROVABLY equal to applying them sequentially
    // with recounts between — so a 30k-merge vocabulary no longer pays
    // 30k Spark rounds, and the learned table is BIT-IDENTICAL to the
    // sequential reference (the spec's merge-sequence equality is the
    // proof). A candidate joins the batch only when sequential
    // selection could not have diverged:
    //  (1) no earlier candidate was rejected (a skipped pair stays in
    //      play for the sequential recount);
    //  (2) its symbols are disjoint from every accepted pair's symbols
    //      AND products (applying accepted merges then cannot change
    //      its count);
    //  (3) its product is not an existing symbol (else an existing
    //      pair's count could INCREASE through newly-minted symbols);
    //  (4) its count STRICTLY exceeds every other collected pair that
    //      interacts with the accepted symbols or its own (post-merge
    //      counts of interacting pairs only fall, and new pairs are
    //      bounded by the old interacting counts — strict dominance
    //      also kills the equal-count lexicographic-flip case), and
    //      strictly exceeds the collection tail bound when truncated.
    // The batch is applied as ONE chained kernel pass + ONE checkpoint.
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    t19TrainRounds = 0
    while (merges.size < budget) {
      val topK = 256
      val cand = seg
        .filter(size(col("seg")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("seg")) - 2),
            i => struct(element_at(col("seg"), i + 1).as("l"),
              element_at(col("seg"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(topK)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cand.isEmpty) {
        // corpus fully collapsed before reaching the merge budget
        t19TrainRounds += 1
        words.unpersist()
        return (merges.toSeq,
          baseChars ++ Seq("</w>") ++ merges.map(m => m._2 + m._3))
      }
      val tailBound = if (cand.length == topK) cand.last._3 else 0L
      val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      val batchSyms = scala.collection.mutable.Set[String]()
      var open = true
      for ((l, r, n) <- cand if open && merges.size + accepted.size < budget) {
        val ok =
          if (accepted.isEmpty) true
          else {
            val mySyms = Set(l, r)
            val touched = batchSyms ++ mySyms
            (mySyms & batchSyms).isEmpty &&
              !currentSymbols.contains(l + r) &&
              n > tailBound &&
              cand.forall { case (ql, qr, qn) =>
                val qSyms = Set(ql, qr)
                val interacts = (qSyms & touched).nonEmpty
                val isAcceptedOrSelf =
                  (ql == l && qr == r) || accepted.exists(a => a._1 == ql && a._2 == qr)
                !interacts || isAcceptedOrSelf || qn < n
              }
          }
        if (ok) {
          accepted += ((l, r, n))
          batchSyms += l; batchSyms += r; batchSyms += (l + r)
          // a product colliding with an EXISTING symbol can inflate
          // other pairs' counts through newly-minted symbols — no
          // later batch member can be proven safe, close the batch
          if (currentSymbols.contains(l + r)) open = false
        } else open = false
      }
      var segCol: Column = col("seg")
      accepted.foreach { case (l, r, _) =>
        segCol = bpe_merge(segCol, lit(l), lit(r)) }
      seg = seg.select(col("freq"), segCol.as("seg")).localCheckpoint()
      accepted.foreach { case (l, r, n) =>
        merges += ((merges.size + 1, l, r, n))
        currentSymbols += (l + r)
      }
      t19TrainRounds += 1
    }
    words.unpersist()
    (merges.toSeq, baseChars ++ Seq("</w>") ++ merges.map(m => m._2 + m._3))
  }

  def t19BpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeAssets(s, d)._1.toDF("merge_rank", "left", "right", "pair_count")
  }

  // ---------------------------------------------------------------- t20
  /** t20: CORPUS-WIDE BPE TOKENIZATION — apply t19's trained merge
    * table to every document, the most-run pass of any LLM data
    * pipeline. The whole ranked merge table + vocabulary compile into
    * ONE codegen kernel call per document ([[graft.functions.BpeEncode]]
    * — a plan reference object shipped once per executor), instead of
    * one DataFrame pass per merge rank: at a production 30k-merge
    * vocabulary that is 1 corpus scan, not 30k. Per (doc_id): the
    * total BPE token count and the first [[TokenIdPrefix]] token ids
    * (the bounded projection; full id streams are p07's packed-sequence
    * writer's job). Zero tokenization drift by construction: the term
    * array is [[termsArrayCol]], the SAME Column feeding t19's
    * training stream. Rows-only (BPE apply is not single-statement
    * SQL); the spec pins equality against a driver-side reference
    * encoder and re-run bit-stability. */
  private val TokenIdPrefix = 8

  def t20Tokenize(s: SparkSession, d: String): DataFrame = {
    val (merges, vocab) = bpeAssets(s, d)
    val enc = graft.functions.bpe_encode(termsArrayCol,
      merges.map(m => (m._2, m._3)), vocab, TokenIdPrefix)
    Tables.documents(s, d)
      .select(col("doc_id"), enc.as("e"))
      // token_ids joins to one CSV STRING so every driver-visible column
      // is scalar-sortable (the dump harness sorts rows by value); the
      // full typed id stream stays internal to p07's packing path
      .select(col("doc_id"), col("e.n_bpe_tokens").as("n_bpe_tokens"),
        concat_ws(",", col("e.token_ids")).as("token_ids"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t24
  /** t24: TOKENIZER FERTILITY audit — per (lang, source): document,
    * word, character and BPE-token totals, fertility (BPE tokens per
    * word) and chars-per-token. The multilingual tokenizer-equity
    * pass (Petrov 2023, "Language Model Tokenizers Introduce
    * Unfairness"): a tokenizer trained on one language's distribution
    * inflates other languages' token counts, which silently skews
    * both training-mixture shares and serving cost — this rollup is
    * how a pipeline SEES that before committing a vocabulary.
    *
    * One corpus scan: the trained [[graft.functions.BpeEncode]]
    * kernel (t20's reference-object compile, firstK=1 — count only,
    * no id array) runs inside the scan next to the word/char columns,
    * then ONE map-side-combined aggregation to (lang × source)-many
    * rows. Zero tokenizer drift: the term array is [[termsArrayCol]],
    * the same Column t19 trained on and t20 applies. Rows-only (the
    * counts need the trained merge table); the spec re-derives every
    * group from t20's per-doc output and pins fertility ≥ 1 (a word
    * encodes to at least one token). */
  def t24Fertility(s: SparkSession, d: String): DataFrame = {
    val (merges, vocab) = bpeAssets(s, d)
    val enc = graft.functions.bpe_encode(termsArrayCol,
      merges.map(m => (m._2, m._3)), vocab, 1)
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"),
        size(termsArrayCol).cast("long").as("words"),
        enc.getField("n_bpe_tokens").as("bpe"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("words").as("n_words"),
        sum("bpe").as("n_bpe_tokens"),
        sum("n_chars").as("n_chars"),
        round(sum("bpe") / sum("words"), 4).as("fertility"),
        round(sum("n_chars") / sum("bpe"), 4).as("chars_per_token"))
      .orderBy("lang", "source")
  }

  lazy val t18OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |         unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS term
      |  FROM documents),
      |dt AS (SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
      |raw AS (SELECT term, COUNT(*)::BIGINT AS cr FROM toks GROUP BY 1),
      |tgt AS (SELECT term, COUNT(*)::BIGINT AS ct FROM toks WHERE source = 'src0' GROUP BY 1),
      |tot AS (SELECT (SELECT SUM(cr) FROM raw) AS nr,
      |               (SELECT COUNT(*) FROM raw) AS v,
      |               (SELECT SUM(ct) FROM tgt) AS nt),
      |sc AS (
      |  SELECT doc_id,
      |         ROUND(SUM(c * (ln((COALESCE(ct, 0) + 1.0) / (nt + v))
      |                      - ln((cr + 1.0) / (nr + v)))), 4) + 0.0 AS dsir_score
      |  FROM dt JOIN raw USING (term) LEFT JOIN tgt USING (term) CROSS JOIN tot
      |  GROUP BY doc_id)
      |SELECT doc_id, dsir_score, dsir_score > 0 AS keep
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t21
  /** t21: CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data") — the model-based quality gate the big web-crawl
    * pipelines actually ship: train a bigram LM on a TRUSTED slice
    * (CCNet uses Wikipedia; here the stand-in is `lang='en' AND
    * source IN ('src0','src1')`), score EVERY document's perplexity
    * against it, and split the corpus into head/middle/tail tertiles.
    * Unlike t14 (the LM is self-trained on the full corpus, so every
    * bigram is seen), scoring against a held-out LM needs smoothing:
    * add-1 over the trusted vocabulary, P(w2|w1) = (n2+1)/(n1+V) with
    * unseen counts coalesced to 0 — a document the trusted model has
    * never seen words from still gets a finite (large) perplexity.
    *
    * Scale shape (the t18 discipline): the LM tables are aggregates
    * of the TRUSTED slice only — vocabulary-sized, AQE-broadcast when
    * they fit, graceful shuffle join when they don't; V rides a 1-row
    * broadcast. The corpus pays one explode-join-agg pass; its text
    * never shuffles, bigram terms do (as in t05/t08). The tertile
    * thresholds are the p09/p14 pattern — a 1-row exact-percentile
    * aggregate ([[Scale.pctl]], so `spark.graft.percentile.approx`
    * swaps in the mergeable sketch at 100 TB) broadcast back for a
    * stateless comparison — NOT a global NTILE window, which would
    * funnel every row through one partition. 4-decimal rounding on
    * ppl per the t13/t14/t18 ln-precision precedent. */
  def t21PerplexityBucket(s: SparkSession, d: String): DataFrame =
    pplBucketFrame(s, d).orderBy("doc_id")

  /** t21's scored-and-bucketed frame (doc_id, n_bigrams, ppl, bucket),
    * unordered — shared with e06's cascade (zero drift; the tertile
    * thresholds stay CORPUS-wide, CCNet's convention, regardless of
    * what the consumer later filters). */
  private[graft] def pplBucketFrame(s: SparkSession, d: String): DataFrame = {
    val pairsOf = (df: DataFrame) => df
      .select(col("doc_id"), termsArrayCol.as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(l) - 1),
           |  i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val docs = Tables.documents(s, d)
    val tp = pairsOf(docs.filter(col("lang") === "en" &&
      col("source").isin("src0", "src1")))
    // c1 and V are pure ROLLUPS of the bigram table: n1(w1) = Σ_w2 n2
    // and V = |distinct w2 in c2| — so the trusted-slice explode runs
    // ONCE (localCheckpoint pins it; the t19/s10 recipe) instead of
    // three times for three aggregations over the same fan-out
    val c2 = tp.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      .localCheckpoint()
    val c1 = c2.groupBy("w1").agg(sum("n2").as("n1"))
    val v = c2.agg(countDistinct(col("w2")).as("v"))
    // the scored frame feeds TWO consumers — the 1-row tertile
    // aggregate and the final bucket select — but with c2 materialized
    // above, both consumers end in the SAME doc_id aggregate exchange
    // and Spark's exchange reuse evaluates it once (ReusedExchange in
    // the plan). Round 9 additionally localCheckpointed this frame;
    // a round-10 isolated A/B (runs=5) measured the checkpoint as a
    // net LOSS for both consumers (t21 1.06→0.96 s, e06 3.27→2.73 s
    // without it): the eager materialization job buys nothing the
    // exchange reuse doesn't already provide. Removed.
    val scored = pairsOf(docs)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        (round(exp(-avg(log(
          (coalesce(col("n2"), lit(0L)) + lit(1)).cast("double") /
            (coalesce(col("n1"), lit(0L)) + col("v")).cast("double")))), 4)
          + lit(0.0)).as("ppl"))
    val th = broadcast(scored.agg(
      Scale.pctl(s, col("ppl"), 1.0 / 3).as("t1"),
      Scale.pctl(s, col("ppl"), 2.0 / 3).as("t2")))
    scored.crossJoin(th)
      .select(col("doc_id"), col("n_bigrams"), col("ppl"),
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  // ---------------------------------------------------------------- t22
  /** t22: fastText-style NAIVE-BAYES QUALITY CLASSIFIER (Joulin et al.
    * 2016 "Bag of Tricks for Efficient Text Classification"; the
    * GPT-3 pipeline's quality filter, Brown et al. 2020 Appendix A,
    * trains exactly this shape against a trusted positive class) —
    * the SUPERVISED complement to t21's generative perplexity gate:
    * label the trusted slice positive (same stand-in slice as t21:
    * `lang='en' AND source IN ('src0','src1')`), everything else
    * negative, featurize as word unigrams + bigrams (fastText's
    * signature feature set), train multinomial NB with add-1
    * smoothing over the corpus feature vocabulary, and score every
    * document with its log-odds
    * ln(P(pos)/P(neg)) + Σ_f [ln P(f|pos) − ln P(f|neg)].
    * NB is the right classifier HERE because training is a single
    * counting aggregation — no gradient rounds, fully deterministic,
    * so the whole train+score run is one DuckDB-checkable dataflow
    * (an SGD fastText would be iteration-ordered and unverifiable).
    *
    * Scale shape (the t18/t21 discipline): the trained model IS the
    * per-feature class-count table — vocabulary-sized, AQE-broadcast
    * when it fits; totals and document priors ride 1-row broadcasts.
    * The corpus pays one explode-join-agg pass; document text never
    * shuffles, feature terms do (as in t05/t08/t21). At production
    * vocabulary sizes the `feat` string key becomes fastText's hashed
    * feature id ([[graft.functions.fingerprint64]] — 8 bytes/row
    * through the shuffle instead of a string, collisions folded like
    * fastText's 10M-bucket table); kept as the raw term here so the
    * oracle can recompute the exact model. 4-decimal rounding on the
    * ln-sum per the t13/t14/t18/t21 precedent; `pred_trusted`
    * compares the ROUNDED score in both engines so the boundary can
    * never hinge on sub-ulp float agreement. */
  // ---------------------------------------------------------------- t23
  /** t23: GOPHER QUALITY RULES (Rae et al. 2021, table A1 — the named
    * heuristic filter battery MassiveText shipped and every major
    * web-crawl pipeline since has copied): per document, the
    * word-level rule set — word count ∈ [50, 100k], mean word length
    * ∈ [3, 10], symbol-to-word ratio ('#' + '…') ≤ 0.1, ≥ 80% of
    * words contain an alphabetic character, ≥ 2 of Gopher's eight
    * stopwords — each rule SURFACED as its own column (the
    * observability production filters need: which rule killed a doc)
    * plus the conjunctive keep. The paper's line-shape rules
    * (bullet/ellipsis line ratios) are omitted, not stubbed: this
    * corpus has no newlines, so they would be constant columns
    * pretending coverage. Complements t02 (structural score) and
    * t21/t22 (model-based gates) as the RULE-BASED first stage of the
    * standard quality cascade.
    *
    * Shape: a single scan of pure column expressions over the token
    * array — no shuffle, no join, no aggregate; the filter runs at
    * scan speed at any corpus size. Ratios compare on 4-dp ROUNDED
    * values in both engines (the t13 precedent at a boundary). */
  /** The five Gopher rule metrics as named columns over `text` — ONE
    * definition consumed by t23 and e06's cascade (zero drift). */
  private[graft] def gopherMetricCols: Seq[Column] = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val l = termsArrayCol
    val n = size(l)
    val den = greatest(n, lit(1)).cast("double")
    val wlSum = aggregate(l, lit(0), (a, x) => a + length(x))
    val meanWl = round(wlSum.cast("double") / den, 4) + lit(0.0)
    // literal patterns: StringReplace (a UTF8String scan), not a java
    // regex Matcher per row — same non-overlapping leftmost-first
    // semantics, the oracle's own replace() (guide §4.1: prefer the
    // cheapest built-in that computes the same thing)
    val nHash = length(col("text")) -
      length(replace(col("text"), lit("#"), lit("")))
    val nEllipsis = (length(col("text")) -
      length(replace(col("text"), lit("..."), lit("")))) / lit(3)
    val symRatio = round((nHash + nEllipsis).cast("double") / den, 4) + lit(0.0)
    val nAlpha = size(filter(l, x => regexp_count(x, lit("[a-z]")) > 0))
    val alphaFrac = round(nAlpha.cast("double") / den, 4) + lit(0.0)
    val nStop = size(filter(l, x => array_contains(typedLit(gopherStops), x)))
    Seq(n.as("n_words"), meanWl.as("mean_word_len"),
      symRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
      nStop.as("n_stop"))
  }

  /** The conjunctive keep over the NAMED metric columns. */
  private[graft] def gopherKeepCol: Column =
    col("n_words").between(50, 100000) &&
      col("mean_word_len").between(3.0, 10.0) &&
      col("symbol_ratio") <= 0.1 &&
      col("alpha_frac") >= 0.8 &&
      col("n_stop") >= 2

  def t23GopherRules(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id") +: gopherMetricCols: _*)
      .withColumn("keep", gopherKeepCol)
      .orderBy("doc_id")

  lazy val t23OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      |  FROM documents
      |), m AS (
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
      |  FROM toks)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
      |       (n_words BETWEEN 50 AND 100000
      |        AND mean_word_len BETWEEN 3.0 AND 10.0
      |        AND symbol_ratio <= 0.1
      |        AND alpha_frac >= 0.8
      |        AND n_stop >= 2) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** The positive-class (trusted-slice) membership test — ONE
    * definition for training and the prior. */
  private[graft] def nbPosCol: Column =
    col("lang") === "en" && col("source").isin("src0", "src1")

  /** Per-document NB feature stream (doc_id[, carry...], feat): word
    * unigrams ++ bigrams built as ONE array expression and exploded
    * once — no self-union, so the SAME definition featurizes a
    * STREAMING frame (st17) without scanning the source twice. The
    * size guard matters: Spark's `sequence(1, 0)` counts DOWN, so an
    * unguarded bigram transform would fabricate null bigrams for
    * 1-token documents. */
  private[graft] def nbFeats(df: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val head = col("doc_id") +: carry.map(col)
    df.select(head :+ termsArrayCol.as("l"): _*)
      .select(head :+ explode(expr(
        """concat(l, CASE WHEN size(l) >= 2
          |  THEN transform(sequence(1, size(l) - 1),
          |    i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))
          |  ELSE CAST(array() AS ARRAY<STRING>) END)""".stripMargin)).as("feat"): _*)
  }

  /** The TRAINED classifier, materialized: a per-feature log-odds
    * weight table w(f) = ln((n_pos+1)/(N_pos+V)) − ln((n_neg+1)/(N_neg+V))
    * (vocabulary-sized, trained once per call by t22/p15/st17 — at
    * 100 TB the table trains once and ships to executors as a stored
    * table) plus the log prior
    * ln(d_pos/d_neg) (one 2-number aggregate per call). Scoring is
    * then prior + Σ w(f) over a document's feature occurrences — the
    * lookup the streaming twin pays statelessly. Class totals are
    * driver-bounded folds (5 longs — the IVF-centroid precedent);
    * the class-count table localCheckpoints so the corpus explode
    * runs ONCE, not once per downstream action (the t19 recipe). */
  private[graft] def nbModel(s: SparkSession, d: String): (DataFrame, Double) = {
    val docs = Tables.documents(s, d)
    val feats = nbFeats(docs.withColumn("pos", nbPosCol), Seq("pos"))
    val ft = feats.groupBy("feat").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
      .localCheckpoint()
    val t = ft.agg(sum("np"), sum("nn"), count(lit(1))).head()
    val (tp, tn, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val weights = ft.select(col("feat"),
      (log((col("np") + lit(1)).cast("double") / lit((tp + v).toDouble)) -
       log((col("nn") + lit(1)).cast("double") / lit((tn + v).toDouble))).as("w"))
    val p = docs.agg(
      sum(when(nbPosCol, 1L).otherwise(0L)),
      sum(when(!nbPosCol, 1L).otherwise(0L))).head()
    (weights, math.log(p.getLong(0).toDouble / p.getLong(1).toDouble))
  }

  /** The trained-and-scored NB frame (doc_id, n_feats, nb_score) —
    * shared by t22 and p15's Pareto selection (Sampling.scala), the
    * [[Dedup.clusterMap]] cross-operator precedent: ONE definition of
    * the classifier, zero drift between the scorer and its consumers.
    * The weight join is vocabulary-sized (AQE broadcasts it when it
    * fits); document text never shuffles. */
  private[graft] def nbScored(s: SparkSession, d: String): DataFrame = {
    val (w, prior) = nbModel(s, d)
    nbFeats(Tables.documents(s, d))
      .join(w, "feat") // total: w was trained on these same rows
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_feats"),
        (round(sum(col("w")) + lit(prior), 4) + lit(0.0)).as("nb_score"))
  }

  def t22NbQuality(s: SparkSession, d: String): DataFrame =
    nbScored(s, d)
      .withColumn("pred_trusted", col("nb_score") > 0)
      .orderBy("doc_id")

  /** t22's train+score dataflow as DuckDB CTEs ending in
    * `nbsc(doc_id, n_feats, nb_score)` — shared with p15's oracle
    * (the [[Dedup.clusterCtesSql]] precedent). */
  private[graft] lazy val nbCtesSql: String =
    """toks AS (
      |  SELECT doc_id, (lang = 'en' AND source IN ('src0', 'src1')) AS pos,
      |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      |  FROM documents
      |),
      |feats AS (
      |  SELECT doc_id, pos, unnest(l) AS feat FROM toks
      |  UNION ALL
      |  SELECT doc_id, pos,
      |         unnest([l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)]) AS feat
      |  FROM toks WHERE len(l) >= 2
      |),
      |ft AS (SELECT feat,
      |              SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
      |              SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS nn
      |       FROM feats GROUP BY 1),
      |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nn) AS BIGINT) AS tn,
      |               COUNT(*) AS v FROM ft),
      |pri AS (SELECT SUM(CASE WHEN lang = 'en' AND source IN ('src0', 'src1')
      |                        THEN 1 ELSE 0 END) AS dp,
      |               SUM(CASE WHEN NOT (lang = 'en' AND source IN ('src0', 'src1'))
      |                        THEN 1 ELSE 0 END) AS dn
      |        FROM documents),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_feats,
      |         SUM(LN(CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
      |           - LN(CAST(nn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE))) AS llr
      |  FROM feats JOIN ft USING (feat) CROSS JOIN tot
      |  GROUP BY doc_id),
      |nbsc AS (
      |  SELECT doc_id, n_feats,
      |         ROUND(LN(CAST(dp AS DOUBLE) / dn) + llr, 4) + 0.0 AS nb_score
      |  FROM sc CROSS JOIN pri)""".stripMargin

  lazy val t22OracleSql: String =
    s"""WITH $nbCtesSql
       |SELECT doc_id, n_feats, nb_score, nb_score > 0 AS pred_trusted
       |FROM nbsc ORDER BY doc_id""".stripMargin

  lazy val t21OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source,
      |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      |  FROM documents
      |),
      |pairs AS (
      |  SELECT doc_id, lang, source,
      |         unnest([{'w1': l[i], 'w2': l[i+1]} for i in generate_series(1, len(l)-1)],
      |                recursive := true)
      |  FROM toks WHERE len(l) >= 2
      |),
      |tp AS (SELECT w1, w2 FROM pairs WHERE lang = 'en' AND source IN ('src0', 'src1')),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM tp GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS n1 FROM tp GROUP BY 1),
      |vv AS (SELECT COUNT(DISTINCT w2) AS v FROM tp),
      |scored AS (
      |  SELECT p.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
      |         ROUND(EXP(-AVG(LN(CAST(COALESCE(n2, 0) + 1 AS DOUBLE) /
      |                           CAST(COALESCE(n1, 0) + v AS DOUBLE)))), 4) + 0.0 AS ppl
      |  FROM pairs p LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN vv
      |  GROUP BY p.doc_id
      |),
      |th AS (SELECT quantile_cont(ppl, 1.0/3) AS t1, quantile_cont(ppl, 2.0/3) AS t2 FROM scored)
      |SELECT doc_id, n_bigrams, ppl,
      |       CASE WHEN ppl <= t1 THEN 'head' WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM scored CROSS JOIN th ORDER BY doc_id""".stripMargin
}
