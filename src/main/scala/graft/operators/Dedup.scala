package graft.operators

import graft.functions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators — the training-data-pipeline side
  * of the engine (SURVEY.md §2, scale ops).
  *
  * Scale design: every near-dup operator is *blocked* — candidate
  * pairs come from an LSH bucket self-join (minhash bands, simhash
  * bands, hyperplane buckets), never from an O(n²) cross join. The
  * self-join shuffles on the bucket key, bucket sizes are bounded by
  * the band width, so candidate volume stays ~linear in corpus size —
  * the property that survives 100 TB. Signatures are computed by the
  * codegen'd graft Expressions in a single scan pass.
  */
object Dedup {

  private val ShingleN = 5   // byte n-gram width for shingles/minhash
  private val MinhashK = 32  // minhash signature length
  private val Bands    = 8   // LSH bands (r = MinhashK / Bands = 4)
  private val Seed     = 42L

  /** doc_id + minhash signature + exact shingle set, computed in ONE
    * scan. d02, d04, d06, d10 and d11 all start from this frame; each
    * call builds it once and hands it down. The candidate build's
    * checkpoint and the verify join are two actions over it, so it is
    * checkpointed lazily: the first action stores its rows and the
    * second reads them back, and the scan, the repartition and the
    * signature kernels run once per call. A production 100 TB pipeline
    * materializes these columns at ingest. */
  private def signed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id"),
        minhash_sig(col("text"), ShingleN, MinhashK, Seed).as("sig"),
        shingles64(col("text"), ShingleN).as("sh"))
      .localCheckpoint(eager = false)

  /** LSH banding: one (band, bandhash) row per band per doc; equal
    * bandhash within a band ⇒ candidate pair. */
  private def minhashBands(sigDf: DataFrame): DataFrame = {
    val r = MinhashK / Bands
    val bandCols = (0 until Bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until r).map(i => col("sig").getItem(b * r + i)): _*).as("bh"))
    }
    sigDf
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** The ABSOLUTE arm of the degenerate-band guard: a band bucket
    * holding MORE than this many docs is non-discriminative regardless
    * of corpus size (see [[minhashCandidates]]). Measured, not
    * hypothetical: round 9's 10× scale step produced one 10,628-doc
    * bucket carrying 56M of 73M raw candidate pairs, 0.005% of which
    * verify — its array-carrying verify join spilled the disk. */
  private val HotBucketConf = "spark.graft.lsh.hotBucketLimit"
  private val HotBucketDefault = "2048"

  /** The RELATIVE arm of the degenerate-band cap: a bucket is also
    * non-discriminative when it holds more than this FRACTION of the
    * corpus (default 2%), floored at 256 docs so small fixtures and
    * planted spec corpora never trip it. Effective cap =
    * min(hotBucketLimit, max(256, fraction × corpus)) — at 1B docs the
    * absolute arm binds, at the 50k sf1 step the relative arm does
    * (1,000), and at every oracle/spec SF (≤ 5k docs) the 256 floor
    * sits above the hottest real bucket (~110), so the guard is
    * provably silent where value-exactness is gated. */
  private val HotFracConf = "spark.graft.lsh.hotBucketFraction"
  private val HotFracDefault = "0.02"

  /** Candidate pairs from any shared minhash band (distinct) — with
    * the DEGENERATE-BAND guard, the minhash analog of d09's hot-posting
    * cap. On a low-entropy corpus (boilerplate-heavy crawl; byte-5-gram
    * shingles over a small effective alphabet) a band's globally
    * commonest shingles pin its minhash positions for a corpus-scale
    * FRACTION of documents: that bucket's pair count is quadratic in
    * corpus size while its verification yield is ~zero — the one
    * structure that turns LSH's near-linear candidate volume quadratic
    * at 100 TB.
    *
    * Policy, per bucket of size n vs cap = `spark.graft.lsh
    * .hotBucketLimit` (default 2048):
    *  - n ≤ cap: enumerate pairs as usual (the exercised SFs end here:
    *    the default never fires below sf1).
    *  - n > cap: the bucket is non-discriminative — its pairs are NOT
    *    enumerated. Its members are re-blocked by RESCUE bands built
    *    from INTERLEAVED signature positions ({b, b+8, b+16, b+24}
    *    instead of 4 consecutive): a degenerate position contaminates
    *    every rescue band at most once, so rescue buckets stay
    *    discriminative on exactly the corpora that degenerate
    *    consecutive bands. A true near-dup pair (J ≥ 0.8) caught ONLY
    *    by the degenerate band re-surfaces via a rescue band with
    *    p ≈ 1−(1−J⁴)⁸ ≈ 0.985 on top of the 7 intact original bands
    *    (combined residual miss ~4·10⁻⁴); the cap spec proves the
    *    verified pair set and the cluster map are UNCHANGED by the
    *    guard on the real corpus.
    *  - a rescue bucket still over the cap is an exact-dup FLOOD (n
    *    near-identical payloads): it contributes STAR pairs to its
    *    min-doc member — verification-checked like any candidate —
    *    which preserves verified CONNECTIVITY (d06/d17 clusters are
    *    exact: every flood member verifies against the representative)
    *    while bounding candidates linearly; an exhaustive pair LIST of
    *    a 10k-duplicate flood is quadratic in the OUTPUT contract
    *    itself, which no candidate policy can fix. */
  private[graft] def minhashCandidates(sigDf: DataFrame): DataFrame = {
    val conf = sigDf.sparkSession.conf
    val capAbs = conf.get(HotBucketConf, HotBucketDefault).toLong
    val frac = conf.get(HotFracConf, HotFracDefault).toDouble
    // bucket sizes via ONE window exchange (count over (band, bh)),
    // materialized ONCE: the old groupBy+join-back shape planned the
    // band fan-out twice and shuffled it twice, and the cold/hot
    // consumers below would each have re-planned it again. The band
    // table is 8 rows/doc of (id, band, hash) — the same rows the old
    // shape already shuffled; at 100 TB it is the stored band index.
    // KNOWN LIMITATION: a degenerate hot bucket lands its whole
    // fan-out in ONE window partition, which AQE skew-join splitting
    // cannot divide — the sizing pass itself can straggle on exactly
    // the hostile corpus the guard targets. The r10 alternative
    // (partial-agged groupBy sizes + join-back splits) was built and
    // MEASURED SLOWER across the family (see OPTIMIZATION_r10.md:
    // more exchanges and joins per call than the one window) — revisit
    // only with a cluster-scale straggler measurement in hand.
    val sized = minhashBands(sigDf)
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .localCheckpoint()
    // corpus size + hottest bucket in ONE aggregate over the
    // materialized bands: the fan-out is exactly Bands rows/doc
    // (explode of a fixed-size array), so rows/Bands IS the corpus
    // count the relative cap arm needs — no separate signature-frame
    // count job, and max(n) vs cap decides the hot arm for free
    val stats = sized.agg(count(lit(1)).as("rows"), max(col("n")).as("maxn")).head()
    // the relative cap infers corpus size as rows/Bands, which is exact
    // ONLY while the explode fan-out is exactly Bands rows/doc — assert
    // it, so a future kernel change that drops rows (null/empty sigs)
    // cannot silently skew the hot-bucket cap
    require(stats.getLong(0) % Bands == 0,
      s"band fan-out must be exactly $Bands rows/doc, got ${stats.getLong(0)} rows")
    val cap = math.min(capAbs,
      math.max(256L, (frac * (stats.getLong(0) / Bands)).toLong))
    def pairsOf(df: DataFrame): DataFrame =
      df.as("a").join(df.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cold = pairsOf(sized.filter(col("n") <= cap).select("doc_id", "band", "bh"))
    // when the guard is silent (every oracle/spec SF), the rescue/star
    // subtrees are provably EMPTY, so skip planning them: the result
    // is identical (union with two empty frames) and the query saves
    // their scans, shuffles and scheduler time
    val anyHot = !stats.isNullAt(1) && stats.getLong(1) > cap
    if (!anyHot) return cold.distinct()
    val hotDocs = sized.filter(col("n") > cap).select("doc_id").distinct()
    // interleaved rescue bands over the hot members only
    val r = MinhashK / Bands
    val rescueCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until r).map(i => col("sig").getItem(b + Bands * i)): _*).as("bh"))
    }
    val rBands = sigDf.join(hotDocs, "doc_id")
      .select(col("doc_id"), explode(array(rescueCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val rSized = rBands
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .localCheckpoint()
    val rescued = pairsOf(rSized.filter(col("n") <= cap).select("doc_id", "band", "bh"))
    // still-hot rescue bucket = exact-dup flood: star to the min member
    val star = rSized.filter(col("n") > cap)
      .withColumn("doc_a", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    // all three branches emit doc_a < doc_b already (pairsOf by
    // construction; star's rep is the bucket MIN), so the union needs
    // no reordering — and must not add one: a least/greatest wrapper
    // here leaks into constraint-inferred pushdown predicates and
    // muddies the stored-only plan audits
    cold.unionByName(rescued).unionByName(star).distinct()
  }

  /** The CROSS (corpus × batch) candidate join with the same
    * degenerate-band guard as [[minhashCandidates]] — d07/d17's
    * incremental band probe hits the identical failure: a degenerate
    * band's corpus bucket holds a corpus-scale fraction of docs, so
    * every batch doc landing in it probes the whole bucket (junk
    * volume = |bucket| × |batch ∩ bucket| per band). Cap basis is the
    * CORPUS side (the stored table — the side that grows). Policy per
    * corpus bucket of size n:
    *  - n ≤ cap: join batch bands directly (the exercised SFs).
    *  - n > cap: skip the direct join; the bucket's corpus members and
    *    the WHOLE batch are re-blocked by the interleaved rescue bands
    *    (a true cross pair re-surfaces with the same ≈0.985 per-pair
    *    odds as the self-join case, on top of the 7 intact bands).
    *  - a rescue bucket still over the cap is a flood: each batch
    *    member in it pairs with the bucket's MIN corpus member only —
    *    verification keeps d17's connectivity exact (the corpus flood
    *    is already one stored component; one verified edge joins the
    *    batch doc to it), and d07's pair list stays bounded instead of
    *    |batch| × |flood|. */
  private[graft] def incCandidates(corpusSig: DataFrame, batchSig: DataFrame): DataFrame = {
    val conf = corpusSig.sparkSession.conf
    val capAbs = conf.get(HotBucketConf, HotBucketDefault).toLong
    val frac = conf.get(HotFracConf, HotFracDefault).toDouble
    val r = MinhashK / Bands
    def rescueBands(sigDf: DataFrame): DataFrame = {
      val cols = (0 until Bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((0 until r).map(i => col("sig").getItem(b + Bands * i)): _*).as("bh"))
      }
      sigDf.select(col("doc_id"), explode(array(cols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    }
    def cross(ca: DataFrame, cb: DataFrame): DataFrame =
      ca.as("a").join(cb.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
        .select(col("a.doc_id").as("corpus_doc"), col("b.doc_id").as("new_doc"))
    // corpus bucket sizes via one window exchange, materialized once
    // (the minhashCandidates shape): the cold join and the hot filter
    // both read the same frame instead of re-planning the band fan-out
    val sized = minhashBands(corpusSig.select("doc_id", "sig"))
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .localCheckpoint()
    // corpus size (rows/Bands — the fan-out is exactly Bands rows/doc)
    // + hottest bucket in ONE aggregate over the materialized bands
    val stats = sized.agg(count(lit(1)).as("rows"), max(col("n")).as("maxn")).head()
    // rows/Bands is exact only at exactly Bands rows/doc (see the
    // self-join guard's assert)
    require(stats.getLong(0) % Bands == 0,
      s"band fan-out must be exactly $Bands rows/doc, got ${stats.getLong(0)} rows")
    val cap = math.min(capAbs,
      math.max(256L, (frac * (stats.getLong(0) / Bands)).toLong))
    val cold = cross(sized.filter(col("n") <= cap).select("doc_id", "band", "bh"),
      minhashBands(batchSig.select("doc_id", "sig")))
    // no hot corpus bucket (every oracle/spec SF) → the rescue/star
    // subtrees are provably empty; skip planning them — identical
    // result, none of their scans/shuffles
    val anyHot = !stats.isNullAt(1) && stats.getLong(1) > cap
    if (!anyHot) return cold.distinct()
    val hotCorpus = sized.filter(col("n") > cap).select("doc_id").distinct()
    val rca = rescueBands(corpusSig.join(hotCorpus, "doc_id").select("doc_id", "sig"))
    val rSized = rca
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .localCheckpoint()
    val rb = rescueBands(batchSig.select("doc_id", "sig"))
    val rescued = cross(rSized.filter(col("n") <= cap).select("doc_id", "band", "bh"), rb)
    // flood rescue buckets: batch members pair with the MIN corpus doc
    val floodRep = rSized.filter(col("n") > cap)
      .groupBy("band", "bh").agg(min(col("doc_id")).as("corpus_doc"))
    val star = floodRep.join(rb, Seq("band", "bh"))
      .select(col("corpus_doc"), col("doc_id").as("new_doc"))
    cold.unionByName(rescued).unionByName(star).distinct()
  }

  // ---------------------------------------------------------------- d01
  /** Exact dedup. Spark side groups on a 64-bit content hash (the
    * shuffle key a 100 TB run needs — bytes, not document text);
    * the oracle groups on the text itself. Identical partitions
    * barring a 2^-64 collision. */
  def d01Exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(xxhash64(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")
      .orderBy("keeper")

  val d01OracleSql: String =
    """SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin

  // ---------------------------------------------------------------- d02
  /** MinHash LSH near-dup pairs, scored by the *signature estimate*
    * (fraction of agreeing minhash positions ≈ Jaccard). */
  def d02Minhash(s: SparkSession, d: String): DataFrame = {
    val sig = signed(s, d).select("doc_id", "sig")
    minhashCandidates(sig)
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"""aggregate(zip_with(sa.sig, sb.sig,
                 (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)
                 / CAST($MinhashK AS DOUBLE)""").as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d03
  /** SimHash near-dup pairs, COMPLETE for its threshold: 4×16-bit band
    * blocking — by pigeonhole, any pair within hamming distance 3 has
    * at least one band with zero differing bits, so it always surfaces
    * as a candidate — then verified by full 64-bit hamming ≤ 3. (A
    * looser threshold than bands-1 would silently miss band-misaligned
    * pairs; more/narrower bands buy a higher guaranteed radius at
    * higher candidate volume.) Completeness is spec-checked against a
    * brute-force pair scan. */
  def d03Simhash(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), simhash64(col("text")).as("sh"))
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sh"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bh"))
    }
    val bands = sh
      .select(col("doc_id"), col("sh"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3) // = bands - 1: the guaranteed radius
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d04
  /** The verified near-dup pairs WITHOUT the presentation sort —
    * d06 consumes this (its edge checkpoint would otherwise
    * materialize a full range-partitioned sort it immediately
    * discards); d04's public result adds the ORDER BY. */
  private def verifiedPairs(signed: DataFrame): DataFrame = {
    // the exact-jaccard join ships two shingle-hash arrays per
    // candidate pair — the single most expensive dedup stage at scale
    // (at 100 TB the verified edge set is a table materialized at
    // ingest, like the signatures)
    val sh = signed.select("doc_id", "sh")
    minhashCandidates(signed.select("doc_id", "sig"))
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard64(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** n-gram Jaccard dedup: minhash-LSH candidates verified with the
    * *exact* shingle-set Jaccard (merge of sorted hash sets). */
  def d04NgramJaccard(s: SparkSession, d: String): DataFrame =
    verifiedPairs(signed(s, d)).orderBy("doc_a", "doc_b")

  // ---------------------------------------------------------------- d05
  /** Embedding near-dup: random-hyperplane LSH buckets as the blocking
    * stage, exact cosine within buckets, strongest pairs first. The
    * bucket is a PREFIX of the stored 256-bit ANN signature
    * ([[Similarity.sigFrame]] — hyperplane bit j depends only on
    * (seed, j), so the low `bits` bits of sig0 ARE the bits-wide
    * signature): dedup blocking and ANN pruning share one signature
    * definition. At production thresholds (cos >= ~0.95) the
    * filter replaces the limit; the synthetic vectors are
    * near-orthogonal so the operator surfaces ranked candidates
    * instead. */
  def d05Embedding(s: SparkSession, d: String): DataFrame = {
    // the count and the self-join are two actions over the signature
    // frame: checkpointed lazily, the count stores its rows and the
    // join reads them back, so the signature kernel runs once
    val base = Similarity.sigFrame(Tables.embeddings(s, d)).localCheckpoint(eager = false)
    // bucket width scales with corpus size (target ~16 vectors/bucket):
    // fixed bits would make candidate volume quadratic in corpus growth;
    // adaptive bits keep it ~linear at any SF. The count is the only
    // extra pass.
    val n = base.count()
    val bits = math.max(8, math.min(24,
      math.ceil(math.log(math.max(1.0, n / 16.0)) / math.log(2)).toInt))
    val e = base
      .select(col("vec_id"), col("embedding"),
        col("sig0").bitwiseAND(lit((1L << bits) - 1)).as("bucket"))
    e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine_sim(col("a.embedding"), col("b.embedding")).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(200)
  }

  // ---------------------------------------------------------------- d06
  /** Dedup cluster assignment: connected components over the verified
    * near-dup pair graph (d04), by iterative min-label propagation —
    * each doc ends up labeled with the smallest doc_id in its
    * component (the keeper). The iteration count is bounded by the
    * graph diameter; near-dup graphs are unions of small cliques, so
    * it converges in 2-3 rounds. Each round is one shuffle
    * (join + groupBy min) — the large-graph-safe formulation. */
  /** The converged cluster map (doc_id, cluster_rep), built per call:
    * d06 presents it sorted, and the composing operators (d11
    * keep-best, p11 leak-safe split) broadcast it. A production
    * pipeline materializes this map as a table right after dedup and
    * every downstream split / selection job reads it. */
  private[operators] def clusterMap(s: SparkSession, d: String): DataFrame =
    propagateMinLabels(verifiedPairs(signed(s, d)).select("doc_a", "doc_b"))

  def d06Clusters(s: SparkSession, d: String): DataFrame =
    clusterMap(s, d).orderBy("doc_id")

  /** Min-label propagation over one verified pair set — the loop
    * shared by the full build and the stored corpus map ([[d17]]'s
    * at-ingest artifact). */
  private[graft] def propagateMinLabels(pairs: DataFrame): DataFrame = {
    // symmetric edge list, materialized once: every propagation round
    // joins against it — without the checkpoint each round would
    // re-run the whole upstream LSH pipeline
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    // init FOLDS ROUND 1 IN: label = min(own id, min neighbor id) is
    // exactly what the first self-labeled round would compute (its
    // viaLabels term is the identity when label == doc_id), for one
    // aggregate instead of a round's join+union+agg+diff — near-dup
    // graphs are unions of small cliques, where this init is already
    // the fixpoint and the loop below runs once only to CONFIRM it.
    var labels = edges.groupBy("doc_a")
      .agg(least(col("doc_a"), min(col("doc_b"))).as("label"))
      .withColumnRenamed("doc_a", "doc_id")
      .localCheckpoint()
    var changed = true
    var rounds = 0
    // the CHANGED-LAST-ROUND frontier (delta rounds only): a node's
    // contribution needs re-delivery only while its label still moves.
    // None until round 1 has run — round 1 must be FULL (the init fold
    // just rewrote every label, so its frontier would be ~everything
    // and the delta form would only add joins).
    var frontier: Option[DataFrame] = None
    while (changed && rounds < 50) {
      // each round: label <- min(own label, neighbors' labels,
      // LABEL'S label). The third term is POINTER JUMPING (label-
      // shortcutting): minima hop a full label-chain link per round,
      // not one graph edge, so convergence is O(log diameter) — round
      // 50 covers components of diameter ~2^50, and a CHAIN-structured
      // batch (successive near-identical revisions of one document:
      // only adjacent pairs verify) converges instead of tripping the
      // round cap a per-edge walk would hit at diameter > 50.
      // The OWN row rides a marker column through the round's single
      // aggregate exchange, so convergence falls out of the same job
      // (min(label) vs the own row's label) — the old formulation paid
      // a second shuffle join per round just to diff old vs new.
      //
      // ROUNDS >= 2 are DELTA rounds: labels are non-increasing, and
      // after one full round every node has absorbed each neighbor's
      // (and its pointer target's) then-label — so re-delivering a
      // contribution whose source did NOT change last round is
      // provably a no-op (next(v) <= label(v) <= the source's
      // unchanged label). Only frontier-sourced rows flow into the
      // aggregate; the pointer term re-reads the target when the
      // pointer MOVED (x in frontier) or the target's VALUE moved
      // (y in frontier). On a clique-shaped near-dup graph the loop
      // converges in the one full round and no delta round ever runs —
      // the 100 TB payoff is deep components, where late rounds ship a
      // vanishing frontier instead of the full label set.
      val contributions = frontier match {
        case None =>
          val viaNeighbors = edges
            .join(labels.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .select(col("doc_a").as("doc_id"), col("label"))
          val viaLabels = labels.as("x")
            .join(labels.as("y"), col("x.label") === col("y.doc_id"))
            .select(col("x.doc_id").as("doc_id"), col("y.label").as("label"))
          viaNeighbors.unionByName(viaLabels)
        case Some(f) =>
          val viaNeighbors = edges
            .join(f.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .select(col("doc_a").as("doc_id"), col("label"))
          val viaPtrMoved = f.as("x")
            .join(labels.as("y"), col("x.label") === col("y.doc_id"))
            .select(col("x.doc_id").as("doc_id"), col("y.label").as("label"))
          val viaPtrValue = labels.as("x")
            .join(f.select(col("doc_id").as("fid"), col("label").as("flabel")),
              col("x.label") === col("fid"))
            .select(col("x.doc_id").as("doc_id"), col("flabel").as("label"))
          viaNeighbors.unionByName(viaPtrMoved).unionByName(viaPtrValue)
      }
      val next = labels.withColumn("own", lit(true))
        .unionByName(contributions.withColumn("own", lit(false)))
        .groupBy("doc_id").agg(min("label").as("label"),
          min(when(col("own"), col("label"))).as("old_label"))
        .localCheckpoint() // eager: truncates the iterative lineage too
      val diff = next.filter(col("label") =!= col("old_label")).limit(1).count()
      changed = diff > 0
      frontier = Some(next.filter(col("label") =!= col("old_label"))
        .select("doc_id", "label"))
      labels = next.select("doc_id", "label")
      rounds += 1
    }
    // with pointer jumping the cap is unreachable for any physical
    // graph; if it ever trips, fail loudly — partial labels must never
    // pass as final
    if (changed) throw new IllegalStateException(
      s"propagateMinLabels did not converge in $rounds rounds")
    labels.select(col("doc_id"), col("label").as("cluster_rep"))
  }

  // ---------------------------------------------------------------- d07
  /** Corpus signatures MATERIALIZED into a versioned catalog table
    * (the st07 ingest pattern): this is the table a production
    * pipeline writes at ingest time, so an incremental batch run never
    * re-computes a corpus signature — it scans stored sig/sh columns.
    * Built by the call that needs it, in a [[graft.sources
    * .TableCatalog.tempRoot]] catalog (deleted at JVM exit), so the
    * frames it returns stay readable after the call. */
  private def signatureStore(s: SparkSession, d: String): graft.sources.TableCatalog = {
    val cat = new graft.sources.TableCatalog(s,
      graft.sources.TableCatalog.tempRoot("graft-sigstore-"))
    val corpus = signatureOf(Tables.documents(s, d).filter(col("doc_id") % 2 === 0))
    cat.createTable("corpus_signatures", corpus.schema)
    cat.insert("corpus_signatures", corpus)
    cat
  }

  /** INCREMENTAL near-dup: dedup a NEW batch against an EXISTING
    * corpus — the shape a continuously-ingesting 100 TB pipeline
    * actually runs. The corpus side reads the STORED signature table
    * ([[signatureStore]] — written once at "ingest"); only the new
    * batch evaluates the signature kernels, and the band join probes
    * new-vs-existing ONLY — no existing-vs-existing re-verification
    * ever re-runs. Cost per batch is O(batch + matched buckets),
    * independent of corpus size. Modeled on the shared documents
    * table: even doc_ids = corpus, odd = new batch; candidate recall
    * is total for the same reason as d04 (BruteCheck). */
  /** The NEW batch's signatures (odd doc_ids) — the only side that
    * ever evaluates the kernels in the incremental passes (d07, d17). */
  private def newBatchSig(s: SparkSession, d: String): DataFrame =
    signatureOf(Tables.documents(s, d).filter(col("doc_id") % 2 =!= 0))

  /** The (doc_id, sig, sh) signature frame of a document frame — the
    * ONE kernel stage every incremental dedup pass shares (d07/d17's
    * batch side, st20's micro-batches, the stored corpus build). */
  private[graft] def signatureOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      minhash_sig(col("text"), ShingleN, MinhashK, Seed).as("sig"),
      shingles64(col("text"), ShingleN).as("sh"))

  def d07Incremental(s: SparkSession, d: String): DataFrame =
    d07Pairs(s, d).orderBy("corpus_doc", "new_doc")

  /** d07's verified new-vs-corpus pairs without the presentation sort
    * (d17 consumes these as delta edges). */
  private[operators] def d07Pairs(s: SparkSession, d: String): DataFrame =
    // the batch signature kernel runs ONCE (localCheckpoint): without
    // it the band subtree, the shingle-verify subtree and the guard's
    // candidate count each re-evaluate minhash_sig + shingles64 over
    // the batch — measured 38 parquet scans / 60 exchanges in d07's
    // plan before this change. Batch-sized, so the materialization is
    // bounded by the ingest batch at any corpus scale.
    incPairs(signatureStore(s, d).scan("corpus_signatures"),
      newBatchSig(s, d).localCheckpoint())

  /** Verified cross pairs between a (stored) corpus signature frame
    * and a batch signature frame — the incremental join shape shared
    * by d07 and d17's maintenance loop: batch bands against corpus
    * bands, never the corpus-wide self-join. Candidate volume is
    * bounded by the batch's bucket matches; at 100 TB the corpus band
    * table is stored BUCKETED by (band, bh) so only the batch side
    * shuffles, and the corpus-side scan prunes to matched buckets.
    * The batch frame appears in two subtrees (bands, verify) but
    * column pruning leaves each KERNEL evaluated once — bands reads
    * only `sig`, verify only `sh`. */
  private def incPairs(corpusSig: DataFrame, batchSig: DataFrame): DataFrame = {
    val cand = incCandidates(corpusSig, batchSig)
    cand
      .join(corpusSig.select(col("doc_id"), col("sh")).as("sa"),
        col("corpus_doc") === col("sa.doc_id"))
      .join(batchSig.select(col("doc_id"), col("sh")).as("sb"),
        col("new_doc") === col("sb.doc_id"))
      .select(col("corpus_doc"), col("new_doc"),
        jaccard64(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  // ---------------------------------------------------------------- d08
  /** Benchmark DECONTAMINATION: flag training documents that share any
    * word 8-gram with the evaluation set — the pass every serious
    * training pipeline runs so eval answers don't leak into training
    * data. Eval set: doc_id % 20 == 0 (the held-out 5%); output: each
    * contaminated TRAIN doc with its count of distinct shared 8-grams.
    *
    * Scale shape: grams are hashed to 64 bits in a single-pass codegen
    * kernel ([[graft.functions.Kernels.wordGrams64]] — 8-byte keys, the
    * d01 pattern; 2^-64 collision tolerance, standard in dedup
    * pipelines) that emits each document's gram set ALREADY distinct,
    * so the train side needs no dedup shuffle at all. The EVAL side is
    * broadcast: benchmark sets are thousands of documents regardless of
    * corpus size, so the 100 TB corpus never shuffles — each task
    * streams its train grams past the in-memory eval-gram set. The
    * oracle recomputes the same overlap on gram STRINGS brute-force. */
  def d08Decontaminate(s: SparkSession, d: String): DataFrame = {
    // one row per (doc, distinct 8-gram hash): the kernel dedups within
    // the document, so explode emits set elements directly
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(word_grams64(col("text"), 8)).as("gh"))
    val docs = Tables.documents(s, d)
    val evalGrams  = grams(docs.filter(col("doc_id") % 20 === 0)).select("gh").distinct()
    val trainGrams = grams(docs.filter(col("doc_id") % 20 =!= 0))
    trainGrams.join(broadcast(evalGrams), "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared_8grams"))
      .orderBy("doc_id")
  }

  val d08OracleSql: String =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, ARRAY_TO_STRING(t[i:i+7], ' ') AS g
      |  FROM toks, UNNEST(RANGE(1, LEN(t)-6)) AS r(i)
      |  WHERE LEN(t) >= 8
      |),
      |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
      |train_g AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
      |SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_shared_8grams
      |FROM train_g t JOIN eval_g e USING (g)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- d09
  private val FpN = 24          // winnowing byte-gram width
  private val FpW = 8           // winnowing window (grams per window)
  private val FpGuard = FpW + FpN - 1 // 31: min length with a recall guarantee
  private val HotPostingK = 64  // postings longer than this leave the block join

  /** Substring-CONTAINMENT detection: pairs where one document's full
    * text appears inside another's — the sub-document dedup case
    * (quoted articles, boilerplate-wrapped copies) that similarity
    * thresholds miss when the container is much longer. Blocking is
    * the winnowing fingerprint index ([[graft.functions
    * .Kernels.fingerprint64]]): winnowing GUARANTEES any shared
    * substring of length >= w+n-1 (= 31 chars at n=24/w=8) yields a
    * shared selected fingerprint — and every window of a CONTAINED
    * doc is also a window of its container, so ANY surviving
    * fingerprint of the contained doc suffices. The exact `contains`
    * verification then runs only on pairs sharing a fingerprint (an
    * inverted-index join), never all-pairs. The gram width matters
    * for posting selectivity: at n=8 this tiny-vocabulary corpus
    * shares grams ubiquitously (hottest posting 3.5k docs → 56M
    * candidate pairs at sf0.1); n=24 grams are near-unique snippets
    * (hottest posting 14 → 47k pairs) at the same recall guarantee.
    * The DuckDB oracle is the brute-force all-pairs contains() scan.
    *
    * Two hardening paths keep the guarantee TOTAL on hostile corpora
    * (both no-ops on this one, spec-checked on planted data):
    *  - HOT POSTINGS: site-wide boilerplate shared by 10^6 docs would
    *    make the block join Σ|posting|² ≈ 10^12 pairs. Fingerprints
    *    whose posting exceeds [[HotPostingK]] leave the primary join;
    *    a doc is affected only if ALL its fingerprints are hot
    *    (all-boilerplate text), and those route through a fallback
    *    keyed on their single RAREST fingerprint — candidate volume
    *    drops from quadratic-in-posting to one posting scan per
    *    starved doc, and recall survives because the container shares
    *    every fingerprint, the rarest included.
    *  - SHORT DOCS: below w+n-1 bytes winnowing guarantees nothing,
    *    so docs under [[FpGuard]] take an exact path instead — the
    *    short side broadcasts (an intended BNLJ: each probe is a
    *    <=30-byte contains against which the corpus never shuffles). */
  def d09Containment(s: SparkSession, d: String): DataFrame =
    containment(Tables.documents(s, d), HotPostingK)

  /** d09 core over any (doc_id, text) frame; `hotK` exposed so the
    * planted-boilerplate spec can compare capped vs uncapped volume. */
  private[graft] def containment(docs0: DataFrame, hotK: Int): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"),
      octet_length(col("text")).as("len"))
    // exact path: contained side below the winnowing guarantee. The
    // short side is broadcast and verification happens inside the join
    // condition — no candidate stage, the corpus side never shuffles.
    val shortPairs = docs.as("b")
      .join(broadcast(docs.filter(col("len") < FpGuard)
          .select(col("doc_id").as("a_id"), col("text").as("a_text"))),
        col("a_id") =!= col("b.doc_id") && col("b.text").contains(col("a_text")))
      .select(col("a_id").as("contained_doc"), col("b.doc_id").as("container_doc"))
    val texts = docs.select(col("doc_id"), col("text"))
    val verified = containmentCandidates(docs, hotK)
      .join(texts.withColumnsRenamed(Map("doc_id" -> "contained_doc", "text" -> "a_text")),
        Seq("contained_doc"))
      .join(texts.withColumnsRenamed(Map("doc_id" -> "container_doc", "text" -> "b_text")),
        Seq("container_doc"))
      .filter(col("b_text").contains(col("a_text")))
      .select("contained_doc", "container_doc")
    // the two paths partition on contained-doc length — disjoint by
    // construction, so a plain union needs no dedup shuffle
    verified.unionByName(shortPairs)
      .orderBy("contained_doc", "container_doc")
  }

  /** Fingerprint-blocked candidate pairs for contained docs at or
    * above [[FpGuard]]; expects a (doc_id, text, len) frame. */
  private[graft] def containmentCandidates(docs: DataFrame, hotK: Int): DataFrame = {
    // fingerprint64 emits each doc's SORTED DISTINCT picks, so posting
    // size == number of docs carrying the fingerprint. The winnowing
    // kernel is the dominant scan cost and the index feeds FOUR
    // consumers (primary a-side, primary b-side, rarest, fallback
    // b-side) — the old plan evaluated the kernel fan-out five times
    // (plan audit: 20 parquet scans). ONE window exchange sizes the
    // postings and ONE localCheckpoint materializes the index; every
    // consumer reads the materialized rows. At 100 TB this is the
    // stored fingerprint index a containment service maintains.
    val sized = docs
      .select(col("doc_id"), col("len"), explode(fingerprint64(col("text"), FpN, FpW)).as("fp"))
      .withColumn("psz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .localCheckpoint()
    val fps = sized.select("doc_id", "fp")
    // primary: cold fingerprints only — candidate volume <= K per
    // occurrence. The container side joins the FULL index: a cold
    // fingerprint's posting is cold on both sides by definition.
    val aCold = sized.filter(col("psz") <= hotK && col("len") >= FpGuard)
    val primary = aCold.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("contained_doc"), col("b.doc_id").as("container_doc"))
    // fallback: docs whose EVERY fingerprint is hot probe on their
    // single rarest fingerprint (min posting, tie-break min value —
    // deterministic); one posting scan per starved doc.
    val rarest = sized.filter(col("len") >= FpGuard)
      .groupBy("doc_id")
      .agg(min(struct(col("psz"), col("fp"))).as("m"))
      .filter(col("m.psz") > hotK)
      .select(col("doc_id"), col("m.fp").as("fp"))
    val fallback = rarest.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("contained_doc"), col("b.doc_id").as("container_doc"))
    primary.unionByName(fallback).distinct()
  }

  val d09OracleSql: String =
    """SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc
      |FROM documents a JOIN documents b
      |  ON a.doc_id != b.doc_id AND contains(b.text, a.text)
      |ORDER BY contained_doc, container_doc""".stripMargin

  /** Brute force over CROSS (even, odd) pairs only — the oracle's
    * restriction of d04's pair universe to new-vs-existing. */
  val d07OracleSql: String =
    s"""WITH ${bruteCtes("\n   AND (a.doc_id % 2 = 0) != (b.doc_id % 2 = 0)")}
       |SELECT CASE WHEN doc_b % 2 != 0 THEN doc_a ELSE doc_b END AS corpus_doc,
       |       CASE WHEN doc_b % 2 != 0 THEN doc_b ELSE doc_a END AS new_doc,
       |       jaccard
       |FROM scored
       |WHERE jaccard >= 0.8
       |ORDER BY corpus_doc, new_doc""".stripMargin

  // ---------------------------------------------------------------- d10
  /** EDIT-DISTANCE re-verification of near-dup candidates: d04's
    * LSH-blocked, Jaccard-verified pairs get a second, orthogonal
    * signal — Levenshtein over the 120-char document heads (bounded
    * prefix: edit distance is O(len²), so production pipelines never
    * run it on full documents; the head is the standard proxy).
    * Distance only ever runs on the LSH candidate set — never all
    * pairs — and the head lookup is a broadcast-able projection of the
    * documents table, so at 100 TB this costs one candidate-sized
    * probe join after the d04 machinery the chain already paid for. */
  def d10EditDistance(s: SparkSession, d: String): DataFrame = {
    val heads = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 120).as("head"))
    val lev = levenshtein(col("ta.head"), col("tb.head"))
    verifiedPairs(signed(s, d))
      .join(heads.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(heads.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        lev.as("lev"),
        (lev.cast("double") /
          greatest(length(col("ta.head")), length(col("tb.head")), lit(1)))
          .as("lev_ratio"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d11
  /** Canonical selection: one KEEPER per near-dup cluster — the
    * highest-quality member (t02's shared score; ties to the smallest
    * doc_id), with singletons kept as their own cluster. This is the
    * step that turns d06's cluster map into the deduplicated corpus a
    * training pipeline actually emits: "drop near-dups, but keep the
    * BEST copy, not an arbitrary one". Cluster map from d06's
    * min-label propagation; docs without near-dup edges never enter
    * that join — a broadcast of the (tiny) cluster map against the
    * full scan assigns reps, then ONE hash exchange on cluster_rep
    * ranks members. At 100 TB the cluster map stays small relative to
    * the corpus (it has a row only per clustered doc), so the
    * assignment stays a broadcast and the only shuffle is the
    * rank's. */
  def d11KeepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = clusterMap(s, d) // (doc_id, cluster_rep)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.qualityScoreCol.as("quality_score"))
    val withRep = docs
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        col("quality_score"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("quality_score").desc, col("doc_id"))
    withRep
      .select(col("cluster_rep"), col("doc_id"), col("quality_score"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("cluster_rep")).cast("int")
          .as("n_members"))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keep_id"),
        col("quality_score"), col("n_members"))
      .orderBy("cluster_rep")
  }

  val d11OracleSql: String =
    s"""WITH RECURSIVE $clusterCtesSql,
       |scored_docs AS (
       |  SELECT d.doc_id,
       |         COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
       |         ${graft.operators.TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
       |),
       |ranked AS (
       |  SELECT cluster_rep, doc_id, quality_score,
       |         ROW_NUMBER() OVER (PARTITION BY cluster_rep
       |                            ORDER BY quality_score DESC, doc_id) AS rn,
       |         CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS INT) AS n_members
       |  FROM scored_docs
       |)
       |SELECT cluster_rep, doc_id AS keep_id, quality_score, n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  // ---------------------------------------------------------------- d12
  /** REPEATED-SPAN REMOVAL (the RefinedWeb/CCNet "remove duplicated
    * spans" pass — finer-grained than whole-doc dedup): each document
    * is cut into consecutive 8-word segments, a segment occurring ≥ 2
    * times corpus-wide is boilerplate, and every document is rewritten
    * with its boilerplate segments deleted (survivors keep their
    * original order).
    *
    * Scale shape: the segment fan-out happens inside the scan stage
    * (posexplode of a computed array — codegen); the COUNTING exchange
    * carries (segment, partial count) pairs that map-side combine; the
    * hot set (count ≥ 2, bounded by how much boilerplate exists, not
    * corpus size) joins back as a BROADCAST HASH join — an O(1) hash
    * probe per segment, deliberately not a `filter(segs,
    * array_contains(hot_literal))` rewrite, whose per-segment cost is
    * O(|hot|) string compares and degrades quadratically as the
    * boilerplate set grows (measured 14.7 s → 0.6 s at sf0.1); the
    * reassembly is ONE exchange keyed on doc_id carrying only
    * surviving segments, merged back in position order inside the
    * aggregate. At 100 TB the count exchange swaps its string key for
    * xxhash64 (t07's pattern); here the string keeps the DuckDB oracle
    * exact. */
  def d12SpanDedup(s: SparkSession, d: String): DataFrame = {
    val segW = 8
    // segment fan-out materialized once: it feeds the hot-set count
    // AND the probe join (the d09/d14/t25 discipline)
    val segs = Tables.documents(s, d).select(
      col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(split(text, ' ')) / $segW.0)
           |  as int) - 1),
           |  i -> array_join(slice(split(text, ' '), i * $segW + 1, $segW), ' '))"""
          .stripMargin)).as(Seq("pos", "seg")))
      .localCheckpoint()
    val hot = segs.groupBy("seg").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("seg"), lit(true).as("is_hot"))
    segs.join(broadcast(hot), Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("is_hot").isNull,
            struct(col("pos"), col("seg"))))),
          x => x("seg")), " ").as("cleaned"),
        count(col("is_hot")).as("n_removed"))
      .orderBy("doc_id")
  }

  val d12OracleSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |),
      |segs AS (
      |  SELECT doc_id, i,
      |         array_to_string(words[i*8+1 : i*8+8], ' ') AS seg
      |  FROM (SELECT doc_id, words,
      |               unnest(generate_series(0,
      |                 CAST(ceil(len(words) / 8.0) AS BIGINT) - 1)) AS i
      |        FROM w)
      |),
      |hot AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(*) >= 2)
      |SELECT s.doc_id,
      |       COALESCE(string_agg(s.seg, ' ' ORDER BY s.i)
      |                  FILTER (WHERE h.seg IS NULL), '') AS cleaned,
      |       COUNT(*) FILTER (WHERE h.seg IS NOT NULL) AS n_removed
      |FROM segs s LEFT JOIN hot h ON s.seg = h.seg
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- d13
  /** d13: SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * remove embedding-space near-duplicates that exact and n-gram
    * dedup miss (paraphrases, re-renders). The paper's exact shape:
    * (1) cluster the corpus with a k-means coarse quantizer — the
    * SHARED IVF assignment ([[Similarity.ivfAssigned]]), written ONCE
    * into a STORED cluster table at ingest ([[clusterTable]]) so the
    * dedup query reads stored columns and evaluates no quantizer;
    * (2) only WITHIN a
    * cluster, score pairs — candidate volume Σ|cell|², bounded by the
    * quantizer's cell occupancy, never corpus-quadratic (the paper
    * runs exactly this at web scale); (3) for each pair with cosine ≥
    * τ, KEEP the member with LOWER similarity to its cluster centroid
    * (the paper's keep-the-edge-example rule — retains diversity where
    * d11 keeps quality) and remove the other; tie → keep the lower
    * vec_id. Removal is a pure per-pair rule (∃ a τ-neighbor that
    * outranks you under (cent_sim asc, vec_id asc)) — deterministic
    * and spec-recomputable. τ=0.4 marks the corpus's top semantic
    * pairs; no near-identical pairs are planted in this synthetic
    * embedding table (max pairwise cosine ≈ 0.48), so the threshold is
    * set where the operator has observable work at every SF.
    * Rows-only (the trained quantizer isn't SQL-derivable); the spec
    * recomputes the removal set brute-force within clusters. */
  private val SemTau = 0.4

  /** The STORED cluster table (vec_id, embedding, cell, cent_sim) —
    * SemDeDup's at-ingest artifact, the shape SURVEY §6 documents:
    * cluster ids and centroid similarities are written ONCE when the
    * corpus lands (cent_sim is a pure function of the frozen
    * (embedding, centroid) pair), so the dedup query itself evaluates
    * NO quantizer — its plan is a parquet scan of stored columns
    * (spec-asserted: no nearest_centroid anywhere in the executed
    * plan). Written per call into a [[graft.sources.TableCatalog
    * .tempRoot]] catalog, with the quantizer trained once for both
    * the assignment and the centroid join; doubles round-trip parquet
    * bit-exactly, so the removal set is identical to the inline
    * derivation. */
  private def clusterTable(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.ivfCents(emb)
    val assigned = Similarity.ivfAssigned(emb, cents)
      .join(broadcast(Similarity.ivfCells(s, cents)), "cell")
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine_sim(col("embedding"), col("centroid")).as("cent_sim"))
    val cat = new graft.sources.TableCatalog(s,
      graft.sources.TableCatalog.tempRoot("graft-d13-"))
    cat.createTable("corpus_clusters", assigned.schema)
    cat.insert("corpus_clusters", assigned)
    cat.scan("corpus_clusters")
  }

  def d13SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val withCent = clusterTable(s, d)
    val pairs = withCent.as("a").join(withCent.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine_sim(col("a.embedding"), col("b.embedding")) >= SemTau)
    val removed = pairs.select(
      when(col("a.cent_sim") > col("b.cent_sim"), col("a.vec_id"))
        .when(col("a.cent_sim") < col("b.cent_sim"), col("b.vec_id"))
        .otherwise(greatest(col("a.vec_id"), col("b.vec_id"))).as("vec_id"))
      .distinct()
    withCent.join(removed, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("cell"), round(col("cent_sim"), 4).as("cent_sim"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- d14
  /** d14: exact SUBSTRING deduplication (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * ExactSubstr): remove every word-span of width [[SubK]] that
    * occurs MORE THAN ONCE anywhere in the corpus, at ANY alignment.
    * This is the pass d12 approximates with stride-[[SubK]] windows:
    * d12 misses a duplicated span that straddles its fixed window
    * boundaries (a copy shifted by one word is invisible to it),
    * while d14 anchors on STRIDE-1 shingles, so a repeated run of
    * ≥ SubK words is caught at every offset; overlapping hits merge
    * into maximal covered islands per document (the paper's
    * remove-the-span semantics). Convention: every occurrence of a
    * corpus-repeated span is removed (d12's symmetric rule — the
    * paper's keep-one variant is a rank filter on the hit with the
    * globally smallest (doc_id, p), noted, not silently chosen).
    *
    * Scale shape: the paper builds a corpus suffix array; the
    * distributed equivalent is this anchor pipeline — the stride-1
    * shingle fan-out happens inside the scan stage (posexplode of a
    * computed array, codegen); the counting exchange map-side
    * combines on the shingle key (at 100 TB the key becomes
    * xxhash64(seg) — 8 bytes through the shuffle, t07's pattern;
    * here the string keeps the DuckDB oracle exact); the hot set
    * (count ≥ 2 — bounded by how much DUPLICATED text exists, not
    * corpus size) joins back as a broadcast hash probe; hit start
    * positions ride ONE doc_id-keyed exchange and expand to the
    * covered index set per doc (|hits|·SubK ints, doc-bounded).
    * The per-word `array_contains(covered, i)` probe is O(|covered|)
    * — at production doc lengths the kept-set is computed by one
    * merge scan over (sorted hits, words); here the array form keeps
    * the plan a pure column expression. */
  private val SubK = 8

  def d14SubstringDedup(s: SparkSession, d: String): DataFrame =
    d14Pipeline(s, Tables.documents(s, d).select("doc_id", "text"))

  /** d14 over any (doc_id, text) frame — split out so the hostile-
    * corpus guard spec can run on a planted boilerplate corpus. */
  private[graft] def d14Pipeline(s: SparkSession, docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("words"))
    // the stride-1 shingle fan-out (8× the corpus) feeds the hot-set
    // aggregate AND the probe side of the guarded join — materialized
    // once instead of exploding the corpus twice (the d09 discipline).
    // The span TEXT is never needed downstream (the rewrite works off
    // covered POSITIONS over `words`), so the materialized rows and
    // every exchange after the kernel carry xxhash64(seg) — 8 bytes
    // instead of the ~50-byte span string (d01/d08's hash-key shuffle
    // discipline, 2^-64 collision tolerance; the oracle still groups
    // the strings and must agree row-for-row)
    val sh = w.select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN size(words) >= $SubK THEN
             |  transform(sequence(1, size(words) - ${SubK - 1}),
             |    p -> array_join(slice(words, p, $SubK), ' '))
             |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
          .as(Seq("i", "seg")))
      .select(col("doc_id"), (col("i") + 1).as("p"), xxhash64(col("seg")).as("h"))
      .localCheckpoint()
    // the hot probe goes through the SHARED hostile-corpus guard
    // ([[Scale.hotGuardedJoin]]): broadcast under
    // spark.graft.hotBroadcastLimit rows, shuffle-hash join above it
    val hot = sh.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val hits = Scale.hotGuardedJoin(s, sh, hot, Seq("h"), "inner")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    w.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("words"),
        expr(s"""array_distinct(flatten(transform(coalesce(ps,
             |  CAST(array() AS ARRAY<INT>)),
             |  p -> sequence(p, p + ${SubK - 1}))))""".stripMargin)
          .as("covered"))
      .select(col("doc_id"),
        // coalesce mirrors the oracle: a null-text doc keeps an EMPTY
        // cleaned string, not NULL (none exist in the canonical data,
        // but the pair must agree on any input)
        coalesce(
          expr("array_join(filter(words, (x, i) -> NOT array_contains(covered, i + 1)), ' ')"),
          lit("")).as("cleaned"),
        expr("size(covered)").cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  val d14OracleSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |),
       |sh AS (
       |  SELECT doc_id, unnest(generate_series(1, len(words) - ${SubK - 1})) AS p,
       |         words
       |  FROM w WHERE len(words) >= $SubK
       |),
       |sh2 AS (
       |  SELECT doc_id, p,
       |         array_to_string(words[p : p + ${SubK - 1}], ' ') AS seg
       |  FROM sh
       |),
       |hot AS (SELECT seg FROM sh2 GROUP BY seg HAVING COUNT(*) >= 2),
       |hits AS (
       |  SELECT s.doc_id,
       |         flatten(list_transform(list_sort(list(s.p)),
       |                                p -> generate_series(p, p + ${SubK - 1}))) AS cov0
       |  FROM sh2 s JOIN hot h USING (seg) GROUP BY s.doc_id
       |),
       |cov AS (
       |  SELECT w.doc_id, w.words,
       |         list_distinct(COALESCE(h.cov0, [])) AS covered
       |  FROM w LEFT JOIN hits h USING (doc_id)
       |)
       |SELECT doc_id,
       |       COALESCE(array_to_string(list_filter(words,
       |         (x, i) -> NOT list_contains(covered, i)), ' '), '') AS cleaned,
       |       CAST(len(covered) AS BIGINT) AS n_removed
       |FROM cov ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d15
  /** The train-gram stream with its Bloom verdict, split out so the
    * spec can measure the prune independently of the verified output:
    * (doc_id, gh, mc) for every train (doc, distinct-gram) row, plus
    * the built filter's bit size (the task-resident memory bound). */
  /** The eval-set Bloom filter, built once per call. At production
    * the filter is written when the eval set publishes and every
    * decontamination run just loads it. */
  private def d15Filter(s: SparkSession, d: String): org.apache.spark.util.sketch.BloomFilter = {
    val evalGrams = Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
      .select(explode(word_grams64(col("text"), 8)).as("gh")).distinct()
    // one eval-side derivation, two driver actions: persist across
    // the sizing count and the sketch build, then release
    evalGrams.persist()
    try
      // Spark's own distributed sketch build: map-side partial
      // filters OR-merged to one driver-side object (KBs at this fpp)
      evalGrams.stat.bloomFilter("gh", math.max(evalGrams.count(), 1L), 0.01)
    finally evalGrams.unpersist()
  }

  private[graft] def d15Flagged(s: SparkSession, d: String): (DataFrame, Long) = {
    val bf = d15Filter(s, d)
    val flagged = Tables.documents(s, d).filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(word_grams64(col("text"), 8)).as("gh"))
      .withColumn("mc", graft.functions.bloom_might_contain(col("gh"), bf))
    (flagged, bf.bitSize())
  }

  /** d15: BLOOM-GATED DECONTAMINATION — d08's eval-overlap pass
    * through the membership structure web-scale dedup/decontamination
    * systems actually ship (the Dolma pipeline's Bloom-filter deduper;
    * Lee et al. 2021's service): the eval 8-gram set is summarized
    * ONCE into a Bloom filter (1% fpp → ~1.2 KB per 1k grams, built by
    * Spark's distributed sketch aggregation) and every train gram
    * probes the TASK-LOCAL filter inside the scan — a few hash probes
    * per gram, no exact-set broadcast to every task. A filter miss
    * CERTIFIES the gram unshared (no false negatives), so recall is
    * total by construction — the s12 certified-prune discipline;
    * measured here the filter passes ~1.5% of train grams (≈0.5% true
    * + ≈1% fp). Only those hits enter the exact verification join,
    * which removes the false positives — output IDENTICAL to d08,
    * same DuckDB oracle. At 100 TB the eval set is huge enough that
    * broadcasting it exactly (d08's shape) strains task memory; the
    * filter stays KB-to-MB at any eval size while the exact join's
    * probe side shrinks from the corpus's gram stream to the hit
    * stream. */
  def d15BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(word_grams64(col("text"), 8)).as("gh"))
    val (flagged, _) = d15Flagged(s, d)
    val evalGrams = grams(Tables.documents(s, d).filter(col("doc_id") % 20 === 0))
      .select("gh").distinct()
    flagged.filter(col("mc"))
      .join(broadcast(evalGrams), "gh") // exact verify on the hit stream only
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared_8grams"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d16
  /** d16: CONTENT-DEFINED CHUNK DEDUP (FastCDC, Xia et al. 2016 — the
    * chunking storage dedup systems ship): every document splits at
    * boundaries chosen by a gear rolling hash of its OWN bytes, chunks
    * dedup corpus-wide on their content hash. The CDC property is the
    * point: because boundaries are content-defined, an upstream edit
    * or inserted prefix RE-SYNCS at the next surviving boundary — a
    * shifted copy keeps most of its chunk hashes, where d12's fixed
    * windows lose every window past the edit. This is the CHEAP
    * shift-robust middle ground in the sub-document arc: d12 (fixed
    * windows, alignment-blind, 1× fan-out) → d16 (content-defined,
    * shift-robust, ~1× fan-out: each byte contributes to exactly one
    * chunk) → d14 (stride-1 exact, alignment-complete, 8× fan-out).
    *
    * Scale shape: boundary + hash computation is one codegen kernel
    * pass per document inside the scan ([[graft.functions.CdcChunks]]
    * — text never shuffles); the dedup
    * exchange carries (8-byte hash, doc, idx) rows with map-side
    * partials; the representative is one packed-integer MIN (m09's
    * argmin). Avg chunk = 64 bytes (mask 6 bits), min 16, max 256 —
    * forced cuts bound worst-case chunk size, the standard FastCDC
    * normalization. Rows-only (a rolling-hash chunker is not one SQL
    * statement); the spec proves coverage, determinism, the argmin
    * rule, and the SHIFT-ROBUSTNESS claim itself (measured survival of
    * chunk hashes under prefix insertion vs fixed windows' ~0). */
  private val CdcBits = 6   // avg chunk 64 B
  private val CdcMin  = 16
  private val CdcMax  = 256

  def d16CdcDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.cdc_chunks
    // ONE chunker pass per doc ([[graft.functions.CdcChunks]] emits
    // (packed bound, hash) structs together), exploded in the scan
    val chunks = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(cdc_chunks(col("text"), CdcBits, CdcMin, CdcMax)).as(Seq("idx", "c")))
      .select(col("doc_id"), col("idx").as("chunk_idx"),
        shiftright(col("c.packed"), 20).cast("int").as("start"),
        col("c.packed").bitwiseAND(lit(0xFFFFFL)).cast("int").as("len"),
        col("c.ch").as("ch"))
    // rep = lexicographic argmin as a STRUCT min (no packed-integer
    // width assumption: m09's packing relies on a documented scene
    // bound, but a chunk index is only bounded by document size)
    val groups = chunks.groupBy("ch")
      .agg(count(lit(1)).as("n_group"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("rep"))
    chunks.join(groups, "ch")
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("len"),
        col("ch").as("chunk_hash"),
        col("rep.doc_id").as("rep_doc"),
        col("rep.chunk_idx").as("rep_idx"),
        col("n_group"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------- d17
  /** The STORED corpus cluster map (doc_id, cluster_rep over the even
    * half) — the at-ingest artifact d17 maintains, built from the
    * STORED signature table (no kernel re-runs: candidates band the
    * stored `sig` column, verification reads the stored `sh` sets) and
    * published into the same catalog as the signatures. Because LSH
    * banding is per-document, the even half's candidate pairs
    * computed alone equal the full corpus's candidate pairs restricted
    * to even-even — the property that makes the incremental merge
    * provably exact. */
  private[graft] def corpusClusterMap(s: SparkSession, d: String): DataFrame =
    corpusClusterMap(signatureStore(s, d))

  private def corpusClusterMap(cat: graft.sources.TableCatalog): DataFrame = {
    val map = clusterMapOfSigs(cat.scan("corpus_signatures"))
    cat.createTable("corpus_cluster_map", map.schema)
    cat.insert("corpus_cluster_map", map)
    cat.scan("corpus_cluster_map")
  }

  /** The converged (doc_id, cluster_rep) map of one signature frame —
    * LSH candidates from the stored `sig` column, verification from
    * the stored `sh` sets, min-label propagation. */
  private def clusterMapOfSigs(sigs: DataFrame): DataFrame = {
    val cand = minhashCandidates(sigs.select("doc_id", "sig"))
    val pairs = cand
      .join(sigs.select(col("doc_id"), col("sh")).as("ca"),
        col("doc_a") === col("ca.doc_id"))
      .join(sigs.select(col("doc_id"), col("sh")).as("cb"),
        col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard64(col("ca.sh"), col("cb.sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
    propagateMinLabels(pairs)
  }

  /** Bootstrap a PRODUCTION maintenance store (the at-ingest state
    * [[d17Maintain]] evolves): corpus signatures, the initial cluster
    * map built FROM the stored signatures, and the replay marker log —
    * three versioned catalog tables. */
  private[graft] def d17InitStore(cat: graft.sources.TableCatalog,
      corpusSig: DataFrame): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    cat.createTable("corpus_signatures", corpusSig.schema)
    cat.insert("corpus_signatures", corpusSig)
    corpusClusterMap(cat)
    cat.createTable("maintenance_log", StructType(Seq(
      StructField("batch_id", LongType, nullable = false))),
      primaryKey = Some("batch_id"))
  }

  /** d17 PRODUCTION WRITE-BACK: one maintenance step as ONE catalog
    * transaction. The merged map is computed from the CURRENT stored
    * state (the same [[mergeDeltaClusters]] step the query form runs),
    * then the batch's signatures APPEND to `corpus_signatures`, the
    * merged map publishes as the new version of `corpus_cluster_map`,
    * and the batch-id marker lands in `maintenance_log` — all staged
    * in one first-committer-wins txn (st10's exactly-once discipline).
    * Crash-safety by construction: a crash before COMMIT publishes
    * nothing (staged dirs die with the txn), and a REPLAYED batch —
    * foreachBatch's at-least-once contract — sees its marker and
    * no-ops, so versions advance exactly once per batch. The reads
    * inside the txn body evaluate against the pre-txn snapshot (scans
    * pin physical paths at construction), which is exactly the
    * maintenance step's semantics: merge THIS batch into the state
    * the previous batch published. */
  private[graft] def d17Maintain(s: SparkSession,
      cat: graft.sources.TableCatalog, batchSig: DataFrame, batchId: Long): Unit = {
    import s.implicits._
    val seen = !cat.scan("maintenance_log")
      .filter(col("batch_id") === batchId).isEmpty
    if (seen) return // replayed micro-batch: already published
    // ONE batch-kernel evaluation for the whole maintenance step: the
    // merge's five subtrees AND the signature insert below read the
    // same materialized frame — the raw plan re-ran minhash_sig +
    // shingles64 once more for the txn write (batch-sized, bounded)
    val sig = batchSig.localCheckpoint()
    val merged = mergeDeltaClusters(s, cat.scan("corpus_cluster_map"),
      cat.scan("corpus_signatures"), sig)
    val t = cat.begin()
    try {
      t.insert("maintenance_log", Seq(batchId).toDF("batch_id"))
      t.insert("corpus_signatures", sig)
      // new-version publish of the map: the staged delete clears the
      // table IN THE TXN VIEW only; `merged` evaluates against the
      // pre-txn version's pinned files, so the rewrite is consistent
      t.delete("corpus_cluster_map", lit(true))
      t.insert("corpus_cluster_map", merged)
      t.commit()
    } catch { case e: Throwable => t.rollback(); throw e }
  }

  /** d17: INCREMENTAL CLUSTER MAINTENANCE — merge a new batch's
    * near-dup pairs into the STORED cluster map without re-running
    * corpus-wide label propagation (d07's incremental discipline
    * applied to d06's output). Delta edges are (a) d07's new-vs-corpus
    * pairs — corpus side reads STORED signatures only — and (b) the
    * batch's internal LSH pairs — kernels evaluated on the batch only.
    * The merge is a driver-side min-root union-find over the DELTA
    * GRAPH's nodes (new doc_ids + the touched corpus docs' stored
    * cluster reps): the batch-internal pairs are component-collapsed
    * distributively BEFORE the collect ([[deltaFoldInputs]]), so the
    * fold is O(batch) ROWS even when the batch's duplicate structure
    * is quadratic (a template-stuck crawl) — the same documented
    * driver-fold bound as the probe vectors, now guarded structurally. Untouched clusters pass through via a
    * broadcast (old_rep → new_rep) remap join; the corpus-side plan
    * evaluates NO signature kernel (spec-asserted). EXACTNESS: the
    * stored rep is its corpus component's min, so the min over a
    * merged component equals the min over the union-find's node set —
    * the merged map is provably equal to a full d06 recompute over
    * corpus+batch, which is why d17 shares d06's DuckDB oracle
    * verbatim. */
  /** The two delta-edge frames — (new-vs-corpus folded to stored reps,
    * new-vs-new) — split out so the spec can audit their plans for the
    * stored-asset discipline (corpus side reads stored tables only). */
  private[graft] def d17DeltaFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cat = signatureStore(s, d)
    deltaFrames(corpusClusterMap(cat), cat.scan("corpus_signatures"),
      newBatchSig(s, d).localCheckpoint())
  }

  /** The delta-edge frames for one maintenance step over arbitrary
    * (stored map, corpus signatures, batch signatures) — pure in its
    * frames so the sequential-maintenance spec can iterate it. The
    * batch frame feeds FIVE subtrees (nc's bands + verify, nn's
    * candidates + two verify sides): production entry points pass it
    * localCheckpointed so the signature kernels run ONCE per
    * maintenance step (d07Pairs' discipline) — lifted to the callers
    * so [[d17Maintain]]'s txn inserts share the same materialization
    * instead of re-running the kernels per insert. A raw frame stays
    * correct, just re-evaluated (the spec path). */
  private[graft] def deltaFrames(stored: DataFrame, corpusSig: DataFrame,
      batchSig: DataFrame): (DataFrame, DataFrame) = {
    // delta edges: new-vs-corpus with each corpus doc folded to its
    // stored rep (itself when the map has no row — a corpus singleton)
    val nc = incPairs(corpusSig, batchSig)
      .join(stored.withColumnRenamed("doc_id", "corpus_doc"), Seq("corpus_doc"), "left")
      .select(col("new_doc"), col("corpus_doc"),
        coalesce(col("cluster_rep"), col("corpus_doc")).as("rep"),
        col("cluster_rep").isNull.as("miss")) // corpus singleton marker
    val nn = minhashCandidates(batchSig.select("doc_id", "sig"))
      .join(batchSig.select(col("doc_id"), col("sh")).as("na"),
        col("doc_a") === col("na.doc_id"))
      .join(batchSig.select(col("doc_id"), col("sh")).as("nb"),
        col("doc_b") === col("nb.doc_id"))
      .filter(jaccard64(col("na.sh"), col("nb.sh")) >= 0.8)
      .select("doc_a", "doc_b")
    (nc, nn)
  }

  def d17IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val cat = signatureStore(s, d)
    mergeDeltaClusters(s, corpusClusterMap(cat), cat.scan("corpus_signatures"),
      newBatchSig(s, d).localCheckpoint())
  }

  /** ONE maintenance step as a pure function of its frames: merge a
    * batch's near-dup delta into a stored cluster map. The OUTPUT
    * satisfies the same invariant as the input (every rep is its
    * component's minimum over corpus+batch), so steps COMPOSE: feeding
    * step N's map (plus the batch's signatures appended to the corpus
    * signature table — the production write-back) into step N+1 is
    * provably equal to one big recompute (spec-asserted over a
    * two-batch chain). This is the loop a continuously-ingesting
    * pipeline actually runs. */
  /** The DRIVER-FOLD inputs for one maintenance step, with the
    * duplicate-heavy-batch GUARD: the batch-internal near-dup graph is
    * pre-collapsed DISTRIBUTIVELY ([[propagateMinLabels]] over the nn
    * edge set) before anything reaches the driver. A template-stuck
    * crawler batch of B near-identical docs has B(B−1)/2 nn pairs —
    * collecting the raw pair list is quadratic in the batch's duplicate
    * structure — but its component map has exactly ONE row per involved
    * doc, so the driver fold is O(batch) rows no matter how duplicated
    * the batch is. union(doc, batch-rep) reproduces the pair set's
    * connectivity exactly (both endpoints of every nn edge share one
    * batch component rep), which keeps the exactness proof intact.
    *
    * The nc side is guarded too (round-10): the driver consumes only
    * the DISTINCT (new_doc, rep, miss) edge set — the raw pair list
    * repeats an edge once per matched corpus doc in the same cluster,
    * so a batch matching a large stored cluster is quadratic in
    * matches while its distinct edge set is O(batch × touched
    * clusters). The distinct set is probed with a per-partition
    * take(limit+1) — the driver materializes AT MOST partitions ×
    * (limit+1) rows deciding the route — and
    * above the limit the edges pre-collapse distributively
    * ([[propagateMinLabels]]) to one (node, component-min) row per
    * involved node, with the rep/miss and new-doc universes collected
    * as bounded distinct sets. union(node, component-min) reproduces
    * the edge set's connectivity exactly, the same argument as nn.
    * Split out so the spec can plant hostile batches on BOTH sides and
    * assert the collected row counts directly. */
  private[graft] final case class DeltaFold(
      unions: Array[(Long, Long)],    // connectivity edges to union
      repMiss: Array[(Long, Boolean)], // distinct (rep, was-unmapped)
      newDocs: Array[Long],            // distinct nc-side new docs
      nnComps: Array[(Long, Long)])    // nn (doc, batch-component rep)

  /** Driver-side min-root union-find fold of a raw pair list into the
    * (node, component-min) map — exactly propagateMinLabels' result
    * without its per-round Spark jobs (valid under the fold limit). */
  private def foldPairs(pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var c = x
      while (c != root) { val nxt = parent(c); parent(c) = root; c = nxt }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.map(x => (x, find(x)))
  }

  private[graft] def deltaFoldInputs(stored: DataFrame, corpusSig: DataFrame,
      batchSig: DataFrame): DeltaFold = {
    val (nc, nn) = deltaFrames(stored, corpusSig, batchSig)
    val limit = stored.sparkSession.conf
      .get("spark.graft.d17.foldPairLimit", "10000").toLong
    require(limit > 0 && limit < Int.MaxValue,
      s"spark.graft.d17.foldPairLimit out of range: $limit")
    // nc probe, BOUNDED (round-10, closing the unbounded-collect hole):
    // every partition ships at most limit+1 rows in ONE job over all
    // partitions (no CollectLimit 1→4→16… scale-up rounds), and a
    // result of <= limit rows IS the complete row set — so the common
    // path's job count is the unguarded collect's, and the driver never
    // materializes more than partitions × (limit+1) narrow rows
    // deciding the route. The per-partition cut touches no session
    // conf, so no other query on the session sees the probe.
    val probe = nc.select("new_doc", "rep", "miss").rdd
      .mapPartitions(_.take(limit.toInt + 1)).collect()
    val (unions, repMiss, newDocs) =
      if (probe.length <= limit) {
        val rows = probe.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        (rows.map(e => (e._1, e._2)).distinct,
          rows.map(e => (e._2, e._3)).distinct,
          rows.map(_._1).distinct)
      } else {
        // over the cap (a batch matching a huge corpus slice): ship
        // the DISTINCT (new_doc, rep) edge set — the raw rows repeat
        // an edge once per matched corpus doc in the same cluster —
        // and above the cap even in distinct edges, collapse
        // connectivity DISTRIBUTIVELY to one row per NODE.
        // union(node, component-min) reproduces the edge set's
        // connectivity exactly, so the merge result is unchanged —
        // spec-asserted against the under-limit route.
        val ncM = nc.select("new_doc", "rep", "miss").distinct().localCheckpoint()
        val edges =
          if (ncM.count() <= limit)
            ncM.select("new_doc", "rep").collect()
              .map(r => (r.getLong(0), r.getLong(1)))
          else propagateMinLabels(ncM
              .select(col("new_doc").as("doc_a"), col("rep").as("doc_b")))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        (edges,
          ncM.select("rep", "miss").distinct().collect()
            .map(r => (r.getLong(0), r.getBoolean(1))),
          ncM.select("new_doc").distinct().collect().map(_.getLong(0)))
      }
    // materialize the nn edges once, then pick the fold route off the
    // measured size: a NORMAL batch's near-dup pair list is far under
    // the limit (10k ≈ 160 KB collected) and folds directly in the
    // driver; a duplicate-heavy batch over the limit keeps the
    // distributive pre-collapse, so the driver still never sees B²
    // pairs.
    val nnM = nn.localCheckpoint()
    val nnComps =
      if (nnM.count() <= limit)
        foldPairs(nnM.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      else propagateMinLabels(nnM).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    DeltaFold(unions, repMiss, newDocs, nnComps)
  }

  private[graft] def mergeDeltaClusters(s: SparkSession, stored: DataFrame,
      corpusSig: DataFrame, batchSig: DataFrame): DataFrame = {
    import s.implicits._
    // ---- driver union-find over the delta (bounded: both sides
    // arrive distinct/component-collapsed, see deltaFoldInputs)
    val fold = deltaFoldInputs(stored, corpusSig, batchSig)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      // two-pass iterative path compression: walk to the root, then
      // point every node on the walk at it — min-value unions (not
      // by-rank) can build O(n) parent chains, and a recursive find
      // would overflow the driver stack on one
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min-root: the smaller id labels the component
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    fold.unions.foreach { case (a, b) => union(a, b) }
    fold.nnComps.foreach { case (doc, rep) => union(doc, rep) }
    // touched stored reps whose component min changed → remap rows
    val touchedReps = fold.repMiss.filter(!_._2).map(_._1)
    val remap = touchedReps.map(r => (r, find(r))).filter { case (r, nr) => nr != r }
    // corpus docs absent from the stored map (the left-join miss flag —
    // no corpus-map scan needed; an unmapped doc's folded rep is
    // itself) and the batch docs get fresh rows
    val singletonCorpus = fold.repMiss.filter(_._2).map(_._1)
      .map(c => (c, find(c)))
    // nnComps carries one row per nn-involved doc (component reps label
    // themselves), so its doc_ids are exactly the old pair-endpoint set
    val newDocsSrc = fold.newDocs ++ fold.nnComps.map(_._1)
    val newDocs = newDocsSrc.distinct.map(n => (n, find(n)))
    val extras = (singletonCorpus ++ newDocs).toSeq.toDF("doc_id", "cluster_rep")
    val remapped =
      if (remap.isEmpty) stored
      else stored.join(broadcast(remap.toSeq.toDF("cluster_rep", "new_rep")),
          Seq("cluster_rep"), "left")
        .select(col("doc_id"),
          coalesce(col("new_rep"), col("cluster_rep")).as("cluster_rep"))
    remapped.unionByName(extras).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_incremental_clusters" -> (d17IncrementalClusters _),
    "d16_cdc_dedup" -> (d16CdcDedup _),
    "d15_bloom_decontaminate" -> (d15BloomDecontaminate _),
    "d14_substring_dedup" -> (d14SubstringDedup _),
    "d13_semantic_dedup"  -> (d13SemanticDedup _),
    "d01_dedup_exact"     -> (d01Exact _),
    "d02_dedup_minhash"   -> (d02Minhash _),
    "d03_dedup_simhash"   -> (d03Simhash _),
    "d04_dedup_ngram"     -> (d04NgramJaccard _),
    "d05_dedup_embedding" -> (d05Embedding _),
    "d06_dedup_clusters"  -> (d06Clusters _),
    "d07_dedup_incremental" -> (d07Incremental _),
    "d08_decontaminate"   -> (d08Decontaminate _),
    "d09_containment"     -> (d09Containment _),
    "d10_editdist"        -> (d10EditDistance _),
    "d11_keep_best"       -> (d11KeepBest _),
    "d12_span_dedup"      -> (d12SpanDedup _))

  /** d04/d06 ARE oracle-checkable, via brute force: DuckDB computes
    * all-pairs 5-gram Jaccard (char n-grams == byte n-grams on this
    * ASCII corpus; 64-bit hash-set Jaccard == string-set Jaccard
    * barring a ~1e-14 collision) and the LSH-blocked Spark pipeline
    * must produce the SAME pairs — recall completeness on this corpus
    * is deterministic given (data, seed) and proven by the
    * [[graft.BruteCheck]] tool + the d04 completeness spec. The
    * size-ratio prefilter is sound: jaccard >= 0.8 forces
    * min(|A|,|B|)/max(|A|,|B|) >= 0.8. Two EMPTY shingle sets (docs
    * shorter than the shingle width) are jaccard 1.0 — the kernel's
    * convention (Kernels.jaccard64), mirrored here with a CASE so the
    * oracle cannot silently drop such pairs to 0/0. */
  /** Shared CTE prefix of every brute-force oracle (d04/d06/d07):
    * per-doc distinct 5-gram sets, size-ratio-prefiltered pairs
    * (`extraJoin` narrows the pair universe, e.g. to cross-parity for
    * the incremental oracle), and the scored jaccard with the
    * empty-sets-are-identical convention. ONE definition — the shingle
    * width and prefilter constants cannot drift between the three
    * oracles and the Scala kernel. */
  private[operators] def bruteCtes(extraJoin: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |         list_distinct([text[i:i+4] for i in generate_series(1, len(text)-4)]) AS s
       |  FROM documents
       |),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         len(list_intersect(a.s, b.s)) AS inter,
       |         len(a.s) AS na, len(b.s) AS nb
       |  FROM sh a JOIN sh b
       |    ON a.doc_id < b.doc_id$extraJoin
       |   AND len(a.s) * 5 >= len(b.s) * 4
       |   AND len(b.s) * 5 >= len(a.s) * 4
       |),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |         CASE WHEN na + nb = 0 THEN 1.0
       |              ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END AS jaccard
       |  FROM cand
       |)""".stripMargin

  val d04OracleSql: String =
    s"""WITH ${bruteCtes("")}
       |SELECT doc_a, doc_b, jaccard FROM scored
       |WHERE jaccard >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components of the brute-force pair graph by transitive
    * closure (recursive CTE) — clusters are small cliques, so the
    * closure stays tiny. Matches d06's min-label propagation. */
  /** Shared `WITH RECURSIVE` body ending in `clus(doc_id,
    * cluster_rep)` — consumed by the d06 oracle and by the
    * cluster-composing oracles (d11 canonical selection, p11
    * leakage-safe split), so the closure definition cannot drift
    * between them. */
  private[operators] lazy val clusterCtesSql: String =
    s"""${bruteCtes("")},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.8
       |),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS t FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |reach AS (
       |  SELECT s AS doc_id, t AS peer FROM edges
       |  UNION
       |  SELECT r.doc_id, e.t FROM reach r JOIN edges e ON r.peer = e.s
       |),
       |clus AS (
       |  SELECT doc_id, LEAST(doc_id, MIN(peer)) AS cluster_rep
       |  FROM reach GROUP BY doc_id
       |)""".stripMargin

  val d06OracleSql: String =
    s"""WITH RECURSIVE $clusterCtesSql
       |SELECT doc_id, cluster_rep FROM clus ORDER BY doc_id""".stripMargin

  /** d10 oracle: d04's brute-force pair set + DuckDB's own
    * levenshtein over the same 120-char heads (ASCII corpus: char
    * semantics identical across engines). */
  val d10OracleSql: String =
    s"""WITH ${bruteCtes("")},
       |p AS (SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.8)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |  CAST(levenshtein(a.text[1:120], b.text[1:120]) AS INT) AS lev,
       |  CAST(levenshtein(a.text[1:120], b.text[1:120]) AS DOUBLE) /
       |    GREATEST(LENGTH(a.text[1:120]), LENGTH(b.text[1:120]), 1) AS lev_ratio
       |FROM p
       |JOIN documents a ON p.doc_a = a.doc_id
       |JOIN documents b ON p.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d01_dedup_exact"       -> d01OracleSql,
    "d04_dedup_ngram"       -> d04OracleSql,
    "d06_dedup_clusters"    -> d06OracleSql,
    "d07_dedup_incremental" -> d07OracleSql,
    "d08_decontaminate"     -> d08OracleSql,
    "d09_containment"       -> d09OracleSql,
    "d10_editdist"          -> d10OracleSql,
    "d11_keep_best"         -> d11OracleSql,
    "d12_span_dedup"        -> d12OracleSql,
    "d14_substring_dedup"   -> d14OracleSql,
    // the bloom gate is a lossless prune: output identical to d08
    "d15_bloom_decontaminate" -> d08OracleSql,
    // the incremental merge is provably equal to the full recompute,
    // so it shares d06's connected-components oracle verbatim
    "d17_incremental_clusters" -> d06OracleSql)
}
