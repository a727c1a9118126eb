package graft.operators

import graft.functions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY.md §2 scale ops).
  *
  * s01 is the exact baseline: one scan, cosine against a broadcast
  * query vector, TakeOrdered top-k — O(n·dim) compute, no shuffle of
  * the vectors themselves. s02 is the scale path: the corpus carries
  * PRE-COMPUTED 256-bit hyperplane signatures (stored columns — here
  * derived per call, at 100 TB materialized at ingest next to the
  * vectors), the probe's signature is evaluated ONCE driver-side into
  * literals, and the scan ranks rows by signature hamming distance — a
  * handful of XOR/popcounts per row instead of an O(dim) cosine. Only
  * a fixed candidate budget (the IVF "nprobe" pattern — independent of
  * corpus size) pays the exact kernel. At scale the signature columns
  * live in their own column chunks, so the ranking scan reads 32
  * bytes/row, not the vector, and candidates fetch vectors by id.
  */
object Similarity {

  private val Seed       = 7L
  private val K          = 10
  private val SigWords   = 4   // 4 × 64 = 256 hyperplane bits
  private val Candidates = 100 // exact-kernel budget, corpus-size-independent

  private def sigCols = (0 until SigWords)
    .map(w => hyperplane_sig(col("embedding"), 64, Seed + w).as(s"sig$w"))

  /** vec_id + embedding + 256-bit signature (4 longs): the
    * stored-signature table every query prunes against (at 100 TB,
    * columns written at ingest). Shared with [[Dedup.d05Embedding]],
    * whose LSH buckets are prefix bits of `sig0` — one signature
    * derivation serves both dedup blocking and ANN pruning. */
  private[operators] def sigFrame(emb: DataFrame): DataFrame =
    emb.select(col("vec_id") +: col("embedding") +: sigCols: _*)

  /** The fixed probe: embedding of vec_id 0, broadcast to all rows.
    * Every query passes down its one `embeddings` frame, which the
    * probe reads too: each load is a schema-inference job. */
  private def probe(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

  /** The fixed probe vector on the driver (one pushed-filter point
    * read). */
  private def probeVec(emb: DataFrame): Array[Float] = probe(emb).head().getSeq[Float](0).toArray

  // ---------------------------------------------------------------- s01
  /** Exact top-k, oracle-checked: DuckDB's list_cosine_similarity
    * computes in float32 vs the kernel's double accumulators, so the
    * emitted cosine is rounded to 4 decimals — the engines agree there
    * by a >20x margin on this data (verified: min distance to any
    * rounding boundary ~1e-6 vs ~6e-8 engine delta), and the top-k
    * membership gap is >9e-4. Ranking happens on the unrounded value. */
  def s01BruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe(emb)))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("qv")).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s02
  /** LSH-pruned ANN: rank the corpus by hamming distance between its
    * stored signatures and the probe's (literal) signature, take a
    * fixed candidate budget, and run the exact cosine only on those.
    * Approximate by construction (recall < 1 vs s01); the recall floor
    * is asserted by spec against s01's exact top-k. */
  def s02LshAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val sf = sigFrame(emb)
    // probe vector: one pushed-filter point read; signature computed
    // driver-side with the same kernel the stored columns used, so the
    // per-row cost is pure hamming against literals
    val q = probeVec(emb)
    val qSig = (0 until SigWords).map(w =>
      Kernels.hyperplaneSig(UnsafeArrayData.fromPrimitiveArray(q), 64, Seed + w))
    val ham = (0 until SigWords)
      .map(w => hamming64(col(s"sig$w"), lit(qSig(w))))
      .reduce(_ + _)
    sf.filter(col("vec_id") =!= 0)
      .withColumn("ham", ham)
      .orderBy(col("ham").asc, col("vec_id"))
      .limit(Candidates)
      .select(col("vec_id"), cosine_sim(col("embedding"), typedLit(q.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(K)
  }

  // ---------------------------------------------------------------- s04
  /** IVF (inverted-file) ANN — the other classic scale path next to
    * s02's signature ranking. Build: k-means coarse quantizer trained
    * by Lloyd iterations where ONLY the k×dim centroid table ever
    * reaches the driver (assignment is a scan with a literal centroid
    * list; the update is the constant-bytes-per-group [[graft
    * .functions.VectorAgg]] fold — one shuffle of k buffers per
    * round, however many quantizer spaces [[Ivf.train]] fits
    * together). Query: rank cells by probe-to-centroid cosine
    * driver-side (k tiny), scan ONLY the nprobe best cells' rows for
    * the exact kernel. At 100 TB the assignment frame is a table partitioned by
    * `cell`, so probing nprobe cells is partition pruning — the scan
    * reads nprobe/k of the corpus, corpus-size-independent per cell. */
  object Ivf {
    def centroidsLit(cents: Array[Array[Float]]) = typedLit(cents.map(_.toSeq).toSeq)

    /** Deterministic k-means over quantizer spaces, each a (sub-)vector
      * column of `emb` and its k. Init: the first k rows by hashed id
      * (seeded, stable across partitionings) — the same rows in every
      * space, so one collect seeds all. Each of `iters` Lloyd rounds is
      * ONE scan and ONE groupBy(space, cell) centroid_agg, over the
      * members a space would have alone. Cells that lose all members
      * keep their old centroid. */
    def train(emb: DataFrame, spaces: Seq[(Column, Int)], iters: Int): Seq[Array[Array[Float]]] = {
      val init = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(spaces.map(_._2).max)
        .select(spaces.map(_._1): _*).collect()
      var cents = spaces.indices.map(j => init.take(spaces(j)._2).map(_.getSeq[Float](j).toArray))
      for (_ <- 1 to iters if init.nonEmpty) {
        val upd = emb.select(explode(array(spaces.zipWithIndex.map { case ((v, _), j) =>
            struct(lit(j).as("space"), nearest_centroid(v, centroidsLit(cents(j))).as("cell"), v.as("v"))
          }: _*)).as("r"))
          .groupBy("r.space", "r.cell").agg(VectorAgg.centroid_agg(col("r.v")))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
        cents = cents.zipWithIndex.map { case (cs, j) => cs.indices.map(i => upd.getOrElse((j, i), cs(i))).toArray }
      }
      cents
    }

    /** One space, the whole `embedding`: a coarse quantizer. */
    def train(emb: DataFrame, k: Int, iters: Int): Array[Array[Float]] =
      train(emb, Seq(col("embedding") -> k), iters).head

    /** The corpus with its IVF cell id — the inverted lists. */
    def assign(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
      emb.withColumn("cell", nearest_centroid(col("embedding"), centroidsLit(cents)))

    /** The `nprobe` cells whose centroids are most cosine-similar to
      * `q` (ranked driver-side — the centroid table is k rows). */
    def probedCells(cents: Array[Array[Float]], q: Array[Float], nprobe: Int): Seq[Int] = {
      val qa = UnsafeArrayData.fromPrimitiveArray(q)
      cents.zipWithIndex
        .map { case (c, i) => (i, Kernels.cosine(qa, UnsafeArrayData.fromPrimitiveArray(c))) }
        .sortBy { case (i, cos) => (-cos, i) }
        .take(nprobe).map(_._1).toSeq
    }

    /** Top-k by exact cosine over the [[probedCells]]. */
    def topK(assigned: DataFrame, cents: Array[Array[Float]], q: Array[Float],
        nprobe: Int, k: Int): DataFrame =
      assigned.filter(col("cell").isin(probedCells(cents, q, nprobe): _*))
        .select(col("vec_id"), cosine_sim(col("embedding"), typedLit(q.toSeq)).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k)
  }

  private val IvfK      = 16
  private val IvfIters  = 3
  private val IvfNprobe = 4

  /** The trained coarse quantizer's k centroids (cell i = row i),
    * trained by the call that needs them and passed down: at 100 TB a
    * stored k-row table written at index-build time. `emb` is the
    * caller's one `embeddings` frame. */
  private[operators] def ivfCents(emb: DataFrame): Array[Array[Float]] =
    Ivf.train(emb, IvfK, IvfIters)

  private[operators] def ivfCents(s: SparkSession, d: String): Array[Array[Float]] =
    ivfCents(Tables.embeddings(s, d))

  /** (cell, centroid) — the quantizer as a k-row frame. */
  private[operators] def ivfCells(s: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
  }

  private[graft] def ivfCells(s: SparkSession, d: String): DataFrame =
    ivfCells(s, ivfCents(s, d))

  /** vec_id + embedding + cell: the corpus organized into inverted
    * lists (at scale: a table PARTITIONED BY cell — probe = partition
    * pruning). */
  private[operators] def ivfAssigned(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    Ivf.assign(emb.select("vec_id", "embedding"), cents)

  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ivfAssigned(emb, ivfCents(emb))
  }

  /** Driver query: IVF top-k for the fixed probe, nprobe of k cells. */
  def s04IvfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = ivfCents(emb)
    Ivf.topK(ivfAssigned(emb, cents).filter(col("vec_id") =!= 0), cents,
      probeVec(emb), IvfNprobe, K)
  }

  // ---------------------------------------------------------------- s06
  /** BATCH-probe exact top-k: the nearest 3 corpus vectors for EACH of
    * 10 probe vectors in ONE corpus scan — the shape an embedding
    * service runs (N probes amortize a single pass; never N scans).
    * Probes broadcast; top-k is the TWO-PHASE rank ([[Scale
    * .saltedCapPerGroup]]'s shape): rank within (probe, salt) slices
    * first, so only ≤ salt·k survivors per probe reach the exact
    * per-probe rank — the full scored frame never shuffles into 10
    * mega-partitions. Cosines round to 3 decimals (min boundary
    * distance 6e-6 on this data vs ~6e-8 float-vs-double engine delta;
    * 4 decimals would sit 3.7e-8 from a boundary — inside the noise).
    * Ranking uses the unrounded value. */
  def s06AnnBatch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qv")))
    val scored = emb.filter(col("vec_id") >= 10)
      .crossJoin(probes)
      .select(col("probe_id"), col("vec_id"),
        cosine_sim(col("embedding"), col("qv")).as("raw"))
    val salt = pmod(col("vec_id"), lit(32))
    val w1 = Window.partitionBy(col("probe_id"), salt)
      .orderBy(col("raw").desc, col("vec_id"))
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("raw").desc, col("vec_id"))
    scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= 3)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id"), round(col("raw"), 3).as("cos"))
      .orderBy(col("probe_id"), col("cos").desc, col("vec_id"))
  }

  val s06OracleSql: String =
    """WITH p AS (SELECT vec_id AS probe_id, embedding AS q
      |           FROM embeddings WHERE vec_id < 10),
      |r AS (
      |  SELECT p.probe_id, e.vec_id,
      |         CAST(list_cosine_similarity(e.embedding, p.q) AS DOUBLE) AS c,
      |         ROW_NUMBER() OVER (PARTITION BY p.probe_id
      |           ORDER BY CAST(list_cosine_similarity(e.embedding, p.q) AS DOUBLE) DESC,
      |                    e.vec_id) AS rn
      |  FROM embeddings e, p WHERE e.vec_id >= 10
      |)
      |SELECT probe_id, vec_id, ROUND(c, 3) AS cos FROM r WHERE rn <= 3
      |ORDER BY probe_id, cos DESC, vec_id""".stripMargin

  // ---------------------------------------------------------------- s03
  /** Per-label embedding centroids via the one-pass [[graft.functions
    * .VectorAgg]] aggregator (custom typed Aggregator — constant
    * shuffle bytes per group). The coarse quantizer step of an IVF
    * index build. The scalar `c0` column is computed through a
    * DECIMAL-exact sum (order-independent) so the whole frame is
    * DuckDB-hash-comparable; the float centroid itself is
    * spec-verified against a hand-folded mean. */
  def s03Centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        graft.functions.VectorAgg.centroid_agg(col("embedding")).as("centroid"),
        // float → DOUBLE first, explicitly, on BOTH sides: the engines'
        // direct float→decimal casts round differently, but float→double
        // is exact everywhere and double→decimal(20,10) then agrees
        (sum(element_at(col("embedding"), 1).cast("double").cast("decimal(20,10)"))
          .cast("double") / count(lit(1))).as("c0"))
      .select(col("label"), col("n"), size(col("centroid")).as("dim"), col("c0"))
      .orderBy("label")

  // ---------------------------------------------------------------- s05
  /** Int8 scalar quantization of the embedding column — the 4×
    * storage/bandwidth compression an ANN index at 100 TB stores its
    * vectors in (per-vector min/max affine code, the faiss SQ8
    * layout). Pure per-row `transform` lambdas — single scan, no
    * shuffle, codegen'd, embarrassingly parallel. Emitted columns are
    * scalars derived from the quantized codes (exact integers) plus
    * the max reconstruction error (order-independent max, so no
    * float-summation-order hazard), making the whole arithmetic
    * DuckDB-checkable bit-for-bit. */
  def s05Quantize(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      array_min(col("embedding")).cast("double").as("mn"),
      array_max(col("embedding")).cast("double").as("mx"))
    // span floored so a constant vector quantizes to 0s, not NaNs;
    // rounded argument is always >= 0, dodging the engines' negative
    // tie-rounding differences
    val spanned = base.withColumn("span", greatest(col("mx") - col("mn"), lit(1e-12)))
    val quantized = spanned
      .withColumn("q", transform(col("embedding"), x =>
        (round((x.cast("double") - col("mn")) * 254.0 / col("span")) - lit(127))
          .cast("int")))
      .withColumn("err", transform(col("embedding"), x =>
        abs(col("mn") + round((x.cast("double") - col("mn")) * 254.0 / col("span"))
          * col("span") / 254.0 - x.cast("double"))))
    quantized.select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(col("q"), lit(0), (acc, x) => acc + x).as("q_sum"),
        round(array_max(col("err")), 6).as("max_err"))
      .orderBy("vec_id")
  }

  val s05OracleSql: String =
    """WITH sp AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_min(embedding) AS DOUBLE) AS mn,
      |         GREATEST(CAST(list_max(embedding) AS DOUBLE)
      |                  - CAST(list_min(embedding) AS DOUBLE), 1e-12) AS span
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, embedding, mn, span,
      |    list_transform(embedding, x ->
      |      CAST(ROUND((CAST(x AS DOUBLE) - mn) * 254.0 / span) AS INT) - 127) AS q,
      |    list_transform(embedding, x ->
      |      ABS(mn + ROUND((CAST(x AS DOUBLE) - mn) * 254.0 / span)
      |          * span / 254.0 - CAST(x AS DOUBLE))) AS err
      |  FROM sp
      |)
      |SELECT vec_id,
      |  CAST(LEN(embedding) AS INT) AS dim,
      |  CAST(list_min(q) AS INT) AS q_min,
      |  CAST(list_max(q) AS INT) AS q_max,
      |  CAST(list_sum(q) AS INT) AS q_sum,
      |  ROUND(list_max(err), 6) AS max_err
      |FROM qz ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- s07
  /** FILTERED vector search — top-k cosine among rows passing a
    * metadata predicate (the hybrid-search shape: "nearest docs WHERE
    * label ∈ …"). Pre-filtering, not post-filtering: the predicate is
    * pushed into the parquet scan (spec-asserted), so recall over the
    * allowed subset is exact — a post-filtered ANN can return < k rows
    * when the filter is selective. At 100 TB with the table
    * partitioned by the filter column this is partition pruning: the
    * scan never touches disallowed cells, and the scored row count
    * shrinks by the filter's selectivity before any ranking work. */
  private val FilterLabels = Seq(2, 5, 7)

  def s07FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    emb.filter(col("vec_id") =!= 0 && col("label").isin(FilterLabels: _*))
      .crossJoin(broadcast(probe(emb)))
      .select(col("vec_id"), col("label"),
        cosine_sim(col("embedding"), col("qv")).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), col("label"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s08
  /** TWO-STAGE quantized search — the production SQ8 serving shape:
    * a cheap COARSE pass scores every vector through its int8 codes
    * (s05's per-vector affine, decoded on the fly against the float
    * probe), the top `CoarseC` candidates by coarse score pay the
    * exact float kernel, and the final top-k comes from the rerank.
    * At 100 TB the coarse scan reads the STORED code column —
    * dim bytes/vector instead of 4·dim — and the exact kernel runs on
    * a fixed candidate budget, corpus-size-independent. The coarse
    * score is ranking-only (never emitted): candidate selection is
    * robust to last-ulp float differences because the boundary gap is
    * orders of magnitude wider (spec-asserted), and the emitted
    * numbers carry s01's exact-kernel 4-decimal contract. */
  private val CoarseC = 50

  def s08AnnRerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qLit = typedLit(probeVec(emb).toSeq)
    val coarse = emb
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      .withColumn("span", greatest(col("mx") - col("mn"), lit(1e-12)))
      // s05's exact quantization, then decode·probe accumulated in
      // index order (both engines fold left-to-right)
      .withColumn("qcode", transform(col("embedding"), x =>
        (round((x.cast("double") - col("mn")) * 254.0 / col("span")) - lit(127))
          .cast("int")))
      .withColumn("coarse",
        aggregate(
          zip_with(col("qcode"), qLit, (c, p) =>
            (col("mn") + (c + lit(127)).cast("double") * col("span") / 254.0)
              * p.cast("double")),
          lit(0.0), (acc, x) => acc + x))
    coarse
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(CoarseC)
      .select(col("vec_id"), cosine_sim(col("embedding"), qLit).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s09
  /** MMR-DIVERSIFIED retrieval (Carbonell/Goldstein SIGIR 1998):
    * relevance-only top-k returns near-duplicate neighbors; maximal
    * marginal relevance greedily picks argmax λ·rel(i) − (1−λ)·max
    * sim(i, selected), trading relevance against redundancy — the
    * retrieval-diversity pass a RAG/training-data pipeline runs after
    * ANN. Two stages with the two right execution homes: candidate
    * generation is the DISTRIBUTED exact scan (s01's shape, top
    * `MmrPool` by relevance); the greedy re-rank is inherently
    * sequential (each pick depends on all prior picks) and runs
    * driver-side over the FIXED-SIZE pool — `MmrPool` rows regardless
    * of corpus size, the same corpus-size-independent driver work as
    * IVF's k×dim centroid fold. Ties break on vec_id, so the
    * selection is deterministic under any partitioning. Rows-only
    * (greedy selection is not expressible in DuckDB SQL); the spec
    * re-derives every pick from raw embeddings independently. */
  private val MmrPool   = 30
  private val MmrLambda = 0.7

  private[operators] def cosineOf(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  def s09AnnMmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val pool = emb
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe(emb)))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("qv")).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    val byId = pool.map(p => p._1 -> p._3).toMap
    while (selected.length < K && chosen.size < pool.length) {
      val best = pool.iterator.filterNot(p => chosen(p._1)).map { case (id, rel, v) =>
        val red = if (chosen.isEmpty) 0.0
          else chosen.iterator.map(cid => cosineOf(v, byId(cid))).max
        (id, rel, MmrLambda * rel - (1 - MmrLambda) * red)
      }.reduce((a, b) => if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a)
      selected += ((best._1, best._2, best._3))
      chosen += best._1
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, sc), i) =>
        (i + 1, id, math.rint(rel * 1e4) / 1e4, math.rint(sc * 1e4) / 1e4)
      }
      .toDF("rank", "vec_id", "rel", "mmr_score")
  }

  // ---------------------------------------------------------------- s10
  /** k-NN GRAPH construction — every vector's approximate top-k
    * neighbors in one pass, the substrate for graph clustering,
    * semantic dedup sweeps, and diversity analysis. Blocking is the
    * IVF COARSE QUANTIZER (s04's trained cells, trained once per call):
    * true neighbors co-locate in a cell, so candidates
    * are each vector probed against its `KnnProbe` nearest CELLS —
    * per-vector cell ranking via the broadcast corpus×centroids
    * product (k rows per vector, s06's intended-broadcast pattern)
    * fed through the same custom top-k node, then one equi-join of
    * probes against cell members. Multi-probe is what recall needs
    * here: prefix-bit LSH buckets measured 0.04, own-cell-only 0.25,
    * cell+sibling 0.31 — nprobe=4 of 16 cells clears the spec floor.
    * Candidate volume ~ corpus × nprobe/k — linear at fixed
    * occupancy, the IVF query cost paid once per vector. The
    * per-vector top-k runs through the custom
    * [[graft.plans.TopKPerGroup]] node — bounded k-row heaps with the
    * map-side partial, never a row_number window over every scored
    * pair.
    *
    * The IVF seed alone measured ~0.59 recall on this corpus (random
    * high-dim vectors are the coarse quantizer's worst case) — so the
    * seed graph is REFINED by NN-DESCENT rounds (Dong et al. 2011,
    * "Efficient k-nearest neighbor graph construction for generic
    * similarity measures"): a vector's true neighbors are, with high
    * probability, neighbors OF its current approximate neighbors, so
    * each round scores the neighbor-of-neighbor candidates (over the
    * UNDIRECTED current graph — reverse edges double the reach) and
    * re-selects top-k. Candidate volume per round is n·(2k')² —
    * LINEAR in the corpus at fixed k', never all-pairs — and every
    * re-selection runs through the same custom top-k node. Rounds are
    * DATA-DRIVEN: descent iterates until the new-edge rate (refined
    * edges absent from the previous graph, over total edges) drops
    * below [[KnnConvergeEps]], capped at [[KnnMaxRefineRounds]] — the
    * standard NN-descent early-termination rule (Dong et al. §2.3),
    * so an easy corpus stops after one round and a hard one buys the
    * extra recall automatically. Measured here: round 1 lifts recall
    * ~0.59 → 0.84 with ~76% new edges (continue), round 2 reaches
    * ~0.89 with the rate falling under the threshold (stop); spec
    * floor 0.85. Rows-only (candidate sets are quantizer-specific);
    * the spec measures recall against the brute-force graph and
    * asserts the round count came from the convergence rule. */
  private val KnnK = 5

  private val KnnProbe = 4

  private val KnnMaxRefineRounds = 3
  private val KnnConvergeEps = 0.15

  /** Refine rounds the LAST s10 run actually executed — observability
    * for the convergence rule (−1 until s10 runs). */
  @volatile private[graft] var s10RefineRoundsRun: Int = -1

  /** The descent runs over a WIDER internal neighbor list than the
    * emitted k (the standard NN-descent trick: a 2k-wide working graph
    * escapes the local optima a k-wide one converges into), and the
    * final top-k is cut from it at the end. */
  private val KnnInternalK = 10

  def s10KnnGraph(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val cents = ivfCents(corpus)
    val assigned = ivfAssigned(corpus, cents) // vec_id, embedding, cell
    val emb = assigned.select(col("vec_id"), col("embedding"))
    // per-vector cell ranking: k centroid rows broadcast against the
    // corpus, top nprobe cells per vector via the custom top-k node
    val scored = emb
      .crossJoin(broadcast(ivfCells(s, cents)))
      .select(col("vec_id"), col("embedding"), col("cell"),
        cosine_sim(col("embedding"), col("centroid")).as("cc"))
    val probes = Scale.topKPerGroup(scored, Seq("vec_id"),
        Seq(("cc", false), ("cell", true)), KnnProbe)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val members = assigned
      .select(col("cell"), col("vec_id").as("dst"), col("embedding").as("eb"))
    val cands = probes.as("a").join(members.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.dst"))
      .select(col("a.vec_id").as("src"), col("dst"),
        cosine_sim(col("a.embedding"), col("eb")).as("cos"))
    // each round references the working graph FOUR times (two
    // undirected copies, the anti-join base, the union base) — without
    // lineage truncation the seed would re-execute 4^rounds times.
    // localCheckpoint materializes each round once (d06's iterative-
    // propagation recipe); the graph is n·k' edge rows, tiny relative
    // to the corpus at any scale.
    var graph = Scale.topKPerGroup(cands,
      Seq("src"), Seq(("cos", false), ("dst", true)), KnnInternalK)
      .localCheckpoint()

    // NN-descent refinement: neighbor-of-neighbor candidates over the
    // undirected graph. Deduplication of (already-held ∪ duplicate
    // hop-2) pairs happens in ONE aggregate exchange (groupBy max —
    // rescoring a held edge reproduces its cosine bit-exactly, the
    // kernel is deterministic) instead of a distinct + anti-join
    // chain, which would cost two extra exchanges per round.
    var rounds = 0
    var converged = false
    while (rounds < KnnMaxRefineRounds && !converged) {
      val undirected = graph.select(col("src"), col("dst")).union(
        graph.select(col("dst").as("src"), col("src").as("dst")))
      val hop2 = undirected.as("e1")
        .join(undirected.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      // dedup the NARROW candidate pairs BEFORE fetching embeddings or
      // scoring (the n·(2k')² hop-2 stream repeats pairs heavily), and
      // drop already-held edges with a BROADCAST anti-join (the graph
      // is n·k' rows — sub-MB at any corpus scale under the stored-
      // graph sharding) — cosines then run once per genuinely new
      // candidate, and the union below is disjoint by construction, so
      // the re-selection feeds the top-k node with no dedup exchange.
      val candPairs = hop2.distinct()
        .join(broadcast(graph.select(col("src"), col("dst"))),
          Seq("src", "dst"), "left_anti")
      val newEdges = candPairs
        .join(emb.select(col("vec_id").as("src"), col("embedding").as("se")), Seq("src"))
        .join(emb.select(col("vec_id").as("dst"), col("embedding").as("de")), Seq("dst"))
        .select(col("src"), col("dst"), cosine_sim(col("se"), col("de")).as("cos"))
      // the union is DISJOINT (anti-join above), so each refined edge
      // knows its provenance: held = survived from the previous graph,
      // !held = a fresh neighbor-of-neighbor discovery. The top-k node
      // carries the marker through re-selection for free.
      // convergence probe RIDES THE CHECKPOINT JOB (r10): the
      // fresh-edge counts are CollectMetrics observations on the same
      // action that materializes the round — one job per round instead
      // of checkpoint + a separate aggregate job over the cached rows.
      val obs = new org.apache.spark.sql.Observation(s"s10_refine_$rounds")
      val refined = Scale.topKPerGroup(
        graph.select(col("src"), col("dst"), col("cos"))
          .withColumn("held", lit(true))
          .unionByName(newEdges.withColumn("held", lit(false))),
        Seq("src"), Seq(("cos", false), ("dst", true)), KnnInternalK)
        .observe(obs, count(lit(1)).as("total"),
          count(when(!col("held"), 1)).as("fresh"))
        .localCheckpoint()
      val m = obs.get
      val (total, fresh) = (m("total").asInstanceOf[Long], m("fresh").asInstanceOf[Long])
      converged = total == 0 || fresh.toDouble / total < KnnConvergeEps
      graph = refined.drop("held")
      rounds += 1
    }
    s10RefineRoundsRun = rounds
    Scale.topKPerGroup(graph, Seq("src"), Seq(("cos", false), ("dst", true)), KnnK)
      .select(col("src"), col("dst"), round(col("cos"), 4).as("cos"))
      .orderBy(col("src"), col("cos").desc, col("dst"))
  }

  // ---------------------------------------------------------------- s11
  /** s11: PRODUCT QUANTIZATION ANN (Jégou/Douze/Schmid 2011, "Product
    * quantization for nearest neighbor search" — the faiss PQ layout):
    * each vector splits into m=8 subvectors of 8 dims, each subvector
    * quantized to one of k=32 per-subspace centroids, so a 64-float
    * (256-byte) vector compresses to an 8-BYTE packed code column
    * (BINARY, one byte per code — the byte-aligned faiss layout for
    * k ≤ 256; 32× smaller than the floats. Bit-packing to 5 bits
    * would shave 3 more bits per code at the price of unaligned
    * decode — documented trade, not taken). Query-time scoring is ADC
    * (asymmetric distance computation): the probe precomputes, per
    * subspace, the k dot products and centroid norms ONCE driver-side
    * (two flattened m·k-double tables riding the plan as codegen
    * reference objects), and each row's coarse cosine is the
    * [[graft.functions.PqAdc]] kernel — m byte-indexed table reads +
    * adds, NO float math against the vector itself.
    * Measured recall@10 vs the exact scan: 0.9 at both unit SFs
    * (random vectors are PQ's worst case; spec floor 0.8).
    * At 100 TB the coarse scan reads the stored 8-byte code column —
    * the vector column is touched only for the fixed PqCoarse=50
    * exact-rerank candidates (s08's two-stage serving shape).
    *
    * The m codebooks are m spaces of ONE [[Ivf.train]] call (the IVF
    * coarse quantizer's recipe): one init collect and one scan per
    * Lloyd round for all subspaces, once per call — at scale a stored
    * k×m table written at index-build time. Rows-only (trained
    * codebooks aren't SQL-derivable); the spec proves recall vs the
    * exact scan, code-range soundness, and partitioning determinism. */
  private val PqM      = 8
  private val PqDsub   = 8
  private val PqK      = 32
  private val PqCoarse = 100

  private def pqSpaces = (0 until PqM).map(j => slice(col("embedding"), j * PqDsub + 1, PqDsub) -> PqK)

  private[operators] def pqCodebooks(emb: DataFrame): Seq[Array[Array[Float]]] =
    Ivf.train(emb, pqSpaces, IvfIters)

  /** The PACKED m-byte code column of `embedding` under codebooks
    * `cbs` (at scale: the stored BINARY code column, written at
    * ingest — what the coarse scan reads instead of vectors). */
  private def codesCol(cbs: Seq[Array[Array[Float]]]) =
    graft.functions.pack_codes(array((0 until PqM).map(j =>
      nearest_centroid(slice(col("embedding"), j * PqDsub + 1, PqDsub),
        Ivf.centroidsLit(cbs(j)))): _*))

  /** ADC coarse cosine of the `codes` column against probe `q`. The
    * lookup tables are built driver-side: dot(q_j, c) and |c|² per
    * (subspace, centroid) — two flattened m·k-double arrays indexed
    * j·k + code_j by the PqAdc kernel over the packed byte column. */
  private def adcCosine(cbs: Seq[Array[Array[Float]]], q: Array[Float]) = {
    val qNorm = math.sqrt(q.map(x => x.toDouble * x).sum)
    def sub(a: Array[Float], j: Int) = a.slice(j * PqDsub, (j + 1) * PqDsub)
    val dotLut = (0 until PqM).flatMap(j => cbs(j).map(c =>
      sub(q, j).zip(c).map { case (x, y) => x.toDouble * y }.sum))
    val nrmLut = (0 until PqM).flatMap(j => cbs(j).map(c =>
      c.map(x => x.toDouble * x).sum))
    def adc(lut: Seq[Double]) = graft.functions.pq_adc(col("codes"), lut, PqK)
    adc(dotLut) / (lit(qNorm) * sqrt(greatest(adc(nrmLut), lit(1e-12))))
  }

  /** vec_id + embedding + the packed code column. */
  private def pqCodes(emb: DataFrame, cbs: Seq[Array[Array[Float]]]): DataFrame =
    emb.select(col("vec_id"), col("embedding"), codesCol(cbs).as("codes"))

  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    pqCodes(emb, pqCodebooks(emb))
  }

  /** One `embeddings` frame serves the trainer, the probe and the code
    * scan: each load is a schema-inference job. */
  def s11AnnPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cbs = pqCodebooks(emb)
    val q = probeVec(emb)
    pqCodes(emb, cbs)
      .filter(col("vec_id") =!= 0)
      .withColumn("coarse", adcCosine(cbs, q))
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(PqCoarse) // fixed exact-kernel budget, corpus-independent
      .select(col("vec_id"),
        cosine_sim(col("embedding"), typedLit(q.toSeq)).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s12
  /** RANGE (threshold) search — EVERY vector with cosine ≥ τ to the
    * probe, the retrieval mode corpus MINING runs (harvest everything
    * semantically close to a seed: targeted-domain expansion, near-dup
    * candidate sweeps) where top-k's fixed budget either truncates a
    * dense neighborhood or pads a sparse one.
    *
    * Exact at quantized-scan cost: the corpus is scanned through s05's
    * int8 codes with a CERTIFIED error bound instead of a heuristic
    * candidate budget. Per component the affine SQ8 decode is off by
    * at most span/508 (half a quantization step), so
    * `dot(x,q) ≤ coarse + (span/508)·Σ|qᵢ|` — dividing by the stored
    * ‖x‖ gives a per-row UPPER bound on the true cosine. Rows whose
    * bound cannot reach the (rounded-emit) threshold are provably not
    * hits; only certified candidates pay the exact float kernel. So
    * unlike s02/s04's probabilistic pruning, recall is 1.0 BY
    * CONSTRUCTION — which is why this query is oracle-exact against a
    * brute-force DuckDB recompute while scanning ~99% fewer exact
    * kernels (spec-asserted; slack ≈ span·Σ|qᵢ|/(508·‖q‖‖x‖) ≈ 0.01 on
    * this data). At 100 TB mn/span/qcode/‖x‖ are STORED at-ingest
    * columns (the FAISS SQ8+norm layout; s05 is the write path), so
    * the coarse pass reads dim+24 bytes/row — no float vectors — and
    * the bound margin tracks the EMITTED 4-decimal contract
    * (τ − 5e-5 for round-half-up membership, − 1e-9 fp headroom). */
  private[graft] val RangeTau = 0.27

  /** vec_id + embedding + the certified cosine upper bound — split out
    * so the spec can assert soundness (bound ≥ true cosine on EVERY
    * row) and the prune rate independently of the final filter. */
  private[graft] def s12CertifiedBounds(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = probeVec(emb)
    // the whole bound — row's affine SQ8 params, decode·q dot, ‖x‖,
    // slack term — is ONE codegen kernel call ([[graft.functions
    // .Sq8CosUb]]): two tight primitive passes per row instead of an
    // interpreted transform/zip_with/aggregate lambda tree (HOFs are
    // CodegenFallback; the kernel formulation measured 3.1× on the
    // whole query, 2.08 → 0.67 s at sf0.1). At 100 TB the kernel reads the STORED
    // mn/span/qcode/‖x‖ columns instead of re-deriving them.
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        typedLit(q.toSeq).as("qv"),
        graft.functions.sq8_cos_ub(col("embedding"), q.toSeq).as("cos_ub"))
  }

  def s12RangeSearch(s: SparkSession, d: String): DataFrame =
    s12CertifiedBounds(s, d)
      .filter(col("cos_ub") >= lit(RangeTau - 5e-5 - 1e-9))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("qv")).as("raw"))
      .filter(round(col("raw"), 4) >= RangeTau)
      .select(col("vec_id"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))

  val s12OracleSql: String =
    """WITH p AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
      |r AS (
      |  SELECT e.vec_id,
      |         CAST(list_cosine_similarity(e.embedding, p.q) AS DOUBLE) AS c
      |  FROM embeddings e, p WHERE e.vec_id != 0
      |)
      |SELECT vec_id, ROUND(c, 4) AS cos FROM r WHERE ROUND(c, 4) >= 0.27
      |ORDER BY cos DESC, vec_id""".stripMargin

  // ---------------------------------------------------------------- s14
  /** Quantizer trained on the CORPUS half only (even vec_ids — the
    * "index build"): s14's stored centroid table. The new batch must
    * never influence it, or the incremental-equals-rebuild claim would
    * be circular. */
  private[graft] def s14Cents(s: SparkSession, d: String): Array[Array[Float]] =
    s14Cents(Tables.embeddings(s, d))
  private def s14Cents(emb: DataFrame): Array[Array[Float]] =
    Ivf.train(emb.filter(col("vec_id") % 2 === 0), IvfK, IvfIters)

  /** The corpus half's stored inverted lists under [[s14Cents]]. */
  private def s14CorpusAssigned(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    Ivf.assign(emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding"), cents)

  private[graft] def s14CorpusAssigned(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    s14CorpusAssigned(emb, s14Cents(emb))
  }

  /** s14: INCREMENTAL INDEX ADD — vector-index maintenance without a
    * rebuild (d07's incremental discipline on the serving side): the
    * IVF quantizer and the corpus's inverted lists are STORED (built
    * once, even vec_ids); a NEW embedding batch (odd vec_ids) is added
    * by assigning each new vector to its nearest FROZEN centroid — one
    * scan of the batch, the corpus untouched, cost O(batch) at any
    * corpus size — and the merged index serves queries immediately.
    * Because IVF assignment is a pure per-vector function of the
    * frozen centroids, ADD-then-query is provably IDENTICAL to a full
    * rebuild under the same quantizer (spec-asserted bit-exact, merged
    * lists vs whole-set assignment) — the reason FAISS's IVF `add()`
    * needs no retraining. Drift is the operational caveat: a batch
    * distribution shift degrades recall until the next retrain
    * (s04/s11's build path); the spec pins recall vs the exact scan.
    * At 100 TB: the new batch appends into the cell-partitioned stored
    * table (d07's stored-signature shape), probes keep pruning to
    * nprobe partitions. */
  def s14AnnAdd(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = s14Cents(emb)
    // the ADD: only the new batch evaluates the quantizer kernel
    val added = Ivf.assign(emb
      .filter(col("vec_id") % 2 =!= 0).select("vec_id", "embedding"), cents)
    val merged = s14CorpusAssigned(emb, cents).union(added)
    val q = probeVec(emb)
    Ivf.topK(merged.filter(col("vec_id") =!= 0), cents, q, IvfNprobe, K)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s15
  /** s15: IVF+PQ — the production faiss serving composition (IVFPQ):
    * s04's coarse quantizer prunes the corpus to `nprobe` inverted
    * lists, s11's packed PQ codes score ONLY those lists' rows by ADC
    * (m byte-indexed table reads per row — no float math against the
    * vector), and a fixed [[PqCoarse]] exact rerank restores s01's
    * emit contract. This is what a billion-vector index actually
    * runs: neither s04's full-precision cosine inside probed cells
    * nor s11's whole-corpus code scan, but cells × codes.
    *
    * One serving table ([[ivfPqFrame]]): vec_id + cell + 8-byte codes
    * + embedding, built in ONE corpus scan (cell assignment and code
    * packing are both per-row kernels over the same row — no join of
    * two index tables). At 100 TB it is a table PARTITIONED BY cell
    * with the BINARY code column stored next to the id: probing is
    * partition pruning, the ADC pass reads ~9 bytes/row of the probed
    * ~nprobe/k corpus fraction, and the embedding column is fetched
    * only for the fixed rerank candidates. Rows-only (trained
    * quantizer + codebooks aren't SQL-derivable); the spec pins
    * recall ≥ 0.8 vs s01, candidate containment in the probed cells,
    * and the cell-pruning filter in the executed plan. */
  // Deeper than s04's 4-of-16: PQ's lossy scoring compounds with cell
  // pruning, and the shared fixture is near-orthogonal noise — the
  // regime where cell pruning honestly degrades toward nprobe/k
  // sampling (measured on it: recall 0.6/0.7/1.0 at nprobe 6/8/10).
  // On clustered data (IVF's actual regime, s04's planted spec) small
  // nprobe holds; the knob trades probed fraction for recall.
  private val IvfPqNprobe = 10

  /** vec_id + label + cell + packed codes + embedding — the IVFPQ
    * serving table (ONE scan: both kernels are per-row functions).
    * `label` rides along as the filterable metadata column a serving
    * table carries for filtered search (s16) — at 100 TB it is a
    * stored column the scan's predicate pushdown prunes on. */
  private def ivfPqServing(emb: DataFrame, cents: Array[Array[Float]],
      cbs: Seq[Array[Array[Float]]]): DataFrame =
    emb.select(col("vec_id"), col("label"), col("embedding"),
      nearest_centroid(col("embedding"), Ivf.centroidsLit(cents)).as("cell"),
      codesCol(cbs).as("codes"))

  /** The coarse quantizer and the m codebooks from ONE (1 + m)-space
    * [[Ivf.train]] call: the IVF and PQ rounds share their scans. */
  private[operators] def ivfPqQuantizers(emb: DataFrame) = {
    val all = Ivf.train(emb, (col("embedding") -> IvfK) +: pqSpaces, IvfIters)
    (all.head, all.tail)
  }

  /** The serving table under a freshly trained quantizer and codebooks. */
  private[graft] def ivfPqServing(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ivfPqQuantizers(emb) match { case (cents, cbs) => ivfPqServing(emb, cents, cbs) }
  }

  private[graft] def ivfPqFrame(s: SparkSession, d: String): DataFrame =
    ivfPqServing(s, d)

  /** The nprobe cell ids for the fixed probe — split out so the spec
    * can assert candidate containment against the same ranking. */
  private[graft] def ivfPqProbedCells(s: SparkSession, d: String): Seq[Int] = {
    val emb = Tables.embeddings(s, d)
    Ivf.probedCells(ivfCents(emb), probeVec(emb), IvfPqNprobe)
  }

  /** The ADC-scored coarse frame over the probed cells only — the
    * piece the plan spec audits for the cell-pruning filter. `serving`
    * lets s16 pass the label-FILTERED serving table through the same
    * pipeline (the filter composes below the cell prune, so both reach
    * the scan). */
  private def coarseFrameOf(serving: DataFrame, cents: Array[Array[Float]],
      cbs: Seq[Array[Array[Float]]], q: Array[Float]): DataFrame =
    serving
      .filter(col("cell").isin(Ivf.probedCells(cents, q, IvfPqNprobe): _*)) // partition prune
      .filter(col("vec_id") =!= 0)
      .withColumn("coarse", adcCosine(cbs, q))

  private[graft] def s15CoarseFrameOf(s: SparkSession, d: String,
      serving: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ivfPqQuantizers(emb) match {
      case (cents, cbs) => coarseFrameOf(serving, cents, cbs, probeVec(emb)) }
  }

  /** s15's coarse frame (s16's with `labels`): the quantizer and the
    * codebooks train together in one (1 + m)-space call, and the
    * serving table and the ADC scoring share them. `emb` is the
    * caller's one `embeddings` frame, which the probe also reads. */
  private def ivfPqCoarse(emb: DataFrame, q: Array[Float],
      labels: Option[Seq[Int]]): DataFrame = {
    val (cents, cbs) = ivfPqQuantizers(emb)
    val serving = ivfPqServing(emb, cents, cbs)
    coarseFrameOf(labels.fold(serving)(l => serving.filter(col("label").isin(l: _*))),
      cents, cbs, q)
  }

  private[graft] def s15CoarseFrame(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ivfPqCoarse(emb, probeVec(emb), None)
  }

  def s15IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = probeVec(emb)
    ivfPqCoarse(emb, q, None)
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(PqCoarse) // fixed exact-rerank budget, corpus-independent
      .select(col("vec_id"),
        cosine_sim(col("embedding"), typedLit(q.toSeq)).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s16
  /** s16: FILTERED IVF+PQ — s07's PRE-filtering discipline composed
    * with s15's compressed serving pipeline: the production "nearest
    * docs WHERE label ∈ …" shape over the index a billion-vector
    * deployment actually serves from. The metadata predicate applies
    * at the SERVING-TABLE SCAN, below the ADC scoring (spec-asserted:
    * parquet PushedFilters), the coarse quantizer prunes to
    * nprobe cells, ADC
    * scores only the probed cells' SURVIVING rows, and a fixed exact
    * rerank restores s01's emit contract over the allowed subset.
    *
    * PRE-, not post-filtering: post-filtering an unfiltered top-k
    * returns < k (or low-recall) results when the predicate is
    * selective; here every scored candidate already satisfies it, and
    * recall is measured against the filtered brute force on the SAME
    * predicate (spec floor 0.8). At 100 TB the serving table is
    * partitioned by cell; the label predicate prunes row groups inside
    * the nprobe probed partitions (zone maps / dictionary filters on
    * the stored label column), so the ADC pass reads probed-fraction ×
    * filter-selectivity of the corpus. Rows-only (trained quantizer +
    * codebooks, like s15). */
  private[graft] def s16CoarseFrame(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ivfPqCoarse(emb, probeVec(emb), Some(FilterLabels))
  }

  def s16FilteredIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = probeVec(emb)
    ivfPqCoarse(emb, q, Some(FilterLabels))
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(PqCoarse) // fixed exact-rerank budget, corpus-independent
      .select(col("vec_id"), col("label"),
        cosine_sim(col("embedding"), typedLit(q.toSeq)).as("raw"))
      .orderBy(col("raw").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), col("label"), round(col("raw"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  // ---------------------------------------------------------------- s13
  /** HYBRID SEARCH — keyword (BM25) retrieval and vector retrieval
    * fused by Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009:
    * score = Σ 1/(60 + rank), the fusion every production RAG/search
    * stack ships because it needs no score calibration between
    * modalities). The reference's SQL surface has LIKE-filtered scans
    * (ast.rs:157); this is the retrieval-quality upgrade a corpus
    * engine serves instead: term relevance AND semantic similarity in
    * one ranked list.
    *
    * Scale shape, keyword side: the per-doc length is a scan-local
    * column (no explode needed for dl); term frequencies explode the
    * corpus but FILTER to the query's 3 terms before the (doc, term)
    * exchange — the shuffle carries only matching rows, never the
    * vocabulary. df is a 3-row aggregate (broadcast); N and avgdl are
    * footer-count/1-row-aggregate driver literals (t08's pattern —
    * avgdl is exact because integral doubles sum exactly below 2^53,
    * so the literal is partition-order-independent). Vector side: the
    * candidate scan ranks by a FIXED-POINT cosine — components
    * quantized to 1e-6 (round-half-up), dot and norms in pure Long
    * arithmetic — because a float32-vs-double cosine differs by ~6e-8
    * between engines while full-corpus 4-decimal margins run as thin
    * as 6e-9: the integer formulation is BIT-IDENTICAL on any engine
    * and any partition order, the q59 reproducibility discipline
    * applied to retrieval. Each modality's candidate cut is a
    * TakeOrdered top-[[HybridPool]] (never a global sort); the only
    * windows run over the two ≤50-row candidate frames (the p07
    * bounded-subtotal precedent) and the fusion join is a 50×50
    * full-outer SMJ — a doc retrieved by one modality only keeps its
    * one-sided RRF score, exactly Cormack's formulation. */
  private val HybridTerms = Seq("window", "join", "query")
  private val HybridPool  = 50 // per-modality candidate list
  private val HybridK     = 20 // fused emit
  private val RrfK        = 60 // Cormack's constant

  def s13HybridSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val k1 = 1.2; val b = 0.75
    val dlCol = size(split(col("text"), " ")).cast("double")
    val n = docs.count().toDouble // parquet-footer count (t08 pattern)
    val avgdl = docs.agg(avg(dlCol)).head().getDouble(0) // exact integral sum
    // (doc, term, tf) for the query terms ONLY — the isin filter runs
    // in the scan stage, so the exchange carries matching rows only
    val tfAll = docs
      .select(col("doc_id"), dlCol.as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(HybridTerms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("int").as("tf"))
    val dfT = tfAll.groupBy("term").agg(count(lit(1)).cast("int").as("df"))
    // parenthesization mirrored exactly in the oracle SQL: every
    // primitive double op is IEEE-identical cross-engine, so only the
    // ln() carries a last-ulp delta — margin to the 4-dp boundary is
    // ≥ 7.9e-9 on this data (measured at all three SFs), 6 orders over it
    val contrib =
      log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl")) / lit(avgdl)))
    val kw = tfAll.filter(col("doc_id") =!= 0)
      .join(broadcast(dfT), "term")
      .groupBy("doc_id").agg(round(sum(contrib), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(HybridPool)
    val kr = kw.select(col("doc_id"),
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .as("kw_rank")) // ≤50-row frame: bounded single-partition window
    // vector side: fixed-point cosine (see scaladoc) over the corpus
    val xq = transform(col("embedding"),
      x => round(x.cast("double") * lit(1e6), 0).cast("long"))
    val emb = Tables.embeddings(s, d)
    val qq = emb.filter(col("vec_id") === 0)
      .select(xq.as("xq")).head().getSeq[Long](0)
    val sqNq = math.sqrt(qq.map(v => v * v).sum.toDouble)
    val dot = aggregate(zip_with(col("xq"), typedLit(qq), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val nx = aggregate(col("xq"), lit(0L), (acc, v) => acc + v * v)
    val cosQ = dot.cast("double") / (sqrt(nx.cast("double")) * lit(sqNq))
    val vc = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"), xq.as("xq"))
      .select(col("doc_id"), round(cosQ, 4).as("cosr"))
      .orderBy(col("cosr").desc, col("doc_id")).limit(HybridPool)
    val vr = vc.select(col("doc_id"),
      row_number().over(Window.orderBy(col("cosr").desc, col("doc_id")))
        .as("vec_rank"))
    kr.join(vr, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("kw_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("kw_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(HybridK)
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  val s13OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS term FROM documents
       |), dl AS (
       |  SELECT doc_id, CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT AVG(dl) AS avgdl, (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n
       |  FROM dl
       |), tf AS (
       |  SELECT t.doc_id, t.term, CAST(COUNT(*) AS INT) AS tf
       |  FROM toks t WHERE t.term IN ('window','join','query')
       |  GROUP BY t.doc_id, t.term
       |), df AS (
       |  SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term
       |), bm AS (
       |  SELECT tf.doc_id,
       |         ROUND(SUM(
       |           LN(1.0 + ((SELECT n FROM stats) - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * 2.2)
       |             / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / (SELECT avgdl FROM stats)))
       |         ), 4) AS bm25
       |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id)
       |  WHERE tf.doc_id <> 0
       |  GROUP BY tf.doc_id
       |), kr0 AS (
       |  SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT $HybridPool
       |), kr AS (
       |  SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS kw_rank
       |  FROM kr0
       |), eq AS (
       |  SELECT vec_id, i,
       |         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
       |), qv AS (SELECT i, xq AS qq FROM eq WHERE vec_id = 0),
       |nq AS (SELECT SUM(qq*qq) AS nq FROM qv),
       |cosq AS (
       |  SELECT e.vec_id AS doc_id,
       |         ROUND(CAST(SUM(e.xq*q.qq) AS DOUBLE)
       |           / (SQRT(CAST(SUM(e.xq*e.xq) AS DOUBLE))
       |              * SQRT(CAST((SELECT nq FROM nq) AS DOUBLE))), 4) AS cosr
       |  FROM eq e JOIN qv q USING(i) WHERE e.vec_id <> 0 GROUP BY e.vec_id
       |), vr0 AS (
       |  SELECT doc_id, cosr FROM cosq ORDER BY cosr DESC, doc_id LIMIT $HybridPool
       |), vr AS (
       |  SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cosr DESC, doc_id) AS INT) AS vec_rank
       |  FROM vr0
       |)
       |SELECT COALESCE(kr.doc_id, vr.doc_id) AS doc_id, kr.kw_rank, vr.vec_rank,
       |       ROUND(COALESCE(CAST(1.0 AS DOUBLE)/($RrfK + kr.kw_rank), 0)
       |             + COALESCE(CAST(1.0 AS DOUBLE)/($RrfK + vr.vec_rank), 0), 6) AS rrf
       |FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $HybridK""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s13_hybrid_search" -> (s13HybridSearch _),
    "s14_ann_add" -> (s14AnnAdd _),
    "s01_ann_brute" -> (s01BruteForce _),
    "s02_ann_lsh"   -> (s02LshAnn _),
    "s03_centroids" -> (s03Centroids _),
    "s04_ann_ivf"   -> (s04IvfAnn _),
    "s05_quantize"  -> (s05Quantize _),
    "s06_ann_batch" -> (s06AnnBatch _),
    "s07_ann_filtered" -> (s07FilteredAnn _),
    "s08_ann_rerank" -> (s08AnnRerank _),
    "s09_ann_mmr"   -> (s09AnnMmr _),
    "s10_knn_graph" -> (s10KnnGraph _),
    "s11_ann_pq"    -> (s11AnnPq _),
    "s12_range_search" -> (s12RangeSearch _),
    "s15_ann_ivfpq" -> (s15IvfPq _),
    "s16_ann_filtered_ivfpq" -> (s16FilteredIvfPq _))

  val oracleSql: Map[String, String] = Map(
    "s12_range_search" -> s12OracleSql,
    "s13_hybrid_search" -> s13OracleSql,
    "s01_ann_brute" ->
      """WITH p AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |r AS (
        |  SELECT e.vec_id, CAST(list_cosine_similarity(e.embedding, p.q) AS DOUBLE) AS c
        |  FROM embeddings e, p WHERE e.vec_id != 0
        |  ORDER BY c DESC, e.vec_id LIMIT 10
        |)
        |SELECT vec_id, ROUND(c, 4) AS cos FROM r ORDER BY cos DESC, vec_id""".stripMargin,
    "s03_centroids" ->
      """SELECT label, COUNT(*) AS n,
        |       CAST(LEN(ANY_VALUE(embedding)) AS INT) AS dim,
        |       CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        |         / COUNT(*) AS c0
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "s05_quantize" -> s05OracleSql,
    "s06_ann_batch" -> s06OracleSql,
    // same quantize→decode→rank→exact-rerank pipeline; the coarse
    // score orders candidates only, the emitted cosine carries s01's
    // 4-decimal contract
    "s08_ann_rerank" ->
      """WITH p AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |b AS (
        |  SELECT e.vec_id, e.embedding, p.q,
        |         CAST(list_min(e.embedding) AS DOUBLE) AS mn,
        |         GREATEST(CAST(list_max(e.embedding) AS DOUBLE)
        |                  - CAST(list_min(e.embedding) AS DOUBLE), 1e-12) AS span
        |  FROM embeddings e, p WHERE e.vec_id != 0
        |), qc AS (
        |  SELECT vec_id, embedding, q, mn, span,
        |    list_transform(embedding, x ->
        |      CAST(ROUND((CAST(x AS DOUBLE) - mn) * 254.0 / span) AS INT) - 127) AS qcode
        |  FROM b
        |), co AS (
        |  SELECT vec_id, embedding, q,
        |    list_sum(list_transform(generate_series(1, len(qcode)), i ->
        |      (mn + CAST(qcode[i] + 127 AS DOUBLE) * span / 254.0)
        |        * CAST(q[i] AS DOUBLE))) AS coarse
        |  FROM qc
        |  ORDER BY coarse DESC, vec_id LIMIT 50
        |), rr AS (
        |  SELECT vec_id,
        |         CAST(list_cosine_similarity(embedding, q) AS DOUBLE) AS c
        |  FROM co ORDER BY c DESC, vec_id LIMIT 10
        |)
        |SELECT vec_id, ROUND(c, 4) AS cos FROM rr ORDER BY cos DESC, vec_id""".stripMargin,
    "s07_ann_filtered" ->
      """WITH p AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |r AS (
        |  SELECT e.vec_id, e.label,
        |         CAST(list_cosine_similarity(e.embedding, p.q) AS DOUBLE) AS c
        |  FROM embeddings e, p WHERE e.vec_id != 0 AND e.label IN (2, 5, 7)
        |  ORDER BY c DESC, e.vec_id LIMIT 10
        |)
        |SELECT vec_id, label, ROUND(c, 4) AS cos FROM r ORDER BY cos DESC, vec_id""".stripMargin)
}
