package graft.operators

import java.nio.file.Path

import graft.TestSpark
import graft.functions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The joint Lloyd trainer ([[Similarity.Ivf.train]]) against the
  * per-space loop it replaced, kept here as the oracle: every space of
  * a joint call must come back with exactly the centroids it gets when
  * it trains alone, and the trained-asset queries must stay within
  * their job budgets. */
class QuantizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = Path.of(TestSpark.sf).resolveSibling("sf0.01").toString

  /** One space trained alone: an init collect of the first k rows by
    * hashed id, then `iters` rounds of one assignment scan and one
    * `groupBy(cell)` centroid_agg each. */
  private def alone(emb: DataFrame, v: Column, k: Int, iters: Int): Array[Array[Float]] = {
    val e = emb.select(col("vec_id"), v.as("embedding"))
    var cents = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    var it = 0
    while (it < iters && cents.nonEmpty) {
      val upd = e
        .select(nearest_centroid(col("embedding"), Similarity.Ivf.centroidsLit(cents)).as("cell"),
          col("embedding"))
        .groupBy("cell")
        .agg(VectorAgg.centroid_agg(col("embedding")).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      cents = Array.tabulate(cents.length)(i => upd.getOrElse(i, cents(i)))
      it += 1
    }
    cents
  }

  private def asSeq(cs: Seq[Array[Array[Float]]]): Seq[Seq[Seq[Float]]] =
    cs.map(_.map(_.toSeq).toSeq)

  // the shapes Similarity trains: 16 coarse cells over the whole
  // vector, 8 PQ subspaces of 8 dims with 32 cells each, 3 rounds
  private val coarse = col("embedding") -> 16
  private val pq = (0 until 8).map(j => slice(col("embedding"), j * 8 + 1, 8) -> 32)

  private def oracle(spaces: Seq[(Column, Int)]): Seq[Array[Array[Float]]] = {
    val emb = Tables.embeddings(spark, sf)
    spaces.map { case (v, k) => alone(emb, v, k, 3) }
  }

  test("the 8 PQ codebooks train together to the per-space centroids") {
    val joint = Similarity.pqCodebooks(Tables.embeddings(spark, sf))
    assert(joint.size == 8 && joint.forall(_.length == 32))
    assert(asSeq(joint) == asSeq(oracle(pq)))
  }

  test("the coarse quantizer and the codebooks train together to the per-space centroids") {
    val (cents, cbs) = Similarity.ivfPqQuantizers(Tables.embeddings(spark, sf))
    assert(asSeq(cents +: cbs) == asSeq(oracle(coarse +: pq)))
  }

  test("the one-space coarse quantizer is the per-space centroids") {
    assert(asSeq(Seq(Similarity.ivfCents(spark, sf))) == asSeq(oracle(Seq(coarse))))
    val even = Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
    assert(asSeq(Seq(Similarity.s14Cents(spark, sf))) ==
      asSeq(Seq(alone(even, col("embedding"), 16, 3))))
  }

  test("an empty corpus trains no centroids in any space") {
    val empty = Tables.embeddings(spark, sf).filter(lit(false))
    assert(Similarity.Ivf.train(empty, coarse +: pq, 3).forall(_.isEmpty))
  }

  private def jobsOf(tag: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "quantizer job count")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(tag).length
  }

  test("job budget: s11 and s15 train every space in one scan per Lloyd round") {
    // one init collect + 3 rounds × (shuffle map + result) = 7 training
    // jobs, then the one `embeddings` schema read, the probe read and
    // the drain; the per-space trainer ran 61 (s11) and 69 (s15)
    for ((q, budget) <- Seq("s11_ann_pq" -> 10, "s15_ann_ivfpq" -> 10)) {
      val jobs = jobsOf(s"graft-quantizer-$q")(
        Similarity.queries(q)(spark, sf).write.format("noop").mode("overwrite").save())
      assert(jobs <= budget, s"$q ran $jobs jobs")
    }
  }
}
