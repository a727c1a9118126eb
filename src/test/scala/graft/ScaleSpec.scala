package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale utilities actually change the plan the way they claim. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("exactPctl under value ties: equals the percentile aggregate, bracket stays bounded") {
    // groups of 120k rows: one distinct value, two distinct values (a
    // 70/30 split), and two values with one outlier between them — the
    // shapes whose whole group ties at a bracket end
    val n = 120000L
    val df = spark.range(0, 3 * n).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") / 3).cast("long").as("i"))
      .select(col("g"), when(col("g") === "0", lit(7.5))
        .when(col("g") === "1", when(col("i") % 10 < 7, lit(-2.0)).otherwise(lit(3.0)))
        .otherwise(when(col("i") === 5, lit(1.0))
          .when(col("i") % 2 === 0, lit(0.0)).otherwise(lit(4.0))).as("v"))
    val acc = spark.conf.get("spark.graft.percentile.accuracy", "10000").toInt
    for (p <- Seq(0.0, 0.25, 0.5, 0.7, 0.9, 1.0)) {
      val byAgg = df.groupBy("g").agg(percentile(col("v"), lit(p))).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bySel = Scale.exactPctlBracketed(spark, df, "g", col("v"), p)
      assert(bySel.map { case (g, (v, _)) => g -> v } == byAgg, s"p=$p: $bySel vs $byAgg")
      bySel.foreach { case (g, (_, inside)) =>
        assert(inside <= 10 * n / acc, s"p=$p group $g collected $inside in-bracket values")
      }
    }
  }

  test("salted join returns exactly the plain-join result") {
    val li = sources.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = sources.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_orderkey").count()
    val salted = Scale.saltedJoin(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", 8)
      .groupBy("l_orderkey").count()
    val a = plain.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = salted.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("salted two-phase cap returns exactly the plain window-cap result") {
    val docs = sources.Tables.documents(spark, sf)
    val plain = operators.Sampling.p04CapPerGroup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    val salted = Scale.saltedCapPerGroup(docs, "lang", "doc_id", n = 50, salt = 8)
      .select(col("doc_id"), col("lang"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    assert(salted.sameElements(plain))
    // degenerate salt=1 collapses to the plain single-window cap
    val unsalted = Scale.saltedCapPerGroup(docs, "lang", "doc_id", n = 50, salt = 1)
      .select(col("doc_id"), col("lang"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    assert(unsalted.sameElements(plain))
    // bucket assignment doesn't affect the result: salting by an
    // unrelated ~unique key returns the same rows and ranks
    val altKey = Scale.saltedCapPerGroup(docs, "lang", "doc_id", n = 50, salt = 8,
        saltKey = Some("text"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    assert(altKey.sameElements(plain))
  }

  test("d09 hot-posting cap: planted boilerplate bounds candidates, recall stays total") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def uniq(tag: String) =
      s"$tag " + Seq.fill(6)(rnd.alphanumeric.take(10).mkString).mkString(" ")
    val boiler = "subscribe to our newsletter for updates every week" // 50 B >= 31
    val base = (0 until 1000).map(i => (i.toLong, s"${uniq(s"u$i")} $boiler ${uniq(s"v$i")}"))
    // planted containments: docs 1000..1009 wrap docs 0..9 whole
    val wrapped = (0 until 10).map(i => ((1000 + i).toLong, s"wrap ${base(i)._2} end"))
    val extras = Seq(
      (2000L, boiler),                            // ALL-hot fingerprints: starved doc
      (2001L, "tinysnippet"),                     // below the gram width entirely
      (2002L, "AA tinysnippet BB"),               // its container (short itself)
      (2003L, "abcdefghijklmnopqrstuvwxyz"),      // >= n, < w+n-1: no guarantee zone
      (2004L, "Q abcdefghijklmnopqrstuvwxyz Z"))
    val docs = (base ++ wrapped ++ extras).toDF("doc_id", "text")

    // brute-force truth, driver-side
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val truth = (for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia != ib && tb.contains(ta)
    } yield (ia, ib)).toSet

    val got = operators.Dedup.containment(docs, hotK = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
    // the boilerplate fingerprint is hot (posting ~1011 > 64): capped
    // candidate volume collapses vs the uncapped quadratic block join
    val sized = docs.select(col("doc_id"), col("text"), octet_length(col("text")).as("len"))
    val capped = operators.Dedup.containmentCandidates(sized, hotK = 64).count()
    val uncapped = operators.Dedup.containmentCandidates(sized, hotK = Int.MaxValue).count()
    assert(uncapped > 400000L, s"planted corpus should explode uncapped: $uncapped")
    assert(capped < uncapped / 50, s"capped=$capped uncapped=$uncapped")
    // the starved all-boilerplate doc is found in every carrier via the
    // rarest-fingerprint fallback, not lost to the cap
    assert(got.count(_._1 == 2000L) >= 1000)
    // short docs (below the winnowing guarantee) surface via the exact path
    assert(got.contains((2001L, 2002L)) && got.contains((2003L, 2004L)))
  }

  test("hotGuardedJoin byte gate: few huge-string rows degrade to shuffle-hash, answers unchanged") {
    import spark.implicits._
    // 20 rows × ~200 KB of text = ~4 MB: the ROW limit (10M) passes by
    // five orders of magnitude, so only a byte-aware gate can refuse
    // the broadcast
    val probe = (0 until 100).map(i => (s"k$i", i)).toDF("key", "v")
    val big = "x" * 200000
    val hot = (0 until 20).map(i => (s"k$i", big + i)).toDF("key", "payload")
    val conf = "spark.graft.hotBroadcastBytes"
    val prev = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, (1024 * 1024).toString) // 1 MB < the ~4 MB hot set
      val guarded = Scale.hotGuardedJoin(spark, probe, hot, Seq("key"), "inner")
      val plan = GraftSession.explainPlan(guarded)
      assert(!plan.contains("BroadcastHashJoin"),
        s"over the byte limit the hot set must not broadcast:\n${plan.take(900)}")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        plan.take(900))
      val got = guarded.select("key", "v").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted
      spark.conf.unset(conf) // default 128 MB: ~4 MB broadcasts fine
      val base = Scale.hotGuardedJoin(spark, probe, hot, Seq("key"), "inner")
      assert(GraftSession.explainPlan(base).contains("BroadcastHashJoin"),
        "under both limits the hot set must broadcast")
      val want = base.select("key", "v").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted
      assert(got.sameElements(want), "the byte gate must not change answers")
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None    => spark.conf.unset(conf)
    }
  }

  test("bucketed tables equi-join without a shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = sources.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val o = sources.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Scale.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
      Scale.writeBucketed(o, "o_bucketed", "l_orderkey", 8)
      val joined = Scale.readBucketed(spark, "li_bucketed")
        .join(Scale.readBucketed(spark, "o_bucketed"), "l_orderkey")
      val plan = GraftSession.explainPlan(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(400))
      assert(!plan.contains("Exchange"), "bucketed join should not shuffle:\n" + plan.take(800))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
