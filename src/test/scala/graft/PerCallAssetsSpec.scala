package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Declared queries build their trained assets and shared frames once
  * per call: a dataset rewritten under the same path is read fresh in
  * the same session, and no operator changes a session conf that
  * another query on the session could see. */
class PerCallAssetsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def copyTables(to: Path): Unit =
    sources.Tables.names.foreach { n =>
      Files.copy(Path.of(sf, s"$n.parquet"), to.resolve(s"$n.parquet"))
    }

  private def rows(s: SparkSession, dir: Path, query: String): Seq[String] =
    SparkEntry.queries(query)(s, dir.toString).collect().map(_.toString).toSeq.sorted

  test("a dataset rewritten under the same path serves no stale frames") {
    val queries = Seq("d04_dedup_ngram", "d07_dedup_incremental", "t22_nb_quality")
    val a = Files.createTempDirectory("graft-rewrite-a")
    val b = Files.createTempDirectory("graft-rewrite-b")
    try {
      copyTables(a)
      val first = queries.map(q => q -> rows(spark, a, q)).toMap
      // the rewrite: a different document subset under A's own path,
      // and the same subset in B for the fresh-session reference
      val subset = sources.Tables.documents(spark, sf).filter(col("doc_id") % 3 =!= 0)
      subset.write.mode("overwrite").parquet(a.resolve("documents.parquet").toString)
      copyTables(b)
      subset.write.mode("overwrite").parquet(b.resolve("documents.parquet").toString)
      val fresh = spark.newSession()
      queries.foreach { q =>
        val again = rows(spark, a, q)
        val want = rows(fresh, b, q)
        assert(want != first(q), s"$q: the rewrite must change the result")
        assert(again == want, s"$q served rows of the dataset before the rewrite")
      }
    } finally Seq(a, b).foreach(sources.TableCatalog.deleteTree)
  }

  test("d17 touches no session conf: a concurrent reader never sees the probe's override") {
    val key = "spark.sql.limit.initialNumPartitions"
    val done = new AtomicBoolean(false)
    val sawOverride = new AtomicBoolean(false)
    val polls = new AtomicLong(0)
    val poller = new Thread(() =>
      while (!done.get) {
        if (spark.conf.getOption(key).contains(Int.MaxValue.toString)) sawOverride.set(true)
        polls.incrementAndGet()
      })
    poller.start()
    val n =
      try Dedup.queries("d17_incremental_clusters")(spark, sf).collect().length
      finally { done.set(true); poller.join() }
    assert(n > 0 && polls.get > 0)
    assert(!sawOverride.get, s"$key was set to Int.MaxValue on the shared session")
  }
}
