package graft

import graft.sources.TableCatalog
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Callers that share one SparkSession never see each other's name
  * bindings or session settings: the Shark setting, many concurrent
  * SQL users on one Spark context. */
class SharedSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs each body on its own thread, all released at once; returns
    * every failure they raised. */
  private def concurrently(bodies: (() => Unit)*): Seq[Throwable] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() => {
      start.await()
      try b() catch { case t: Throwable => errors.add(t) }
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    errors.asScala.toSeq
  }

  test("two GraftSQL sessions on one SparkSession each read only their own snapshot") {
    val cat = new TableCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-shared").toString)
    val inTxn = new GraftSQL(spark, cat)
    val outside = new GraftSQL(spark, cat)
    inTxn.execute("CREATE TABLE rt (id INTEGER PRIMARY KEY)")
    inTxn.execute("INSERT INTO rt VALUES (1)")
    inTxn.execute("BEGIN")
    inTxn.execute("INSERT INTO rt VALUES (2), (3)") // staged, uncommitted
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).sorted.toSeq
    val confBefore = spark.conf.getAll
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // every statement's literal is distinct: no statement reuses another's plan
    def reader(g: GraftSQL, want: Long, base: Int)(): Unit = (1 to 150).foreach { i =>
      val sql = s"SELECT count(*) FROM rt WHERE id > ${-(base + i)}"
      try {
        val n = g.execute(sql).collect()(0).getLong(0)
        if (n != want) wrong.add(s"$sql: $n rows, not $want")
      } catch { case e: Exception => wrong.add(s"$sql: $e") }
    }
    val errors = concurrently(reader(inTxn, 3L, 0), reader(outside, 1L, 1000))
    assert(errors.isEmpty, errors.mkString("\n"))
    assert(wrong.isEmpty, s"${wrong.size} of 300 statements: " + wrong.asScala.take(5).mkString("; "))
    assert(spark.catalog.listTables().collect().map(_.name).sorted.toSeq == tablesBefore)
    assert(spark.conf.getAll == confBefore)
    inTxn.execute("ROLLBACK")
    assert(outside.execute("SELECT count(*) FROM rt").collect()(0).getLong(0) == 1L)
  }

  test("st01 and st12 on two threads of one session set no checkpoint location in its conf") {
    import graft.streaming.StreamQueries
    val key = "spark.sql.streaming.checkpointLocation"
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def st01() = rows(StreamQueries.st01StreamWindow(spark, TestSpark.sf))
    def st12() = rows(StreamQueries.st12StreamSessionWindow(spark, TestSpark.sf))
    assert(spark.conf.getOption(key).isEmpty)
    val (solo01, solo12) = (st01(), st12())
    // each stream sets its state partitions and no-data flag on a clone
    // of the session, so two interleaved streams leave both untouched
    val keys = Seq(key, "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    def settings() = keys.map(k => k -> spark.conf.getOption(k))
    def tables() = spark.catalog.listTables().collect().map(_.name).sorted.toSeq
    val (settingsBefore, tablesBefore) = (settings(), tables())
    var (got01, got12) = (Seq.empty[String], Seq.empty[String])
    val errors = concurrently(() => got01 = st01(), () => got12 = st12())
    assert(errors.isEmpty, errors.mkString("\n"))
    assert(settings() == settingsBefore)
    assert(tables() == tablesBefore)
    assert(got01 == solo01 && got12 == solo12)
  }

  test("st01 over two scale factors on two threads of one session: each gets its own rows") {
    import graft.streaming.StreamQueries
    def st01(sf: String)(): Seq[String] =
      StreamQueries.st01StreamWindow(spark, sf).collect().map(_.toString).toSeq.sorted
    val (small, large) = (TestSpark.sf,
      java.nio.file.Path.of(TestSpark.sf).resolveSibling("sf0.01").toString)
    val (soloSmall, soloLarge) = (st01(small)(), st01(large)())
    assert(soloSmall != soloLarge)
    var (gotSmall, gotLarge) = (Seq.empty[String], Seq.empty[String])
    val errors = concurrently(() => gotSmall = st01(small)(), () => gotLarge = st01(large)())
    assert(errors.isEmpty, errors.mkString("\n"))
    assert(gotSmall == soloSmall, "the sf0.001 stream's rows")
    assert(gotLarge == soloLarge, "the sf0.01 stream's rows")
  }
}
