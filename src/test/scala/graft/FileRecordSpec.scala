package graft

import graft.sources.TableCatalog
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The manifest is the one record of file facts: vacuum deletes files
  * by record, a scan binds its files with no listing job, and only the
  * staging footer read opens a parquet footer. */
class FileRecordSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(): TableCatalog =
    new TableCatalog(spark, Files.createTempDirectory("graft-records").toString)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType), StructField("s", StringType)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def jobsOf(tag: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "file record job count")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(tag).length
  }

  test("vacuum deletes a rewritten file and its sidecar, never its live siblings") {
    val cat = freshCatalog()
    cat.createTable("t", schema, primaryKey = Some("k"), indexes = Seq("k"))
    cat.insert("t", spark.range(0, 4000).select(col("id").as("k"),
      (col("id") * 0.5).as("d"), format_string("s%05d", col("id")).as("s")))
    val load = cat.planFiles("t", lit(true))._2
    assert(load.size == 4 && load.map(f => f.take(f.lastIndexOf('/'))).distinct.size == 1, load)
    def fileOf(k: Long): String = {
      val kept = cat.planFiles("t", col("k") === k)._1.filter(load.contains)
      assert(kept.size == 1, kept)
      kept.head
    }
    val (gone, second) = (fileOf(10L), fileOf(3990L))
    cat.update("t", Map("s" -> lit("one")), col("k") === 10L)
    val v2 = cat.currentVersion("t")
    val atV2 = rows(cat.asOf("t", v2))
    // the second rewrite supersedes a file that version v2 still lists
    cat.update("t", Map("s" -> lit("two")), col("k") === 3990L)
    val now = rows(cat.scan("t"))
    val abs = (f: String) => Paths.get(cat.root, "t").resolve(f)
    val crc = (p: Path) => p.resolveSibling(s".${p.getFileName}.crc")
    assert(Files.exists(abs(gone)) && Files.exists(crc(abs(gone))))

    cat.vacuum("t", keep = 2, graceMs = 0)
    assert(!Files.exists(abs(gone)) && !Files.exists(crc(abs(gone))), s"$gone survived vacuum")
    val siblings = load.filterNot(_ == gone)
    assert(siblings.size == 3 && siblings.contains(second) && siblings.forall(f => Files.exists(abs(f))))
    assert(rows(cat.asOf("t", v2)) == atV2 && rows(cat.scan("t")) == now)
    assert(now.size == 4000 && now.count(_.endsWith("|one")) == 1 && now.count(_.endsWith("|two")) == 1)
    intercept[IllegalArgumentException](cat.asOf("t", v2 - 1))
  }

  test("a 40-file table binds its scans with no listing job") {
    val cat = freshCatalog()
    cat.createTable("w", schema)
    cat.insert("w", spark.range(0, 80000, 1, 40).select(col("id").as("k"),
      (col("id") * 0.5).as("d"), format_string("s%05d", col("id")).as("s")))
    val v = cat.currentVersion("w")
    val files = cat.planFiles("w", lit(true))._2
    assert(files.size == 40, files)
    val dir = files.head.take(files.head.lastIndexOf('/'))
    assert(files.forall(_.startsWith(dir + "/")))
    val want = spark.read.parquet(Paths.get(cat.root, "w").resolve(dir).toString).count()
    assert(want == 80000L)
    val m = cat.meta("w")
    val binds: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => cat.scan("w")),
      "pruned scan" -> (() => cat.scan("w", col("k") >= 0L)),
      "asOf" -> (() => cat.asOf("w", v)),
      "bindFiles" -> { () =>
        val (df, route) = cat.bindRead(m, "w", v, None)
        assert(route.kept == 40 && route.localRows.isEmpty, route)
        df
      })
    for ((what, bind) <- binds) {
      var df: DataFrame = null
      val jobs = jobsOf(s"graft-records-$what") { df = bind(); df.queryExecution.optimizedPlan }
      assert(jobs == 0, s"$what ran $jobs job(s) to plan")
      assert(df.count() == want, what)
    }
  }

  test("only the staging footer read opens a footer; no cache or listing of entries is left") {
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(main), main)
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.getFileName.toString -> Files.readAllLines(f).asScala.toIndexedSeq)
    def hits(pattern: String): Seq[(String, Int)] =
      for ((file, lines) <- sources; (line, i) <- lines.zipWithIndex
           if pattern.r.findFirstIn(line).isDefined)
        yield (file, i + 1)
    val gone = hits("dirRowsCache|entryBytesCache|expandEntry|footerTotals|dirRowCount|statsFor|liveDirs")
    assert(gone.isEmpty, s"retired names in src/main: $gone")
    val catalog = sources.collectFirst { case ("TableCatalog.scala", lines) => lines }.get
    val from = catalog.indexWhere(_.contains("private def readFooters("))
    val to = catalog.indexWhere(_ == "  }", from)
    assert(from >= 0 && to > from, "TableCatalog.readFooters not found")
    val opens = hits("ParquetFileReader\\.open")
    assert(opens.size == 1 && opens.forall { case (f, line) =>
      f == "TableCatalog.scala" && line > from + 1 && line <= to + 1 }, s"footer opens: $opens")
  }
}
