package graft

import graft.sources.{CatalogCodec, TableCatalog}
import graft.sources.CatalogCodec.Manifest
import graft.sources.TableCatalog.{FileRecord, FileStat, TableMeta}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The catalog's on-disk JSON records ([[CatalogCodec]]): files in the
  * layout of the earlier hand-written writer read back to the same
  * values, what the codec writes reads back to what was written, and a
  * torn or truncated record is never read as a prefix of itself. */
class CatalogCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // JSON's escape of U+0001, kept out of the literals' source text
  private val u1 = "\\u0001"

  private def write(p: Path, body: String): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
  }

  private val t = "we\"ird\\t"
  private val hostile = Seq("q\"b", "back\\slash", "new\nline", "ctl\u0001x")

  // the earlier writers' output for these tables, captured from them
  // (data file names and the stats list shortened)
  private val metaV1 = raw"""{"version": 1,
    |"schema": "{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"version\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"schema\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"d\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}},{\"name\":\"b\",\"type\":\"boolean\",\"nullable\":true,\"metadata\":{}},{\"name\":\"fk\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"q\\\"b\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"back\\\\slash\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"new\\nline\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"ctl\${u1}x\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}",
    |"primaryKey": "id",
    |"notNull": ["q\"b"],
    |"unique": ["back\\slash"],
    |"indexes": ["ctl${u1}x","id"],
    |"defaults": {"version": 7,"new\nline": "x\ny","d": 2.5,"schema": "a}b\"c","b": true},
    |"references": {"fk": "par"}}""".stripMargin
  private val parMeta = raw"""{"version": 1,
    |"schema": "{\"type\":\"struct\",\"fields\":[{\"name\":\"pk\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}}]}",
    |"primaryKey": null,
    |"notNull": [],
    |"unique": [],
    |"indexes": [],
    |"defaults": {},
    |"references": {}}""".stripMargin
  private val manifestV0 = """{"dirs": [], "dirRows": {}, "stats": []}"""
  private val manifestV1 = raw"""{"dirs": ["data/stmt-1"], "dirRows": {"data/stmt-1": 3}, "stats": [{"path": "data/stmt-1/part-0.parquet", "column": "id", "mn": "1", "mx": "9"},{"path": "data/stmt-1/part-0.parquet", "column": "q\"b", "mn": "v\"1", "mx": "v\"1"},{"path": "data/stmt-1/part-0.parquet", "column": "back\\slash", "mn": "v\\2", "mx": "v\\2"},{"path": "data/stmt-1/part-0.parquet", "column": "new\nline", "mn": "v\n3", "mx": "v\n3"},{"path": "data/stmt-1/part-0.parquet", "column": "ctl${u1}x", "mn": "z}${u1}\"", "mx": "z}${u1}\""}]}"""
  private val journal = Seq(
    1 -> """{"tables": {"par": 0}, "dropped": []}""",
    2 -> """{"tables": {"par": 1}, "dropped": []}""",
    3 -> raw"""{"tables": {"we\"ird\\t": 0}, "dropped": []}""",
    4 -> raw"""{"tables": {"we\"ird\\t": 1}, "dropped": []}""",
    5 -> """{"tables": {"dropme": 0}, "dropped": []}""",
    6 -> """{"tables": {}, "dropped": ["dropme"]}""")
  private val checkpoint6 = raw"""{"tables": {"par": 1,"we\"ird\\t": 1}, "dropped": []}"""
  private val pin = raw"""{"tables": {"we\"ird\\t": 1,"par": 1}}"""

  private val expectedMeta = TableMeta(
    schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("version", LongType),
      StructField("schema", StringType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("fk", LongType)) ++ hostile.map(StructField(_, StringType))),
    primaryKey = Some("id"),
    notNull = Seq("q\"b"),
    unique = Seq("back\\slash"),
    defaults = Map("version" -> 7L, "new\nline" -> "x\ny", "d" -> 2.5, "schema" -> "a}b\"c",
      "b" -> true),
    references = Map("fk" -> "par"),
    version = 1,
    indexes = Seq("ctl\u0001x", "id"))
  private val expectedManifest = Manifest(Nil,
    Seq("id" -> ("1", "9"), "q\"b" -> ("v\"1", "v\"1"), "back\\slash" -> ("v\\2", "v\\2"),
      "new\nline" -> ("v\n3", "v\n3"), "ctl\u0001x" -> ("z}\u0001\"", "z}\u0001\""))
      .map { case (c, (mn, mx)) => FileStat("data/stmt-1/part-0.parquet", c, mn, mx) },
    Seq("data/stmt-1" -> 3L))
  // the same version as the codec writes it: one record per data file
  private val expectedRecords = Manifest(
    Seq(FileRecord("data/stmt-1/part-0.parquet", 3L, 1234L)), expectedManifest.stats)

  test("records in the earlier writers' layout read back to the same values") {
    val root = Files.createTempDirectory("graft-codec")
    val tdir = root.resolve(t)
    write(tdir.resolve("meta.json"), metaV1)
    write(tdir.resolve("versions/v0.json"), manifestV0)
    write(tdir.resolve("versions/v1.json"), manifestV1)
    write(root.resolve("par/meta.json"), parMeta)
    write(root.resolve("par/versions/v1.json"), manifestV0)
    journal.foreach { case (g, body) => write(root.resolve(f"commits/g$g%012d.json"), body) }
    val pinFile = write(root.resolve("pins/txn-abc.json"), pin)

    val cat = new TableCatalog(spark, root.toString)
    val m = cat.meta(t)
    assert(m == expectedMeta)
    assert(m.defaults("version").isInstanceOf[Long] && m.defaults("d").isInstanceOf[Double])
    assert(cat.meta("par").primaryKey.isEmpty && cat.meta("par").defaults.isEmpty)
    assert(cat.currentVersion(t) == 1)
    assert(CatalogCodec.readManifest(tdir.resolve("versions/v1.json")) == expectedManifest)
    assert(CatalogCodec.readManifest(tdir.resolve("versions/v0.json")) == Manifest(Nil, Nil))
    // the stored row counts serve history with no data on disk
    val h = cat.history(t).collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(h.toSeq == Seq((0, 0, 0L, false), (1, 1, 3L, true)))
    assert(CatalogCodec.readEntry(root.resolve(f"commits/g${3}%012d.json")) == Some((Map(t -> 0), Nil)))
    assert(CatalogCodec.readEntry(root.resolve(f"commits/g${6}%012d.json")) == Some((Map.empty, Seq("dropme"))))
    assert(CatalogCodec.readPin(pinFile) == Map(t -> 1, "par" -> 1))
    assert(cat.snapshotAt(2) == Map("par" -> 1))
    assert(cat.snapshotAt(5) == Map("par" -> 1, t -> 1)) // dropme has no meta.json
    // the checkpoint becomes the fold base and reads the same
    val ckpt = write(root.resolve(f"commits/c${6}%012d.json"), checkpoint6)
    assert(CatalogCodec.readEntry(ckpt) == Some((Map("par" -> 1, t -> 1), Nil)))
    journal.foreach { case (g, _) => Files.delete(root.resolve(f"commits/g$g%012d.json")) }
    assert(cat.snapshotAt(6) == Map("par" -> 1, t -> 1))
    TableCatalog.deleteRecursively(root)
  }

  test("what the codec writes reads back to what was written") {
    val dir = Files.createTempDirectory("graft-codec-rt")
    def roundTrip[T](name: String, bytes: Array[Byte])(read: Path => T): T =
      read(Files.write(dir.resolve(name), bytes))
    assert(roundTrip("meta.json", CatalogCodec.metaBytes(expectedMeta))(CatalogCodec.readMeta) ==
      expectedMeta)
    val narrow = expectedMeta.copy(primaryKey = None,
      defaults = Map("i" -> 3, "f" -> 0.1f, "big" -> Long.MaxValue, "neg" -> -1.5e300))
    val back = roundTrip("narrow.json", CatalogCodec.metaBytes(narrow))(CatalogCodec.readMeta)
    assert(back == narrow.copy(defaults =
      Map("i" -> 3L, "f" -> 0.1, "big" -> Long.MaxValue, "neg" -> -1.5e300)))
    assert(back.defaults.values.map(_.getClass.getSimpleName).toSet == Set("Long", "Double"))
    assert(roundTrip("v1.json", CatalogCodec.manifestBytes(expectedRecords))(CatalogCodec.readManifest) ==
      expectedRecords)
    val entry = (Map(t -> 4, "a" -> 0), Seq("new\nline"))
    assert(roundTrip("g.json", CatalogCodec.entryBytes(entry._1, entry._2))(CatalogCodec.readEntry) ==
      Some(entry))
    assert(roundTrip("pin.json", CatalogCodec.pinBytes(Map(t -> 2)))(CatalogCodec.readPin) == Map(t -> 2))
    // the manifest keeps the earlier layout's `"key": value` spacing
    val text = new String(CatalogCodec.manifestBytes(Manifest(Seq(
      FileRecord("data/a/p.parquet", 1L, 10L), FileRecord("data/b/p.parquet", 2L, 20L)), Nil)), "UTF-8")
    assert(text == """{"files": [{"rows": 1,"bytes": 10,"path": "data/a/p.parquet"},""" +
      """{"rows": 2,"bytes": 20,"path": "data/b/p.parquet"}],"stats": []}""")
    TableCatalog.deleteRecursively(dir)
  }

  test("a torn journal entry applies none of its tables; a truncated manifest raises") {
    val cat = new TableCatalog(spark, Files.createTempDirectory("graft-torn").toString)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    Seq("a", "b").foreach { n =>
      cat.createTable(n, schema)
      cat.insert(n, Seq(1L).toDF("id"))
    }
    val g = cat.globalVersion()
    val before = cat.snapshotAt(g)
    assert(before == Map("a" -> 1, "b" -> 1))
    val entry = """{"tables": {"a": 3, "b": 4}, "dropped": []}"""
    val next = Paths.get(cat.root, "commits", f"g${g + 1}%012d.json")
    (0 until entry.length).foreach { n =>
      Files.writeString(next, entry.take(n))
      assert(cat.snapshotAt(g + 1) == before, s"prefix of ${n} chars: ${entry.take(n)}")
    }
    Files.writeString(next, entry)
    assert(cat.snapshotAt(g + 1) == Map("a" -> 3, "b" -> 4))
    Files.delete(next)

    cat.insert("a", Seq(2L).toDF("id"))
    val v = cat.currentVersion("a")
    val p = Paths.get(cat.root, "a", "versions", s"v$v.json")
    val body = Files.readString(p)
    val firstDir = body.indexOf("\",\"")
    assert(firstDir > 0, body)
    Files.writeString(p, body.take(firstDir + 1)) // {"dirs": ["data/…"
    intercept[IllegalStateException](cat.asOf("a", v))
    intercept[IllegalStateException](cat.scan("a"))
    assert(cat.asOf("a", v - 1).count() == 1)
  }

  test("vacuum raises on an unparsable fresh pin and deletes a stale one") {
    val cat = new TableCatalog(spark, Files.createTempDirectory("graft-pin").toString)
    cat.createTable("t", StructType(Seq(StructField("id", LongType, nullable = false))))
    cat.insert("t", Seq(1L).toDF("id"))
    val pinFile = write(Paths.get(cat.root, "pins", "txn-dead.json"), """{"tables": {"t": """)
    intercept[IllegalStateException](cat.vacuum("t", keep = 1, graceMs = 0))
    assert(Files.exists(Paths.get(cat.root, "t", "versions", "v0.json")))
    Files.setLastModifiedTime(pinFile, FileTime.fromMillis(1000L))
    cat.vacuum("t", keep = 1, graceMs = 0)
    assert(!Files.exists(pinFile))
    assert(!Files.exists(Paths.get(cat.root, "t", "versions", "v0.json")))
  }

  test("an old-shape manifest over real files scans, prunes, takes an UPDATE and vacuums") {
    val root = Files.createTempDirectory("graft-codec-old")
    val tdir = root.resolve("o")
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("s", StringType)))
    def files(dir: String): Set[String] =
      if (!Files.isDirectory(tdir.resolve(dir))) Set.empty
      else {
        val l = Files.list(tdir.resolve(dir))
        try l.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
        finally l.close()
      }
    /** One parquet file of keys [from, until) added to `dir`. */
    def load(dir: String, from: Long, until: Long): String = {
      val before = files(dir)
      spark.range(from, until).select(col("id").as("k"), format_string("s%03d", col("id")).as("s"))
        .coalesce(1).write.mode("append").parquet(tdir.resolve(dir).toString)
      s"$dir/${(files(dir) -- before).head}"
    }
    // data/a: k 0-49 and 50-99; data/b: k 100-119 and 120-139, of which
    // the manifest lists only the first, as a single-file entry
    val (a0, a1) = (load("data/a", 0, 50), load("data/a", 50, 100))
    val (b0, b1) = (load("data/b", 100, 120), load("data/b", 120, 140))
    write(tdir.resolve("meta.json"), new String(CatalogCodec.metaBytes(
      TableMeta(schema, Some("k"), Nil, Nil, Map.empty, Map.empty, 1, Seq("k"))), "UTF-8"))
    write(tdir.resolve("versions/v0.json"), manifestV0)
    write(tdir.resolve("versions/v1.json"), s"""{"dirs": ["data/a","$b0"], """ +
      s""""dirRows": {"data/a": 100,"$b0": 20}, "stats": [""" +
      s"""{"path": "$a0", "column": "k", "mn": "0", "mx": "49"},""" +
      s"""{"path": "$a1", "column": "k", "mn": "50", "mx": "99"},""" +
      s"""{"path": "$b0", "column": "k", "mn": "100", "mx": "119"}]}""")
    val cat = new TableCatalog(spark, root.toString)
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").as[Long].collect().toSeq.sorted
    // history counts the stored entries, unexpanded
    val h = cat.history("o").collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(h.toSeq == Seq((0, 0, 0L), (1, 2, 120L)))
    assert(keys(cat.scan("o")) == (0L until 120L))
    val (kept, all) = cat.planFiles("o", col("k") === 60L)
    assert(kept == Seq(a1) && all.toSet == Set(a0, a1, b0), (kept, all))
    assert(cat.planFiles("o", col("k") === 130L)._1.isEmpty)
    assert(keys(cat.scan("o", col("k") >= 45L && col("k") <= 105L)) == (45L to 105L))

    cat.update("o", Map("s" -> lit("u")), col("k") === 60L)
    val v2 = CatalogCodec.readManifest(tdir.resolve("versions/v2.json"))
    assert(Files.readString(tdir.resolve("versions/v2.json")).startsWith("{\"files\": ["))
    assert(v2.entries.isEmpty && v2.files.size == 3 &&
      v2.files.map(_.path).toSet.intersect(Set(a0, a1, b0)) == Set(a0, b0), v2)
    assert(v2.files.map(_.rows).sum == 120L && v2.files.forall(_.bytes > 0))
    assert(v2.stats.map(_.path).toSet == v2.files.map(_.path).toSet)
    val updated = cat.scan("o").filter(col("s") === "u").select("k").as[Long].collect().toSeq
    assert(updated == Seq(60L) && keys(cat.asOf("o", 1)) == (0L until 120L))

    cat.vacuum("o", keep = 1, graceMs = 0)
    // the rewritten file and the never-listed one go with their sidecars
    for (f <- Seq(a1, b1)) {
      val p = tdir.resolve(f)
      assert(!Files.exists(p) && !Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), f)
    }
    assert(Seq(a0, b0).forall(f => Files.exists(tdir.resolve(f))))
    assert(keys(cat.scan("o")) == (0L until 120L))
    assert(cat.scan("o").filter(col("s") === "u").count() == 1)
    TableCatalog.deleteRecursively(root)
  }
}
