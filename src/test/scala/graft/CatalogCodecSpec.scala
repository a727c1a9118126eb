package graft

import graft.sources.{CatalogCodec, TableCatalog}
import graft.sources.CatalogCodec.Manifest
import graft.sources.TableCatalog.{FileStat, TableMeta}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

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
  private val expectedManifest = Manifest(Seq("data/stmt-1"), Map("data/stmt-1" -> 3L),
    Seq("id" -> ("1", "9"), "q\"b" -> ("v\"1", "v\"1"), "back\\slash" -> ("v\\2", "v\\2"),
      "new\nline" -> ("v\n3", "v\n3"), "ctl\u0001x" -> ("z}\u0001\"", "z}\u0001\""))
      .map { case (c, (mn, mx)) => FileStat("data/stmt-1/part-0.parquet", c, mn, mx) })

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
    assert(CatalogCodec.readManifest(tdir.resolve("versions/v0.json")) == Manifest(Nil, Map.empty, Nil))
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
    assert(roundTrip("v1.json", CatalogCodec.manifestBytes(expectedManifest))(CatalogCodec.readManifest) ==
      expectedManifest)
    val entry = (Map(t -> 4, "a" -> 0), Seq("new\nline"))
    assert(roundTrip("g.json", CatalogCodec.entryBytes(entry._1, entry._2))(CatalogCodec.readEntry) ==
      Some(entry))
    assert(roundTrip("pin.json", CatalogCodec.pinBytes(Map(t -> 2)))(CatalogCodec.readPin) == Map(t -> 2))
    // the manifest keeps the earlier layout's `"key": value` spacing
    val text = new String(CatalogCodec.manifestBytes(Manifest(Seq("data/a", "data/b"),
      Map("data/a" -> 1L, "data/b" -> 2L), Nil)), "UTF-8")
    assert(text == """{"dirs": ["data/a","data/b"],"dirRows": {"data/a": 1,"data/b": 2},"stats": []}""")
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
}
