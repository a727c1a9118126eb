package graft.sources

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonMappingException, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.sources.TableCatalog.{FileRecord, FileStat, TableMeta}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** The catalog's on-disk records, one JSON object per file:
  *
  *  - `meta.json`: `version`, `schema` (Spark's StructType JSON, as a
  *    string), `primaryKey` (a string or null), `notNull`, `unique`,
  *    `indexes` (string arrays), `defaults` (column → string, boolean
  *    or number) and `references` (column → table). The user-keyed
  *    objects come last;
  *  - `versions/vN.json`, the manifest of version N: `files`, one
  *    record per data file (`rows`, its footer row count; `bytes`, its
  *    uncompressed row-group bytes; `path`, table-relative), and `stats`
  *    (per-file zone maps). A record names its path last, so no record
  *    begins as a stat does (`{"path": …`). The old shape, `dirs`
  *    (entries: data dirs, or single files of one) and `dirRows` (entry
  *    → footer row count), is still read, never written;
  *  - `commits/gN.json`, a journal entry, and `commits/cN.json`, a
  *    checkpoint: `tables` (table → version) and `dropped`;
  *  - `pins/txn-<id>.json`, an open txn's pin: `tables`.
  *
  * Unparsable files. A journal entry or checkpoint that does not parse
  * as its record is a torn claim (a writer crashed between claim and
  * write): [[readEntry]] returns None and readers skip it. Only a parse
  * failure is torn; an IO error reading the file propagates. A manifest,
  * a `meta.json` or a pin that does not parse raises: those files are
  * complete before any reader may see them (tmp + atomic move, or a
  * claim above the version pointer), so a bad one is damage, and
  * reading it as a prefix of itself would serve wrong rows or let
  * vacuum delete versions an open txn reads.
  *
  * The writer keeps `"key": value` spacing and no line breaks. */
private[graft] object CatalogCodec {

  /** The one JSON mapper of the program: catalog records and Verify's output. */
  val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val writer = mapper.writer(new DefaultPrettyPrinter()
    .withSeparators(Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
      .withObjectEmptySeparator("").withArrayEmptySeparator(""))
    .withObjectIndenter(new DefaultPrettyPrinter.NopIndenter)
    .withArrayIndenter(new DefaultPrettyPrinter.NopIndenter))

  /** Manifest of one table version: a record per data file and per-file
    * zone maps. `entries` holds an old-shape manifest's entries with
    * their stored row counts, and `files` is then empty. */
  case class Manifest(files: Seq[FileRecord], stats: Seq[FileStat],
      entries: Seq[(String, Long)] = Nil)

  def metaBytes(m: TableMeta): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("version", m.version)
    o.put("schema", m.schema.json)
    m.primaryKey.fold(o.putNull("primaryKey"))(o.put("primaryKey", _))
    strings(o.putArray("notNull"), m.notNull)
    strings(o.putArray("unique"), m.unique)
    strings(o.putArray("indexes"), m.indexes)
    val d = o.putObject("defaults")
    m.defaults.foreach {
      case (k, s: String)  => d.put(k, s)
      case (k, b: Boolean) => d.put(k, b)
      case (k, f: Float)   => d.put(k, f)
      case (k, x: Double)  => d.put(k, x)
      case (k, n: java.lang.Number) => d.put(k, n.longValue)
      case (k, v) => throw new IllegalArgumentException(s"default $k: $v is not a JSON literal")
    }
    val r = o.putObject("references")
    m.references.foreach { case (k, t) => r.put(k, t) }
    writer.writeValueAsBytes(o)
  }

  def readMeta(p: Path): TableMeta = strict(p) { o =>
    TableMeta(
      schema = DataType.fromJson(text(field(o, "schema"))).asInstanceOf[StructType],
      primaryKey = Option(o.get("primaryKey")).filterNot(_.isNull).map(text),
      notNull = texts(o.path("notNull")),
      unique = texts(o.path("unique")),
      defaults = entries(o.path("defaults")).map { case (k, v) => k -> literal(v) }.toMap,
      references = entries(o.path("references")).map { case (k, v) => k -> text(v) }.toMap,
      version = int(field(o, "version")),
      indexes = texts(o.path("indexes")))
  }

  /** The version pointer of a `meta.json`, without parsing its schema. */
  def readVersion(p: Path): Int = strict(p)(o => int(field(o, "version")))

  /** The FK map of a `meta.json`, without parsing its schema. */
  def readReferences(p: Path): Map[String, String] =
    strict(p)(o => entries(o.path("references")).map { case (k, v) => k -> text(v) }.toMap)

  def manifestBytes(m: Manifest): Array[Byte] = {
    require(m.entries.isEmpty, "an old-shape manifest is written only as file records")
    val o = mapper.createObjectNode()
    val files = o.putArray("files")
    m.files.foreach(f => files.addObject().put("rows", f.rows).put("bytes", f.bytes).put("path", f.path))
    val stats = o.putArray("stats")
    m.stats.foreach { f =>
      stats.addObject().put("path", f.path).put("column", f.column).put("mn", f.min).put("mx", f.max)
    }
    writer.writeValueAsBytes(o)
  }

  /** A manifest of either shape; `stats` is empty where the file has
    * none. Each old-shape entry must have its row count. */
  def readManifest(p: Path): Manifest = strict(p) { o =>
    val stats = elements(o.path("stats")).map(s => FileStat(text(field(s, "path")),
      text(field(s, "column")), text(field(s, "mn")), text(field(s, "mx")))).toSeq
    if (o.has("files"))
      Manifest(elements(o.get("files")).map(f => FileRecord(text(field(f, "path")),
        long(field(f, "rows")), long(field(f, "bytes")))).toSeq, stats)
    else {
      val rows = entries(o.path("dirRows")).map { case (k, v) => k -> long(v) }.toMap
      Manifest(Nil, stats, texts(field(o, "dirs")).map(d =>
        d -> rows.getOrElse(d, bad(s"absent row count of $d"))))
    }
  }

  /** A journal entry or checkpoint: tables published, tables dropped. */
  def entryBytes(tables: Map[String, Int], dropped: Seq[String]): Array[Byte] = {
    val o = mapper.createObjectNode()
    versions(o.putObject("tables"), tables)
    strings(o.putArray("dropped"), dropped)
    writer.writeValueAsBytes(o)
  }

  /** A journal entry or checkpoint; None when it is torn. */
  def readEntry(p: Path): Option[(Map[String, Int], Seq[String])] = {
    val bytes = Files.readAllBytes(p)
    try {
      val o = mapper.readValue(bytes, classOf[ObjectNode])
      Some((tableVersions(o.path("tables")), texts(o.path("dropped"))))
    } catch { case _: JsonProcessingException => None }
  }

  def pinBytes(tables: Map[String, Int]): Array[Byte] = {
    val o = mapper.createObjectNode()
    versions(o.putObject("tables"), tables)
    writer.writeValueAsBytes(o)
  }

  def readPin(p: Path): Map[String, Int] = strict(p)(o => tableVersions(field(o, "tables")))

  private def strict[T](p: Path)(decode: ObjectNode => T): T = {
    val bytes = Files.readAllBytes(p)
    try decode(mapper.readValue(bytes, classOf[ObjectNode]))
    catch { case e: JsonProcessingException =>
      throw new IllegalStateException(s"unparsable catalog record $p: ${e.getOriginalMessage}", e)
    }
  }

  private def strings(a: ArrayNode, xs: Seq[String]): Unit =
    xs.foreach(a.add)
  private def versions(o: ObjectNode, tables: Map[String, Int]): Unit =
    tables.foreach { case (t, v) => o.put(t, v) }

  private def bad(what: String): Nothing =
    throw new JsonMappingException(null, s"catalog record: unexpected $what")
  private def field(o: JsonNode, k: String): JsonNode =
    Option(o.get(k)).getOrElse(bad(s"absent field $k"))
  private def text(v: JsonNode): String = if (v.isTextual) v.textValue else bad(s"value $v")
  private def int(v: JsonNode): Int =
    if (v.isIntegralNumber && v.canConvertToInt) v.intValue else bad(s"value $v")
  // typed as Any, so a Long stays a Long (an if-chain over Long and
  // Double branches would widen every integer default to Double)
  private def literal(v: JsonNode): Any =
    if (v.isTextual) v.textValue
    else if (v.isBoolean) v.booleanValue
    else if (v.isIntegralNumber) long(v)
    else if (v.isFloatingPointNumber) v.doubleValue
    else bad(s"default $v")
  private def long(v: JsonNode): Long =
    if (v.isIntegralNumber && v.canConvertToLong) v.longValue else bad(s"value $v")
  // an absent array or object reads as empty
  private def elements(v: JsonNode): Iterator[JsonNode] =
    if (v.isMissingNode) Iterator.empty
    else if (v.isArray) v.elements.asScala
    else bad(s"value $v")
  private def texts(v: JsonNode): Seq[String] = elements(v).map(text).toSeq
  private def entries(v: JsonNode): Iterator[(String, JsonNode)] =
    if (v.isMissingNode) Iterator.empty
    else if (v.isObject) v.properties.asScala.iterator.map(e => e.getKey -> e.getValue)
    else bad(s"value $v")
  private def tableVersions(v: JsonNode): Map[String, Int] =
    entries(v).map { case (t, n) => t -> int(n) }.toMap
}
