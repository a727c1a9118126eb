package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.jdk.CollectionConverters._

/** Versioned managed tables: the Spark-native analog of the
  * reference's DDL/DML + MVCC layer.
  *
  * entangleDB couples a Raft-replicated MVCC key-value store to its SQL
  * executors (/root/reference/src/sql/engine/kv.rs, storage/) — every
  * transaction sees a versioned snapshot, and `BEGIN ... AS OF` reads
  * an old one (parser/ast.rs:11-14). On Spark the durable substrate is
  * a distributed filesystem, so the same semantics are re-expressed as
  * manifest-versioned parquet (the Iceberg/Delta design, minimal form):
  *
  *  - a table = a directory of immutable parquet data dirs + one JSON
  *    manifest per version listing the dirs that version comprises
  *  - INSERT appends a new data dir and a manifest that extends the
  *    previous one (no rewrite of existing data — at 100 TB an insert
  *    moves only the new bytes)
  *  - UPDATE / DELETE are copy-on-write: rewrite the affected rows
  *    into a fresh snapshot dir (what Delta/Iceberg CoW does)
  *  - the version pointer is bumped last, atomically — readers never
  *    see a half-written version
  *  - time travel = reading an old manifest ([[TableCatalog.asOf]])
  *  - transactions stage versions without bumping pointers; COMMIT
  *    publishes all staged pointers, ROLLBACK deletes the staging
  *    (snapshot-isolation analog of kv.rs begin/commit/rollback)
  *
  * Schema metadata carries the reference's column constraints
  * (ast.rs:77-87): primary key, not-null, unique, defaults — enforced
  * distributed (a groupBy-count over the key, not a per-row probe).
  */
class TableCatalog(spark: SparkSession, val root: String) {

  import TableCatalog.{FileStat, TableMeta, WriteConflictException}

  Files.createDirectories(Paths.get(root))

  // One lock object per normalized root, shared by every TableCatalog
  // instance over the same directory: the conflict-check → publish
  // window of txn commits (every DML statement) and of the one-table
  // publishes (COMPACT, RESTORE, ALTER) is check-then-act on the version
  // pointer, so without mutual exclusion two in-process writers could
  // both pass the check and silently lose one txn's writes. Cross-
  // process writers are covered by the manifest claim (CREATE_NEW) in
  // writeManifest below.
  private val rootLock: Object = TableCatalog.lockFor(root)

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def metaPath(name: String): Path = tableDir(name).resolve("meta.json")
  private def manifestPath(name: String, v: Int): Path =
    tableDir(name).resolve(s"versions/v$v.json")

  // -------------------------------------------------------------- JSON
  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def writeMeta(name: String, m: TableMeta): Unit = {
    val defaults = m.defaults.map { case (k, v) =>
      s"${esc(k)}: ${v match {
        case s: String => esc(s)
        case other     => other.toString
      }}"
    }.mkString("{", ",", "}")
    val refs = m.references
      .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}")
    // scalar/structural fields first, the user-keyed objects (defaults,
    // references — whose KEYS are arbitrary column names) last: even a
    // reader that scanned positionally could not be shadowed by a
    // column literally named "version". The readers are additionally
    // anchored to top-level keys (see topLevel), so order is defense
    // in depth, not a correctness requirement.
    val json =
      s"""{"version": ${m.version},
         |"schema": ${esc(m.schema.json)},
         |"primaryKey": ${m.primaryKey.map(esc).getOrElse("null")},
         |"notNull": [${m.notNull.map(esc).mkString(",")}],
         |"unique": [${m.unique.map(esc).mkString(",")}],
         |"indexes": [${m.indexes.map(esc).mkString(",")}],
         |"defaults": $defaults,
         |"references": $refs}""".stripMargin
    val tmp = tableDir(name).resolve("meta.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, metaPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Index just past the closing '"' of the JSON string starting at
    * `i` (json(i) is the opening quote); backslash-escape aware. */
  private def skipJsonString(json: String, i0: Int): Int = {
    var i = i0 + 1
    while (i < json.length && json(i) != '"') {
      if (json(i) == '\\') i += 1
      i += 1
    }
    math.min(i + 1, json.length)
  }

  /** Raw value substring of the TOP-LEVEL `"key":` entry — a depth-1,
    * quote-aware scan. The defaults/references objects carry arbitrary
    * COLUMN NAMES as keys, so a positional regex over the whole
    * document could match a column literally named "version" (or
    * "primaryKey", "schema", ...) inside them and corrupt the parsed
    * metadata; anchoring to depth 1 makes that class of collision
    * impossible. */
  private def topLevel(json: String, key: String): Option[String] = {
    val pat = "\"" + key + "\""
    var i = 0
    var depth = 0
    while (i < json.length) {
      json(i) match {
        case '"' =>
          val start = i
          i = skipJsonString(json, i)
          if (depth == 1 && i - start == pat.length
              && json.regionMatches(start, pat, 0, pat.length)) {
            var j = i
            while (j < json.length && json(j).isWhitespace) j += 1
            if (j < json.length && json(j) == ':') {
              j += 1
              while (j < json.length && json(j).isWhitespace) j += 1
              if (j >= json.length) return None
              val end = json(j) match {
                case '"' => skipJsonString(json, j)
                case '{' | '[' => skipJsonBalanced(json, j)
                case _ =>
                  var k = j
                  while (k < json.length && json(k) != ',' && json(k) != '}'
                    && json(k) != ']') k += 1
                  k
              }
              return Some(json.substring(j, end).trim)
            }
          }
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** Index just past the bracket matching the '{'/'[' at `i0`,
    * quote-aware. */
  private def skipJsonBalanced(json: String, i0: Int): Int = {
    var i = i0
    var depth = 0
    while (i < json.length) {
      json(i) match {
        case '"' => i = skipJsonString(json, i)
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1; if (depth == 0) return i
        case _ => i += 1
      }
    }
    i
  }

  // top-level JSON field readers (schema string, string arrays, int)
  private def jsonStr(json: String, key: String): Option[String] =
    topLevel(json, key).filter(_.startsWith("\""))
      .map(v => unesc(v.substring(1, v.length - 1))) // the scanner, not a replace chain
  /** Elements of the JSON string array under top-level `key`, properly
    * unescaped — the escaped-string regex (not a naive comma split)
    * keeps quotes/commas/backslashes in column names intact. */
  private def jsonStrArr(json: String, key: String): Seq[String] =
    topLevel(json, key).filter(_.startsWith("[")).toSeq.flatMap(body =>
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body).map(g => unesc(g.group(1))))
  private def jsonInt(json: String, key: String): Int =
    topLevel(json, key).flatMap(_.toIntOption)
      .getOrElse(sys.error(s"missing $key"))

  /** Inverse of [[esc]]: a left-to-right scanner, NOT chained
    * String.replace calls — replace("\\n",…) first would misread the
    * tail of an escaped backslash (`a\\nb` → corrupted), and the
    * \\uXXXX forms esc emits need decoding too. */
  private def unesc(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case '"'  => out += '"'; i += 2
          case '\\' => out += '\\'; i += 2
          case 'n'  => out += '\n'; i += 2
          case 'u' if i + 5 < s.length =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => out += '\\'; out += other; i += 2
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** The brace-balanced, quote-aware body of the JSON object under the
    * TOP-LEVEL `key` (the regex-only readers can't see past a '}'
    * inside a string default, and a non-anchored indexOf could land on
    * a same-named key nested in another object). */
  private def jsonObjBody(json: String, key: String): Option[String] =
    topLevel(json, key).filter(_.startsWith("{"))
      .map(v => v.substring(1, v.length - 1))

  /** Inverse of [[writeMeta]]'s defaults serialization: string, long,
    * double, and boolean literals round-trip. Declared defaults are
    * durable DDL state — a catalog reopened over an existing root must
    * apply them, not silently insert NULL. */
  private def parseDefaults(body: String): Map[String, Any] = {
    val entry = ("\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*" +
      "(\"(?:[^\"\\\\]|\\\\.)*\"|[-+0-9.eE]+|true|false)").r
    entry.findAllMatchIn(body).map { m =>
      val k = unesc(m.group(1))
      val raw = m.group(2)
      val v: Any =
        if (raw.startsWith("\"")) unesc(raw.substring(1, raw.length - 1))
        else if (raw == "true") true
        else if (raw == "false") false
        else if (raw.exists(c => c == '.' || c == 'e' || c == 'E')) raw.toDouble
        else raw.toLong
      k -> v
    }.toMap
  }

  def meta(name: String): TableMeta = {
    require(exists(name), s"no such table: $name")
    val json = Files.readString(metaPath(name))
    val refsBody = jsonObjBody(json, "references").getOrElse("")
    val refs = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(refsBody)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    TableMeta(
      schema = DataTypeBridge.structFromJson(jsonStr(json, "schema").get),
      primaryKey = jsonStr(json, "primaryKey"),
      notNull = jsonStrArr(json, "notNull"),
      unique = jsonStrArr(json, "unique"),
      defaults = jsonObjBody(json, "defaults").map(parseDefaults).getOrElse(Map.empty),
      references = refs,
      version = jsonInt(json, "version"),
      indexes = jsonStrArr(json, "indexes"))
  }

  // --------------------------------------------------------------- DDL
  def exists(name: String): Boolean = Files.exists(metaPath(name))

  /** Declared defaults must survive the meta.json round-trip:
    * parseDefaults reads back String/Boolean/Long/Double literals
    * only, and writeMeta serializes anything else via raw toString —
    * a Date default would write invalid JSON that permanently wedges
    * meta(), and a NaN/Infinity double silently becomes NULL on
    * reopen. Reject both AT DECLARATION, not at first read. */
  private def validateDefaults(name: String, defaults: Map[String, Any]): Unit =
    defaults.foreach { case (k, v) =>
      v match {
        case _: String | _: Boolean | _: Long | _: Int | _: Short | _: Byte => ()
        case d: Double =>
          require(!d.isNaN && !d.isInfinite,
            s"$name.$k: non-finite default $d cannot round-trip through metadata")
        case f: Float =>
          require(!f.isNaN && !f.isInfinite,
            s"$name.$k: non-finite default $f cannot round-trip through metadata")
        case other => throw new IllegalArgumentException(
          s"$name.$k: default of type ${other.getClass.getSimpleName} is not a " +
            "durable literal (STRING/BOOLEAN/INTEGER/FLOAT only)")
      }
    }

  def createTable(
      name: String,
      schema: StructType,
      primaryKey: Option[String] = None,
      notNull: Seq[String] = Nil,
      unique: Seq[String] = Nil,
      defaults: Map[String, Any] = Map.empty,
      references: Map[String, String] = Map.empty,
      indexes: Seq[String] = Nil): Unit = rootLock.synchronized {
    require(!exists(name), s"table already exists: $name")
    // the transient ZORDER key name is reserved: writeData drops it
    // unconditionally after clustering, so a user column by this name
    // (case-insensitive — Spark resolution is) would silently vanish
    schema.fieldNames.foreach(c =>
      require(!c.equalsIgnoreCase(TableCatalog.ZCol),
        s"$name.$c: reserved column name"))
    validateDefaults(name, defaults)
    references.foreach { case (c, t) =>
      val parent = fkTargetMeta(t)
      require(parent.isDefined, s"FK $name.$c references unknown table $t")
      require(parent.get.primaryKey.isDefined, s"FK $name.$c: $t has no primary key")
    }
    indexes.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"INDEX $name.$c: no such column")
      require(indexable(f.get.dataType), s"INDEX $name.$c: unorderable type ${f.get.dataType}")
    }
    Files.createDirectories(tableDir(name).resolve("versions"))
    Files.createDirectories(tableDir(name).resolve("data"))
    writeManifest(name, 0, Nil)
    writeMeta(name,
      TableMeta(schema, primaryKey, notNull, unique, defaults, references, 0, indexes))
    journalRecord(Map(name -> 0))
    TableCatalog.ddlEpoch(root).incrementAndGet() // invalidate in-flight fingerprints
  }

  /** FK-target schema resolution for createTable and validate; a txn's
    * staging catalog overrides this to see through to the outer
    * catalog's tables. */
  protected def fkTargetMeta(t: String): Option[TableMeta] =
    if (exists(t)) Some(meta(t)) else None

  private def indexable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.StringType => true
    case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  def dropTable(name: String): Unit = rootLock.synchronized {
    dropTableImpl(name, journal = true)
  }

  /** DROP body; `journal = false` lets [[Txn.commit]] fold its drops
    * into the commit's single atomic journal line instead of one line
    * per table. */
  private def dropTableImpl(name: String, journal: Boolean): Unit = {
    require(exists(name), s"no such table: $name")
    // RESTRICT at the table level too: dropping a referenced parent
    // would leave children with dangling FK metadata, making every
    // later write to them fail on an unknown table
    val refs = referencingTables(name).map(_._1).distinct
    require(refs.isEmpty,
      s"DROP TABLE $name restricted: referenced by ${refs.mkString(", ")} (drop them first)")
    TableCatalog.deleteRecursively(tableDir(name))
    if (journal) journalRecord(Map.empty, Seq(name))
    TableCatalog.ddlEpoch(root).incrementAndGet() // invalidate in-flight fingerprints
  }

  // ---------------------------------------------------------- manifests
  /** Writes version `v`'s manifest with O_CREAT|O_EXCL: creating the
    * version file IS the atomic claim on that version number, so a
    * concurrent writer in ANOTHER process (the JVM rootLock can't see
    * it) that lost the race fails here with a conflict instead of
    * silently overwriting the winner's manifest. */
  private def writeManifest(name: String, v: Int, dirs: Seq[String],
      stats: Seq[FileStat] = Nil): Unit = {
    val statJson = stats.map(f =>
      s"""{"path": ${esc(f.path)}, "column": ${esc(f.column)}, """ +
        s""""mn": ${esc(f.min)}, "mx": ${esc(f.max)}}""").mkString("[", ",", "]")
    // per-dir row counts recorded AT PUBLISH (parquet footer metadata —
    // no Spark job; a dir already counted by this process is cached,
    // CoW dirs are immutable so the cache can never go stale). SHOW
    // HISTORY then reads counts from the manifest instead of running
    // one count job per retained version. The PREVIOUS version's
    // stored counts seed the cache first: publishes run inside
    // rootLock, and without the seed a fresh process's first append
    // would footer-scan every retained dir under the lock — an
    // O(table-files) critical section; with it, only THIS publish's
    // new dirs are scanned (one JSON read + O(new files)).
    if (v > 0) readDirRows(name, v - 1).foreach { case (dr, n) =>
      dirRowsCache.putIfAbsent(s"$name|$dr", n)
    }
    val rowsJson = dirs.map(dr => s"${esc(dr)}: ${dirRowCount(name, dr)}")
      .mkString("{", ",", "}")
    val body = s"""{"dirs": [${dirs.map(esc).mkString(",")}], """ +
      s""""dirRows": $rowsJson, "stats": $statJson}"""
    try Files.write(manifestPath(name, v),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new WriteConflictException(
          s"write-write conflict on $name: version $v already published by another writer")
    }
  }

  /** Row count of one immutable data dir from its parquet FOOTERS —
    * pure metadata reads, never a Spark job. Cached per (table, dir):
    * copy-on-write dirs never change after publish. */
  private val dirRowsCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def dirRowCount(name: String, rel: String): Long = {
    val key = s"$name|$rel"
    val cached = dirRowsCache.get(key)
    if (cached != null) return cached
    val abs = absTableDir(name).resolve(rel)
    var total = 0L
    if (Files.isDirectory(abs)) {
      val conf = spark.sessionState.newHadoopConf() // one clone per dir, not per file
      val listing = Files.list(abs)
      try listing.iterator().asScala.foreach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try total += r.getRecordCount finally r.close()
        }
      } finally listing.close()
    }
    dirRowsCache.put(key, total)
    total
  }

  /** Stored per-dir row counts from a manifest (empty for manifests
    * written before counts were recorded — readers fall back to the
    * footer scan). */
  private def readDirRows(name: String, v: Int): Map[String, Long] = {
    if (!Files.exists(manifestPath(name, v))) return Map.empty
    val json = topLevel(Files.readString(manifestPath(name, v)), "dirRows")
      .getOrElse(return Map.empty)
    val entry = """"((?:[^"\\]|\\.)*)": (\d+)""".r
    entry.findAllMatchIn(json).map(m => unesc(m.group(1)) -> m.group(2).toLong).toMap
  }

  private def readManifest(name: String, v: Int): Seq[String] = {
    require(Files.exists(manifestPath(name, v)), s"no version $v of $name")
    jsonStrArr(Files.readString(manifestPath(name, v)), "dirs")
  }

  private def readStats(name: String, v: Int): Seq[FileStat] = {
    if (!Files.exists(manifestPath(name, v))) return Nil
    val json = topLevel(Files.readString(manifestPath(name, v)), "stats").getOrElse("")
    val entry = ("""\{"path": "((?:[^"\\]|\\.)*)", "column": "((?:[^"\\]|\\.)*)", """ +
      """"mn": "((?:[^"\\]|\\.)*)", "mx": "((?:[^"\\]|\\.)*)"\}""").r
    entry.findAllMatchIn(json).map(m =>
      FileStat(unesc(m.group(1)), unesc(m.group(2)), unesc(m.group(3)), unesc(m.group(4))))
      .toSeq
  }

  // ------------------------------------------------------ commit journal
  //
  // The reference's MVCC timestamp is GLOBAL: `BEGIN READ ONLY AS OF
  // SYSTEM TIME n` reads the whole database at one version
  // (ast.rs:11-14), while this catalog's version pointers are per
  // table. The bridge is a root-level monotone journal: every publish
  // records one entry {tables: {name: version}, dropped: [...]} under
  // `<root>/commits/g<N>.json`, written AFTER the per-table pointers
  // move — a txn commit spanning N tables records ONE entry, so its
  // tables become visible at one global version atomically. Folding
  // the journal up to g reconstructs the per-table snapshot the
  // catalog had then.
  //
  // One FILE per commit, not one appended line: the global version is
  // claimed by CREATE_NEW (O_CREAT|O_EXCL — atomic ACROSS PROCESSES,
  // where the in-JVM rootLock cannot reach), so two sibling processes
  // can never publish two different commits under the same g, and a
  // torn append can never corrupt neighbours — the worst a crashed
  // writer leaves is one empty/partial g-file, which the reader skips.
  // The journal is an OBSERVABILITY index over the authoritative
  // per-table pointers: an entry that failed to record degrades AS OF
  // fidelity for that window but never the published data (see the
  // journalRecord wrapper, which isolates failures). This per-file
  // layout replaced a single appended commits.jsonl before any
  // release — there is no legacy-format migration path because no
  // catalog ever shipped with one.

  private def journalDir: Path = Paths.get(root, "commits")
  private def journalFile(g: Long): Path = journalDir.resolve(f"g$g%012d.json")
  private def checkpointFile(g: Long): Path = journalDir.resolve(f"c$g%012d.json")
  private val journalName = "g(\\d{1,18})\\.json".r
  private val checkpointName = "c(\\d{1,18})\\.json".r

  /** Global versions present in the journal, unsorted: per-commit
    * entries and checkpoint bases, separately. */
  private def journalListing(): (Seq[Long], Seq[Long]) =
    if (!Files.isDirectory(journalDir)) (Nil, Nil)
    else {
      val listing = Files.list(journalDir)
      val names = try listing.iterator().asScala.map(_.getFileName.toString).toList
        finally listing.close()
      (names.collect { case journalName(g) => g.toLong },
        names.collect { case checkpointName(g) => g.toLong })
    }

  private def journalVersions(): Seq[Long] = {
    val (entries, ckpts) = journalListing()
    entries ++ ckpts
  }

  /** Parse one journal/checkpoint file. TOLERANT: an empty or
    * unparsable file (crashed writer mid-write) yields None with a
    * warning — one bad file must degrade that single commit's AS OF
    * visibility, not wedge every journal read on the root. */
  private def parseJournalFile(p: Path): Option[(Map[String, Int], Seq[String])] = {
    // IO failures PROPAGATE, they are not "torn": NoSuchFile lets the
    // reader re-list after a concurrent compaction, and a transient
    // read error (EACCES, ...) must fail the read loudly — silently
    // skipping a GOOD checkpoint would fall back past it to history
    // its compaction already deleted, returning a wrong snapshot as
    // if it were right. Only successfully-READ-but-unparsable content
    // is a torn claim. (Bytes decode with replacement, so a partial
    // multi-byte write classifies as torn rather than throwing.)
    val body = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    val tables = jsonObjBody(body, "tables").map { b =>
      "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(b)
        .map(m => unesc(m.group(1)) -> m.group(2).toInt).toMap
    }.getOrElse(Map.empty[String, Int])
    val dropped = jsonStrArr(body, "dropped")
    if (tables.isEmpty && dropped.isEmpty) {
      // every real commit names a table or a drop: an empty parse
      // is a crashed writer's torn claim — skip it
      System.err.println(s"[graft] skipping torn journal file $p")
      None
    } else Some((tables, dropped))
  }

  /** The newest global commit version (0 = nothing ever published). */
  def globalVersion(): Long = journalVersions().maxOption.getOrElse(0L)

  /** Record one commit entry; returns the global version claimed. Call
    * under rootLock, after the per-table pointers it describes have
    * moved. The claim is one readdir (cheap — compaction keeps the
    * directory small) + one CREATE_NEW; the candidate maxes over BOTH
    * entry and checkpoint versions, so a slot a compaction folded and
    * freed is never reclaimed for a different commit — a checkpoint
    * retires every version at or below it forever. The per-root cache
    * is a monotone floor that survives even journal-directory loss. */
  private def journalAppend(published: Map[String, Int],
      dropped: Seq[String] = Nil): Long = {
    Files.createDirectories(journalDir)
    val tables = published.map { case (k, v) => s"${esc(k)}: $v" }.mkString("{", ",", "}")
    val drops = dropped.map(esc).mkString("[", ",", "]")
    val bytes = s"""{"tables": $tables, "dropped": $drops}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val cache = TableCatalog.lastG(root)
    var g = math.max(cache.get(), journalVersions().maxOption.getOrElse(0L)) + 1
    var claimed = false
    while (!claimed) {
      try {
        val ch = Files.newByteChannel(journalFile(g),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try ch.write(java.nio.ByteBuffer.wrap(bytes)) finally ch.close()
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          g = math.max(g, globalVersion()) + 1
      }
    }
    cache.updateAndGet(old => math.max(old, g))
    g
  }

  /** Isolation wrapper for the publish paths: the journal records an
    * ALREADY-PUBLISHED commit, so an IO failure here must never fail
    * the publish (the caller's error handling would delete live data
    * dirs) — it costs AS OF visibility of this one commit until the
    * affected tables publish again, and says so loudly. */
  private def journalRecord(published: Map[String, Int],
      dropped: Seq[String] = Nil): Unit = {
    // an empty commit (BEGIN; COMMIT with nothing staged) moved no
    // pointers — journaling it would claim a slot whose entry parses
    // exactly like a torn claim
    if (published.isEmpty && dropped.isEmpty) return
    try { journalAppend(published, dropped); () }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] journal append failed under $root (publish unaffected; " +
            s"AS OF will not see this commit): $e")
    }
  }

  /** The per-table version snapshot at GLOBAL version `g` — what
    * `BEGIN READ ONLY AS OF SYSTEM TIME g` reads: the newest
    * checkpoint at or below g (if any) as the base, plus every
    * per-commit entry between. Tables created after g are absent;
    * tables dropped since are excluded (DROP is physical — their data
    * is gone, like a vacuumed version). A g below the oldest
    * checkpoint is older than the compacted history — like reading a
    * vacuumed version, it resolves to whatever entries remain. */
  def snapshotAt(g: Long): Map[String, Int] = {
    // a file listed then deleted = a concurrent compaction superseded
    // it with a checkpoint — re-list and fold again (bounded: each
    // retry observes a newer checkpoint)
    var attempt = 0
    while (true) {
      attempt += 1
      try return foldJournal(g).filter { case (t, _) => exists(t) }
      catch { case _: java.nio.file.NoSuchFileException if attempt < 3 => () }
    }
    Map.empty // unreachable
  }

  /** Checkpoint-base + entry fold of the journal up to g, WITHOUT the
    * exists() filter (compaction must not hide a table whose drop
    * entry comes after g). The base is the newest checkpoint at or
    * below g that PARSES: a torn checkpoint (compactor crashed between
    * claim and write) must not become the base — the per-commit
    * entries it failed to supersede are still on disk, so falling
    * back to them (or to an older intact checkpoint) loses nothing. */
  private def foldJournal(g: Long): Map[String, Int] = {
    val (entries, ckpts) = journalListing()
    val base: Option[(Long, Map[String, Int])] =
      ckpts.filter(_ <= g).sorted.reverseIterator
        .map(bg => bg -> parseJournalFile(checkpointFile(bg)))
        .collectFirst { case (bg, Some((tables, _))) => bg -> tables }
    val m = scala.collection.mutable.LinkedHashMap[String, Int]()
    base.foreach { case (_, tables) => tables.foreach { case (t, v) => m(t) = v } }
    entries.filter(e => e <= g && base.forall(e > _._1)).sorted.foreach { ge =>
      parseJournalFile(journalFile(ge)).foreach { case (tables, dropped) =>
        tables.foreach { case (t, v) => m(t) = v }
        dropped.foreach(m.remove)
      }
    }
    m.toMap
  }

  /** Fold all per-commit entries at or below the current global
    * version into ONE checkpoint file and delete them (plus superseded
    * older checkpoints) — the journal's vacuum. Without it a busy
    * catalog accumulates one small file per commit forever; after it,
    * snapshotAt(g) for g >= the checkpoint is unchanged, while older g
    * lose per-commit granularity exactly like vacuumed table versions.
    * Returns the checkpoint's global version (the current one). */
  def compactJournal(): Long = rootLock.synchronized {
    var attempt = 0
    while (true) {
      attempt += 1
      try return compactJournalOnce()
      catch {
        // a sibling process's compaction deleted a file between our
        // listing and read — re-list; its checkpoint makes ours moot
        case _: java.nio.file.NoSuchFileException if attempt < 3 => ()
      }
    }
    0L // unreachable
  }

  private def compactJournalOnce(): Long = {
    val (entries, ckpts) = journalListing()
    val gMax = (entries ++ ckpts).maxOption.getOrElse(0L)
    if (gMax == 0L) return 0L
    def fileAge(p: Path): Long =
      try System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException => Long.MaxValue }
    // an unparsable entry YOUNGER than the claim-staleness window may
    // be a sibling process's append between its CREATE_NEW claim and
    // its write — folding past it would checkpoint over the slot and
    // erase the commit. Cap the fold BELOW the youngest such entry;
    // stale torn entries (provably dead writers) fold over and go.
    val tornYoung = entries.filter { e =>
      val p = journalFile(e)
      parseJournalFile(p).isEmpty && fileAge(p) < StaleClaimMs
    }
    val foldTo = tornYoung.minOption.map(_ - 1).getOrElse(gMax)
    if (foldTo <= 0L) return gMax // everything is an in-flight claim
    def sweepSuperseded(): Unit = {
      entries.filter(_ <= foldTo).foreach(e => Files.deleteIfExists(journalFile(e)))
      ckpts.filter(_ < foldTo).foreach(c => Files.deleteIfExists(checkpointFile(c)))
    }
    val target = checkpointFile(foldTo)
    if (ckpts.contains(foldTo)) {
      if (parseJournalFile(target).isDefined) {
        // already compact at the fold point — finish any sweep a
        // crashed predecessor started, then done
        sweepSuperseded(); return foldTo
      }
      // torn checkpoint: maybe a live compactor mid-write — back off
      // until it is provably stale, then heal below via atomic replace
      if (fileAge(target) < StaleClaimMs) return gMax
    }
    val m = foldJournal(foldTo)
    if (m.isEmpty) return gMax // nothing parseable below — nothing to fold
    val tables = m.map { case (k, v) => s"${esc(k)}: $v" }.mkString("{", ",", "}")
    val bytes = s"""{"tables": $tables, "dropped": []}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // tmp + ATOMIC_MOVE REPLACE: healing a stale torn checkpoint never
    // has a window where the slot holds NO checkpoint (a delete-then-
    // recreate shape would let a racing compactor delete the freshly
    // written good one); two racing healers overwrite each other with
    // equivalent folds.
    val tmp = Files.createTempFile(journalDir, ".ckpt", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Files.deleteIfExists(tmp); throw e
    }
    // checkpoint durable: the files it supersedes can go (all at or
    // below foldTo are parseable-and-folded or provably-stale torn)
    sweepSuperseded()
    foldTo
  }

  // --------------------------------------------------------------- read
  def currentVersion(name: String): Int = meta(name).version

  /** Scan the current snapshot. */
  /** Version history still on disk (DESCRIBE HISTORY, minimal form):
    * one row per retained manifest — version, how many data dirs its
    * snapshot comprises, row count, and whether it is current.
    * Vacuumed versions disappear from the listing, exactly as they do
    * from time travel. Cost: a PURE FILE LISTING — row counts were
    * recorded in each manifest at publish time (the Iceberg/Delta
    * manifest-statistics design), so no Spark job runs (spec-asserted).
    * Manifests from before counts were recorded fall back to a footer
    * metadata scan of their dirs — still no Spark job. */
  def history(name: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(name)
    val listing = Files.list(tableDir(name).resolve("versions"))
    val versions =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt }
        .toSeq.sorted
      finally listing.close()
    versions.map { v =>
      val dirs = readManifest(name, v)
      val stored = readDirRows(name, v)
      val rows = dirs.map(dr => stored.getOrElse(dr, dirRowCount(name, dr))).sum
      (v, dirs.length, rows, v == cur)
    }.toDF("version", "n_dirs", "n_rows", "is_current")
  }

  def scan(name: String): DataFrame = asOf(name, currentVersion(name))

  // Manifests store dirs and stat file paths RELATIVE to the table
  // dir, so a table (or a whole catalog) is relocatable — a staged
  // CREATE TABLE publishes by atomically moving its directory into the
  // catalog root, and every manifest it carries stays valid.
  private def absTableDir(name: String): Path =
    tableDir(name).toAbsolutePath.normalize
  private def resolveDirs(name: String, rels: Seq[String]): Seq[String] =
    rels.map(r => absTableDir(name).resolve(r).toString)
  /** MVCC time travel: scan the table as of `version`. */
  def asOf(name: String, version: Int): DataFrame =
    frameOf(meta(name).schema, resolveDirs(name, readManifest(name, version)))

  /** Zone-map-pruned scan: the Spark-native analog of the reference's
    * `IndexLookup` / `KeyLookup` plan nodes (plan/mod.rs:77-92) and its
    * IndexLookup optimizer pass (plan/mod.rs:42). Simple range/equality
    * conjuncts over ANY prunable column — the manifest records per-file
    * min/max for every numeric/string column at publish, straight from
    * the parquet footers — are extracted from `filter` driver-side and
    * evaluated against those zone maps, so files that cannot contain
    * matches are never handed to Spark: the scan is O(matching files),
    * not O(table), before row-group pruning even starts. A declared
    * INDEX adds the sorted/clustered layout that makes ranges
    * SELECTIVE (disjoint per-file ranges), not the eligibility. The
    * full filter is still applied on top, so the result is exactly
    * `scan(name).filter(filter)` for any predicate, prunable or not. */
  def scan(name: String, filter: Column): DataFrame = {
    val (kept, _) = planFiles(name, filter)
    frameOf(meta(name).schema, resolveDirs(name, kept)).filter(filter)
  }

  /** Frame over an explicit kept-file list from [[planFiles]] — how the
    * SQL front binds an index-pruned snapshot view: its OWN plan carries
    * the WHERE that justified the pruning, so re-applying the filter
    * here would be redundant. Paths are table-relative, as returned by
    * planFiles. */
  def scanFiles(name: String, rels: Seq[String]): DataFrame =
    frameOf(meta(name).schema, resolveDirs(name, rels))

  /** (paths the pruned scan reads, all paths in the current manifest).
    * Exposed for plan inspection/specs.
    *
    * SOUNDNESS: the universe is the manifest's DIR list, never the
    * stats list — a dir with no stats (written by an older layout or a
    * path that skipped stats) contributes itself wholesale, and a file
    * whose stats are null-markers (all-NULL column, or untrustworthy
    * footer statistics) is always kept. Only a file with real stats
    * that provably exclude the predicate is dropped. */
  def planFiles(name: String, filter: Column): (Seq[String], Seq[String]) =
    planFilesAt(name, meta(name).version, filter)

  /** [[planFiles]] against a PINNED version's manifest + stats — every
    * manifest stores its own zone maps, so time-travel / READ ONLY
    * reads prune exactly like current ones (the read schema is the
    * current one, matching [[asOf]]'s contract). */
  def planFilesAt(name: String, version: Int, filter: Column): (Seq[String], Seq[String]) = {
    val m = meta(name)
    val dirs = readManifest(name, version)
    val stats = readStats(name, version)
    if (stats.isEmpty) return (dirs, dirs)
    // universe: the ACTUAL parquet files on disk per dir (a driver-side
    // listing — what Spark's scan planning does anyway), never the
    // stats list: a dir whose stats cover only some files (older
    // layout, partial write) must still contribute every file
    def expand(d: String): Seq[String] = {
      val abs = absTableDir(name).resolve(d)
      if (!Files.isDirectory(abs)) return Seq(d)
      val listing = Files.list(abs)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => d + "/" + p.getFileName.toString).toSeq
      finally listing.close()
    }
    val allPaths = dirs.flatMap(expand)
    // prune on ANY numeric/string column — the manifest carries zone
    // maps for all of them since they're free at publish (footer
    // reads); an INDEX adds the sorted/clustered layout that makes
    // ranges selective, not the eligibility. Timestamp literals arrive
    // as epoch micros but stats as formatted strings — those columns
    // still get the sorted layout + parquet row-group stats when
    // indexed, just no manifest pruning.
    val ranges = extractRanges(filter)
      .flatMap { case (c: String, (lo, hi)) =>
        m.schema.fields.find(_.name == c).map(_.dataType) match {
          case None => None
          case Some(dt) => dt match {
          // numeric columns: prune only on NUMERIC literals — both
          // sides then compare via BigDecimal in cmpTyped, exactly as
          // the query does. A STRING literal is excluded: Spark
          // evaluates `bigintcol <= '9223372036854775806'` by casting
          // both sides to double, whose rounding near 2^63 can admit
          // rows an exact BigDecimal comparison would prune.
          case _: org.apache.spark.sql.types.NumericType =>
            val (l, h) = (lo.filterNot(_.isString), hi.filterNot(_.isString))
            if (l.isEmpty && h.isEmpty) None else Some(c -> (l, h))
          // string columns: prune ONLY on string literals. Spark
          // evaluates `stringcol > 100` by coercing the COLUMN to a
          // number, so byte-order stats comparison against "100" would
          // prune files whose matching rows sort differently as text.
          case org.apache.spark.sql.types.StringType =>
            val (l, h) = (lo.filter(_.isString), hi.filter(_.isString))
            if (l.isEmpty && h.isEmpty) None else Some(c -> (l, h))
          case _ => None
          }
        }
      }
    if (ranges.isEmpty) return (allPaths, allPaths)
    val byFile = stats.groupBy(_.path)
    val kept = allPaths.filter { f =>
      byFile.get(f).forall(_.forall { st =>
        // empty min/max = null-marker (no non-null values seen): keep
        st.min.isEmpty || st.max.isEmpty || ranges.get(st.column).forall { case (lo, hi) =>
          val dt = m.schema(st.column).dataType
          // an incomparable stat (NaN/Infinity text) yields None → keep.
          // NaN soundness for float/double: Spark orders NaN ABOVE all
          // values, so a NaN row satisfies any lower bound — but
          // parquet-mr's float/double stats go through Math.min/max,
          // which NaN POISONS (both stats become NaN once seen), so a
          // NaN-holding file always renders incomparable and is kept
          // (spec: "NaN past numeric max" in CatalogSpec)
          lo.forall(b =>
            cmpTyped(dt, st.max, b.value).forall(_ >= (if (b.inclusive) 0 else 1))) &&
          hi.forall(b =>
            cmpTyped(dt, st.min, b.value).forall(_ <= (if (b.inclusive) 0 else -1)))
        }
      })
    }
    (kept, allPaths)
  }

  private case class Bound(value: String, inclusive: Boolean, isString: Boolean)

  /** Range constraints per column from the top-level AND conjuncts of
    * an (unanalyzed) filter Column — `col <op> literal` shapes only.
    * Anything non-extractable is simply not used for pruning (never
    * unsound — the full filter re-applies after the read). Each bound
    * remembers whether its literal was a STRING, so [[planFiles]] can
    * refuse byte-order pruning for mixed-type comparisons. */
  private def extractRanges(filter: Column): Map[String, (Option[Bound], Option[Bound])] = {
    val perCol = scala.collection.mutable.Map[String, (Option[Bound], Option[Bound])]()
    def add(c: String, lo: Option[Bound], hi: Option[Bound]): Unit = {
      val (l0, h0) = perCol.getOrElse(c, (None, None))
      // overlapping constraints on one column: later bound wins —
      // sound, because pruning with a subset of constraints can only
      // keep extra files, never drop matching ones
      perCol(c) = (lo.orElse(l0), hi.orElse(h0))
    }
    org.apache.spark.sql.GraftColumnBridge.rangeConjuncts(filter).foreach {
      case (c, "=" | "==", v, s) =>
        add(c, Some(Bound(v, inclusive = true, s)), Some(Bound(v, inclusive = true, s)))
      case (c, ">", v, s)  => add(c, Some(Bound(v, inclusive = false, s)), None)
      case (c, ">=", v, s) => add(c, Some(Bound(v, inclusive = true, s)), None)
      case (c, "<", v, s)  => add(c, None, Some(Bound(v, inclusive = false, s)))
      case (c, "<=", v, s) => add(c, None, Some(Bound(v, inclusive = true, s)))
      case _ => // unsupported comparator — no pruning contribution
    }
    perCol.toMap
  }

  /** Compare two stat/literal strings under the column's declared
    * type: numerics numerically (None if either side is NaN/Infinity
    * text — incomparable, caller keeps the file), strings in unsigned
    * UTF-8 byte order — the order Spark's min/max used to produce the
    * stats (Java's compareTo is UTF-16 code-unit order, which
    * disagrees for supplementary characters and would prune wrongly).
    *
    * Numeric comparisons answer only when EXACT decimal comparison and
    * DOUBLE-space comparison (the stat widened the way Spark widens
    * the COLUMN: float→double through the float's exact value, wide
    * integrals/decimals through their lossy double image) AGREE on the
    * sign — disagreement means the verdict depends on which numeric
    * space Spark evaluates the predicate in (it compares a float
    * column to a double literal in double space, where 0.1f becomes
    * 0.10000000149…; a bigint column to a fractional literal likewise,
    * where 2⁶³−1 rounds up), and a file must never be pruned on the
    * space the engine is NOT using. None → kept, so the ambiguity only
    * costs selectivity, never soundness. */
  private def cmpTyped(
      dt: org.apache.spark.sql.types.DataType, a: String, b: String): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType =>
        try {
          val exact = BigDecimal(a).compare(BigDecimal(b))
          val statD = dt match {
            case FloatType  => a.toFloat.toDouble
            case DoubleType => a.toDouble
            case _          => BigDecimal(a).toDouble
          }
          val dbl = java.lang.Double.compare(statD, BigDecimal(b).toDouble)
          if (Integer.signum(exact) == Integer.signum(dbl)) Some(exact) else None
        } catch { case _: NumberFormatException => None }
      case _ =>
        val (ba, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        var i = 0
        val n = math.min(ba.length, bb.length)
        while (i < n) {
          val d = (ba(i) & 0xFF) - (bb(i) & 0xFF)
          if (d != 0) return Some(d)
          i += 1
        }
        Some(ba.length - bb.length)
    }
  }

  private def frameOf(schema: StructType, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)

  // --------------------------------------------------------------- DML
  private def validate(m: TableMeta, name: String, df: DataFrame,
      resolve: String => DataFrame = scan): Unit = {
    val keys = m.primaryKey.toSeq ++ m.unique
    val nullKeys = m.primaryKey.toSeq ++ m.notNull
    // ONE aggregation action for every per-column check (null counts,
    // duplicate detection) instead of one Spark job per key: the job
    // count of a DML validation is fixed overhead per published
    // version, and each extra action re-evaluates (or at best re-reads)
    // the snapshot frame. NULLs are excluded from the duplicate count
    // exactly as before — count/count_distinct both skip NULLs, so
    // `count != distinct` ⇔ the old na.drop + groupBy + count>1 check.
    if (nullKeys.nonEmpty || keys.nonEmpty) {
      val aggs =
        nullKeys.map(k => count(when(col(k).isNull, lit(1))).as(s"__null_$k")) ++
          keys.flatMap(k => Seq(count(col(k)).as(s"__cnt_$k"),
            countDistinct(col(k)).as(s"__dst_$k")))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      for (k <- nullKeys)
        require(row.getAs[Long](s"__null_$k") == 0L, s"$name.$k: NOT NULL violated")
      for (k <- keys)
        require(row.getAs[Long](s"__cnt_$k") == row.getAs[Long](s"__dst_$k"),
          s"$name.$k: UNIQUE/PRIMARY KEY violated")
    }
    // referential integrity: every non-null FK value must exist in the
    // referenced table's PK — one distinct + anti-join per FK, the
    // distributed form of the reference's per-row FK probe. `resolve`
    // supplies the parent's view (a txn passes its own snapshot).
    for ((c, parent) <- m.references) {
      val pk = fkTargetMeta(parent)
        .getOrElse(sys.error(s"FK $name.$c: unknown table $parent")).primaryKey.get
      val orphans = df.select(col(c)).na.drop().distinct()
        .join(resolve(parent).select(col(pk).as(c)), Seq(c), "left_anti")
      require(orphans.isEmpty, s"$name.$c: FK into $parent.$pk violated")
    }
  }

  /** INSERT-specialized validation: checks only what an APPEND can
    * break, against only the data that can conflict with it. Existing
    * rows already satisfied their constraints, so NOT NULL and FK run
    * on the new batch alone; key uniqueness = duplicates WITHIN the
    * batch + a semi-join of the batch's keys against the existing
    * table, where — for an INDEXED key — the existing side reads
    * through the manifest's range pruning restricted to the batch's
    * [min,max]. Appends with monotone keys (the common ingest shape)
    * then validate against ~zero existing files instead of scanning
    * the whole table — the reference's per-row index probe, in
    * distributed form. `existing`/`pruned` supply the txn's view of the
    * snapshot (no pruning once the txn has staged dirs for the table). */
  private def validateInsert(
      m: TableMeta, name: String, batch: DataFrame,
      existing: () => DataFrame,
      pruned: Option[Column => DataFrame],
      fkResolve: String => DataFrame): Unit = {
    val nullKeys = m.primaryKey.toSeq ++ m.notNull
    val keys = m.primaryKey.toSeq ++ m.unique
    // ONE aggregation action over the batch for every per-column check
    // (null counts, within-batch duplicates, key bounds) — the batch
    // frame is often an expensive upstream plan (a curation cascade, a
    // signature kernel pass), and the old one-job-per-check shape
    // re-evaluated it up to 3× per key before the write even started.
    // Semantics unchanged: count/count_distinct/min/max all skip NULLs,
    // matching the old na.drop'd newKeys, and the requires fire in the
    // same order with the same messages.
    if (nullKeys.nonEmpty || keys.nonEmpty) {
      val aggs =
        nullKeys.map(k => count(when(col(k).isNull, lit(1))).as(s"__null_$k")) ++
          keys.flatMap(k => Seq(count(col(k)).as(s"__cnt_$k"),
            countDistinct(col(k)).as(s"__dst_$k"),
            min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
      val row = batch.agg(aggs.head, aggs.tail: _*).head()
      for (k <- nullKeys)
        require(row.getAs[Long](s"__null_$k") == 0L, s"$name.$k: NOT NULL violated")
      for (k <- keys) {
        require(row.getAs[Long](s"__cnt_$k") == row.getAs[Long](s"__dst_$k"),
          s"$name.$k: UNIQUE/PRIMARY KEY violated")
        if (!row.isNullAt(row.fieldIndex(s"__lo_$k"))) {
          val (lo, hi) = (row.get(row.fieldIndex(s"__lo_$k")),
            row.get(row.fieldIndex(s"__hi_$k")))
          val existingSide =
            if (m.indexes.contains(k) && pruned.isDefined)
              pruned.get(col(k) >= lit(lo) && col(k) <= lit(hi))
            else existing()
          val clashes = existingSide.select(col(k))
            .join(batch.select(col(k)).na.drop(), Seq(k), "left_semi")
          require(clashes.isEmpty, s"$name.$k: UNIQUE/PRIMARY KEY violated")
        }
      }
    }
    for ((c, parent) <- m.references) {
      val pk = fkTargetMeta(parent)
        .getOrElse(sys.error(s"FK $name.$c: unknown table $parent")).primaryKey.get
      val orphans = batch.select(col(c)).na.drop().distinct()
        .join(fkResolve(parent).select(col(pk).as(c)), Seq(c), "left_anti")
      require(orphans.isEmpty, s"$name.$c: FK into $parent.$pk violated")
    }
  }

  /** Tables under this catalog root (directory listing = catalog scan). */
  private[graft] def listTables(): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "meta.json").exists())
      .map(_.getName)

  /** Version pointer alone, without the full TableMeta parse — BEGIN
    * pins every table's version, and paying a schema-JSON parse per
    * table per BEGIN would make txn startup O(catalog metadata). */
  private[graft] def quickVersion(name: String): Int = {
    require(exists(name), s"no such table: $name")
    jsonInt(Files.readString(metaPath(name)), "version")
  }

  /** (table -> current version) for every table — the consistent
    * snapshot a txn or READ ONLY session pins at BEGIN. Under
    * rootLock: commits move multiple pointers while holding it, so an
    * unlocked scan could pin old-A + new-B across one commit (a torn
    * snapshot whose FK-linked tables disagree), or crash on a table
    * dropped between the listing and the version read. */
  private[graft] def pinVersions(): Map[String, Int] = rootLock.synchronized {
    listTables().map(n => n -> quickVersion(n)).toMap
  }

  /** References map alone, without the full TableMeta parse — the
    * reverse-FK scan below runs over EVERY table per DML statement
    * (RESTRICT checks, then the commit's re-check under the lock), and
    * the schema-JSON parse is the expensive part of meta(). */
  private def quickReferences(name: String): Map[String, String] = {
    val json = Files.readString(metaPath(name))
    val body = jsonObjBody(json, "references").getOrElse("")
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(body)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }

  /** Tables whose FKs reference `name` (reverse FK index; version-field
    * style reads — no schema parse). */
  private def referencingTables(name: String): Seq[(String, String)] =
    listTables().filter(_ != name)
      .flatMap(t => quickReferences(t).collect { case (c, `name`) => (t, c) })

  private def applyDefaults(name: String, m: TableMeta, df: DataFrame): DataFrame = {
    val out = m.schema.fields.foldLeft(df) { (acc, f) =>
      // case-INSENSITIVE presence check: Spark's resolver is, and
      // withColumn resolves case-insensitively too — a sensitive check
      // here would overwrite a provided `ID` column with the NULL
      // default for `id`
      if (acc.columns.exists(_.equalsIgnoreCase(f.name))) acc
      else acc.withColumn(f.name,
        m.defaults.get(f.name).map(lit(_)).getOrElse(lit(null)))
    }
    // cast everything to the declared schema: inserted frames may carry
    // narrower parser types (e.g. a VALUES 8.1 arrives as DECIMAL(2,1));
    // writing those uncast would corrupt the read-back under the
    // declared schema
    out.select(m.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  // ------------------------------------------- optimistic write publish
  //
  // Every DML statement is a transaction, as in the reference (BEGIN,
  // the statement, COMMIT): an autocommit INSERT/UPDATE/DELETE/MERGE is
  // a single-statement [[Txn]] — the txn pins a snapshot, the staged
  // verb validates and writes its data dir OUTSIDE the root lock (the
  // expensive Spark jobs), and Txn.commit holds the lock only for the
  // conflict checks + manifest claim + pointer move (file operations,
  // microseconds). A commit that loses the race publishes nothing; the
  // statement drops its staging and RETRIES on a fresh snapshot — so
  // concurrent writers to unrelated tables never queue behind each
  // other's Spark jobs, and concurrent writers to the same table each
  // land (first-committer-wins per attempt, bounded retry). COMPACT and
  // RESTORE are not DML: they keep their own fingerprint-checked
  // publish below.

  // generous: under N-way same-table contention a writer expects ~N
  // lost races before landing, and each retry is cheap relative to a
  // spurious WriteConflictException surfacing to the caller
  private val MaxPublishAttempts = 12

  /** Versions of every table whose state this write's pre-publish
    * checks read: the table itself (anchored to m.version — the
    * snapshot the caller actually validated against, NOT a re-read
    * that could silently advance past it), its FK parents (rows were
    * validated against them), and its referencing children (removed
    * keys were RESTRICT-checked against them). The map also
    * carries the root's DDL epoch: a DROP+CREATE lands the recreated
    * table back at version 0, which version numbers alone cannot
    * distinguish from the original — the epoch can. If ANY entry
    * moved — or the related set itself changed (a new FK child
    * table) — by publish time, the checks are stale and the attempt
    * must retry. Cheap: version-field reads, no full meta parse. */
  private def fkFingerprint(name: String, m: TableMeta): Map[String, Long] = {
    val related = m.references.values.toSet ++
      referencingTables(name).map(_._1).toSet
    // a txn's staged catalog resolves FK parents through the OUTER
    // view (subclass overrides) — tables not physically in THIS
    // catalog can't be version-fingerprinted here, and don't need to
    // be: the staging catalog is single-writer by construction
    (related - name).iterator.filter(exists)
      .map(t => t -> quickVersion(t).toLong).toMap +
      (name -> m.version.toLong) +
      ("//ddl-epoch" -> TableCatalog.ddlEpoch(root).get())
  }

  /** Bounded optimistic-write loop: `attempt` validates + writes
    * against the current snapshot and returns None if its publish lost
    * the race. */
  private def publishWithRetry(what: String)(attempt: () => Option[Int]): Int = {
    var n = 0
    while (n < MaxPublishAttempts) {
      attempt() match {
        case Some(v) => return v
        case None =>
          n += 1
          // linear backoff de-synchronizes herds of same-table writers
          // (every loser otherwise revalidates and re-races in
          // lockstep); deterministic — no RNG — and capped small
          Thread.sleep(math.min(200L, 25L * n))
      }
    }
    throw new TableCatalog.WriteConflictException(
      s"$what: lost the publish race $MaxPublishAttempts times")
  }

  /** A claim orphaned longer than this (crashed writer died between
    * manifest claim and pointer move) is reclaimed — an in-flight
    * publisher's claim→pointer window is milliseconds, so a minute-old
    * claim with no matching pointer is dead, and without reclaim it
    * would wedge the table's writes forever. */
  private val StaleClaimMs = 60000L

  /** Claim version `base + 1`'s manifest. Call ONLY inside rootLock.
    * Returns false when another PROCESS holds a fresh claim (its
    * publish is in-flight; the JVM lock cannot see it). */
  private def claimVersion(name: String, base: Int, dirs: Seq[String],
      stats: Seq[FileStat]): Boolean = {
    val next = base + 1
    def tryClaim(): Boolean =
      try { writeManifest(name, next, dirs, stats); true }
      catch { case _: WriteConflictException => false }
    tryClaim() || {
      // conflict: v_next's manifest already exists. It is reclaimable
      // ONLY if provably orphaned: the pointer must still be at OUR
      // base (a pointer at/past next means the manifest is a LIVE
      // published version — deleting it would destroy committed data)
      // AND the claim must be old (an in-flight publisher's
      // claim→pointer window is milliseconds; a minute-old claim with
      // no pointer is a dead writer's, and without reclaim it would
      // wedge the table's writes forever).
      val p = manifestPath(name, next)
      val age =
        try System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => Long.MaxValue } // gone = free
      quickVersion(name) == base && age >= StaleClaimMs && {
        Files.deleteIfExists(p)
        tryClaim() // may still lose to a cross-process re-claim
      }
    }
  }

  /** Move each claimed table's pointer from `m.version` to the next
    * version, writing `m` as its metadata. Call ONLY inside rootLock,
    * with every claim held. Returns false, moving nothing, unless every
    * pointer still reads its base: if THIS writer stalled long enough
    * between claim and here for another process to reclaim its manifest
    * and publish (pause > StaleClaimMs), moving the pointer now would
    * roll it back over that commit. Such an abort leaves the manifests
    * alone — one still ours becomes a stale orphan the reclaim path
    * self-heals later. */
  private def movePointers(claims: Seq[(String, TableMeta)]): Boolean =
    claims.forall { case (name, m) => quickVersion(name) == m.version } && {
      try {
        claims.foreach { case (name, m) => writeMeta(name, m.copy(version = m.version + 1)) }
        true
      } catch { case scala.util.control.NonFatal(e) =>
        // un-claim so a failed pointer move cannot wedge a table — but
        // only while its pointer still says the claim is ours
        claims.foreach { case (name, m) =>
          if (quickVersion(name) == m.version)
            Files.deleteIfExists(manifestPath(name, m.version + 1))
        }
        throw e
      }
    }

  /** Claim version m.version+1's manifest and move the pointer — the
    * one-table publish of COMPACT, RESTORE, ALTER and CREATE/DROP INDEX.
    * Call ONLY inside rootLock with the fingerprint verified. */
  private def claimPublish(name: String, m: TableMeta, dirs: Seq[String],
      stats: Seq[FileStat]): Boolean =
    claimVersion(name, m.version, dirs, stats) && movePointers(Seq(name -> m)) && {
      journalRecord(Map(name -> (m.version + 1)))
      true
    }

  /** Autocommit DML: BEGIN, the staged [[Txn]] verb, COMMIT. A commit
    * that loses a race publishes nothing, so the statement drops its
    * staging and re-runs against the new snapshot (see the
    * optimistic-publish note above). Returns the version of `name` the
    * commit published. */
  private def autocommit(what: String, name: String)(stage: Txn => Unit): Int =
    publishWithRetry(what) { () =>
      val t = register(new Txn(autocommit = true))
      try { stage(t); Some(t.publish()(name)) }
      catch {
        case _: TableCatalog.CommitConflict => t.rollback(); None
        case e: Throwable => t.rollback(); throw e
      }
    }

  /** Append-only INSERT: writes one new data dir, no existing bytes
    * move. Missing columns take declared defaults (or NULL). */
  def insert(name: String, df: DataFrame): Int =
    autocommit(s"INSERT INTO $name", name)(_.insert(name, df))

  /** SET keys resolved against the declared schema case-INSENSITIVELY
    * (Spark's own resolver is) — and every key must resolve: a typo'd
    * column must error, not silently no-op. */
  private def resolveSetKeys(m: TableMeta, name: String,
      set: Map[String, Column], verb: String = "UPDATE"): Map[String, Column] =
    set.map { case (k, v) =>
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(k))
        .getOrElse(throw new IllegalArgumentException(s"$verb $name: no such column $k"))
      f.name -> v
    }

  /** RESTRICT check shared by DELETE and PK-changing UPDATE: no key in
    * `removedKeys` may still be referenced by any table in `refs`. */
  private def restrictReferenced(name: String, removedKeys: DataFrame,
      refs: Seq[(String, String)], resolve: String => DataFrame, verb: String): Unit =
    for ((refTable, refCol) <- refs) {
      val stillRef = resolve(refTable).select(refCol).na.drop()
        .join(removedKeys.toDF(refCol), Seq(refCol), "left_semi")
      require(stillRef.isEmpty,
        s"$verb on $name restricted: rows referenced by $refTable.$refCol")
    }

  /** UPDATE ... SET ... WHERE: copy-on-write snapshot. All SET
    * expressions evaluate against the pre-update row (one select, not
    * a sequential fold), matching SQL UPDATE semantics. Changing a
    * REFERENCED primary-key value is RESTRICT-checked like a delete of
    * the old key — otherwise child rows would be silently orphaned. */
  def update(name: String, set0: Map[String, Column], where: Column): Int =
    autocommit(s"UPDATE $name", name)(_.update(name, set0, where))

  /** The exact snapshot frame an UPDATE would publish — ONE definition
    * shared by the executing path and EXPLAIN, so the explained plan is
    * the plan that would run. All SET expressions evaluate against the
    * pre-update row (one select, not a sequential fold). */
  private def updatedFrame(m: TableMeta, set: Map[String, Column],
      where: Column, current: DataFrame): DataFrame =
    current.select(m.schema.fields.map { f =>
      set.get(f.name)
        .map(v => when(where, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }: _*)

  /** The surviving-rows frame a DELETE would publish (shared by the
    * executing path and EXPLAIN). */
  private def deletedFrame(current: DataFrame, where: Column): DataFrame =
    current.filter(!coalesce(where, lit(false)))

  // ---------------------------------------------------- EXPLAIN support
  // The reference's Explain(Box<Statement>) plans ANY statement and
  // dumps the node tree without executing it (ast.rs:17,
  // plan/mod.rs:51-125). The Spark-native analog: build the DataFrame
  // the DML verb WOULD publish — through the same frame constructors
  // the executing paths use — and hand it back for .explain, with no
  // validation, no write, no version publish.
  def explainUpdate(name: String, set0: Map[String, Column], where: Column): DataFrame = {
    val m = meta(name)
    updatedFrame(m, resolveSetKeys(m, name, set0), where, scan(name).alias(name))
  }
  def explainDelete(name: String, where: Column): DataFrame =
    deletedFrame(scan(name).alias(name), where)
  def explainMerge(name: String, source: DataFrame): DataFrame = {
    val m = meta(name)
    mergedFrame(m, name, source, scan(name), validate = false)
  }
  def explainInsert(name: String, df: DataFrame): DataFrame =
    applyDefaults(name, meta(name), df)

  /** DELETE ... WHERE: copy-on-write anti-filter snapshot. RESTRICT
    * semantics: rows whose PK is still referenced by another table's
    * FK cannot be deleted. */
  def delete(name: String, where: Column): Int =
    autocommit(s"DELETE FROM $name", name)(_.delete(name, where))

  /** Metadata-only schema evolution, publish-atomic: the new schema
    * ships as a NEW VERSION whose manifest lists the SAME data dirs —
    * no bytes move (the Iceberg/Delta ADD COLUMN property; at 100 TB a
    * rewrite would be a full-table job). Existing rows read NULL for
    * the new column (Delta semantics — a declared DEFAULT applies to
    * FUTURE inserts, it does not backfill); the column must therefore
    * be nullable and carry no other constraint. Publishing through the
    * same claim machinery as DML means concurrent optimistic writers
    * see the version move and retry against the new schema. */
  def addColumn(name: String, field: StructField, default: Option[Any] = None): Int =
    rootLock.synchronized {
      val m = meta(name)
      require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"ALTER TABLE $name: column ${field.name} already exists")
      require(!field.name.equalsIgnoreCase(TableCatalog.ZCol),
        s"ALTER TABLE $name: ${field.name} is a reserved column name")
      require(field.nullable,
        s"ALTER TABLE $name ADD COLUMN ${field.name}: must be nullable (existing rows have no value)")
      // the DEFAULT must actually cast to the column type — otherwise
      // every future insert would silently write NULL where the user
      // declared a default (the insert path applies lit(v).cast(type))
      default.foreach { v =>
        val cast = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(v), field.dataType,
          Some("UTC"), org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
        require(cast.eval(null) != null,
          s"ALTER TABLE $name: DEFAULT $v is not a valid ${field.dataType.simpleString}")
      }
      validateDefaults(name, default.map(field.name -> _).toMap)
      val m2 = m.copy(
        schema = StructType(m.schema.fields :+ field),
        defaults = default.map(v => m.defaults + (field.name -> v)).getOrElse(m.defaults))
      if (!claimPublish(name, m2,
          readManifest(name, m.version), readStats(name, m.version)))
        throw new WriteConflictException(s"ALTER TABLE $name: lost the publish race")
      m.version + 1
    }

  /** Metadata-only DROP COLUMN: the column leaves the schema (reads
    * prune it at the parquet scan — its bytes stay in old files until
    * compaction rewrites them) and every constraint entry it carried
    * (NOT NULL, UNIQUE, INDEX, its outgoing FK, its default) leaves
    * with it. The PRIMARY KEY cannot be dropped — children FK-reference
    * it. Same atomic version publish as addColumn. */
  def dropColumn(name: String, colName: String): Int =
    rootLock.synchronized {
      val m = meta(name)
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
        throw new IllegalArgumentException(s"ALTER TABLE $name: no such column $colName"))
      require(!m.primaryKey.exists(_.equalsIgnoreCase(f.name)),
        s"ALTER TABLE $name: cannot drop the primary key ${f.name}")
      val m2 = m.copy(
        schema = StructType(m.schema.fields.filterNot(_.name == f.name)),
        notNull = m.notNull.filterNot(_ == f.name),
        unique = m.unique.filterNot(_ == f.name),
        defaults = m.defaults - f.name,
        references = m.references - f.name,
        indexes = m.indexes.filterNot(_ == f.name))
      if (!claimPublish(name, m2, readManifest(name, m.version),
          readStats(name, m.version).filterNot(_.column == f.name)))
        throw new WriteConflictException(s"ALTER TABLE $name: lost the publish race")
      m.version + 1
    }

  /** MERGE (upsert) keyed on the PRIMARY KEY — the lakehouse MERGE
    * INTO, minimal form: each source row REPLACES the current row with
    * its key, or appends if the key is new, in ONE copy-on-write
    * snapshot version. Matched rows are replaced whole (a source row
    * missing declared columns takes defaults/NULL — the INSERT
    * alignment rule); the source must be key-unique, else which copy
    * wins is undefined. All constraints revalidate on the merged
    * snapshot. */
  def merge(name: String, source: DataFrame): Int =
    autocommit(s"MERGE INTO $name", name)(_.merge(name, source))

  /** The merged (upserted) snapshot shared by [[Txn.merge]] and both
    * EXPLAIN paths: source rows validated (key present and unique)
    * and aligned, current rows with matching keys dropped, source
    * appended. */
  private def mergedFrame(m: TableMeta, name: String, source: DataFrame,
      current: DataFrame, validate: Boolean = true): DataFrame = {
    val pk = m.primaryKey.getOrElse(
      throw new IllegalArgumentException(s"MERGE INTO $name: table has no primary key"))
    val aligned0 = applyDefaults(name, m, source)
    val aligned =
      if (!validate) aligned0 // EXPLAIN plans the frame without running source jobs
      else {
        // materialize the source ONCE (released by the ContextCleaner
        // when the frame is GC'd): the validation aggregate, the
        // anti-join build side and the union would otherwise each
        // re-run the source plan. ONE aggregation action carries both
        // checks; NULL keys fail the first require before the
        // duplicate compare, so count/count_distinct skipping NULLs
        // matches the old groupBy exactly on every reachable input.
        val m0 = aligned0.localCheckpoint()
        val row = m0.agg(count(when(col(pk).isNull, lit(1))).as("nulls"),
          count(col(pk)).as("cnt"), countDistinct(col(pk)).as("dst")).head()
        require(row.getAs[Long]("nulls") == 0L, s"$name.$pk: NOT NULL violated")
        require(row.getAs[Long]("cnt") == row.getAs[Long]("dst"),
          s"MERGE INTO $name: duplicate keys in source")
        m0
      }
    current
      .join(aligned.select(col(pk)), Seq(pk), "left_anti")
      .unionByName(aligned)
  }

  /** Clause-form `MERGE INTO t [AS a] USING src [AS b] ON cond WHEN
    * MATCHED [AND c] THEN UPDATE SET ... | DELETE ... WHEN NOT MATCHED
    * [AND c] THEN INSERT ...` — the full lakehouse MERGE users actually
    * write, including multi-clause cascades (the reference has no
    * MERGE at all; its mutation surface stops at INSERT/UPDATE/DELETE,
    * mutation.rs). Clauses of each kind apply in statement order,
    * first-match-wins; a matched row hitting no clause survives
    * unchanged; an unmatched source row hitting no insert clause is
    * not inserted. One copy-on-write snapshot version; RESTRICT
    * semantics when a reachable matched action removes or re-keys a
    * referenced primary key. */
  def mergeUsing(name: String, source: DataFrame, tAlias: String,
      sAlias: String, cond: Column,
      matched: Seq[TableCatalog.MergeClause],
      insert: Seq[TableCatalog.InsertClause],
      bySource: Seq[TableCatalog.MergeClause] = Nil): Int =
    autocommit(s"MERGE INTO $name", name)(
      _.mergeUsing(name, source, tAlias, sAlias, cond, matched, insert, bySource))

  def explainMergeUsing(name: String, source: DataFrame, tAlias: String,
      sAlias: String, cond: Column,
      matched: Seq[TableCatalog.MergeClause],
      insert: Seq[TableCatalog.InsertClause],
      bySource: Seq[TableCatalog.MergeClause] = Nil): DataFrame = {
    val m = meta(name)
    mergeUsingFrame(m, name, scan(name), source, tAlias, sAlias, cond,
      matched, insert, bySource, validate = false)
  }

  /** First-match-wins gate for clause k: its own condition holds
    * (null-safe — a NULL condition is no-match) and no earlier
    * clause's does. An absent condition is always-true (and makes
    * later clauses unreachable, the standard rule). */
  private def clauseGate(conds: Seq[Option[Column]], k: Int): Column = {
    def holds(c: Option[Column]) = c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    conds.take(k).foldLeft(holds(conds(k)))((acc, prev) => acc && !holds(prev))
  }

  /** FK RESTRICT for the clause form: any reachable DELETE (or UPDATE
    * that changes the primary key) — matched OR not-matched-by-source —
    * removes keys other tables may reference; each clause's removed-key
    * set is computed under its own first-match-wins gate. */
  private def mergeUsingRestrict(m: TableMeta, name: String,
      current: DataFrame, source: DataFrame, tAlias: String, sAlias: String,
      cond: Column, matched: Seq[TableCatalog.MergeClause],
      bySource: Seq[TableCatalog.MergeClause],
      refs: Seq[(String, String)], resolve: String => DataFrame): Unit =
    for (pk <- m.primaryKey if matched.nonEmpty || bySource.nonEmpty) {
      val tgt = current.alias(tAlias)
      val src = source.alias(sAlias)
      def removedOf(rows: DataFrame, clauses: Seq[TableCatalog.MergeClause]) = {
        val conds = clauses.map(_.cond)
        clauses.zipWithIndex.flatMap {
          case (TableCatalog.MergeClause(_, TableCatalog.MergeAction.Delete), k) =>
            Some(rows.filter(clauseGate(conds, k))
              .select(col(s"$tAlias.$pk").as(pk)).distinct())
          case (TableCatalog.MergeClause(_, TableCatalog.MergeAction.Update(set0)), k) =>
            val set = resolveSetKeys(m, name, set0, "MERGE INTO")
            set.get(pk).map { v =>
              rows.filter(clauseGate(conds, k)
                  && !(v.cast(m.schema(pk).dataType) <=> col(s"$tAlias.$pk")))
                .select(col(s"$tAlias.$pk").as(pk)).distinct()
            }
        }
      }
      val removed =
        (if (matched.isEmpty) Nil
         else removedOf(tgt.join(src, cond, "inner"), matched)) ++
        (if (bySource.isEmpty) Nil
         else removedOf(tgt.join(src, cond, "left_anti"), bySource))
      removed.reduceOption(_ unionByName _)
        .foreach(k => restrictReferenced(name, k, refs, resolve, "MERGE"))
    }

  /** The snapshot frame a clause-form MERGE would publish — ONE
    * definition shared by [[Txn.mergeUsing]] and both EXPLAIN paths.
    * Shape: target rows with no source match survive unchanged; each
    * matched row takes the FIRST matched clause whose
    * condition holds (UPDATE projects its SET expressions over the
    * joined row; DELETE drops it; no clause matching keeps it); each
    * unmatched source row takes the first insert clause whose
    * condition holds (missing columns take defaults/NULL — the INSERT
    * alignment rule) or is not inserted. Conditions and SET/INSERT
    * expressions may reference both aliases. Standard MERGE
    * cardinality rule enforced when any matched clause exists: a
    * target row matching multiple source rows errors (which clause
    * evaluation would win is undefined). Every branch is a join keyed
    * by the ON condition — at scale one shuffle (or a broadcast when
    * the source is small), never row-at-a-time; the per-clause
    * branches are filters over that one join's rows. */
  private def mergeUsingFrame(m: TableMeta, name: String, current: DataFrame,
      source: DataFrame, tAlias: String, sAlias: String, cond: Column,
      matched: Seq[TableCatalog.MergeClause],
      insert: Seq[TableCatalog.InsertClause],
      bySource: Seq[TableCatalog.MergeClause] = Nil,
      validate: Boolean = true): DataFrame = {
    require(matched.nonEmpty || insert.nonEmpty || bySource.nonEmpty,
      s"MERGE INTO $name: at least one WHEN clause required")
    val tgt = current.alias(tAlias)
    val src = source.alias(sAlias)
    def tcol(f: String): Column = col(s"$tAlias.$f")
    if (validate && matched.nonEmpty) {
      val rid = "__graft_merge_rid"
      val withRid = current.withColumn(rid, monotonically_increasing_id())
        .alias(tAlias)
      require(withRid.join(src, cond, "inner").groupBy(tcol(rid)).count()
        .filter(col("count") > 1).isEmpty,
        s"MERGE INTO $name: a target row matches multiple source rows")
    }
    // one first-match-wins cascade over a target-row stream — shared by
    // the matched (inner-join) rows and the not-matched-BY-SOURCE
    // (anti-join) rows: Update clauses project, Delete clauses drop,
    // rows hitting no clause survive unchanged
    def cascade(rows: DataFrame, clauses: Seq[TableCatalog.MergeClause]): Seq[DataFrame] = {
      val conds = clauses.map(_.cond)
      clauses.zipWithIndex.flatMap {
        case (TableCatalog.MergeClause(_, TableCatalog.MergeAction.Update(set0)), k) =>
          val set = resolveSetKeys(m, name, set0, "MERGE INTO")
          Some(rows.filter(clauseGate(conds, k)).select(m.schema.fields.map { f =>
            set.get(f.name).map(_.cast(f.dataType).as(f.name))
              .getOrElse(tcol(f.name).as(f.name))
          }: _*))
        case (TableCatalog.MergeClause(_, TableCatalog.MergeAction.Delete), _) =>
          None // the clause's rows simply leave the snapshot
      } ++ {
        val anyGate = conds.map(c => c.map(x => coalesce(x, lit(false)))
          .getOrElse(lit(true))).reduce(_ || _)
        Seq(rows.filter(!anyGate)
          .select(m.schema.fieldNames.map(f => tcol(f).as(f)): _*))
      }
    }
    // target rows with NO source match: untouched unless WHEN NOT
    // MATCHED BY SOURCE clauses rewrite them (Delta's third clause
    // family — the anti-join side goes through the same cascade)
    val keptParts: Seq[DataFrame] =
      if (matched.isEmpty && bySource.isEmpty) Seq(current) // no join needed
      else {
        val anti = tgt.join(src, cond, "left_anti")
        if (bySource.isEmpty)
          Seq(anti.select(m.schema.fieldNames.map(f => tcol(f).as(f)): _*))
        else cascade(anti, bySource)
      }
    val matchedParts: Seq[DataFrame] =
      if (matched.nonEmpty) cascade(tgt.join(src, cond, "inner"), matched)
      else if (bySource.nonEmpty)
        // no matched clause, but keptParts above covers only the
        // ANTI-join rows (the bySource cascade) — the source-MATCHED
        // target rows must survive unchanged (semi join: no clause
        // touches them and source duplicates cannot multiply them)
        Seq(tgt.join(src, cond, "left_semi")
          .select(m.schema.fieldNames.map(f => tcol(f).as(f)): _*))
      else Nil
    val iConds = insert.map(_.cond)
    val notMatched =
      if (insert.isEmpty) null else src.join(tgt, cond, "left_anti")
    val insertedParts: Seq[DataFrame] = insert.zipWithIndex.map {
      case (TableCatalog.InsertClause(_, ins), k) =>
        val resolved = resolveSetKeys(m, name, ins, "MERGE INTO")
        val fresh = notMatched.filter(clauseGate(iConds, k))
          .select(resolved.toSeq.map { case (c, e) => e.as(c) }: _*)
        applyDefaults(name, m, fresh)
    }
    (keptParts ++ matchedParts ++ insertedParts).reduce(_ unionByName _)
  }

  /** OPTIMIZE / compaction: rewrite the CURRENT snapshot's rows into
    * one fresh data dir — re-range-partitioned and re-sorted when the
    * table is indexed — and publish it as a new version. This is the
    * small-files fix an append-heavy 100 TB table needs: every INSERT
    * adds a delta dir, so scans accumulate open-file overhead and the
    * per-file min/max ranges of an indexed column drift toward
    * overlapping (each delta spans the full value range), eroding
    * index pruning. Compaction restores one-sorted-layout selectivity.
    * Rows are bit-identical (no validation re-run — they already
    * satisfied every constraint when first published); history stays
    * time-travelable; concurrent writers win races normally (the
    * compactor retries or gives up like any optimistic writer).
    *
    * `orderBy` (SQL: `COMPACT TABLE t ORDER BY c1, c2`) CLUSTERS the
    * rewrite on arbitrary columns instead of the index set — the
    * OPTIMIZE-with-clustering lever of the lakehouse formats: since
    * EVERY numeric/string column gets manifest zone maps at publish,
    * sorting the data on a hot filter column makes its per-file ranges
    * disjoint, i.e. makes [[planFiles]] SELECTIVE on it, without
    * declaring an index (no metadata change; a later plain COMPACT
    * restores the index-sorted layout). Pruning soundness never
    * depends on layout — clustering only changes how MUCH is skipped.
    *
    * `zorder = true` (SQL: `COMPACT TABLE t ZORDER BY (c1, c2)`)
    * clusters on the MORTON interleaving of the columns instead of
    * their lexicographic order — the Delta/Iceberg OPTIMIZE ZORDER
    * lever: a linear sort makes only its LEADING column's per-file
    * ranges disjoint; bit-interleaving quantile-bucket ids gives every
    * participating column locality, so zone maps prune on EACH of
    * them. Bucket boundaries come from one `percentile_approx`
    * aggregate (approximation affects only how evenly tiles fill,
    * never pruning soundness — manifest stats are collected from the
    * REAL written values either way); the computed key is dropped
    * before the write, so the snapshot's schema and rows are
    * bit-identical to a plain compact. */
  def compact(name: String, orderBy: Seq[String] = Nil,
      zorder: Boolean = false): Int =
    publishWithRetry(s"COMPACT $name") { () =>
      val m = meta(name)
      val verb = if (zorder) "ZORDER BY" else "ORDER BY"
      val layout = orderBy.map { c =>
        val f = m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(s"COMPACT $name $verb: no such column $c"))
        require(indexable(f.dataType),
          s"COMPACT $name $verb ${f.name}: unorderable type ${f.dataType}")
        f.name
      }
      val fp = fkFingerprint(name, m)
      val base = scan(name)
      val (df, layoutCols) =
        if (!zorder) (base, layout)
        else {
          require(layout.size >= 2 && layout.size <= 5,
            s"COMPACT $name ZORDER BY: needs 2-5 columns (1 column = ORDER BY)")
          (base.withColumn(TableCatalog.ZCol, zOrderKey(base, m, layout)),
            Seq(TableCatalog.ZCol))
        }
      // publish only if the fingerprint is unchanged; a lost race
      // deletes the rewrite and retries against the new state
      val next = m.version + 1
      val rel = s"data/snap-$next-${TableCatalog.freshSuffix()}"
      writeData(m, df, absTableDir(name).resolve(rel).toString, layoutCols)
      val stats = collectStats(m, name, rel)
      val ok =
        try rootLock.synchronized {
          fkFingerprint(name, meta(name)) == fp && claimPublish(name, m, Seq(rel), stats)
        } catch { case scala.util.control.NonFatal(e) =>
          TableCatalog.deleteRecursively(absTableDir(name).resolve(rel))
          throw e
        }
      if (ok) Some(next)
      else { TableCatalog.deleteRecursively(absTableDir(name).resolve(rel)); None }
    }

  /** The Morton (Z-order) sort key over `cols`: each column is rank-
    * normalized into 64 quantile buckets (ONE `percentile_approx`
    * aggregate over the snapshot — a 1-row, driver-bounded fold of
    * 63·k doubles, the IVF-centroid precedent), then the 6-bit bucket
    * ids are bit-interleaved so adjacent key ranges are axis-aligned
    * TILES of the value space rather than slabs of the leading
    * column. Quantile (not uniform-width) buckets keep tiles evenly
    * filled under skew. Bucket lookup is a codegen'd 63-comparison
    * filter over the boundary literal per row — O(1) per row, no join;
    * NULLs land in bucket 0 (first tile), mirroring NULLS FIRST. */
  private def zOrderKey(df: DataFrame, m: TableMeta, cols: Seq[String]): Column = {
    val B = 64
    val numeric = cols.map { c =>
      m.schema(m.schema.fieldIndex(c)).dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
        case org.apache.spark.sql.types.DateType =>
          col(c).cast("timestamp").cast("double")
        case org.apache.spark.sql.types.TimestampType => col(c).cast("double")
        case org.apache.spark.sql.types.StringType =>
          // order-preserving surrogate: first 7 BYTES, big-endian,
          // zero-padded — the SAME unsigned UTF-8 byte order the zone
          // maps compare strings in (cmpTyped). substring counts
          // CHARS (≥7 bytes for multi-byte text); rpad TRUNCATES the
          // hex back to exactly 14 digits = 7 bytes. The double cast
          // rounds the 56-bit value to a 53-bit mantissa — rounding
          // is monotone, so order is weakly preserved; strings
          // differing only in the low ~3 bits (or past byte 7)
          // collapse into one bucket, which only coarsens the tiling,
          // never the pruning soundness.
          conv(rpad(hex(substring(col(c), 1, 7)), 14, "0"), 16, 10)
            .cast("double")
        case other => throw new IllegalArgumentException(
          s"ZORDER BY $c: no order-preserving numeric surrogate for $other")
      }
    }
    val pcts = array((1 until B).map(i => lit(i.toDouble / B)): _*)
    val aggs = numeric.zipWithIndex.map { case (nc, i) =>
      percentile_approx(nc, pcts, lit(10000)).as(s"b$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val k = cols.size
    val buckets = numeric.zipWithIndex.map { case (nc, i) =>
      val bnds = Option(row.getSeq[Double](i)).getOrElse(Seq.empty[Double])
      if (bnds.isEmpty) lit(0) // all-NULL column: one tile
      else size(filter(typedLit(bnds), b => b <= nc))
    }
    buckets.zipWithIndex.flatMap { case (b, i) =>
      (0 until 6).map(j =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1)), j * k + i))
    }.reduce(_ + _).cast("long")
  }

  /** POST-HOC secondary index (`CREATE INDEX ON t (col)`): two
    * versions. First a metadata-only publish adds the column to the
    * index set over the SAME data — sound immediately, because
    * [[planFiles]] always reads files that lack stats, so scans just
    * aren't selective yet. Then a [[compact]] rewrites the current
    * snapshot range-partitioned and sorted on the (new) index columns
    * and collects per-file min/max — the step that makes the index
    * SELECTIVE, priced at one table rewrite exactly like building a
    * B-tree over existing rows would be. Both steps are ordinary
    * atomic version publishes; readers never block and time travel
    * sees the pre-index layout. */
  def createIndex(name: String, colName: String): Int = {
    rootLock.synchronized {
      val m = meta(name)
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
        throw new IllegalArgumentException(s"CREATE INDEX $name: no such column $colName"))
      require(!m.indexes.exists(_.equalsIgnoreCase(f.name)),
        s"CREATE INDEX $name: ${f.name} is already indexed")
      require(indexable(f.dataType),
        s"CREATE INDEX $name.${f.name}: unorderable type ${f.dataType}")
      if (!claimPublish(name, m.copy(indexes = m.indexes :+ f.name),
          readManifest(name, m.version), readStats(name, m.version)))
        throw new WriteConflictException(s"CREATE INDEX $name: lost the publish race")
    }
    // The metadata version above is already PUBLISHED (the index is
    // sound — files without stats are always read); the compact below
    // only makes it SELECTIVE. A concurrent publish landing between
    // the two must therefore not surface as a CREATE INDEX failure
    // with the table left indexed-but-unsorted: retry the rebuild
    // against the new state, and if contention persists, report the
    // true situation — index live, rebuild re-issuable via COMPACT.
    var attempts = 0
    while (true) {
      try return compact(name)
      catch { case e: WriteConflictException =>
        attempts += 1
        if (attempts >= 3) throw new WriteConflictException(
          s"CREATE INDEX $name(${colName}): index metadata IS published " +
            s"(scans are correct, not yet selective) but the sorting rebuild " +
            s"kept losing publish races — re-issue `COMPACT TABLE $name` " +
            s"(idempotent) to finish it. Last error: ${e.getMessage}")
      }
    }
    -1 // unreachable
  }

  /** MVCC garbage collection: retain the newest `keep` versions,
    * delete older manifests, and remove data dirs that no retained
    * manifest references. Time travel to a vacuumed version then
    * errors; retained versions are untouched. Unreferenced dirs
    * YOUNGER than `graceMs` are kept — an optimistic writer's data dir
    * exists before any manifest references it, and a txn's staged dirs
    * (`data/txn-*`, skipped entirely) live until COMMIT. Returns the
    * number of versions removed. */
  /** Default vacuum grace: how long an UNREFERENCED data dir is left
    * alone. Must cover a writer's longest write→publish window — the
    * dir exists from writeData until claimPublish, and collectStats
    * alone can run minutes on a large indexed batch — NOT the
    * millisecond claim→pointer window StaleClaimMs bounds. Deleting a
    * younger dir would let an in-flight insert publish a manifest over
    * vanished files. */
  private val VacuumGraceMs = 30L * 60 * 1000

  def vacuum(name: String, keep: Int = 1, graceMs: Long = VacuumGraceMs): Int =
    rootLock.synchronized {
      require(keep >= 1, "vacuum: must keep at least the current version")
      val cur = currentVersion(name)
      val cutoff = math.max(0, cur - keep + 1) // retain [cutoff, cur]
      // versions pinned by OPEN transactions stay readable: snapshot
      // isolation promises their reads keep working until they close
      val pinned = pinnedByOpenTxns(name)
      val retained = (cutoff to cur).toSet ++ pinned
      val live = retained.toSeq
        .filter(v => Files.exists(manifestPath(name, v)))
        .flatMap(v => readManifest(name, v))
        .map(r => absTableDir(name).resolve(r).normalize)
        .toSet
      var removed = 0
      (0 until cutoff).filterNot(retained.contains).foreach { v =>
        if (Files.deleteIfExists(manifestPath(name, v))) removed += 1
      }
      val dataDir = tableDir(name).resolve("data")
      if (Files.exists(dataDir)) {
        val children = Files.list(dataDir)
        try children.iterator().asScala.toList.foreach { p =>
          val abs = p.toAbsolutePath.normalize
          val isStaged = p.getFileName.toString.startsWith("txn-")
          val age =
            try System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis
            catch { case _: java.io.IOException => 0L }
          if (!live.contains(abs) && !isStaged && age >= graceMs)
            TableCatalog.deleteRecursively(abs)
        } finally children.close()
      }
      removed
    }

  /** RESTORE to an earlier version: re-publishes that version's
    * manifest (the SAME data dirs and stats) as a NEW current version —
    * rollback with no data rewrite, the lakehouse time-travel write
    * (Delta RESTORE semantics: history is preserved, the bad versions
    * stay inspectable, and the restore itself is just one more
    * version). At 100 TB the cost is metadata plus the RESTRICT/FK
    * revalidation reads — never a table rewrite. The restored state is
    * revalidated against TODAY's referential neighborhood: keys that
    * vanish by restoring are RESTRICT-checked against referencing
    * children (a restore must not orphan rows any more than a DELETE
    * may), and restored FK values are re-checked against the current
    * parents. Restoring to a vacuumed version errors. */
  def restore(name: String, version: Int): Int = {
    val cur = meta(name)
    require(version >= 0 && version <= cur.version,
      s"RESTORE $name: no version $version (current ${cur.version})")
    if (version == cur.version) cur.version
    else publishWithRetry(s"RESTORE $name") { () =>
      val m = meta(name)
      require(Files.exists(manifestPath(name, version)),
        s"RESTORE $name: version $version was vacuumed")
      val fp = fkFingerprint(name, m)
      val restored = asOf(name, version)
      for (pk <- m.primaryKey) {
        val removedKeys = scan(name).select(col(pk)).distinct()
          .join(restored.select(col(pk)).distinct(), Seq(pk), "left_anti")
        restrictReferenced(name, removedKeys, referencingTables(name), scan, "RESTORE")
      }
      try validate(m, name, restored.cache())
      finally restored.unpersist()
      val dirs = readManifest(name, version)
      val stats = readStats(name, version)
      val ok = rootLock.synchronized {
        fkFingerprint(name, meta(name)) == fp && claimPublish(name, m, dirs, stats)
      }
      if (ok) Some(m.version + 1) else None
    }
  }

  /** ZERO-COPY CLONE (the lakehouse SHALLOW CLONE): `dst` becomes an
    * independent table whose version 0 is `src`'s CURRENT snapshot —
    * schema, constraints, and index stats carried over — without
    * copying any data bytes: every parquet file is HARD-LINKED into
    * the clone's own directory tree. Hard links (instead of the
    * Delta-style cross-table path reference) preserve the catalog's
    * ownership invariants: each table's manifests reference only its
    * own dirs, so DROP or VACUUM of either side can never invalidate
    * the other (the classic source-VACUUM-breaks-clones caveat does
    * not exist here), and both tables stay independently relocatable.
    * O(files) metadata operations at any table size; falls back to a
    * byte copy per file only across filesystems. Clone then diverge:
    * writes to either side are ordinary copy-on-write versions. */
  def cloneTable(src: String, dst: String): Unit = rootLock.synchronized {
    require(exists(src), s"no such table: $src")
    require(!exists(dst), s"table already exists: $dst")
    val m = meta(src)
    Files.createDirectories(tableDir(dst).resolve("versions"))
    Files.createDirectories(tableDir(dst).resolve("data"))
    val dirs = readManifest(src, m.version)
    val stats = readStats(src, m.version)
    dirs.foreach { rel =>
      val from = absTableDir(src).resolve(rel)
      val to = absTableDir(dst).resolve(rel)
      Files.createDirectories(to)
      val listing = Files.list(from)
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f)) {
            val t = to.resolve(f.getFileName.toString)
            try Files.createLink(t, f)
            catch {
              // links unsupported (FS) or cross-device: degrade to copy
              case _: UnsupportedOperationException |
                   _: java.nio.file.FileSystemException =>
                Files.copy(f, t): Unit
            }
          }
        }
      } finally listing.close()
    }
    writeManifest(dst, 0, dirs, stats)
    writeMeta(dst, m.copy(version = 0))
    journalRecord(Map(dst -> 0))
    TableCatalog.ddlEpoch(root).incrementAndGet()
  }

  /** DROP INDEX: metadata-only — the column leaves the index set, so
    * scans stop consulting its stats and future writes stop sorting on
    * it. Existing manifests keep their (now-ignored) stats entries and
    * old versions still time-travel; no data moves at any table size. */
  def dropIndex(name: String, colName: String): Int = rootLock.synchronized {
    val m = meta(name)
    require(m.indexes.exists(_.equalsIgnoreCase(colName)),
      s"DROP INDEX $name: $colName is not indexed")
    if (!claimPublish(name,
        m.copy(indexes = m.indexes.filterNot(_.equalsIgnoreCase(colName))),
        readManifest(name, m.version), readStats(name, m.version)))
      throw new WriteConflictException(s"DROP INDEX $name: lost the publish race")
    m.version + 1
  }

  /** Physical layout: an indexed table is range-partitioned and sorted
    * on its indexed columns before writing, so each parquet file covers
    * a narrow, mostly-disjoint value range — what makes the per-file
    * min/max stats selective. (The clustered-storage analog of the
    * reference's B-tree secondary index: on immutable columnar files,
    * an index IS sort order + zone metadata.) */
  private def writeData(m: TableMeta, df: DataFrame, dir: String,
      layoutOverride: Seq[String] = Nil): Unit = {
    val layout = if (layoutOverride.nonEmpty) layoutOverride else m.indexes
    val out =
      if (layout.isEmpty) df
      else {
        val cols = layout.map(col)
        df.repartitionByRange(spark.sparkContext.defaultParallelism, cols: _*)
          .sortWithinPartitions(cols: _*)
      }
    // a computed clustering key (ZORDER) orders the write but is not
    // part of the table: drop is a no-op for every other layout
    out.drop(TableCatalog.ZCol).write.mode("overwrite").parquet(dir)
  }

  /** Columns whose manifest zone maps can soundly drive [[planFiles]]
    * pruning: numerics (compared as BigDecimal) and strings (compared
    * in unsigned UTF-8 byte order) — the two families whose literal
    * and stat encodings [[cmpTyped]] compares exactly the way the
    * query itself does. Timestamps/dates/binary still get the sorted
    * layout + parquet row-group stats when indexed, just no manifest
    * pruning (their stat rendering differs from literal encoding). */
  private def prunableCols(m: TableMeta): Seq[(String, org.apache.spark.sql.types.DataType)] =
    m.schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        || f.dataType == org.apache.spark.sql.types.StringType => f.name -> f.dataType
    }

  /** Per-file min/max ZONE MAPS for EVERY prunable column — not just
    * declared indexes — read from the parquet FOOTERS the write just
    * produced: column-chunk statistics already hold exact min/max per
    * row group, so this is pure driver-side metadata IO, no Spark job
    * (the [[dirRowCount]] machinery's template; the same pass feeds
    * the dir's row count into [[dirRowsCache]], one footer open per
    * file per publish). Values render in the same string forms
    * [[cmpTyped]] compares at prune time. Paths stored table-relative.
    *
    * SOUNDNESS: a (file, column) whose footer stats are absent or
    * untrustworthy (parquet-mr returns empty statistics for legacy
    * binary sort orders), whose physical type is unexpected, or whose
    * rendered values are incomparable (NaN) records the empty
    * null-marker — [[planFiles]] always KEEPS such files. Truncated
    * binary footer stats (writer-configured) stay sound: parquet
    * truncates min down and max up, so they remain valid bounds. */
  private def collectStats(m: TableMeta, name: String, relDir: String): Seq[FileStat] = {
    val cols = prunableCols(m)
    if (cols.isEmpty) return Nil
    val abs = absTableDir(name).resolve(relDir)
    if (!Files.isDirectory(abs)) return Nil
    val listing = Files.list(abs)
    val files =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally listing.close()
    var dirRows = 0L
    val conf = spark.sessionState.newHadoopConf() // one clone per publish, not per file
    val out = files.flatMap { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        dirRows += reader.getRecordCount
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rel = relDir + "/" + p.getFileName.toString
        cols.map { case (c, dt) =>
          // fold row-group chunk stats into one per-file range; any
          // gap in any block → null-marker (file always read)
          var mn: String = null
          var mx: String = null
          var sound = true
          def less(a: String, b: String): Boolean =
            cmpTyped(dt, a, b) match {
              case Some(d) => d < 0
              case None    => sound = false; false
            }
          blocks.foreach { b =>
            if (sound) b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => sound = false
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty) sound = false
                else if (st.hasNonNullValue) {
                  (renderStat(dt, st.genericGetMin.asInstanceOf[AnyRef]),
                      renderStat(dt, st.genericGetMax.asInstanceOf[AnyRef])) match {
                    case (Some(lo), Some(hi)) =>
                      if (mn == null || less(lo, mn)) mn = lo
                      if (mx == null || less(mx, hi)) mx = hi
                    case _ => sound = false
                  }
                } // all-NULL chunk: contributes no values, stays sound
            }
          }
          if (!sound || mn == null) FileStat(rel, c, "", "")
          else FileStat(rel, c, mn, mx)
        }
      } finally reader.close()
    }
    dirRowsCache.put(s"$name|$relDir", dirRows)
    out
  }

  /** One footer stat value rendered under the column's DECLARED Spark
    * type, in the exact string form [[cmpTyped]] parses back. None for
    * an unexpected physical representation (caller keeps the file). */
  private def renderStat(
      dt: org.apache.spark.sql.types.DataType, v: AnyRef): Option[String] = {
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.types._
    dt match {
      case d: DecimalType => v match {
        // unscaled physical value → plain decimal string at the
        // declared scale (INT32/INT64/FIXED_LEN_BYTE_ARRAY backings)
        case i: java.lang.Integer => Some(new java.math.BigDecimal(
          java.math.BigInteger.valueOf(i.longValue), d.scale).toPlainString)
        case l: java.lang.Long => Some(new java.math.BigDecimal(
          java.math.BigInteger.valueOf(l.longValue), d.scale).toPlainString)
        case b: Binary => Some(new java.math.BigDecimal(
          new java.math.BigInteger(b.getBytes), d.scale).toPlainString)
        case _ => None
      }
      case StringType => v match {
        case b: Binary => Some(b.toStringUsingUTF8)
        case _ => None
      }
      case _: NumericType => v match {
        case n: java.lang.Number => Some(n.toString)
        case _ => None
      }
      case _ => None
    }
  }

  // ------------------------------------------------------------- txn
  /** Snapshot-isolation-style transaction (analog of the reference's
    * engine txn API, engine/mod.rs:49-61: scan/insert/update/delete
    * all mutate freely inside the txn, and DDL runs through the same
    * txn machinery as in engine/kv.rs).
    *
    * Staged writes land in data dirs unique to this txn
    * (`data/txn-<id>-<n>`; `data/stmt-<id>-<n>` for an autocommit
    * statement's single-statement txn), so two concurrent txns on the
    * same table never write the same path — and NO manifest or version pointer is
    * touched before commit, so staged state is invisible to readers
    * and to `asOf` time travel. A staged CREATE TABLE builds the whole
    * table inside a txn-private nested catalog (`.txn-<id>/`) and
    * publishes by atomically MOVING the table directory into the root
    * (manifests are table-relative, so they survive the move); a
    * staged DROP defers until commit. COMMIT conflict-checks
    * everything first (first-committer-wins), then publishes; ROLLBACK
    * deletes all staging outright. Reads inside the txn see its own
    * writes and its own DDL. */
  class Txn private[TableCatalog] (autocommit: Boolean) {
    private val txnId = java.util.UUID.randomUUID().toString.take(8)
    // per-table versions AND metadata pinned AT BEGIN, under ONE
    // rootLock acquisition: every read inside the txn — and every
    // conflict base — resolves against this snapshot, so the txn has
    // repeatable reads (scanning `current` would let another session's
    // commit change what this txn sees mid-flight). Metadata is pinned
    // HERE too, not at first use: a concurrent ALTER landing between
    // BEGIN and the txn's first read of a table would otherwise make
    // the txn read its pinned-version data under the post-ALTER schema
    // (e.g. a DROP COLUMN hiding a column that existed at the
    // snapshot). Costs one schema parse per table per BEGIN — small
    // against the Spark jobs a txn runs.
    private val (snapshot: Map[String, Int], metaPins) = rootLock.synchronized {
      val vs = pinVersions()
      (vs, scala.collection.mutable.Map.from(
        vs.keys.map(n => n -> TableCatalog.this.meta(n))))
    }
    // DDL epoch at BEGIN: commit's FK-relative checks compare bare
    // version numbers, which a concurrent DROP+CREATE can alias — any
    // epoch movement makes those checks conflict coarsely instead
    private val beginDdlEpoch: Long = TableCatalog.ddlEpoch(root).get()

    /** The version this open txn pins for `name`, if any — vacuum must
      * not delete manifests an open transaction still reads. */
    private[TableCatalog] def pinnedVersion(name: String): Option[Int] =
      if (closed) None else snapshot.get(name)

    // Durable pin: a SIBLING PROCESS's vacuum cannot see this JVM's
    // activeTxns, so the pinned snapshot is also written as a pin file
    // any process's vacuum reads (heartbeat-refreshed mtime; a pin
    // whose writer died goes stale and stops counting). Best-effort IO
    // — a pin write failure must not fail BEGIN (the in-process set
    // still protects same-JVM vacuums, the common case).
    private val pinPath: Path = Paths.get(root, "pins", s"txn-$txnId.json")
    try {
      Files.createDirectories(pinPath.getParent)
      val body = snapshot.map { case (t, v) => s"${esc(t)}: $v" }.mkString("{", ",", "}")
      Files.writeString(pinPath, s"""{"tables": $body}""")
    } catch { case _: java.io.IOException => () }

    /** Refresh the pin's liveness stamp — called from every txn
      * operation AND by the background heartbeat below, so an active
      * cross-process txn never looks stale even while one Spark action
      * runs longer than the staleness window without touching the txn
      * API. Operation calls also bump the idle clock that bounds the
      * daemon's lifetime. */
    private[sources] def heartbeat(): Unit = {
      lastOpMillis = System.currentTimeMillis
      refreshPin()
    }

    private def refreshPin(): Unit =
      try Files.setLastModifiedTime(pinPath,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
      catch { case _: java.io.IOException => () }

    // Operation-start heartbeats alone cannot outlive a single long
    // Spark job (scan() returns immediately; the action may run hours)
    // — a shared daemon refreshes every open txn's pin on a period
    // well inside the staleness window, and is cancelled on close.
    // BOUNDED: an ABANDONED txn (never committed/rolled back, no
    // operation for PinMaxIdleMs) stops being refreshed, so its pin
    // goes stale and any process's vacuum can reclaim — the daemon
    // must widen the liveness window for long jobs, not turn a leaked
    // txn into a permanent cross-process vacuum blocker.
    @volatile private var lastOpMillis = System.currentTimeMillis
    private val heartbeatTask: java.util.concurrent.ScheduledFuture[_] = {
      // the task holds its own future so it can CANCEL itself once the
      // idle bound passes — a leaked txn must not keep a scheduled
      // task (and, through its closure, the whole Txn) alive forever
      val self = new java.util.concurrent.atomic.AtomicReference[
        java.util.concurrent.ScheduledFuture[_]]()
      val f = TableCatalog.schedulePinHeartbeat { () =>
        if (System.currentTimeMillis - lastOpMillis < TableCatalog.PinMaxIdleMs)
          refreshPin()
        else Option(self.get()).foreach(_.cancel(false))
      }
      self.set(f)
      f
    }

    private def dropPin(): Unit = {
      heartbeatTask.cancel(false)
      try Files.deleteIfExists(pinPath) catch { case _: java.io.IOException => () }
    }
    // table -> (base version at first write, rel-dir list composing the txn view)
    private val staged = scala.collection.mutable.LinkedHashMap[String, (Int, Seq[String])]()
    private val createdDirs = scala.collection.mutable.ArrayBuffer[Path]()
    private val droppedTables = scala.collection.mutable.LinkedHashSet[String]()
    private var seq = 0
    private var closed = false

    // txn-private catalog holding tables CREATEd inside this txn. Its
    // FK targets and table scans resolve through the txn's FULL view
    // (txn-created tables first, then the outer catalog), so a staged
    // CREATE TABLE ... REFERENCES outer_table works exactly like the
    // unstaged one — including orphan-insert validation.
    private lazy val stagedCat: TableCatalog =
      new TableCatalog(spark, Paths.get(root, s".txn-$txnId").toString) {
        override def scan(n: String): DataFrame =
          if (exists(n)) super.scan(n) else Txn.this.scan(n)
        override protected def fkTargetMeta(t: String): Option[TableMeta] =
          (if (exists(t)) Some(meta(t)) else None)
            .orElse(
              if (TableCatalog.this.exists(t) && !droppedTables.contains(t))
                Some(TableCatalog.this.meta(t))
              else None)
      }
    private val createdTables = scala.collection.mutable.LinkedHashSet[String]()
    // index stats collected for each staged dir at write time
    private val dirStats = scala.collection.mutable.Map[String, Seq[FileStat]]()

    private def open(): Unit = { require(!closed, "transaction closed"); heartbeat() }
    private def visible(name: String): Unit =
      require(!droppedTables.contains(name), s"no such table: $name (dropped in txn)")

    /** Tables this txn created (visible only inside it until commit). */
    def createdTableNames: Seq[String] = createdTables.toSeq
    /** Tables this txn dropped (still visible to everyone else). */
    def droppedTableNames: Seq[String] = droppedTables.toSeq

    // metaPins populated at BEGIN (see the snapshot initializer); the
    // getOrElseUpdate is a fallback for tables outside the snapshot
    // (cannot normally be read — visible()/snapshotVersion guard)
    private def pinnedMetaOf(name: String): TableMeta =
      metaPins.getOrElseUpdate(name, TableCatalog.this.meta(name))

    /** Schema metadata under the txn's view of the catalog. */
    def metaOf(name: String): TableMeta = {
      visible(name)
      if (createdTables.contains(name)) stagedCat.meta(name)
      else pinnedMetaOf(name)
    }

    /** Staged CREATE TABLE: fully usable inside the txn, invisible
      * outside until commit. */
    def createTable(
        name: String,
        schema: StructType,
        primaryKey: Option[String] = None,
        notNull: Seq[String] = Nil,
        unique: Seq[String] = Nil,
        defaults: Map[String, Any] = Map.empty,
        references: Map[String, String] = Map.empty,
        indexes: Seq[String] = Nil): Unit = {
      open()
      require(!TableCatalog.this.exists(name) || droppedTables.contains(name),
        s"table already exists: $name")
      require(!createdTables.contains(name), s"table already exists: $name")
      stagedCat.createTable(name, schema, primaryKey, notNull, unique,
        defaults, references, indexes)
      createdTables += name
    }

    /** Referencing tables under the txn's view: outer tables that were
      * IN the BEGIN snapshot (a table committed after BEGIN is
      * invisible to this txn — consulting it would also crash on the
      * missing snapshot version) minus txn-dropped, plus txn-created. */
    private def refsOf(name: String): Seq[(String, String)] =
      referencingTables(name).filter { case (t, _) =>
        snapshot.contains(t) && !droppedTables.contains(t)
      } ++
        createdTables.toSeq.flatMap(t =>
          stagedCat.meta(t).references.collect { case (c, `name`) => (t, c) })

    /** Staged DROP TABLE: gone inside the txn, untouched outside until
      * commit. Dropping a table created in this txn just unstages it.
      * Table-level RESTRICT under the txn view (children must be
      * dropped first, within or before this txn). */
    def dropTable(name: String): Unit = {
      open()
      if (createdTables.contains(name)) {
        stagedCat.dropTable(name)
        createdTables -= name
      } else {
        visible(name)
        require(TableCatalog.this.exists(name), s"no such table: $name")
        val refs = refsOf(name).map(_._1).distinct
        require(refs.isEmpty,
          s"DROP TABLE $name restricted: referenced by ${refs.mkString(", ")} (drop them first)")
        droppedTables += name
        staged.remove(name) // staged writes to a table we then drop die with it
      }
    }

    private def snapshotVersion(name: String): Int =
      snapshot.getOrElse(name,
        throw new IllegalArgumentException(s"no such table in txn snapshot: $name"))

    /** The txn's view of `name`: txn-created table, staged dirs if
      * written, else the version pinned at BEGIN. */
    def scan(name: String): DataFrame = {
      visible(name)
      heartbeat()
      if (createdTables.contains(name)) stagedCat.scan(name)
      else staged.get(name) match {
        case Some((_, dirs)) =>
          frameOf(pinnedMetaOf(name).schema, resolveDirs(name, dirs))
        case None => frameOf(pinnedMetaOf(name).schema,
          resolveDirs(name, readManifest(name, snapshotVersion(name))))
      }
    }

    /** FK-parent resolution: the txn view, except for a table not
      * physically under this catalog's root — the outer table a staging
      * catalog's FK names — which resolves through the catalog's own
      * overridable scan (the staging catalog's reads through to the
      * outer txn's view). */
    private def fkScan(name: String): DataFrame =
      if (createdTables.contains(name) || TableCatalog.this.exists(name)) scan(name)
      else TableCatalog.this.scan(name)

    private def baseOf(name: String): Int =
      staged.get(name).map(_._1).getOrElse(snapshotVersion(name))

    private def viewDirs(name: String): Seq[String] =
      staged.get(name).map(_._2)
        .getOrElse(readManifest(name, snapshotVersion(name)))

    // an explicit txn stages under `data/txn-*`, which vacuum never
    // collects (an open txn may stage for longer than any grace
    // window); a single-statement txn publishes within its statement,
    // so vacuum's grace window covers its staging and its dirs stay
    // collectable once superseded
    private def freshDir(name: String): String = {
      seq += 1
      val rel = s"data/${if (autocommit) "stmt" else "txn"}-$txnId-$seq"
      createdDirs += absTableDir(name).resolve(rel)
      rel
    }

    /** Staged append: validated against the txn view (read-your-writes,
      * txn-view FK resolution), written to a txn-unique dir. */
    def insert(name: String, df: DataFrame): Unit = {
      open(); visible(name)
      if (createdTables.contains(name)) { stagedCat.insert(name, df); return }
      val m = pinnedMetaOf(name)
      val base = baseOf(name)
      val dirs = viewDirs(name)
      // cache across validation + write: the batch is often an
      // expensive upstream plan, and without the cache the validation
      // aggregate, the clash/FK joins and the parquet write would each
      // re-run it from the source
      val aligned = applyDefaults(name, m, df).cache()
      val rel = freshDir(name)
      // an unwritten table's view IS its pinned manifest, whose zone
      // maps range-prune the existing side of the key-uniqueness check;
      // staged dirs carry no manifest yet → full-view check
      val pruned =
        if (staged.contains(name)) None
        else Some((f: Column) => frameOf(m.schema,
          resolveDirs(name, planFilesAt(name, snapshotVersion(name), f)._1)).filter(f))
      try {
        validateInsert(m, name, aligned,
          existing = () => scan(name), pruned = pruned, fkResolve = fkScan)
        writeData(m, aligned, absTableDir(name).resolve(rel).toString)
      } finally aligned.unpersist() // failed validation must not leak cache
      dirStats(rel) = collectStats(m, name, rel)
      staged(name) = (base, dirs :+ rel)
    }

    /** Staged copy-on-write UPDATE: the txn view is rewritten into one
      * txn-unique snapshot dir; SET expressions see the pre-update row.
      * PK-changing updates are RESTRICT-checked against the txn's
      * referencing-table view. The target binds ALIASED with the
      * table's name (here and in DELETE), so a predicate may qualify
      * target columns the way standard SQL allows (`DELETE FROM t WHERE
      * EXISTS (SELECT 1 FROM u WHERE u.k = t.k)` — the correlated outer
      * reference `t.k` needs the alias to resolve). */
    def update(name: String, set0: Map[String, Column], where: Column): Unit = {
      open(); visible(name)
      if (createdTables.contains(name)) { stagedCat.update(name, set0, where); return }
      val m = pinnedMetaOf(name)
      val set = resolveSetKeys(m, name, set0)
      val base = baseOf(name)
      for (pk <- m.primaryKey if set.contains(pk)) {
        val changedKeys = scan(name).alias(name).filter(coalesce(where, lit(false)))
          .filter(!(set(pk).cast(m.schema(pk).dataType) <=> col(pk)))
          .select(col(pk)).distinct()
        restrictReferenced(name, changedKeys, refsOf(name), scan, "UPDATE")
      }
      val updated = updatedFrame(m, set, where, scan(name).alias(name))
      val rel = freshDir(name)
      try {
        validate(m, name, updated.cache(), fkScan)
        writeData(m, updated, absTableDir(name).resolve(rel).toString)
      } finally updated.unpersist() // failed validation must not leak cache
      dirStats(rel) = collectStats(m, name, rel)
      staged(name) = (base, Seq(rel))
    }

    /** Staged MERGE (upsert on the primary key) against the txn view
      * (shared [[mergedFrame]]). */
    def merge(name: String, source: DataFrame): Unit = {
      open(); visible(name)
      if (createdTables.contains(name)) { stagedCat.merge(name, source); return }
      val m = pinnedMetaOf(name)
      val base = baseOf(name)
      val merged = mergedFrame(m, name, source, scan(name))
      val rel = freshDir(name)
      try {
        validate(m, name, merged.cache(), fkScan)
        writeData(m, merged, absTableDir(name).resolve(rel).toString)
      } finally merged.unpersist()
      dirStats(rel) = collectStats(m, name, rel)
      staged(name) = (base, Seq(rel))
    }

    /** Staged clause-form MERGE (USING source) against the txn view
      * (shared [[mergeUsingFrame]]), with FK RESTRICT against the
      * txn's referencing-table view. */
    def mergeUsing(name: String, source: DataFrame, tAlias: String,
        sAlias: String, cond: Column,
        matched: Seq[TableCatalog.MergeClause],
        insert: Seq[TableCatalog.InsertClause],
        bySource: Seq[TableCatalog.MergeClause] = Nil): Unit = {
      open(); visible(name)
      if (createdTables.contains(name)) {
        stagedCat.mergeUsing(name, source, tAlias, sAlias, cond, matched,
          insert, bySource)
        return
      }
      val m = pinnedMetaOf(name)
      val base = baseOf(name)
      mergeUsingRestrict(m, name, scan(name), source, tAlias, sAlias,
        cond, matched, bySource, refsOf(name), scan)
      val merged = mergeUsingFrame(m, name, scan(name), source, tAlias,
        sAlias, cond, matched, insert, bySource)
      val rel = freshDir(name)
      try {
        validate(m, name, merged.cache(), fkScan)
        writeData(m, merged, absTableDir(name).resolve(rel).toString)
      } finally merged.unpersist()
      dirStats(rel) = collectStats(m, name, rel)
      staged(name) = (base, Seq(rel))
    }

    def explainMergeUsing(name: String, source: DataFrame, tAlias: String,
        sAlias: String, cond: Column,
        matched: Seq[TableCatalog.MergeClause],
        insert: Seq[TableCatalog.InsertClause],
        bySource: Seq[TableCatalog.MergeClause] = Nil): DataFrame = {
      open(); visible(name)
      val m = metaOf(name)
      mergeUsingFrame(m, name, scan(name), source, tAlias, sAlias, cond,
        matched, insert, bySource, validate = false)
    }

    /** Staged copy-on-write DELETE with FK RESTRICT against the txn
      * view of every referencing table. */
    def delete(name: String, where: Column): Unit = {
      open(); visible(name)
      if (createdTables.contains(name)) { stagedCat.delete(name, where); return }
      val m = pinnedMetaOf(name)
      val base = baseOf(name)
      for (pk <- m.primaryKey) {
        val removedKeys = scan(name).alias(name).filter(coalesce(where, lit(false)))
          .select(col(pk)).distinct()
        restrictReferenced(name, removedKeys, refsOf(name), scan, "DELETE")
      }
      val remaining = deletedFrame(scan(name).alias(name), where)
      val rel = freshDir(name)
      writeData(m, remaining, absTableDir(name).resolve(rel).toString)
      dirStats(rel) = collectStats(m, name, rel)
      staged(name) = (base, Seq(rel))
    }

    // ------------------------------------------- txn-aware EXPLAIN DML
    // The reference's Explain(Box<Statement>) plans ANY statement in
    // ANY context (ast.rs:17) — including DML inside an open
    // transaction. These build the frame the staged verb WOULD write,
    // through the SAME shared frame constructors the outer explain
    // path uses, but reading the TXN VIEW (staged dirs, txn-created
    // tables, metadata pinned at BEGIN) instead of the published
    // snapshot. No validation, no write, no staging — a plan only.
    def explainInsert(name: String, df: DataFrame): DataFrame = {
      open(); visible(name)
      applyDefaults(name, metaOf(name), df)
    }
    def explainUpdate(name: String, set0: Map[String, Column], where: Column): DataFrame = {
      open(); visible(name)
      val m = metaOf(name)
      updatedFrame(m, resolveSetKeys(m, name, set0), where, scan(name).alias(name))
    }
    def explainDelete(name: String, where: Column): DataFrame = {
      open(); visible(name)
      deletedFrame(scan(name).alias(name), where)
    }
    def explainMerge(name: String, source: DataFrame): DataFrame = {
      open(); visible(name)
      val m = metaOf(name)
      mergedFrame(m, name, source, scan(name), validate = false)
    }

    /** Publish every staged write and DDL (see [[publish]]). A lost
      * race throws an IllegalArgumentException with nothing published;
      * call rollback() to drop the staging. */
    def commit(): Unit = { publish(); () }

    /** First-committer-wins publish: conflict-check every table (writes
      * AND DDL), then publish — manifests + version pointers for
      * writes, an atomic directory move for created tables, directory
      * deletion for drops. (The reference gets multi-table atomicity
      * from its Raft log; on a filesystem each individual publish is an
      * atomic rename.) Returns the version each written or created
      * table was published at. */
    private[TableCatalog] def publish(): Map[String, Int] = rootLock.synchronized {
      // the root lock spans conflict check AND publish: without it a
      // concurrent commit could pass the same version check (TOCTOU)
      // and both would publish base+1, silently losing one txn's writes
      open()
      def conflictUnless(ok: Boolean, msg: => String): Unit =
        if (!ok) throw new TableCatalog.CommitConflict(msg)
      // any outer DDL since BEGIN (another txn's committed CREATE/DROP,
      // or a direct one) can alias version numbers — a DROP+CREATE
      // lands the recreated table back at its old version, which bare
      // version comparison cannot see (and whose DROP deleted this
      // txn's staged dirs). DDL is rare; conflict coarsely.
      val ddlMoved = TableCatalog.ddlEpoch(root).get() != beginDdlEpoch
      staged.foreach { case (name, (base, _)) =>
        conflictUnless(!ddlMoved && currentVersion(name) == base,
          s"write-write conflict on $name")
      }
      // FK-relative serialization check: this txn's RESTRICT and FK
      // validations ran against the BEGIN snapshot of the staged
      // tables' parents and children. If any of those moved since —
      // e.g. another commit removed a parent key this txn's staged
      // child row references (that commit's own checks cannot see
      // unpublished staged rows) — committing would publish a
      // referential-integrity violation. Conflict instead.
      def checkRelated(owner: String, related: Set[String]): Unit =
        related.filter(TableCatalog.this.exists).foreach { t =>
          snapshot.get(t) match {
            case Some(base) => conflictUnless(!ddlMoved && currentVersion(t) == base,
              s"serialization conflict: $t (FK-related to $owner) changed since BEGIN")
            case None => throw new TableCatalog.CommitConflict(
              s"serialization conflict: $t (FK-related to $owner) created since BEGIN")
          }
        }
      staged.keys.foreach { name =>
        val m = meta(name)
        checkRelated(name, (m.references.values.toSet ++
          referencingTables(name).map(_._1).toSet) - name -- staged.keys)
      }
      // txn-CREATED tables validated their FK rows against outer
      // parents too (through the txn view) — those parents must be
      // equally unmoved, or the moved parent's RESTRICT check could
      // not have seen this txn's invisible child rows
      createdTables.foreach { name =>
        checkRelated(name,
          stagedCat.meta(name).references.values.toSet -- createdTables -- staged.keys)
      }
      createdTables.foreach { name =>
        conflictUnless(!TableCatalog.this.exists(name) || droppedTables.contains(name),
          s"write-write conflict on $name: created concurrently")
      }
      droppedTables.foreach { name =>
        require(TableCatalog.this.exists(name), s"no such table: $name")
        // re-check table-level RESTRICT against the LIVE catalog now,
        // BEFORE anything publishes: a child table created concurrently
        // since BEGIN must fail the commit here, not mid-publish inside
        // dropTable (which would leave a half-published txn)
        val refs = referencingTables(name).map(_._1)
          .filterNot(droppedTables.contains).distinct
        conflictUnless(refs.isEmpty,
          s"DROP TABLE $name conflict: now referenced by ${refs.mkString(", ")}")
      }
      // claim phase: create every staged table's next manifest
      // (atomic CREATE_NEW — the cross-process conflict gate, with a
      // dead writer's stale claim reclaimed) BEFORE any version pointer
      // moves. A lost claim un-claims what this commit already created
      // and aborts with nothing published.
      val claims = scala.collection.mutable.ArrayBuffer[(String, TableMeta)]()
      try {
        staged.foreach { case (name, (_, dirs)) =>
          val m = meta(name)
          // index stats: inherit entries for dirs the new version keeps,
          // add the stats collected for this txn's own dirs
          val kept = dirs.toSet
          val inherited = readStats(name, m.version)
            .filter(st => kept(st.path.take(st.path.lastIndexOf('/'))))
          val fresh = dirs.flatMap(d => dirStats.getOrElse(d, Nil))
          conflictUnless(claimVersion(name, m.version, dirs, inherited ++ fresh),
            s"write-write conflict on $name: version ${m.version + 1} claimed by another writer")
          claims += (name -> m)
        }
      } catch {
        // ANY failure mid-claim (conflict, IO error, manifest parse
        // error) must un-claim every manifest this commit already
        // created — a surviving orphan claim would wedge that table's
        // writes until the stale-claim reclaim kicks in
        case scala.util.control.NonFatal(e) =>
          claims.foreach { case (name, m) =>
            Files.deleteIfExists(manifestPath(name, m.version + 1)) }
          throw e
      }
      // point of no return: from here staged dirs become referenced by
      // published version pointers, so a rollback() after a mid-publish
      // failure must NOT delete them (that would corrupt the committed
      // versions) — hand the cleanup list to this commit and empty the
      // rollback's.
      val cleanupCandidates = createdDirs.toList
      createdDirs.clear()
      if (!movePointers(claims.toSeq)) {
        createdDirs ++= cleanupCandidates // nothing moved: rollback may delete
        throw new TableCatalog.CommitConflict(
          s"write-write conflict on ${claims.map(_._1).mkString(", ")}")
      }
      droppedTables.foreach(n => TableCatalog.this.dropTableImpl(n, journal = false))
      createdTables.foreach { name =>
        Files.move(Paths.get(root, s".txn-$txnId", name), tableDir(name),
          StandardCopyOption.ATOMIC_MOVE)
      }
      // ONE journal line for the whole commit: every staged write,
      // created table (at the version its staging reached) and drop
      // becomes visible at one global version — the multi-table
      // atomicity the reference gets from its Raft log
      val published = claims.map { case (name, m) => name -> (m.version + 1) }.toMap ++
        createdTables.map(n => n -> TableCatalog.this.quickVersion(n)).toMap
      journalRecord(published, droppedTables.toSeq)
      // published DDL moves the epoch in-flight commits and
      // fingerprints check, exactly like direct createTable/dropTable
      if (createdTables.nonEmpty) TableCatalog.ddlEpoch(root).incrementAndGet()
      closed = true
      // staged dirs replaced mid-txn (e.g. insert then update) are
      // unreferenced by the committed manifests — MVCC garbage; drop
      val live = staged.flatMap { case (name, (_, dirs)) =>
        dirs.map(absTableDir(name).resolve(_))
      }.toSet
      cleanupCandidates.filterNot(live.contains).foreach(deleteDir)
      deleteDir(Paths.get(root, s".txn-$txnId"))
      TableCatalog.releaseLock(Paths.get(root, s".txn-$txnId").toString)
      dropPin()
      activeTxns.remove(this)
      published
    }

    /** Abandon all staged state: staged dirs and the txn-private
      * catalog are deleted, nothing was ever visible outside. */
    def rollback(): Unit = {
      staged.clear()
      createdTables.clear()
      droppedTables.clear()
      createdDirs.foreach(deleteDir)
      createdDirs.clear()
      deleteDir(Paths.get(root, s".txn-$txnId"))
      TableCatalog.releaseLock(Paths.get(root, s".txn-$txnId").toString)
      dropPin()
      closed = true
      activeTxns.remove(this)
    }

    private def deleteDir(p: Path): Unit = TableCatalog.deleteRecursively(p)
  }

  // open transactions in THIS process; cross-process open txns are
  // covered by their pin files (see Txn.pinPath + pinnedByPinFiles)
  private val activeTxns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Txn]()

  /** A pin file idle longer than this stops protecting its versions —
    * its writer is presumed dead. Live txns refresh at every operation
    * start AND from the background heartbeat daemon (period = a
    * quarter of this window), so even a txn sitting inside one
    * multi-hour Spark action never looks stale while its JVM lives. */
  private val PinStaleMs = 60L * 60 * 1000

  /** Versions of `name` pinned by ANY process's open transactions —
    * their pin files under `<root>/pins/`, staleness-filtered. Stale
    * pins are garbage-collected here (vacuum is the only reader that
    * acts on them). */
  private def pinnedByPinFiles(name: String): Set[Int] = {
    val dir = Paths.get(root, "pins")
    if (!Files.isDirectory(dir)) return Set.empty
    val listing = Files.list(dir)
    val files = try listing.iterator().asScala.toList finally listing.close()
    files.flatMap { p =>
      val age =
        try System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => Long.MaxValue } // gone = no pin
      if (age >= PinStaleMs) {
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
        Nil
      } else {
        val json = try Files.readString(p) catch { case _: java.io.IOException => "" }
        jsonObjBody(json, "tables").toSeq.flatMap(body =>
          "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(body)
            .collect { case m if unesc(m.group(1)) == name => m.group(2).toInt })
      }
    }.toSet
  }

  private def pinnedByOpenTxns(name: String): Set[Int] =
    activeTxns.asScala.flatMap(_.pinnedVersion(name)).toSet ++ pinnedByPinFiles(name)

  def begin(): Txn = register(new Txn(autocommit = false))

  private def register(t: Txn): Txn = { activeTxns.add(t); t }
}

object TableCatalog {

  /** Publish raced with another writer and lost — the transaction (or
    * statement) aborted with nothing published; retry against the new
    * current version. */
  class WriteConflictException(msg: String) extends IllegalStateException(msg)

  /** A COMMIT lost a first-committer-wins race (write-write,
    * FK-relative or DDL) and published nothing. An
    * IllegalArgumentException, as an explicit COMMIT's conflict always
    * was; autocommit DML retries on it. */
  private[sources] final class CommitConflict(msg: String)
    extends IllegalArgumentException(msg)

  /** The WHEN MATCHED action of a clause-form MERGE (USING source). */
  sealed trait MergeAction
  object MergeAction {
    final case class Update(set: Map[String, Column]) extends MergeAction
    case object Delete extends MergeAction
  }

  /** One `WHEN MATCHED [AND cond] THEN <action>` clause. Clauses apply
    * in statement order, first-match-wins (the SQL:2003 / Delta rule);
    * a NULL condition is no-match (null-safe gating). */
  final case class MergeClause(cond: Option[Column], action: MergeAction)

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT ...` clause — same
    * ordered first-match-wins rule over the unmatched source rows; a
    * source row matching no insert clause is not inserted. */
  final case class InsertClause(cond: Option[Column], values: Map[String, Column])

  /** Name of the transient Morton-key column a ZORDER compact sorts
    * by; never written (dropped by [[TableCatalog.writeData]]). */
  private[sources] val ZCol = "__graft_zorder"

  /** EPHEMERAL catalog root: created now, deleted on
    * `FrameCache.clear()` or JVM exit — the lifecycle the staged
    * sentinel streams already use. The bounded verification/bench
    * queries that build a catalog per run (st07/st10/st13/e02) go
    * through here, so repeated rounds cannot accumulate orphan
    * parquet trees under /tmp. Frames returned over such a catalog
    * are only valid until the pipeline's clear — the same contract
    * as the persisted FrameCache stages. */
  def tempRoot(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    if (tempHooks.compareAndSet(false, true)) {
      graft.operators.FrameCache.onClear(() => dropTempRoots())
      Runtime.getRuntime.addShutdownHook(new Thread(() => dropTempRoots()))
    }
    p.toString
  }
  private val tempRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private val tempHooks = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def dropTempRoots(): Unit = {
    tempRoots.forEach(p => try deleteRecursively(p) catch { case _: Throwable => () })
    tempRoots.clear()
  }

  // one lock per normalized catalog root — every TableCatalog instance
  // over the same directory (in this JVM) shares it
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[sources] def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** Forget a root's lock entry once the root is gone — every txn's
    * private staging catalog registers one, and a long-lived JVM
    * running many transactions must not grow the lock map forever. */
  private[sources] def releaseLock(root: String): Unit = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString
    rootLocks.remove(key)
    ddlEpochs.remove(key)
    lastGs.remove(key)
  }

  // Monotone per-root DDL counter: bumped by every CREATE/DROP TABLE so
  // optimistic writers can tell a DROP+CREATE (which resets the table's
  // version to 0, aliasing the old numbers) from an untouched table.
  // In-process only — cross-process DDL racing DML is out of scope (the
  // cross-process claims arbitrate same-table version races only).
  private val ddlEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private[sources] def ddlEpoch(root: String): java.util.concurrent.atomic.AtomicLong =
    ddlEpochs.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new java.util.concurrent.atomic.AtomicLong())

  // Last journal global version OBSERVED per root (0 = not yet read):
  // makes the happy-path journal append one CREATE_NEW instead of a
  // directory listing. Staleness is harmless — CREATE_NEW collisions
  // re-list and retry above the true maximum.
  private val lastGs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private[sources] def lastG(root: String): java.util.concurrent.atomic.AtomicLong =
    lastGs.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new java.util.concurrent.atomic.AtomicLong())

  // Single shared daemon thread refreshing open txns' pin-file mtimes
  // (Txn.heartbeatTask): one thread serves every catalog in the JVM;
  // daemon, so it never blocks JVM exit. The period is configurable
  // for tests via -Dgraft.pin.heartbeat.ms (default: a quarter of the
  // 1 h pin staleness window). Cancelled tasks leave the queue at once:
  // every DML statement opens (and closes) a txn, and a cancelled task
  // waiting out its period would keep its Txn reachable until then.
  private lazy val pinScheduler = {
    val s = new java.util.concurrent.ScheduledThreadPoolExecutor(1, { (r: Runnable) =>
      val t = new Thread(r, "graft-pin-heartbeat"); t.setDaemon(true); t
    })
    s.setRemoveOnCancelPolicy(true)
    s
  }

  /** How long an open txn may sit with NO operation before its daemon
    * stops refreshing the pin (it then goes stale after PinStaleMs and
    * becomes vacuum-reclaimable everywhere). Bounds the blast radius
    * of a leaked, never-closed txn; any single Spark action is
    * expected to finish well inside it. */
  private[sources] val PinMaxIdleMs: Long = 24L * 60 * 60 * 1000

  private[sources] def schedulePinHeartbeat(task: Runnable): java.util.concurrent.ScheduledFuture[_] = {
    val period = sys.props.get("graft.pin.heartbeat.ms")
      .flatMap(_.toLongOption).getOrElse(15L * 60 * 1000)
    pinScheduler.scheduleWithFixedDelay(
      task, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  private val suffixCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Writer-unique data-dir suffix: pid-scoped random plus a counter,
    * so concurrent writers (threads or processes) never target the
    * same physical dir for the same logical version. */
  private[sources] def freshSuffix(): String =
    f"${java.util.UUID.randomUUID().toString.take(8)}-${suffixCounter.incrementAndGet()}%d"

  /** Recursive delete with the listing stream closed (a leaked
    * Files.list holds a directory fd until GC). Shared by dropTable,
    * txn staging cleanup, and the streaming fixtures. */
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }

  /** Durable schema metadata of one managed table. */
  case class TableMeta(
    schema: StructType,
    primaryKey: Option[String],
    notNull: Seq[String],
    unique: Seq[String],
    defaults: Map[String, Any],
    references: Map[String, String], // column -> referenced table (FK to its PK)
    version: Int,
    indexes: Seq[String] = Nil) // secondary-indexed columns (schema.rs:154-155)

  /** Per-file column statistics recorded in the manifest for indexed
    * columns — the pruning metadata a secondary index reduces to on
    * immutable parquet (values stored as strings, compared under the
    * column's declared type). */
  case class FileStat(path: String, column: String, min: String, max: String)
}

/** StructType JSON round-trip without exposing private Spark API. */
private[sources] object DataTypeBridge {
  def structFromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
}
