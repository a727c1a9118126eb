package graft

import graft.sources.TableCatalog
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** SQL-text front over the graft catalog: the full entangleDB
  * statement surface (/root/reference/src/sql/parser/ast.rs:10-50)
  * executed Spark-first.
  *
  * Design split: *statement* routing (BEGIN/COMMIT/ROLLBACK, CREATE/
  * DROP TABLE, INSERT/UPDATE/DELETE, EXPLAIN, SELECT) is handled here,
  * while every *expression* — WHERE predicates, SET values, SELECT
  * bodies, VALUES tuples — is delegated to Spark's own SQL parser
  * (`expr(...)` / `spark.sql`), so the expression grammar is Catalyst's
  * superset of the reference's (ast.rs:130-158) and everything runs
  * through the same optimizer and codegen as the DataFrame API.
  * Rewrites restore the reference tokens Catalyst reads differently:
  * `^`/postfix `!` (incl. the reference's tight prefix-sign binding:
  * `-2 ^ 2` = `(-2)^2`) and `NAN`/`INFINITY` literals. One precedence
  * delta is deliberate: the reference's prefix NOT binds at prec 9
  * (`NOT a = b` ≡ `(NOT a) = b`, parser/mod.rs:712-725) while
  * Catalyst uses standard SQL (`NOT (a = b)`) — for every query the
  * reference ACCEPTS (NOT over booleans only), the two trees are
  * value-equivalent (both are XOR over booleans); queries the
  * reference REJECTS (NOT over non-booleans, `NOT x LIKE y`) get
  * standard SQL semantics here instead of an error.
  *
  * MVCC: `BEGIN READ ONLY AS OF SYSTEM TIME g` reads the catalog at
  * GLOBAL commit version g, resolved through the root commit journal
  * ([[graft.sources.TableCatalog.snapshotAt]]) — one global MVCC
  * timestamp exactly like the reference (ast.rs:11-14): a multi-table
  * txn commit becomes visible at one g atomically, and tables created
  * after g are invisible. Plain `BEGIN READ ONLY` pins every table's
  * version at BEGIN (the snapshot-at-now form); `BEGIN` starts a
  * staged-write transaction (TableCatalog.Txn) with reads pinned at
  * BEGIN, read-your-writes and rollback.
  */
class GraftSQL(spark: SparkSession, val catalog: TableCatalog) {

  import GraftSQL.{showTablesRe, showCreateRe, showHistoryRe, descRe, ctasRe, createViewRe, dropViewRe, insertSelectRe, createRe, dropRe, insertRe, mergeRe, mergeUsingRe, updateRe, deleteRe, compactRe, zorderRe, compactJournalRe, alterAddRe, alterDropRe, vacuumRe, restoreRe, cloneRe, createIndexRe, dropIndexRe}

  GraftSession.prepare(spark)

  private var txn: Option[catalog.Txn] = None
  private var readOnly: Boolean = false
  // READ ONLY pins per-table versions captured AT BEGIN (or resolved
  // from the commit journal for AS OF) — without this each SELECT
  // would read the latest commit (non-repeatable reads, not the
  // snapshot MVCC semantics the reference gives)
  private var roVersions: Option[Map[String, Int]] = None
  /** Session state observable by clients (the reference client varies
    * its prompt by txn state — entanglesql.rs:215-219). */
  def inTransaction: Boolean = txn.isDefined
  def inReadOnly: Boolean = readOnly

  /** Tables visible to the current session view (the reference
    * client's !tables — entanglesql.rs:165-170). */
  def visibleTables: Seq[String] = tableNames

  // views the last SELECT registered (observable registration scope)
  private[graft] var lastRegistered: Seq[String] = Nil
  // (kept files, total files) per table the last SELECT index-pruned —
  // plan observability for specs, like the reference's EXPLAIN showing
  // an IndexLookup node instead of a Scan
  private[graft] var lastPruned: Map[String, (Int, Int)] = Map.empty

  private val typeMap: Map[String, DataType] = Map(
    "BOOLEAN" -> BooleanType, "BOOL" -> BooleanType,
    "INTEGER" -> LongType, "INT" -> LongType, "BIGINT" -> LongType,
    "FLOAT" -> DoubleType, "DOUBLE" -> DoubleType,
    "STRING" -> StringType, "TEXT" -> StringType, "VARCHAR" -> StringType,
    "CHAR" -> StringType)

  /** Tables known to the catalog (one listing — TableCatalog's),
    * adjusted for the active txn's staged DDL: its created tables are
    * visible, its dropped tables are not. */
  private def tableNames: Seq[String] = {
    val base = catalog.listTables()
    (txn match {
      case Some(t) => base.filterNot(t.droppedTableNames.contains) ++ t.createdTableNames
      case None    =>
        // a READ ONLY snapshot sees only tables that existed at BEGIN
        roVersions.map(vs => base.filter(vs.contains)).getOrElse(base)
    }).sorted
  }

  private def currentScan(name: String): DataFrame =
    txn.map(_.scan(name))
      .orElse(roVersions.map(vs => catalog.asOf(name,
        vs.getOrElse(name, sys.error(s"no such table in snapshot: $name")))))
      .getOrElse(catalog.scan(name))

  /** Bind the session's snapshot views for every table / session view
    * referenced anywhere in `stmt` — notably inside the IN / EXISTS /
    * scalar subqueries of a DML WHERE or SET expression — for the
    * duration of `body`. The predicate Column a DML statement carries
    * is analyzed lazily INSIDE the catalog call (where it is bound to
    * the target frame); a subquery in it holds UnresolvedRelations
    * that resolve against the temp-view namespace at that moment, so
    * the views must be registered around the catalog call, against the
    * same snapshot a SELECT would see (txn staging / READ ONLY pins /
    * session views included). The target table itself is bound by the
    * catalog directly — a subquery naming the target reads the
    * pre-statement snapshot, standard SQL's statement-snapshot rule. */
  private def withStatementBindings[A](stmt: String)(body: => A): A = {
    val masked = GraftSQL.maskStrings(stmt)
    val tableBindings = tableNames.filter(GraftSQL.referencedIn(masked, _))
      .map(n => n -> currentScan(n))
    val viewBindings = viewDefs.keys.toSeq.filter(GraftSQL.referencedIn(masked, _))
      .map(n => n -> runSelect(viewDefs(n), Set(n)))
    GraftSession.withTempViews(spark, tableBindings ++ viewBindings)(body)
  }

  /** Execute one SQL statement; returns a (possibly empty) DataFrame —
    * DML returns a single-row status frame, like the reference's
    * ResultSet::Create/Insert/... variants. */
  def execute(sql: String): DataFrame = {
    import spark.implicits._
    val s = GraftSQL.rewriteOps(sql.trim.stripSuffix(";").trim)
    val up = s.toUpperCase

    // EXPLAIN ANALYZE <stmt>: execute, then report the plans that ran
    // WITH their SQLMetrics — the observability surface a user reaches
    // for when a statement is slow (plain EXPLAIN never executes; this
    // variant is documented as executing, like PostgreSQL's).
    s match {
      case GraftSQL.analyzeRe(inner) => return explainAnalyze(inner)
      case _ =>
    }

    if (up.startsWith("EXPLAIN")
        && (up.length == 7 || up(7).isWhitespace)) { // EXPLAIN\nSELECT too
      val inner = s.drop("EXPLAIN".length).trim
      val innerUp = inner.toUpperCase
      // EXPLAIN plans, it never executes (reference ast.rs:17 plans ANY
      // statement, plan/mod.rs:51-125 dumps the node tree). SELECTs are
      // side-effect-free so building the frame is safe; DML explains
      // the would-be-written snapshot frame — built by the SAME frame
      // constructors the write paths use — without validating, writing,
      // or publishing a version. Residual DDL (CREATE/DROP/ALTER...) is
      // metadata-only and keeps the routing line.
      if (innerUp.startsWith("SELECT") || innerUp.startsWith("WITH")) {
        val df = runSelect(inner)
        // surface the manifest pruning the bound scans applied — the
        // reference's EXPLAIN shows an IndexLookup node instead of a
        // Scan; here the visible analog is kept/total data files
        val pruneTxt = lastPruned.toSeq.sortBy(_._1).map { case (t, (k, a)) =>
          s"IndexPrune: $t kept $k/$a files" }.mkString("\n")
        val planTxt = GraftSession.explainPlan(df)
        return Seq(if (pruneTxt.isEmpty) planTxt else s"$pruneTxt\n$planTxt")
          .toDF("plan")
      }
      val verb = innerUp.split("\\s+").take(2).mkString(" ")
      // DML explain constructors dispatch through the OPEN TXN when one
      // is active (reading the staged view — txn-created tables, staged
      // dirs, metadata pinned at BEGIN), else through the published
      // catalog, so EXPLAIN DML works in any context like the
      // reference's Explain(Box<Statement>) (ast.rs:17). A READ ONLY /
      // AS OF session keeps the routing line: the DML itself would be
      // rejected there, so there is no would-be-written plan to show.
      val exInsert: (String, DataFrame) => DataFrame =
        txn.map(t => t.explainInsert _).getOrElse(catalog.explainInsert _)
      val exUpdate: (String, Map[String, Column], Column) => DataFrame =
        txn.map(t => t.explainUpdate _).getOrElse(catalog.explainUpdate _)
      val exDelete: (String, Column) => DataFrame =
        txn.map(t => t.explainDelete _).getOrElse(catalog.explainDelete _)
      val exMerge: (String, DataFrame) => DataFrame =
        txn.map(t => t.explainMerge _).getOrElse(catalog.explainMerge _)
      val dmlFrame: Option[DataFrame] = if (readOnly) None else inner match {
        case ctasRe(_, selectBody) => Some(runSelect(selectBody))
        case insertSelectRe(name, colList, selectBody) =>
          Some(exInsert(name,
            alignCols(runSelect(selectBody), colList, name, "INSERT",
              defaultToOwnColumns = true)))
        case insertRe(name, colList, valuesBody) =>
          Some(exInsert(name,
            alignCols(referenceSql(s"SELECT * FROM VALUES $valuesBody"),
              colList, name, "INSERT")))
        case mergeUsingRe(name, tAlias, rest) =>
          val (src, ta, sa, cond, matched, ins, bySrc) =
            parseMergeUsing(name, tAlias, rest)
          Some(withStatementBindings(inner)(txn match {
            case Some(t) =>
              t.explainMergeUsing(name, src, ta, sa, cond, matched, ins, bySrc)
            case None =>
              catalog.explainMergeUsing(name, src, ta, sa, cond, matched, ins, bySrc)
          }))
        case mergeRe(name, colList, valuesBody) =>
          Some(exMerge(name,
            alignCols(referenceSql(s"SELECT * FROM VALUES $valuesBody"),
              colList, name, "MERGE")))
        case updateRe(name, body) =>
          val (sets, where) = parseUpdateBody(body)
          // bindings wrap the CONSTRUCTOR: the would-be-written frame is
          // analyzed eagerly, so a WHERE subquery resolves here too
          Some(withStatementBindings(inner)(exUpdate(name, sets, where)))
        case deleteRe(name, whereBody) =>
          Some(withStatementBindings(inner)(exDelete(name,
            Option(whereBody).map(w => referenceExpr(w.trim)).getOrElse(lit(true)))))
        case _ => None
      }
      return dmlFrame match {
        case Some(df) => Seq(
          s"GraftStatement($verb) -> TableCatalog (not executed)\n" +
            GraftSession.explainPlan(df)).toDF("plan")
        case None =>
          Seq(s"GraftStatement($verb) -> TableCatalog (not executed)").toDF("plan")
      }
    }

    if (up.startsWith("BEGIN")) {
      require(txn.isEmpty && !readOnly, "already in a transaction")
      val asOfRe = raw"(?i)AS\s+OF\s+SYSTEM\s+TIME\s+(\d+)".r
      val isReadOnly = raw"(?i)READ\s+ONLY".r.findFirstIn(s).isDefined
      asOfRe.findFirstMatchIn(s) match {
        case Some(m) =>
          // one GLOBAL MVCC timestamp (ast.rs:11-14): the journal maps
          // it to the per-table versions the catalog had at that commit
          readOnly = true
          roVersions = Some(catalog.snapshotAt(m.group(1).toLong))
        case None if isReadOnly =>
          readOnly = true // snapshot-at-now, no writes
          roVersions = Some(catalog.pinVersions())
        case None => txn = Some(catalog.begin())
      }
      return Seq("BEGIN").toDF("status")
    }
    if (up == "COMMIT") {
      // a failed commit (write-write conflict) aborts the txn — the
      // session must not stay wedged inside a dead transaction
      try txn.foreach(_.commit())
      catch {
        case e: Throwable =>
          txn.foreach(_.rollback())
          txn = None; readOnly = false; roVersions = None
          throw e
      }
      txn = None; readOnly = false; roVersions = None
      return Seq("COMMIT").toDF("status")
    }
    if (up == "ROLLBACK") {
      txn.foreach(_.rollback())
      txn = None; readOnly = false; roVersions = None
      return Seq("ROLLBACK").toDF("status")
    }

    s match {
      case compactJournalRe() =>
        require(txn.isEmpty, "COMPACT JOURNAL: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val g = catalog.compactJournal()
        Seq(s"COMPACT JOURNAL -> g$g").toDF("status")

      case zorderRe(name, zcols) =>
        require(txn.isEmpty, "COMPACT TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val cols = zcols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val v = catalog.compact(name, cols, zorder = true)
        Seq(s"COMPACT TABLE $name ZORDER BY (${cols.mkString(", ")}) -> v$v")
          .toDF("status")

      case compactRe(name, orderBy) =>
        require(txn.isEmpty, "COMPACT TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val cols = Option(orderBy).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val v = catalog.compact(name, cols)
        val suffix = if (cols.isEmpty) "" else s" ORDER BY ${cols.mkString(", ")}"
        Seq(s"COMPACT TABLE $name$suffix -> v$v").toDF("status")

      case restoreRe(name, ver) =>
        require(txn.isEmpty, "RESTORE TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val v = catalog.restore(name, ver.toInt)
        Seq(s"RESTORE TABLE $name VERSION $ver -> v$v").toDF("status")

      case createIndexRe(name, colName) =>
        require(txn.isEmpty, "CREATE INDEX: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val v = catalog.createIndex(name, colName)
        Seq(s"CREATE INDEX $name($colName) -> v$v").toDF("status")

      case dropIndexRe(name, colName) =>
        require(txn.isEmpty, "DROP INDEX: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val v = catalog.dropIndex(name, colName)
        Seq(s"DROP INDEX $name($colName) -> v$v").toDF("status")

      case cloneRe(src, dst) =>
        require(txn.isEmpty, "CLONE TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        catalog.cloneTable(src, dst)
        Seq(s"CLONE TABLE $src AS $dst").toDF("status")

      case vacuumRe(name, keep) =>
        require(txn.isEmpty, "VACUUM: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val n = Option(keep).map(k => k.toIntOption.getOrElse(
          throw new IllegalArgumentException(s"VACUUM $name: KEEP $k out of range")))
          .getOrElse(1)
        val removed = catalog.vacuum(name, n)
        Seq(s"VACUUM $name: removed $removed versions").toDF("status")

      case alterDropRe(name, colName) =>
        require(txn.isEmpty, "ALTER TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        catalog.dropColumn(name, colName)
        Seq(s"ALTER TABLE $name DROP COLUMN $colName").toDF("status")

      case alterAddRe(name, colDef) =>
        require(txn.isEmpty, "ALTER TABLE: not inside a transaction")
        require(!readOnly, "read-only transaction")
        val masked = GraftSQL.maskStrings(colDef)
        val toks = masked.trim.split("\\s+").toList
        require(toks.size >= 2, s"bad column def: $colDef")
        val cname = toks.head
        val dtype = typeMap.getOrElse(toks(1).toUpperCase,
          throw new IllegalArgumentException(s"unknown type ${toks(1)}"))
        val restUp = toks.drop(2).map(_.toUpperCase)
        // metadata-only evolution: existing rows have no value, so the
        // new column cannot carry constraints that existing rows would
        // already violate (a DEFAULT applies to future inserts only)
        require(!restUp.contains("PRIMARY") && !restUp.contains("UNIQUE")
          && !restUp.contains("INDEX") && !restUp.contains("REFERENCES")
          && !restUp.containsSlice(Seq("NOT", "NULL")),
          s"ALTER TABLE ADD COLUMN: only a nullable column with an optional DEFAULT")
        catalog.addColumn(name, StructField(cname, dtype, nullable = true),
          parseDefault(colDef))
        Seq(s"ALTER TABLE $name ADD COLUMN $cname").toDF("status")

      case createViewRe(orReplace, name, selectBody) =>
        // views are session state, not catalog state: legal in any
        // session mode (incl. READ ONLY — they write nothing)
        require(!tableNames.exists(_.equalsIgnoreCase(name)),
          s"CREATE VIEW $name: a table with this name exists")
        require(orReplace != null || !viewDefs.keys.exists(_.equalsIgnoreCase(name)),
          s"CREATE VIEW $name: view exists (use CREATE OR REPLACE VIEW)")
        runSelect(selectBody) // eager validation: a broken body errors NOW
        // OR REPLACE must replace the case-INSENSITIVE match (Spark's
        // resolver is) — a differently-cased re-create would otherwise
        // leave the stale definition behind to resurface after a DROP
        viewDefs.keys.find(_.equalsIgnoreCase(name)).foreach(viewDefs.remove)
        viewDefs(name) = selectBody
        Seq(s"CREATE VIEW $name").toDF("status")

      case dropViewRe(name) =>
        require(viewDefs.remove(name).isDefined
          || viewDefs.keys.find(_.equalsIgnoreCase(name)).exists(k => viewDefs.remove(k).isDefined),
          s"DROP VIEW $name: no such view")
        Seq(s"DROP VIEW $name").toDF("status")

      case ctasRe(name, selectBody) =>
        require(!readOnly, "read-only transaction")
        require(!viewDefs.keys.exists(_.equalsIgnoreCase(name)),
          s"CREATE TABLE $name: a session view with this name exists")
        val df = runSelect(selectBody)
        // outside a txn, CTAS is a single-statement txn: a failed insert
        // (source write error) leaves no table behind
        val t = txn.getOrElse(catalog.begin())
        try {
          t.createTable(name, df.schema); t.insert(name, df)
          if (txn.isEmpty) t.commit()
        } catch { case e: Throwable => if (txn.isEmpty) t.rollback(); throw e }
        // row count from the WRITTEN table (parquet footer metadata) —
        // df.count() would re-execute the entire source query
        val n = txn.map(_.scan(name)).getOrElse(catalog.scan(name)).count()
        Seq(s"CREATE TABLE $name AS SELECT ($n rows)").toDF("status")

      case insertSelectRe(name, colList, selectBody) =>
        require(!readOnly, "read-only transaction")
        val df = alignCols(runSelect(selectBody), colList, name, "INSERT",
          defaultToOwnColumns = true)
        txn match {
          case Some(t) => t.insert(name, df)
          case None    => catalog.insert(name, df)
        }
        Seq(s"INSERT INTO $name FROM SELECT").toDF("status")

      case createRe(name, colsBody) =>
        require(!readOnly, "read-only transaction")
        require(!viewDefs.keys.exists(_.equalsIgnoreCase(name)),
          s"CREATE TABLE $name: a session view with this name exists")
        createTable(name, colsBody)
        Seq(s"CREATE TABLE $name").toDF("status")

      case dropRe(name) =>
        require(!readOnly, "read-only transaction")
        txn match {
          case Some(t) => t.dropTable(name)
          case None    => catalog.dropTable(name)
        }
        Seq(s"DROP TABLE $name").toDF("status")

      case insertRe(name, colList, valuesBody) =>
        require(!readOnly, "read-only transaction")
        // Catalyst parses the tuples: VALUES (...),(...) is a valid
        // Spark relation; columns come back as col1, col2, ...
        // referenceDivision: VALUES expressions follow the reference's
        // evaluation rules too (INSERT ... VALUES (7 / 2) inserts 3)
        val df = alignCols(referenceSql(s"SELECT * FROM VALUES $valuesBody"),
          colList, name, "INSERT")
        txn match {
          case Some(t) => t.insert(name, df)
          case None    => catalog.insert(name, df)
        }
        Seq(s"INSERT ${df.count()}").toDF("status")

      case mergeUsingRe(name, tAlias, rest) =>
        require(!readOnly, "read-only transaction")
        val (src, ta, sa, cond, matched, ins, bySrc) =
          parseMergeUsing(name, tAlias, rest)
        // ON / WHEN ... AND conditions and SET/INSERT values may carry
        // subqueries — bound like UPDATE/DELETE predicates (the source
        // relation itself was already resolved at parse time)
        withStatementBindings(s) {
          txn match {
            case Some(t) =>
              t.mergeUsing(name, src, ta, sa, cond, matched, ins, bySrc)
              Seq(s"MERGE INTO $name (staged)").toDF("status")
            case None =>
              val v = catalog.mergeUsing(name, src, ta, sa, cond, matched, ins, bySrc)
              Seq(s"MERGE INTO $name -> v$v").toDF("status")
          }
        }

      case mergeRe(name, colList, valuesBody) =>
        require(!readOnly, "read-only transaction")
        val df = alignCols(referenceSql(s"SELECT * FROM VALUES $valuesBody"),
          colList, name, "MERGE")
        txn match {
          case Some(t) => t.merge(name, df)
          case None    => catalog.merge(name, df)
        }
        Seq(s"MERGE ${df.count()}").toDF("status")

      case updateRe(name, body) =>
        require(!readOnly, "read-only transaction")
        val (sets, where) = parseUpdateBody(body)
        withStatementBindings(s) {
          txn match {
            case Some(t) => t.update(name, sets, where)
            case None    => catalog.update(name, sets, where)
          }
        }
        Seq(s"UPDATE $name").toDF("status")

      case deleteRe(name, whereBody) =>
        require(!readOnly, "read-only transaction")
        val where = Option(whereBody).map(w => referenceExpr(w.trim)).getOrElse(lit(true))
        withStatementBindings(s) {
          txn match {
            case Some(t) => t.delete(name, where)
            case None    => catalog.delete(name, where)
          }
        }
        Seq(s"DELETE $name").toDF("status")

      // catalog introspection — the reference's ListTables / GetTable
      // client surface (server.rs:126-127, bin client `!tables` /
      // `!table`), as statements. Metadata is the CURRENT catalog's:
      // snapshot reads (asOf/READ ONLY) reconcile old data with the
      // current schema too (frameOf reads every version under
      // meta.schema), so introspection and SELECT agree in a pinned
      // session by construction.
      case showTablesRe() =>
        tableNames.sorted.toDF("table")

      case showCreateRe(name) =>
        Seq(showCreate(name)).toDF("create_table")

      case showHistoryRe(name) =>
        catalog.history(name).orderBy("version")

      case descRe(name) =>
        val m = txn.map(_.metaOf(name)).getOrElse(catalog.meta(name))
        m.schema.fields.toSeq.map { f =>
          (f.name, sqlTypeName(f.dataType), f.nullable,
            m.primaryKey.contains(f.name), m.unique.contains(f.name),
            m.indexes.contains(f.name),
            m.defaults.get(f.name).map(_.toString).orNull,
            m.references.get(f.name).orNull)
        }.toDF("column", "type", "nullable", "primary_key", "unique", "indexed",
          "default", "references")

      case _ if up.startsWith("SELECT") || up.startsWith("WITH") =>
        runSelect(s)

      case other =>
        throw new IllegalArgumentException(s"unsupported statement: $other")
    }
  }

  private def sqlTypeName(dt: DataType): String = dt match {
    case LongType | IntegerType => "INTEGER"
    case DoubleType | FloatType => "FLOAT"
    case StringType             => "STRING"
    case BooleanType            => "BOOLEAN"
    case other                  => other.simpleString.toUpperCase // beyond the reference types
  }

  /** The reference's GetTable behavior: the table's schema AS SQL — a
    * CREATE TABLE statement that round-trips through [[execute]]
    * (re-executing it recreates identical metadata) for tables within
    * the reference's type system (BOOLEAN/INTEGER/FLOAT/STRING — the
    * only types its DDL declares). A CTAS-created table can carry
    * richer Spark types (arrays, decimals, timestamps); those emit
    * their Spark names, readable but not re-parseable DDL — the same
    * scoping as the reference, whose GetTable never meets such types. */
  private def showCreate(name: String): String = {
    val m = txn.map(_.metaOf(name)).getOrElse(catalog.meta(name))
    def lit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: Boolean => if (b) "TRUE" else "FALSE"
      case other => other.toString
    }
    val cols = m.schema.fields.map { f =>
      val parts = Seq(f.name, sqlTypeName(f.dataType)) ++
        (if (m.primaryKey.contains(f.name)) Seq("PRIMARY KEY") else Nil) ++
        (if (!f.nullable && !m.primaryKey.contains(f.name)) Seq("NOT NULL") else Nil) ++
        (if (m.unique.contains(f.name)) Seq("UNIQUE") else Nil) ++
        (if (m.indexes.contains(f.name)) Seq("INDEX") else Nil) ++
        m.defaults.get(f.name).map(v => s"DEFAULT ${lit(v)}").toSeq ++
        m.references.get(f.name).map(t => s"REFERENCES $t").toSeq
      "  " + parts.mkString(" ")
    }
    s"CREATE TABLE $name (\n${cols.mkString(",\n")}\n)"
  }

  /** Shared DML source alignment: rename the source frame's columns to
    * the statement's explicit column list, or to the target table's
    * declared columns (VALUES come back as col1, col2, ...), or — for
    * INSERT..SELECT — to the source's own aliases. One definition, so
    * INSERT / MERGE / INSERT..SELECT arity checks cannot drift. */
  /** Loud-error guard for user-written column lists: a duplicated name
    * (`INSERT (a, a)`, `UPDATE SET a=1, A=2`) would otherwise collapse
    * silently via `toMap` — last value wins — instead of erroring.
    * Case-insensitive, mirroring Spark's resolver. */
  private def requireDistinctCols(cols: Seq[String], what: String): Unit = {
    val dups = cols.groupBy(_.toLowerCase(java.util.Locale.ROOT))
      .collect { case (_, vs) if vs.size > 1 => vs.head }
    require(dups.isEmpty, s"$what: duplicate column(s) ${dups.mkString(", ")}")
  }

  private def alignCols(raw: DataFrame, colList: String, name: String,
      verb: String, defaultToOwnColumns: Boolean = false): DataFrame = {
    val targetCols: Seq[String] = Option(colList) match {
      case Some(cl) =>
        val cols = cl.split(",").map(_.trim).toSeq
        requireDistinctCols(cols, s"$verb $name column list")
        cols
      case None if defaultToOwnColumns => raw.columns.toSeq
      case None =>
        txn.map(_.metaOf(name)).getOrElse(catalog.meta(name)).schema.fieldNames.toSeq
    }
    require(raw.columns.length == targetCols.length,
      s"$verb arity: ${raw.columns.length} values vs ${targetCols.length} columns")
    raw.toDF(targetCols: _*)
  }

  /** UPDATE's `SET ... [WHERE ...]` body → (set map, where) — ONE
    * parse shared by the executing path and EXPLAIN UPDATE. */
  private def parseUpdateBody(body: String): (Map[String, Column], Column) = {
    val (setBody, whereBody) = GraftSQL.splitAtTopLevelWhere(body)
    val pairs = splitTopLevel(setBody, ',').map { a =>
      val Array(k, v) = a.split("=", 2)
      k.trim -> referenceExpr(v.trim)
    }
    requireDistinctCols(pairs.map(_._1), "UPDATE SET")
    val sets = pairs.toMap
    val where = whereBody.map(w => referenceExpr(w.trim)).getOrElse(lit(true))
    (sets, where)
  }

  /** Parse the clause-form MERGE body (everything after `USING`) and
    * build its ingredients — ONE parse shared by the executing path
    * and EXPLAIN MERGE. `rest` is `<table>|(<subquery>) [AS] [alias]
    * ON <cond> WHEN [NOT] MATCHED [AND <cond>] THEN <action> ...`.
    * Returns the resolved source frame (the session's snapshot view —
    * a txn sees its staged state, READ ONLY its pinned versions), the
    * two aliases, the ON condition, and the ORDERED matched / insert
    * clause lists (first-match-wins — the SQL:2003/Delta cascade).
    *
    * SOURCE PINNING: the USING source is resolved ONCE here, at
    * statement-parse time. A catalog-level publish race re-runs only
    * the TARGET-side attempt (publishWithRetry re-scans the target at
    * its new version); a self-referential source — `USING (SELECT …
    * FROM <target>)` — therefore merges the statement-start snapshot
    * of the source against the retried target version. That is the
    * statement-snapshot semantics standard SQL gives the source
    * relation (it is read as of statement start, not re-evaluated
    * mid-statement), and it is deliberate: re-resolving the source per
    * retry would make a lost race silently change WHICH rows the
    * statement merges. */
  private def parseMergeUsing(name: String, tAlias0: String, rest: String)
      : (DataFrame, String, String, Column,
         Seq[graft.sources.TableCatalog.MergeClause],
         Seq[graft.sources.TableCatalog.InsertClause],
         Seq[graft.sources.TableCatalog.MergeClause]) = {
    import graft.sources.TableCatalog.{InsertClause, MergeAction, MergeClause}
    val tAlias = Option(tAlias0).getOrElse(name)
    val t = rest.trim
    // ---- source spec: a visible table or a parenthesized subquery
    val (source, sAlias, afterSrc): (DataFrame, String, String) =
      if (t.startsWith("(")) {
        // paren-count over a string-masked copy: a ')' inside a
        // literal must not close the subquery
        val masked = GraftSQL.maskStrings(t)
        var depth = 0; var close = -1; var i = 0
        while (close < 0 && i < masked.length) {
          masked(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case _ =>
          }
          i += 1
        }
        require(close > 0, s"MERGE INTO $name: unbalanced subquery parens")
        val sub = t.substring(1, close).trim
        require(sub.toUpperCase.startsWith("SELECT") || sub.toUpperCase.startsWith("WITH"),
          s"MERGE INTO $name: USING (...) must wrap a SELECT")
        val tailRe = raw"(?is)\s*(?:AS\s+)?(\w+)\s+(.*)".r
        t.substring(close + 1) match {
          case tailRe(a, after) =>
            require(!a.equalsIgnoreCase("ON"),
              s"MERGE INTO $name: USING (...) needs an alias before ON")
            (runSelect(sub), a, after)
          case other => throw new IllegalArgumentException(
            s"MERGE INTO $name: USING (...) needs an alias: ${other.take(40)}")
        }
      } else {
        val tailRe = raw"(?is)(\w+)(?:\s+AS)?\s+(?:(\w+)\s+)?(ON(?![A-Za-z0-9_]).*)".r
        t match {
          case tailRe(srcName, a, after) =>
            (currentScan(srcName), Option(a).getOrElse(srcName), after)
          case other => throw new IllegalArgumentException(
            s"MERGE INTO $name: cannot parse USING source: ${other.take(40)}")
        }
      }
    // ---- ON <cond> up to the first WHEN clause (quote-masked find)
    val onRe = raw"(?is)\s*ON(?![A-Za-z0-9_])\s+(.*)".r
    val condAndClauses = afterSrc match {
      case onRe(c) => c
      case other => throw new IllegalArgumentException(
        s"MERGE INTO $name: expected ON <condition>: ${other.take(40)}")
    }
    // heads capture the clause family: WHEN MATCHED / WHEN NOT MATCHED
    // [BY TARGET] (insert) / WHEN NOT MATCHED BY SOURCE (target rows
    // with no source match — Delta's third family)
    val clauseRe =
      raw"(?i)WHEN\s+(NOT\s+)?MATCHED(\s+BY\s+(SOURCE|TARGET))?(?![A-Za-z0-9_])".r
    val maskedCc = GraftSQL.maskStrings(condAndClauses)
    val heads = clauseRe.findAllMatchIn(maskedCc).toList
    require(heads.nonEmpty, s"MERGE INTO $name: at least one WHEN clause required")
    val cond = referenceExpr(condAndClauses.substring(0, heads.head.start).trim)
    // ---- WHEN clause bodies (original text between clause heads);
    // each clause: optional `AND <cond>` (quote-masked THEN search —
    // the condition may contain strings/parens), then the action
    val matched = Seq.newBuilder[MergeClause]
    val insert = Seq.newBuilder[InsertClause]
    val bySource = Seq.newBuilder[MergeClause]
    val updateSetRe = raw"(?is)\s*UPDATE\s+SET\s+(.*?)\s*".r
    val insertValsRe = raw"(?is)\s*INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)\s*".r
    val insertStarRe = raw"(?is)\s*INSERT\s+\*\s*".r
    val andRe = raw"(?is)\s*AND\s+(.*)".r
    heads.zipWithIndex.foreach { case (h, k) =>
      val end = if (k + 1 < heads.length) heads(k + 1).start else condAndClauses.length
      val (thenStart, thenEnd) = GraftSQL
        .topLevelThen(maskedCc.substring(h.end, end))
        .getOrElse(throw new IllegalArgumentException(
          s"MERGE INTO $name: WHEN clause missing THEN"))
      val between = condAndClauses.substring(h.end, h.end + thenStart)
      val body = condAndClauses.substring(h.end + thenEnd, end)
      val clauseCond: Option[Column] = between.trim match {
        case "" => None
        case andRe(c) => Some(referenceExpr(c.trim))
        case other => throw new IllegalArgumentException(
          s"MERGE INTO $name: expected AND <condition> before THEN: ${other.take(40)}")
      }
      val isNot = h.group(1) != null
      val byWord = Option(h.group(3)).map(_.toUpperCase)
      require(isNot || byWord.isEmpty,
        s"MERGE INTO $name: BY ${byWord.getOrElse("")} is only valid after NOT MATCHED")
      def matchedAction(family: String): MergeAction = body match {
        case b if b.trim.equalsIgnoreCase("DELETE") => MergeAction.Delete
        case updateSetRe(setBody) =>
          val pairs = splitTopLevel(setBody, ',').map { a =>
            val Array(key, v) = a.split("=", 2)
            key.trim -> referenceExpr(v.trim)
          }
          requireDistinctCols(pairs.map(_._1), s"MERGE INTO $name: UPDATE SET")
          MergeAction.Update(pairs.toMap)
        case other => throw new IllegalArgumentException(
          s"MERGE INTO $name: $family THEN expects UPDATE SET or DELETE: ${other.trim.take(40)}")
      }
      if (isNot && byWord.contains("SOURCE")) {
        // target rows with NO source match — conditions and SET
        // expressions see the target alias only (no source row exists)
        bySource += MergeClause(clauseCond,
          matchedAction("WHEN NOT MATCHED BY SOURCE"))
      } else if (isNot) {
        insert += InsertClause(clauseCond, body match {
          case insertStarRe() =>
            // Delta-style INSERT *: every SOURCE column maps by name
            // (a source column the target lacks errors; target columns
            // the source lacks take defaults/NULL)
            source.columns.map(c =>
              c -> org.apache.spark.sql.functions.col(s"$sAlias.$c")).toMap
          case insertValsRe(colList, exprs) =>
            val vals = splitTopLevel(exprs, ',').map(e => referenceExpr(e.trim))
            val cols = Option(colList) match {
              case Some(cl) => cl.split(",").map(_.trim).toSeq
              case None =>
                txn.map(_.metaOf(name)).getOrElse(catalog.meta(name))
                  .schema.fieldNames.toSeq
            }
            require(cols.length == vals.length,
              s"MERGE INTO $name: INSERT arity ${vals.length} values vs ${cols.length} columns")
            requireDistinctCols(cols, s"MERGE INTO $name: INSERT column list")
            cols.zip(vals).toMap
          case other => throw new IllegalArgumentException(
            s"MERGE INTO $name: WHEN NOT MATCHED THEN expects INSERT: ${other.trim.take(40)}")
        })
      } else {
        matched += MergeClause(clauseCond, matchedAction("WHEN MATCHED"))
      }
    }
    (source, tAlias, sAlias, cond, matched.result(), insert.result(),
      bySource.result())
  }

  /** EXPLAIN ANALYZE <statement>: EXECUTE the statement — a DML
    * publishes its version (or stages it, inside a txn) exactly as if
    * run bare — then render every physical plan the statement actually
    * ran WITH its SQLMetrics (rows output per operator, files/bytes
    * written, partial-discard counters like TopKPerGroup's). A SELECT
    * drives its complete plan through the noop sink (every operator
    * executes, nothing lands on the driver); every execution is
    * observed through a QueryExecutionListener, so a DML's validation
    * scans and its version write each appear as one labeled execution,
    * in order. Session-mode rules are the executing statement's own:
    * a READ ONLY session accepts EXPLAIN ANALYZE SELECT and rejects
    * EXPLAIN ANALYZE DML with the DML's error.
    *
    * SCOPE: the listener registers on the shared SparkSession's
    * listenerManager, so a CONCURRENT GraftSQL session (the TCP
    * server's other connections) executing during the window would
    * appear in the report — the same visibility any engine's
    * instrumented-run view has under concurrency. The report is an
    * observability surface, not a result: row values never flow
    * through it. */
  private def explainAnalyze(inner: String): DataFrame = {
    import spark.implicits._
    val innerUp = inner.trim.toUpperCase
    require(!innerUp.startsWith("EXPLAIN"),
      "EXPLAIN ANALYZE EXPLAIN: nothing to execute")
    val captured = new java.util.concurrent.CopyOnWriteArrayList[
      (String, org.apache.spark.sql.execution.QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(funcName -> qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      if (innerUp.startsWith("SELECT") || innerUp.startsWith("WITH"))
        runSelect(inner).write.format("noop").mode("overwrite").save()
      else execute(inner)
    } finally {
      // listener callbacks are asynchronous: drain the bus BEFORE
      // unregistering, or a fast statement races its own report — but
      // the UNREGISTER must survive a drain timeout (a busy shared bus
      // throwing here would leave the listener appending every later
      // execution for the session's lifetime), and must not mask the
      // statement's own exception
      try org.apache.spark.sql.GraftListenerBridge.flush(spark)
      catch { case _: java.util.concurrent.TimeoutException => () /* partial report */ }
      finally spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val parts = captured.asScala.toSeq.zipWithIndex.map { case ((fn, qe), i) =>
      s"== Execution ${i + 1}: $fn ==\n" + GraftSQL.renderMetrics(qe.executedPlan)
    }
    Seq(
      if (parts.isEmpty) "== No Spark execution (metadata-only statement) =="
      else parts.mkString("\n")).toDF("plan")
  }

  /** A SELECT/WITH under the session's snapshot view bindings.
    * Reference semantics for `/` applied AFTER analysis (the dispatch
    * is type-directed) — see referenceSql. Registers snapshot views at
    * the txn/as-of version for only the tables the query references
    * (each registration costs a footer read — the full catalog would
    * be O(tables) per statement), lets Spark SQL run the whole query,
    * then restores the namespace: spark.sql analyzes eagerly, so the
    * returned frame stays valid, and no txn-private snapshot lingers
    * in the session's shared temp-view namespace for another GraftSQL
    * to resolve. */
  private def runSelect(s: String): DataFrame = runSelect(s, Set.empty)

  /** Session-scoped SQL views: name → definition TEXT. A view is
    * re-evaluated per query against the session's CURRENT snapshot
    * bindings (txn staging / READ ONLY pins apply at evaluation time),
    * read-only and non-versioned — it lives in this GraftSQL instance
    * only, never in the catalog (SHOW TABLES lists tables only). */
  private val viewDefs = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def runSelect(s: String, expanding: Set[String]): DataFrame = {
    // table detection runs over a string-MASKED copy: a table name
    // appearing only inside a string literal ('orders were late') must
    // not register a spurious snapshot view
    val masked = GraftSQL.maskStrings(s)
    val referencedTables = tableNames.filter(GraftSQL.referencedIn(masked, _))
    // referenced session views expand recursively (a view may stack on
    // another view); the `expanding` set breaks definition cycles loudly
    val viewBindings = viewDefs.keys.toSeq
      .filter(GraftSQL.referencedIn(masked, _))
      .map { n =>
        require(!expanding.contains(n), s"circular view definition: $n")
        n -> runSelect(viewDefs(n), expanding + n)
      }
    // set the instance state AFTER view expansion: the nested
    // runSelect calls above overwrite it, and a query mixing a direct
    // table with a view over OTHER tables would otherwise lose its own
    // table bindings (and index-prune against the wrong table set)
    lastRegistered = referencedTables
    // parse ONCE: the same tree feeds the index-prune extraction and
    // (rewritten) the analyzer
    val plan = spark.sessionState.sqlParser.parsePlan(s)
    lastPruned = Map.empty
    // pruning applies to the plain session (current manifest) AND to
    // pinned READ ONLY / AS OF sessions (each manifest stores its own
    // zone maps, so the pinned version prunes against ITS stats). A
    // write txn stays unpruned: its reads merge staged dirs the
    // manifest doesn't describe, and that path stays single-sourced.
    val prunes: Map[String, org.apache.spark.sql.Column] =
      if (txn.isEmpty) indexPrunes(plan)
      else Map.empty
    val bindings = lastRegistered.map { n =>
      n -> (prunes.get(n) match {
        case Some(f) =>
          val (kept, all) = roVersions match {
            case Some(vs) => catalog.planFilesAt(n,
              vs.getOrElse(n, sys.error(s"no such table in snapshot: $n")), f)
            case None => catalog.planFiles(n, f)
          }
          lastPruned += n -> ((kept.size, all.size))
          catalog.scanFiles(n, kept)
        case None => currentScan(n)
      })
    }
    GraftSession.withTempViews(spark, bindings ++ viewBindings)(
      GraftColumnBridge.ofRows(spark, GraftSQL.refArithmeticPlan(plan)))
  }

  /** Per-table manifest-pruning predicates extracted from the PARSED
    * (unanalyzed) SQL tree — the SQL-front analog of the reference's
    * IndexLookup optimizer pass (plan/mod.rs:42, 77-92), which turns a
    * WHERE over an indexed column into an index scan from SQL text.
    * Here the equivalent is binding the table's snapshot view to the
    * manifest-pruned file set ([[TableCatalog.planFiles]]), so the
    * files the index excludes are never handed to Spark at all.
    *
    * SOUNDNESS (pruning must never change results — the query's own
    * WHERE re-applies every predicate, so what matters is that every
    * dropped file provably contains no row the query keeps):
    *  - only `col op literal` conjuncts from a Filter/inner-join-ON
    *    whose child subtree is purely relations/aliases/joins are used
    *    — such conjuncts are null-rejecting on the attributed column,
    *    so they constrain that table's rows even under an outer join
    *    above or around it (mismatches the pruning creates are rows
    *    the conjunct rejects anyway);
    *  - a conjunct is attributed to a table only when its column
    *    reference is unambiguous: qualified by exactly one leaf's
    *    alias, or unqualified with every leaf's schema known and
    *    exactly one owning table;
    *  - a table OCCURRING MORE THAN ONCE in the whole tree (self-join,
    *    CTE body + main body) is never pruned — one shared view cannot
    *    carry two different occurrence constraints;
    *  - a name that actually resolves to a CTE makes the bound view
    *    unused, so pruning it is vacuously harmless. */
  private def indexPrunes(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Map[String, org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, SubqueryAlias, UnresolvedWith}
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.TableCatalog.TableMeta

    val metas = scala.collection.mutable.Map[String, Option[TableMeta]]()
    def metaOf(t: String): Option[TableMeta] =
      metas.getOrElseUpdate(t, if (catalog.exists(t)) Some(catalog.meta(t)) else None)
    def hasCol(t: String, c: String): Boolean =
      metaOf(t).exists(_.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    // cheap gate: no registered catalog table → nothing to extract.
    // (No index requirement: the manifest carries zone maps for every
    // prunable column, so any table's conjuncts are worth extracting.)
    if (!lastRegistered.exists(n => metaOf(n).isDefined))
      return Map.empty

    // leaf = one FROM-clause relation occurrence: the catalog table it
    // names (None = unknown — CTE reference or multipart name) and the
    // qualifier the query uses for it (alias, else the name itself)
    case class Leaf(table: Option[String], qual: String)
    def leafOf(p: LogicalPlan): Option[Leaf] = p match {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
        val n = r.multipartIdentifier.head
        Some(Leaf(lastRegistered.find(_.equalsIgnoreCase(n)), n))
      case SubqueryAlias(id, child) => leafOf(child).map(l => Leaf(l.table, id.name))
      case _ => None
    }
    def simpleLeaves(p: LogicalPlan): Option[Seq[Leaf]] = p match {
      case j: Join => for (l <- simpleLeaves(j.left); r <- simpleLeaves(j.right)) yield l ++ r
      case f: Filter => simpleLeaves(f.child)
      case other => leafOf(other).map(Seq(_))
    }
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
      // x BETWEEN lo AND hi parses to the `between` function, not to
      // And(>=, <=) — expand it so range pruning sees both bounds
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 &&
            f.nameParts.head.equalsIgnoreCase("between") &&
            f.arguments.length == 3 && !f.isDistinct =>
        Seq(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          LessThanOrEqual(f.arguments(0), f.arguments(2)))
      case other => Seq(other)
    }
    // `attr op <foldable literal>` conjuncts, comparator normalized to
    // the attribute-on-the-left direction; the literal side folds via
    // Catalyst eval (covers -5 = UnaryMinus(Literal) and friends).
    // The folded value stays TYPED (converted back to its external
    // Scala form) so the pruning layer can tell a numeric literal from
    // a string one — `WHERE stringcol > 100` compares numerically in
    // Spark and must not be pruned by byte-order stats.
    def asRange(e: Expression): Option[(UnresolvedAttribute, String, Any)] = {
      def litVal(x: Expression): Option[Any] =
        if (x.deterministic && x.foldable)
          try Option(x.eval(null)).map(
            org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(_, x.dataType))
          catch { case _: Exception => None }
        else None
      def flip(op: String) = op match {
        case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="; case o => o
      }
      val (a, b, op) = e match {
        case EqualTo(x, y)            => (x, y, "=")
        case GreaterThan(x, y)        => (x, y, ">")
        case GreaterThanOrEqual(x, y) => (x, y, ">=")
        case LessThan(x, y)           => (x, y, "<")
        case LessThanOrEqual(x, y)    => (x, y, "<=")
        case _                        => return None
      }
      (a, b) match {
        case (u: UnresolvedAttribute, v) => litVal(v).map(s => (u, op, s))
        case (v, u: UnresolvedAttribute) => litVal(v).map(s => (u, flip(op), s))
        case _ => None
      }
    }

    val occurrences = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val found = scala.collection.mutable.Map[String, List[(String, Column)]]()
      .withDefaultValue(Nil)

    def attribute(leaves: Seq[Leaf], cond: Expression): Unit =
      conjunctsOf(cond).flatMap(asRange).foreach { case (attr, op, v) =>
        val target: Option[String] = attr.nameParts match {
          case Seq(q, c) =>
            leaves.filter(_.qual.equalsIgnoreCase(q)) match {
              case Seq(one) => one.table.filter(hasCol(_, c))
              case _        => None // no / ambiguous qualifier match
            }
          case Seq(c) =>
            // unqualified: sound only when EVERY leaf's schema is known
            // (an unknown leaf could own the column) and exactly one
            // table has it — mirroring how the analyzer would resolve
            if (leaves.exists(_.table.isEmpty)) None
            else leaves.flatMap(_.table).distinct.filter(hasCol(_, c)) match {
              case Seq(one) => Some(one)
              case _        => None
            }
          case _ => None
        }
        target.foreach { t =>
          val canonical = metaOf(t).get.schema.fieldNames
            .find(_.equalsIgnoreCase(attr.nameParts.last)).get
          val cr = col(canonical)
          val c = op match {
            case "="  => cr === lit(v)
            case ">"  => cr > lit(v)
            case ">=" => cr >= lit(v)
            case "<"  => cr < lit(v)
            case "<=" => cr <= lit(v)
          }
          found(t) = found(t) :+ (canonical -> c)
        }
      }

    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def walk(p: LogicalPlan): Unit = {
      if (!visited.add(p)) return
      p match {
        case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
          occurrences(r.multipartIdentifier.head.toLowerCase) += 1
        case f: Filter =>
          simpleLeaves(f.child).foreach(attribute(_, f.condition))
        case j: Join if j.joinType == Inner && j.condition.isDefined =>
          // inner-join ON conjuncts filter the join output exactly like
          // a WHERE would; outer-join ON semantics differ — excluded
          simpleLeaves(j).foreach(attribute(_, j.condition.get))
        case _ =>
      }
      (p match {
        // cteRelations live outside `children` — count the table
        // occurrences inside CTE bodies too (identity-dedup'd in case
        // a Spark version puts them in both)
        case w: UnresolvedWith => p.children ++ w.cteRelations.map(_._2)
        case _ => p.children
      }).foreach(walk)
      p.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan)
        case _ =>
      })
    }
    walk(plan)

    found.toMap.collect {
      case (t, conjs) if occurrences(t.toLowerCase) == 1 && conjs.nonEmpty =>
        t -> conjs.map(_._2).reduce(_ && _)
    }
  }

  /** Parse `sql` and substitute the reference's type-dispatching
    * arithmetic ([[GraftSQL.refArithmetic]]) BEFORE analysis, then let
    * the analyzer resolve the rewritten tree — types flow through
    * CTEs, subqueries and windows natively, with no post-hoc
    * attribute patching. */
  private def referenceSql(sql: String): DataFrame =
    GraftColumnBridge.ofRows(spark,
      GraftSQL.refArithmeticPlan(spark.sessionState.sqlParser.parsePlan(sql)))

  /** The arithmetic rules for an UPDATE SET / WHERE or DELETE WHERE
    * expression — same parse-level substitution as SELECT, so
    * `UPDATE t SET n = 3 ^ 39` stores the exact i64 that SELECT
    * answers and `DELETE ... WHERE n / 2 = 3` filters with integer
    * division. Parses eagerly with the session parser — `expr()`
    * would defer the parse inside a SqlExpression node the rewrite
    * can't see into. The Column stays unresolved; the catalog binds
    * it. */
  private def referenceExpr(text: String): org.apache.spark.sql.Column =
    GraftColumnBridge.column(
      GraftSQL.refArithmetic(spark.sessionState.sqlParser.parseExpression(text)))

  // ---------------------------------------------------------- CREATE
  private def createTable(name: String, colsBody: String): Unit = {
    var pk: Option[String] = None
    val notNull = Seq.newBuilder[String]
    val unique = Seq.newBuilder[String]
    val defaults = Map.newBuilder[String, Any]
    val references = Map.newBuilder[String, String]
    val indexes = Seq.newBuilder[String]
    val fields = splitTopLevel(colsBody, ',').map { colDef =>
      // constraint keywords are detected on a string-MASKED copy: a
      // DEFAULT 'not null yet' literal must not turn into a real
      // NOT NULL constraint
      val masked = GraftSQL.maskStrings(colDef)
      val toks = masked.trim.split("\\s+").toList
      require(toks.size >= 2, s"bad column def: $colDef")
      val cname = toks.head
      val dtype = typeMap.getOrElse(toks(1).toUpperCase,
        throw new IllegalArgumentException(s"unknown type ${toks(1)}"))
      // TOKEN-exact constraint detection (substring matching would see
      // UNIQUE inside an identifier like REFERENCES unique_users)
      val restUp = toks.drop(2).map(_.toUpperCase)
      val isPk = restUp.containsSlice(Seq("PRIMARY", "KEY"))
      if (isPk) pk = Some(cname)
      if (isPk || restUp.containsSlice(Seq("NOT", "NULL"))) notNull += cname
      if (restUp.contains("UNIQUE")) unique += cname
      if (restUp.contains("INDEX")) indexes += cname // schema.rs:154-155
      val refRe = raw"(?i)REFERENCES\s+(\w+)".r
      refRe.findFirstMatchIn(masked).foreach(m => references += cname -> m.group(1))
      parseDefault(colDef).foreach(v => defaults += cname -> v)
      val nullable = !(isPk || restUp.containsSlice(Seq("NOT", "NULL")))
      StructField(cname, dtype, nullable)
    }
    txn match {
      case Some(t) =>
        t.createTable(name, StructType(fields), pk,
          notNull.result().distinct, unique.result(), defaults.result(),
          references.result(), indexes.result())
      case None =>
        catalog.createTable(name, StructType(fields), pk,
          notNull.result().distinct, unique.result(), defaults.result(),
          references.result(), indexes.result())
    }
  }

  /** The DEFAULT value of one column definition, if any. The reference
    * accepts an arbitrary constant expression (ast.rs:82 — `DEFAULT
    * 1+1`, `DEFAULT -5`, `DEFAULT upper('x')`), constant-folded at
    * DDL time; so here the clause text is parsed by Catalyst, the
    * reference arithmetic rules applied ([[GraftSQL.refArithmetic]] —
    * `DEFAULT 7/2` stores 3), analyzed, and evaluated ONCE at CREATE.
    * A non-foldable default (`DEFAULT rand()`) is rejected loudly at
    * declaration — silently re-evaluating it per insert would neither
    * match the reference nor round-trip through metadata. `DEFAULT
    * NULL` is the same as no default. */
  private def parseDefault(colDef: String): Option[Any] = {
    val text = GraftSQL.defaultExprText(colDef).getOrElse(return None)
    val analyzed = referenceSql(s"SELECT ($text) AS graft_default")
      .queryExecution.analyzed
    val e = analyzed.expressions.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case other => other
    }
    require(e.foldable,
      s"DEFAULT $text: not a constant expression (must fold at CREATE time)")
    Option(e.eval(null)).map { v =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, e.dataType) match {
        // a decimal literal (Catalyst parses 0.5 as DECIMAL) becomes
        // the double the reference's FLOAT columns store — BigDecimal
        // itself is not a durable metadata literal (validateDefaults)
        case d: java.math.BigDecimal => d.doubleValue()
        case d: BigDecimal           => d.toDouble
        case other                   => other
      }
    }
  }

  /** Split on `sep` ignoring separators inside parens and strings. */
  private def splitTopLevel(body: String, sep: Char): Seq[String] = GraftSQL.splitTopLevel(body, sep)
}

/** Dialect shims shared by every [[GraftSQL]] instance. */
object GraftSQL {

  /** One indented line per executed-plan node with its SQLMetric
    * VALUES — `nodeName [metric=value, …]` — descending through AQE's
    * final plan and materialized query stages, so the report shows
    * what RAN, not the pre-execution sketch. */
  private[graft] def renderMetrics(
      plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val sb = new StringBuilder
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      sb.append("  " * depth).append(p.nodeName)
      if (ms.nonEmpty) sb.append(" [").append(ms).append("]")
      sb.append('\n')
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec        => walk(q.plan, depth + 1)
        case other                    => other.children.foreach(walk(_, depth + 1))
      }
    }
    walk(plan, 0)
    sb.result()
  }

  // statement-routing patterns — constants, compiled once (execute()
  // used to recompile all of them per call)
  // introspection (reference server.rs:126-127: ListTables/GetTable)
  /** Word-boundary name detection over a string-MASKED statement —
    * the ONE definition of "this statement references relation n",
    * shared by runSelect's snapshot-view binding and the DML paths'
    * withStatementBindings so they can never diverge. */
  private[graft] def referencedIn(masked: String, n: String): Boolean =
    ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
      .findFirstIn(masked).isDefined

  private val analyzeRe = raw"(?is)EXPLAIN\s+ANALYZE\s+(.*)".r
  private val showTablesRe = raw"(?is)SHOW\s+TABLES\s*".r
  private val showCreateRe = raw"(?is)SHOW\s+CREATE\s+TABLE\s+(\w+)\s*".r
  private val showHistoryRe = raw"(?is)SHOW\s+HISTORY\s+(\w+)\s*".r
  private val descRe = raw"(?is)DESCRIBE\s+(\w+)\s*".r
  // CTAS / INSERT..SELECT (beyond the reference's VALUES-only DML)
  private val ctasRe = raw"(?is)CREATE\s+TABLE\s+(\w+)\s+AS\s+((?:SELECT|WITH)\b.*)".r
  // session-scoped SQL views (read-only, non-versioned — see viewDefs)
  private val createViewRe =
    raw"(?is)CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+((?:SELECT|WITH)\b.*)".r
  private val dropViewRe = raw"(?is)DROP\s+VIEW\s+(\w+)\s*".r
  private val insertSelectRe = raw"(?is)INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\)\s*)?((?:SELECT|WITH)\b.*)".r
  private val createRe = raw"(?is)CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*".r
  private val dropRe   = raw"(?is)DROP\s+TABLE\s+(\w+)\s*".r
  private val insertRe = raw"(?is)INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\)\s*)?VALUES\s*(.*)".r
  // MERGE INTO t VALUES ...: upsert on the primary key (beyond the
  // reference surface — the lakehouse MERGE, VALUES-source form)
  private val mergeRe  = raw"(?is)MERGE\s+INTO\s+(\w+)\s*(?:\(([^)]*)\)\s*)?VALUES\s*(.*)".r
  // MERGE INTO t [AS] [a] USING ... — the clause form (source spec,
  // ON and WHEN clauses parsed quote-aware in parseMergeUsing, not
  // here: the source can be a parenthesized subquery)
  private val mergeUsingRe =
    raw"(?is)MERGE\s+INTO\s+(\w+)(?:\s+AS)?\s+(?:(\w+)\s+)?USING\s+(.*)".r
  // SET/WHERE split happens quote-aware in splitAtTopLevelWhere, NOT in
  // the regex: a lazy (.*?)\s+WHERE would cut the SET body at a 'where'
  // inside a string literal
  private val updateRe = raw"(?is)UPDATE\s+(\w+)\s+SET\s+(.*)".r
  private val deleteRe = raw"(?is)DELETE\s+FROM\s+(\w+)(?:\s+WHERE(?![A-Za-z0-9_])\s*(.*))?\s*".r
  // maintenance statements (beyond the reference surface — the
  // lakehouse operations an append-heavy managed table needs)
  // optional ORDER BY = clustered rewrite (zone-map selectivity on
  // non-indexed columns — the lakehouse OPTIMIZE-with-clustering form)
  private val compactRe = raw"(?is)COMPACT\s+TABLE\s+(\w+)(?:\s+ORDER\s+BY\s+([\w\s,]+?))?\s*".r
  // Delta-style multi-column clustering: COMPACT TABLE t ZORDER BY (a, b)
  private val zorderRe = raw"(?is)COMPACT\s+TABLE\s+(\w+)\s+ZORDER\s+BY\s*\(([\w\s,]+)\)\s*".r
  private val compactJournalRe = raw"(?is)COMPACT\s+JOURNAL\s*".r
  // metadata-only schema evolution (beyond the reference surface)
  private val alterAddRe  = raw"(?is)ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(.*)".r
  private val alterDropRe = raw"(?is)ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*".r
  private val vacuumRe  = raw"(?is)VACUUM\s+(\w+)(?:\s+KEEP\s+(\d+))?\s*".r
  private val restoreRe = raw"(?is)RESTORE\s+TABLE\s+(\w+)\s+VERSION\s+(\d+)\s*".r
  private val cloneRe   = raw"(?is)CLONE\s+TABLE\s+(\w+)\s+AS\s+(\w+)\s*".r
  private val createIndexRe = raw"(?is)CREATE\s+INDEX\s+ON\s+(\w+)\s*\(\s*(\w+)\s*\)\s*".r
  private val dropIndexRe = raw"(?is)DROP\s+INDEX\s+ON\s+(\w+)\s*\(\s*(\w+)\s*\)\s*".r


  /** The reference's arithmetic substituted into one PARSED
    * (unresolved) expression tree — the type dispatch itself lives in
    * [[graft.functions.RefDiv]]/[[graft.functions.RefPow]], whose
    * `dataType` encodes the reference rules once the analyzer has
    * resolved operand types:
    *
    *  - `/` (parsed as `Divide`) → `RefDiv` — INTEGER/INTEGER
    *    truncates in i64 with divide-by-zero an error
    *    (expression.rs:142-152); a float operand → double division.
    *  - `graft_pow(..)` (the sentinel the `^` token rewrite emits —
    *    a user-written `power()` keeps Spark semantics) → `RefPow` —
    *    INTEGER^INTEGER with a foldable non-negative exponent is
    *    exact checked i64 (expression.rs:161-165).
    *  - `avg(x)` → `RefDiv(sum(x), count(x))` — the reference's
    *    Average finalizer is `Integer(sum / count)`
    *    (aggregation.rs:132-137); over floats, sum/count is exactly
    *    what Catalyst's Average computes anyway. DISTINCT and FILTER
    *    propagate to both halves.
    *
    * Window functions are carved out: the reference grammar has no
    * OVER clause, so `avg(x) OVER w` keeps Catalyst's Average (a
    * sum÷count rewrite would not be a valid window function), while
    * operands inside window ARGUMENTS still get the scalar rules.
    * Rewriting before analysis means the analyzer itself propagates
    * the narrowed types through CTEs, subqueries and nested scopes —
    * nothing is patched after the fact. */
  private[graft] def refArithmetic(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Divide, SubqueryExpression, UnresolvedWindowExpression, WindowExpression}
    import graft.functions.{RefDiv, RefPow}
    def fnName(f: UnresolvedFunction): String =
      if (f.nameParts.length == 1) f.nameParts.head.toLowerCase(java.util.Locale.ROOT) else ""
    // both window forms: inline `OVER (...)` parses to WindowExpression,
    // a named `OVER w ... WINDOW w AS (...)` to UnresolvedWindowExpression
    def carveWindow(w: org.apache.spark.sql.catalyst.expressions.Expression) =
      w.mapChildren {
        case f: UnresolvedFunction => f.mapChildren(refArithmetic)
        case other => refArithmetic(other)
      }
    e match {
      case we: WindowExpression           => carveWindow(we)
      case we: UnresolvedWindowExpression => carveWindow(we)
      case sq: SubqueryExpression => sq.withNewPlan(refArithmeticPlan(sq.plan))
      case _ =>
        e.mapChildren(refArithmetic) match {
          case Divide(l, r, _) => RefDiv(l, r)
          case f: UnresolvedFunction
              if fnName(f) == "graft_pow" && f.arguments.length == 2 && !f.isDistinct =>
            RefPow(f.arguments(0), f.arguments(1))
          case f: UnresolvedFunction
              if fnName(f) == "avg" && f.arguments.length == 1 =>
            RefDiv(
              f.copy(nameParts = Seq("sum")),
              f.copy(nameParts = Seq("count")))
          case other => other
        }
    }
  }

  /** [[refArithmetic]] over every expression of a parsed plan,
    * including subquery plans and CTE definitions (UnresolvedWith
    * holds its CTE relations outside `children`, so a plain transform
    * would miss them). */
  private[graft] def refArithmeticPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{UnresolvedWith, WithWindowDefinition}
    p.transformDown {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, rel, o) =>
          (n, refArithmeticPlan(rel)
            .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias], o)
        }).mapExpressions(refArithmetic)
      case w: WithWindowDefinition =>
        // named WINDOW w AS (...) specs live in a Map field, which
        // QueryPlan.mapExpressions leaves UNTOUCHED (its recursive
        // transform skips Map-typed products) — without this case,
        // `/` and the graft_pow sentinel inside a named window spec
        // would silently keep Catalyst semantics / fail to resolve
        w.copy(windowDefinitions = w.windowDefinitions.map { case (n, spec) =>
          n -> refArithmetic(spec).asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition]
        }).mapExpressions(refArithmetic)
      case node => node.mapExpressions(refArithmetic)
    }
  }

  // SQL keywords that can directly precede a prefix `!` (NOT) — a `!`
  // after one of these is never the reference's postfix factorial
  private val NonPrimaryWords = Set(
    "AND", "OR", "NOT", "IN", "LIKE", "WHERE", "SELECT", "FROM", "WHEN",
    "THEN", "ELSE", "CASE", "END", "BETWEEN", "IS", "BY", "ON", "HAVING",
    "VALUES", "SET", "AS", "JOIN", "DISTINCT", "ALL", "LIMIT", "OFFSET")

  /** Rewrite the reference's `^` (exponentiation, right-associative,
    * ast.rs:149) and postfix `!` (factorial, ast.rs:150) into
    * `graft_pow()` (a sentinel [[refArithmetic]] turns into
    * [[graft.functions.RefPow]] — NOT `power`, so a user-written
    * power() call keeps standard Spark semantics) and Spark's
    * `factorial()` before delegating to Catalyst's parser. Without
    * this, Spark silently parses `^` as bitwise XOR (`2 ^ 3 = 1`, not
    * 8) and rejects postfix `!` — wrong answers with no error, the
    * worst failure mode. String-literal- and paren-safe; `!=` is left
    * untouched. */
  private[graft] def rewriteOps(sql: String): String = {
    // iterate to fixpoint: an exponent rewrite can expose a postfix `!`
    // that only became attachable once its operand gained parentheses
    // (e.g. malformed `^.!` → `power(,.)!`). Terminates: no pass ever
    // introduces `^` or `!`, and every changing pass consumes at least
    // one, so the operator count strictly decreases.
    var prev = sql
    var cur = rewriteExponents(rewriteFactorials(rewriteNanInf(sql)))
    while (cur != prev) {
      prev = cur
      cur = rewriteExponents(rewriteFactorials(cur))
    }
    cur
  }

  /** The reference lexes `NAN` and `INFINITY` as FLOAT literals
    * (lexer.rs:98,110; parser/mod.rs:572-573). Spark has no such
    * keywords — it would resolve them as COLUMNS and fail (or worse,
    * match a real column). Rewritten token-level to double casts,
    * string-safe; skipped when the word is qualified (`t.nan`), a
    * function call (`nan(...)`), or an alias (`AS nan`) — positions
    * where the reference's own grammar could not have meant the
    * literal either. */
  private[graft] def rewriteNanInf(sql: String): String = {
    val out = new StringBuilder
    var prevWord = "" // last identifier emitted (for the AS-alias guard)
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (c == '\'' || c == '"' || c == '`') {
        // backticks too: a quoted identifier `nan` is an explicit
        // column reference, never the literal keyword
        val j = skipString(sql, i); out.append(sql.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < sql.length && (sql(j).isLetterOrDigit || sql(j) == '_')) j += 1
        val word = sql.substring(i, j)
        val up = word.toUpperCase
        var k = i - 1
        while (k >= 0 && sql(k).isWhitespace) k -= 1
        val prevCh = if (k >= 0) sql(k) else ' '
        var m = j
        while (m < sql.length && sql(m).isWhitespace) m += 1
        val nextCh = if (m < sql.length) sql(m) else ' '
        if ((up == "NAN" || up == "INFINITY") && prevCh != '.' && nextCh != '.'
            && nextCh != '(' && prevWord != "AS") {
          out.append(if (up == "NAN") "CAST('NaN' AS DOUBLE)"
                     else "CAST('Infinity' AS DOUBLE)")
        } else out.append(word)
        prevWord = up
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Index just past the closing quote of a literal starting at `i`
    * (s(i) is the opening quote). Handles '' doubling AND backslash
    * escapes — Spark's default dialect (escapedStringLiterals=false)
    * reads `'don\'t'` as one literal, so a scanner that stopped at the
    * \' would desynchronize and rewrite inside string content.
    * Backticked identifiers have no backslash escapes (doubling only). */
  private def skipString(s: String, i: Int): Int = {
    val q = s(i)
    var j = i + 1
    while (j < s.length) {
      if (s(j) == '\\' && q != '`' && j + 1 < s.length) j += 2
      else if (s(j) == q) {
        if (j + 1 < s.length && s(j + 1) == q) j += 2 // escaped quote
        else return j + 1
      } else j += 1
    }
    j
  }

  /** For every index of `s`: the index of the opening quote of the
    * enclosing string/backtick literal, or -1 when outside any
    * literal. BACKWARD scans consult this to step over literals
    * wholesale — counting a quoted ')' as a real paren would corrupt
    * the operand boundary (`replace(x, ')', '') ^ 2`). */
  private def literalStarts(s: String): Array[Int] = {
    val m = Array.fill(s.length)(-1)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\'' || c == '"' || c == '`') {
        val j = skipString(s, i)
        var k = i
        while (k < j && k < s.length) { m(k) = i; k += 1 }
        i = j
      } else i += 1
    }
    m
  }

  /** Start index of the primary expression that ends right before
    * `end` — like [[primaryStart0]], but absorbing a preceding UNARY
    * sign: the reference's prefix operators bind TIGHTER than `^` and
    * `!` (prec 9 vs 7/8, parser/mod.rs:712-725), so `-2 ^ 2` is
    * `(-2)^2 = 4` and `-3!` is `(-3)!` — the sign is part of the
    * operand, not applied to the rewritten result. A sign preceded by
    * an operand (identifier/number/`)`/quote) is binary and stays
    * outside. */
  private def primaryStart(s: String, end: Int): Int = {
    val st = primaryStart0(s, end)
    var k = st - 1
    while (k >= 0 && s(k).isWhitespace) k -= 1
    if (k >= 0 && (s(k) == '-' || s(k) == '+')) {
      var j = k - 1
      while (j >= 0 && s(j).isWhitespace) j -= 1
      // binary iff an OPERAND precedes the sign; a keyword word like
      // SELECT/WHERE/AND puts the sign in unary position even though a
      // letter precedes it
      val binary = j >= 0 && {
        if (s(j).isLetterOrDigit || s(j) == '_') {
          var w = j
          while (w >= 0 && (s(w).isLetterOrDigit || s(w) == '_')) w -= 1
          !NonPrimaryWords.contains(s.substring(w + 1, j + 1).toUpperCase)
        } else s(j) == ')' || s(j) == '\'' || s(j) == '"' || s(j) == '`'
      }
      if (!binary) return k
    }
    st
  }

  /** Start index of the primary expression that ends right before
    * `end`: an identifier / number / qualified name, a quoted literal
    * or backticked identifier, or a balanced `(...)` group optionally
    * preceded by a function name. String-literal-aware in BOTH
    * branches (see [[literalStarts]]). */
  private def primaryStart0(s: String, end: Int): Int = {
    val lit = literalStarts(s)
    var i = end - 1
    while (i >= 0 && s(i).isWhitespace) i -= 1
    if (i < 0) return 0
    if (lit(i) >= 0) return lit(i) // operand IS a literal / `quoted id`
    if (s(i) == ')') {
      var depth = 0
      while (i >= 0) {
        if (lit(i) >= 0) i = lit(i) - 1 // step over literals wholesale
        else {
          if (s(i) == ')') depth += 1
          else if (s(i) == '(') {
            depth -= 1
            if (depth == 0) {
              i -= 1
              while (i >= 0 && (s(i).isLetterOrDigit || s(i) == '_')) i -= 1
              return i + 1
            }
          }
          i -= 1
        }
      }
      0
    } else {
      while (i >= 0 && (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '.')) i -= 1
      i + 1
    }
  }

  /** End index (exclusive) of the primary expression starting at or
    * after `start`: optional unary sign, then identifier / number /
    * function call / balanced group. Understands 1e-3 exponents. */
  private def primaryEnd(s: String, start: Int): Int = {
    var i = start
    while (i < s.length && s(i).isWhitespace) i += 1
    if (i < s.length && (s(i) == '-' || s(i) == '+')) i += 1
    while (i < s.length && s(i).isWhitespace) i += 1
    if (i >= s.length) return i
    if (s(i) == '(') return skipBalanced(s, i)
    val idStart = i
    while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '.')) i += 1
    // scientific-notation sign: 1e-3 / 2E+5
    if (i < s.length && i > idStart && (s(i) == '-' || s(i) == '+')
        && (s(i - 1) == 'e' || s(i - 1) == 'E') && s(idStart).isDigit
        && i + 1 < s.length && s(i + 1).isDigit) {
      i += 1
      while (i < s.length && s(i).isDigit) i += 1
    }
    // function call: identifier immediately (modulo spaces) before '('
    var j = i
    while (j < s.length && s(j).isWhitespace) j += 1
    if (j < s.length && s(j) == '(' && i > idStart && !s(idStart).isDigit)
      skipBalanced(s, j)
    else i
  }

  /** Index just past the ')' matching the '(' at `i`, quote-aware. */
  private def skipBalanced(s: String, i0: Int): Int = {
    var i = i0
    var depth = 0
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' => i = skipString(s, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1; if (depth == 0) return i
        case _ => i += 1
      }
    }
    i
  }

  private def rewriteFactorials(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < s.length && !changed) {
        s(i) match {
          case '\'' | '"' | '`' => i = skipString(s, i)
          case '!' if i + 1 >= s.length || s(i + 1) != '=' =>
            var j = i - 1
            while (j >= 0 && s(j).isWhitespace) j -= 1
            if (j >= 0 && (s(j).isLetterOrDigit || s(j) == '_' || s(j) == ')')) {
              val st = primaryStart(s, i)
              val prim = s.substring(st, i).trim
              if (prim.nonEmpty && !NonPrimaryWords.contains(prim.toUpperCase)) {
                s = s.substring(0, st) + s"factorial($prim)" + s.substring(i + 1)
                changed = true
              }
            }
            if (!changed) i += 1
          case _ => i += 1
        }
      }
    }
    s
  }

  private def rewriteExponents(sql: String): String = {
    var s = sql
    var more = true
    while (more) {
      // rewrite the RIGHTMOST '^' first → right-associativity, the
      // reference's Exponentiate precedence (2 ^ 3 ^ 2 = 2 ^ 9 = 512)
      var idx = -1
      var i = 0
      while (i < s.length) {
        s(i) match {
          case '\'' | '"' | '`' => i = skipString(s, i)
          case '^' => idx = i; i += 1
          case _ => i += 1
        }
      }
      if (idx < 0) more = false
      else {
        val ls = primaryStart(s, idx)
        val re = primaryEnd(s, idx + 1)
        val l = s.substring(ls, idx).trim
        val r = s.substring(idx + 1, re).trim
        // the sentinel name (not `power`) keeps a user-written power()
        // call on standard Spark semantics — only `^` gets RefPow
        s = s.substring(0, ls) + s"graft_pow($l,$r)" + s.substring(re)
      }
    }
    s
  }

  /** SQL comments (`-- …\n` and `/* … */`) blanked to spaces, string
    * literals copied verbatim — LENGTH-PRESERVING, so indexes into the
    * output address the same characters in the input. String-aware in
    * one pass: a `--` inside a literal does not open a comment, and a
    * quote inside a comment does not open a literal (the two states
    * can't be layered as separate passes). An unterminated block
    * comment blanks to end-of-input, which keeps a partial statement
    * buffered in the shell until the comment's closing delimiter
    * arrives. */
  /** True when `s` ends inside an UNTERMINATED block comment (string
    * literals respected) — the one case where all-comment shell
    * residue is still a partial: its body continues on the next
    * line, so the buffer must not be cleared. */
  private[graft] def inOpenBlockComment(s: String): Boolean = {
    var i = 0
    var open = false
    while (i < s.length) {
      if (open) {
        if (s(i) == '*' && i + 1 < s.length && s(i + 1) == '/') { open = false; i += 2 }
        else i += 1
      } else s(i) match {
        case '\'' | '"' => i = skipString(s, i)
        case '-' if i + 1 < s.length && s(i + 1) == '-' =>
          while (i < s.length && s(i) != '\n') i += 1
        case '/' if i + 1 < s.length && s(i + 1) == '*' => open = true; i += 2
        case _ => i += 1
      }
    }
    open
  }

  private[graft] def blankComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' =>
          val end = skipString(s, i)
          out.append(s.substring(i, end))
          i = end
        case '-' if i + 1 < s.length && s(i + 1) == '-' =>
          while (i < s.length && s(i) != '\n') { out += ' '; i += 1 }
        case '/' if i + 1 < s.length && s(i + 1) == '*' =>
          // `/*+ ... */` is an OPTIMIZER HINT, not a comment: the
          // blanked text is what executes (Shell/Server), so blanking
          // it would silently strip join hints. Kept — but quote chars
          // and semicolons INSIDE the hint blank to spaces (length-
          // preserving): a stray quote would open a phantom string in
          // the statement splitter's maskStrings and a ';' would split
          // the statement mid-hint, and no real hint carries either.
          val isHint = i + 2 < s.length && s(i + 2) == '+'
          var open = true
          while (i < s.length && open) {
            if (s(i) == '*' && i + 1 < s.length && s(i + 1) == '/') {
              out.append(if (isHint) "*/" else "  "); i += 2; open = false
            } else {
              val keep = isHint && s(i) != '\'' && s(i) != '"' && s(i) != ';'
              out += (if (keep) s(i) else ' '); i += 1
            }
          }
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** The input with every quoted literal's CONTENT blanked out (quotes
    * kept) — for keyword detection that must not see inside strings. */
  private[graft] def maskStrings(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s(i) match {
        case q @ ('\'' | '"') =>
          val end = skipString(s, i)
          out += q
          out.append(" " * math.max(0, end - i - 2))
          if (end - i >= 2) out += q
          i = end
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** The first TOP-LEVEL `THEN` keyword in string-masked text — the
    * clause THEN of a MERGE WHEN clause, skipping any THEN inside
    * parentheses (subqueries) or inside a CASE ... END expression in
    * the clause's AND condition. Returns (start, end) offsets. */
  private[graft] def topLevelThen(masked: String): Option[(Int, Int)] = {
    var depth = 0
    var caseDepth = 0
    val tok = raw"(?i)[A-Za-z_][A-Za-z0-9_]*|\(|\)".r
    tok.findAllMatchIn(masked).foreach { m =>
      m.matched match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case w if w.equalsIgnoreCase("case") => caseDepth += 1
        case w if w.equalsIgnoreCase("end") && caseDepth > 0 => caseDepth -= 1
        case w if w.equalsIgnoreCase("then") && depth == 0 && caseDepth == 0 =>
          return Some((m.start, m.end))
        case _ =>
      }
    }
    None
  }

  /** Split on `sep` ignoring separators inside parens and single- OR
    * double-quoted strings (both are string literals in Spark's
    * default dialect). */
  private[graft] def splitTopLevel(body: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < body.length) {
      body(i) match {
        case '\'' | '"' => i = skipString(body, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case c if c == sep && depth == 0 =>
          out += body.substring(start, i); start = i + 1; i += 1
        case _ => i += 1
      }
    }
    out += body.substring(start)
    out.result().filter(_.trim.nonEmpty)
  }

  /** (SET body, optional WHERE body): splits an UPDATE tail at the
    * first top-level WHERE keyword — quote- and paren-aware, so a
    * 'where' inside a string literal never truncates the SET list. */
  private[graft] def splitAtTopLevelWhere(body: String): (String, Option[String]) = {
    var i = 0
    var depth = 0
    while (i < body.length) {
      body(i) match {
        case '\'' | '"' => i = skipString(body, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case c if depth == 0 && (c == 'w' || c == 'W')
            && body.regionMatches(true, i, "WHERE", 0, 5)
            && i > 0 && body(i - 1).isWhitespace
            && (i + 5 >= body.length || body(i + 5).isWhitespace
              || body(i + 5) == '(') => // WHERE(cond) — no space — is valid SQL
          return (body.substring(0, i), Some(body.substring(i + 5)))
        case _ => i += 1
      }
    }
    (body, None)
  }

  // tokens that END a DEFAULT expression: the next top-level column
  // constraint keyword of the reference's column grammar (ast.rs:77-87)
  private val DefaultStopWords = Set("PRIMARY", "NOT", "UNIQUE", "INDEX", "REFERENCES")

  /** The raw TEXT of the DEFAULT expression in one column definition:
    * everything after the DEFAULT keyword up to the next top-level
    * constraint keyword (string- and paren-masked scan, so 'not null
    * yet' inside the default literal and NOT inside a parenthesized
    * expression never truncate it). None when there is no DEFAULT
    * clause, or the expression is the bare NULL keyword (same as no
    * default). The caller parses/folds the text with Catalyst. */
  private[graft] def defaultExprText(colDef: String): Option[String] = {
    val masked = maskStrings(colDef)
    val m = raw"(?i)\bDEFAULT\s".r.findFirstMatchIn(masked).getOrElse(return None)
    val start = m.end
    var i = start
    var depth = 0
    var end = colDef.length
    while (i < masked.length && end == colDef.length) {
      val c = masked(i)
      if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (depth == 0 && (c.isLetter || c == '_')) {
        var j = i
        while (j < masked.length && (masked(j).isLetterOrDigit || masked(j) == '_')) j += 1
        if (DefaultStopWords.contains(masked.substring(i, j).toUpperCase)) end = i
        else i = j
      } else i += 1
    }
    // masking preserves offsets, so the [start, end) slice of the RAW
    // text is the expression with its string contents intact
    val text = colDef.substring(start, end).trim
    if (text.isEmpty || text.equalsIgnoreCase("NULL")) None else Some(text)
  }
}
