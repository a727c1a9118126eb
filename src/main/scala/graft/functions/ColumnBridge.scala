package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's private[sql] Column ↔ Expression converters, the
  * supported way since Spark 4 moved Column onto ColumnNode. Lives in
  * the org.apache.spark.sql package solely to access them; all graft
  * code goes through [[GraftColumnBridge]]. */
/** Public alias to the private[sql] AbstractDataType, so graft's
  * custom Expressions can declare `inputTypes` (ExpectsInputTypes)
  * from outside the org.apache.spark.sql package. */
object GraftTypes {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** The NumericType companion as an AbstractDataType (it is
    * private[sql]) — "any numeric child, UNCAST", used by the
    * reference-arithmetic expressions whose long-vs-double dispatch
    * must read the raw child type. */
  val numeric: AbstractType = types.NumericType

  /** `s` with every field nullable at every depth, as a file source
    * reads it (`asNullable` is private[spark]). */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed logical plan (Dataset.ofRows
    * is private[sql]) — how GraftSQL re-wraps a plan it has rewritten
    * (e.g. the reference's integer-division dispatch, which is
    * type-directed and therefore must run AFTER analysis). */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    s match {
      case c: classic.SparkSession => classic.Dataset.ofRows(c, plan)
      case other => throw new UnsupportedOperationException(
        s"classic SparkSession required, got ${other.getClass.getName}")
    }

  /** The schema checks a `DataFrameWriter` file write runs before its
    * job (`DataSource.planForWriting`, then `FileFormatWriter.write`),
    * for a write that skips the job (`TableCatalog.writeLocal`). */
  def checkWriteSchema(s: SparkSession, format: execution.datasources.FileFormat,
      schema: types.StructType): Unit = {
    execution.datasources.DataSource.validateSchema(format.toString, schema, s.sessionState.conf)
    execution.datasources.DataSourceUtils.verifySchema(format, schema)
    execution.datasources.DataSourceUtils.checkFieldNames(format, schema)
  }

  /** The physical plan of a streaming query's most recent micro-batch
    * (StreamingQueryWrapper / StreamExecution are private[sql]) — how
    * a spec asserts what a STREAMING query actually executed (e.g.
    * that a stream-static join really broadcast the static side). */
  def streamingExecutedPlan(q: streaming.StreamingQuery): Option[String] = q match {
    case w: execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString)
    case _ => None
  }

  /** `(column, comparator, literal-as-string, literal-is-string)` for
    * every top-level AND conjunct of an UNANALYZED Column that has the
    * shape `col <op> literal` (either side) or `col BETWEEN lo AND hi`
    * (two conjuncts), with the comparator normalized to the
    * column-on-the-left direction. The is-string flag carries the
    * literal's RUNTIME type to the pruning layer: a numeric literal
    * compared against a string column evaluates NUMERICALLY in Spark
    * (the string side is coerced), so byte-order stats pruning would be
    * unsound for it — the consumer must skip those.
    *
    * Any Column is first converted to its Catalyst expression (eagerly:
    * `expression(c)` would only wrap the node for the analyzer), so the
    * two ways a predicate reaches the catalog read the same: the
    * Column-API form (`col(k) >= lit(3)`, whose operators convert to
    * `UnresolvedFunction` nodes) and SQL text parsed by the session
    * parser (`k BETWEEN 3 AND 9`, whose comparators arrive as Catalyst
    * comparison nodes wrapped in an expression node). The literal side
    * may be any deterministic foldable expression (`-5`, `2 * 3`).
    * Used by the catalog's manifest-stats index pruning. */
  def rangeConjuncts(c: Column): Seq[(String, String, String, Boolean)] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def fn(f: UnresolvedFunction, name: String, arity: Int): Boolean =
      f.nameParts.length == 1 && f.nameParts.head.equalsIgnoreCase(name) &&
        f.arguments.length == arity && !f.isDistinct
    // (lhs, comparator, rhs) triples: AND splits, BETWEEN expands to
    // its two bounds, anything else is not a range and contributes none
    def conjuncts(e: Expression): Seq[(Expression, String, Expression)] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction if fn(f, "and", 2) => f.arguments.flatMap(conjuncts)
      case f: UnresolvedFunction if fn(f, "between", 3) =>
        Seq((f.arguments(0), ">=", f.arguments(1)), (f.arguments(0), "<=", f.arguments(2)))
      case EqualTo(x, y)            => Seq((x, "=", y))
      case GreaterThan(x, y)        => Seq((x, ">", y))
      case GreaterThanOrEqual(x, y) => Seq((x, ">=", y))
      case LessThan(x, y)           => Seq((x, "<", y))
      case LessThanOrEqual(x, y)    => Seq((x, "<=", y))
      case f: UnresolvedFunction
          if Seq("=", "==", ">", ">=", "<", "<=").exists(fn(f, _, 2)) =>
        Seq((f.arguments(0), f.nameParts.head, f.arguments(1)))
      case _ => Nil
    }
    // a single-part name only: a qualified `t.c` could name another
    // relation's column inside the predicate
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    // the folded literal converted back to its external Scala form, so
    // a string literal is told apart from a numeric one; a collated
    // string literal compares under its collation, not byte order
    def litStr(e: Expression): Option[(String, Boolean)] =
      if (!e.deterministic || !e.foldable) None
      else try e.dataType match {
        case st: types.StringType if st != types.StringType => None
        case dt => Option(e.eval(null)).map(v =>
          (CatalystTypeConverters.convertToScala(v, dt).toString, dt == types.StringType))
      } catch { case scala.util.control.NonFatal(_) => None }
    def flip(op: String): String = op match {
      case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
      case other => other
    }
    conjuncts(classic.ColumnNodeToExpressionConverter(c.node)).flatMap { case (x, op, y) =>
      (attr(x), litStr(y), attr(y), litStr(x)) match {
        case (Some(cn), Some((v, s)), _, _) => Some((cn, op, v, s))
        case (_, _, Some(cn), Some((v, s))) => Some((cn, flip(op), v, s))
        case _ => None
      }
    }
  }
}

/** Bridge to the private[spark] listener bus: EXPLAIN ANALYZE captures
  * executed plans through a QueryExecutionListener, whose callbacks
  * arrive ASYNCHRONOUSLY on the listener bus — metrics may only be
  * rendered after the bus has drained, or a fast statement would race
  * its own report. */
object GraftListenerBridge {
  def flush(s: SparkSession): Unit = s match {
    case c: classic.SparkSession =>
      c.sparkContext.listenerBus.waitUntilEmpty(30000L)
    case _ => ()
  }
}

/** Bridge to the private[sql] `SparkSession.cloneSession`: a new
  * session over the same SparkContext that starts with a copy of the
  * caller's conf, temp views, functions, query-execution listeners and
  * optimizer extensions (not its streaming listeners), and whose later
  * changes stay its own. */
object GraftSessionBridge {
  def cloneSession(s: SparkSession): SparkSession = s match {
    case c: classic.SparkSession => c.cloneSession()
    case other => throw new UnsupportedOperationException(
      s"classic SparkSession required, got ${other.getClass.getName}")
  }
}
