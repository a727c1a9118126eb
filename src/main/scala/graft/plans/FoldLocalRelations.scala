package graft.plans

import scala.collection.mutable

import graft.sources.TableCatalog.{LocalReadMaxBytes, LocalReadMaxRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BindReferences, BoundReference, Expression, GenericInternalRow,
  InterpretedMutableProjection, InterpretedUnsafeProjection, IntegerLiteral, JoinedRow, Predicate,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, NormalizeFloatingNumbers}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{
  FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, GlobalLimit, Join, JoinHint, LocalLimit, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils

/** Folds plans over non-streaming `LocalRelation` leaves on the driver,
  * fully interpreted, so a small SELECT collects with no Spark job and
  * no Janino compile — the analog of the reference's single-node
  * `HashJoin` executor (plan/mod.rs:70) over rows already in memory
  * (`TableCatalog.bindRead` decodes small tables into `LocalRelation`s).
  *
  *  - Project, Filter and Limit: the cases of Spark's
  *    `ConvertToLocalRelation`, but the filter runs through an
  *    interpreted predicate. Spark's `Predicate.create` inlines the
  *    condition's literals into generated code, so every statement with
  *    a new literal compiled a new class.
  *  - Equi-joins (`ExtractEquiJoinKeys`) of two local relations with no
  *    join hint, for Inner, LeftOuter, RightOuter, FullOuter, LeftSemi
  *    and LeftAnti: a hash on one side, keyed like Spark's hash joins —
  *    the key row's bytes after `NormalizeFloatingNumbers` (NaN = NaN,
  *    −0.0 = 0.0), a NULL key never matching (`<=>` arrives rewritten
  *    to non-null keys), and a key type whose bytes do not decide
  *    equality (`UnsafeRowUtils.isBinaryStable`) left to Spark. The
  *    residual condition is evaluated over each joined pair. Matches
  *    are counted from the hash before any row is built; a join whose
  *    output would pass the local-read caps ([[LocalReadMaxRows]] rows,
  *    [[LocalReadMaxBytes]] bytes) stays a Spark join.
  *  - Union (positional, as the analyzer leaves `unionByName`) of local
  *    relations: the children's rows in child order, as Spark's union
  *    concatenates its children's partitions — a MERGE's kept rows and
  *    its source. A union past the local-read caps stays with Spark.
  *
  * ExistenceJoin, joins with no equi-key and hinted joins stay with
  * Spark. [[graft.GraftSession.builder]] excludes
  * `ConvertToLocalRelation`, so in its sessions this rule does all the
  * folding; in other sessions both run, with the same rows. Injected
  * into the operator-optimization batch ([[GraftExtensions]]), so
  * `PropagateEmptyRelation` and the later batches see folded
  * relations. */
object FoldLocalRelations extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case Project(list, r: LocalRelation)
          if !r.isStreaming && !list.exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
        val projection = new InterpretedMutableProjection(list, r.output)
        projection.initialize(0)
        r.copy(output = list.map(_.toAttribute), data = r.data.map(projection(_).copy()))

      case GlobalLimit(IntegerLiteral(n), r: LocalRelation) if !r.isStreaming =>
        r.copy(data = r.data.take(n))

      case LocalLimit(IntegerLiteral(n), r: LocalRelation) if !r.isStreaming =>
        r.copy(data = r.data.take(n))

      case Filter(cond, r: LocalRelation)
          if !r.isStreaming && !ConvertToLocalRelation.hasUnevaluableExpr(cond) =>
        val predicate = Predicate.createInterpreted(BindReferences.bindReference(cond, r.output))
        predicate.initialize(0)
        r.copy(data = r.data.filter(predicate.eval))

      case j @ Join(l: LocalRelation, r: LocalRelation,
            Inner | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti, _, JoinHint.NONE)
          if !l.isStreaming && !r.isStreaming =>
        // the keys as Spark's hash joins see them: that rule rewrites
        // float and double keys after the operator batches
        NormalizeFloatingNumbers(j) match {
          case ExtractEquiJoinKeys(jt, leftKeys, rightKeys, residual, _, _, _, _)
              if leftKeys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType)) &&
                !(leftKeys ++ rightKeys ++ residual)
                  .exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
            hashJoin(j, jt, leftKeys, rightKeys, residual, l, r).getOrElse(j)
          case _ => j
        }

      case u @ Union(children, false, false) if children.forall {
            case r: LocalRelation => !r.isStreaming
            case _ => false
          } =>
        val data = children.view.flatMap(_.asInstanceOf[LocalRelation].data)
        if (fitsCaps(u.output, data)) LocalRelation(u.output, data.toVector) else u
    }

  /** Whether `rows` (with columns `attrs`) fit the local-read caps:
    * at most [[LocalReadMaxRows]] rows and [[LocalReadMaxBytes]] bytes
    * as `UnsafeRow`s. Reads no row past either cap. */
  private[graft] def fitsCaps(attrs: Seq[Attribute], rows: Iterable[InternalRow]): Boolean = {
    val size = sizeOf(attrs)
    var (n, bytes) = (0L, 0L)
    val it = rows.iterator
    while (it.hasNext && n <= LocalReadMaxRows && bytes <= LocalReadMaxBytes) {
      bytes += size(it.next())
      n += 1
    }
    n <= LocalReadMaxRows && bytes <= LocalReadMaxBytes
  }

  /** A row's size as an `UnsafeRow` with columns `attrs`; only rows of
    * another class are projected to find it. */
  private def sizeOf(attrs: Seq[Attribute]): InternalRow => Long = {
    lazy val unsafe = unsafeRow(attrs)
    row => row match {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => unsafe(row).getSizeInBytes.toLong
    }
  }

  /** An interpreted projection of a row with columns `attrs` into an
    * (reused) `UnsafeRow`. */
  private def unsafeRow(attrs: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(attrs.zipWithIndex.map {
      case (a, ord) => BoundReference(ord, a.dataType, a.nullable)
    })

  /** Build-side rows sharing one key: their indexes and total bytes. */
  private final class Bucket {
    val rows = mutable.ArrayBuffer.empty[Int]
    var bytes = 0L
  }

  /** The join's rows as one `LocalRelation`, or None when they would
    * pass the caps. The hash is on the right side (the left for a
    * RightOuter join); the other side streams through it. */
  private def hashJoin(j: Join, jt: JoinType, leftKeys: Seq[Expression],
      rightKeys: Seq[Expression], residual: Option[Expression], l: LocalRelation,
      r: LocalRelation): Option[LocalRelation] = {
    val swap = jt == RightOuter
    val (stream, build) = if (swap) (r, l) else (l, r)
    def keyOf(keys: Seq[Expression], side: LocalRelation) =
      InterpretedUnsafeProjection.createProjection(
        keys.map(BindReferences.bindReference(_, side.output)))
    val buildRows = build.data.toIndexedSeq
    val buildKey = keyOf(if (swap) leftKeys else rightKeys, build)
    val buildSize = sizeOf(build.output)
    val buckets = new java.util.HashMap[UnsafeRow, Bucket]()
    buildRows.indices.foreach { i =>
      val k = buildKey(buildRows(i))
      if (!k.anyNull) {
        val b = buckets.computeIfAbsent(k.copy(), _ => new Bucket)
        b.rows += i
        b.bytes += buildSize(buildRows(i))
      }
    }
    val streamRows = stream.data.toIndexedSeq
    val streamKey = keyOf(if (swap) rightKeys else leftKeys, stream)
    val matches = streamRows.map { s =>
      val k = streamKey(s)
      if (k.anyNull) null else buckets.get(k)
    }

    // the output's size from the match counts alone: a pair per match,
    // an unmatched outer row padded, every build row once more for a
    // full outer join, at most the stream side for semi and anti joins
    val streamSize = sizeOf(stream.output)
    var rows = if (jt == FullOuter) buildRows.size.toLong else 0L
    var bytes = if (jt == FullOuter) buildRows.iterator.map(buildSize).sum else 0L
    var i = 0
    while (i < streamRows.size && rows <= LocalReadMaxRows && bytes <= LocalReadMaxBytes) {
      val m = matches(i)
      val n = if (m == null || jt == LeftSemi || jt == LeftAnti) 0 else m.rows.size
      val padded = if (n == 0 && jt != Inner) 1 else 0
      rows += n + padded
      bytes += (n + padded) * streamSize(streamRows(i)) + (if (n == 0) 0L else m.bytes)
      i += 1
    }
    if (rows > LocalReadMaxRows || bytes > LocalReadMaxBytes) return None

    val pass = residual.map { c =>
      val p = Predicate.createInterpreted(BindReferences.bindReference(c, l.output ++ r.output))
      p.initialize(0)
      p
    }
    val joined = new JoinedRow
    def pair(s: InternalRow, b: InternalRow): JoinedRow =
      if (swap) joined(b, s) else joined(s, b)
    val out = unsafeRow(j.output)
    val streamNulls = new GenericInternalRow(stream.output.size)
    val buildNulls = new GenericInternalRow(build.output.size)
    val buildMatched = new java.util.BitSet(buildRows.size)
    val data = Vector.newBuilder[InternalRow]
    streamRows.indices.foreach { i =>
      val s = streamRows(i)
      val hits = Option(matches(i)).fold(Seq.empty[Int])(_.rows.toSeq)
        .filter(b => pass.forall(_.eval(pair(s, buildRows(b)))))
      jt match {
        case LeftSemi => if (hits.nonEmpty) data += s
        case LeftAnti => if (hits.isEmpty) data += s
        case _ =>
          hits.foreach { b =>
            buildMatched.set(b)
            data += out(pair(s, buildRows(b))).copy()
          }
          if (hits.isEmpty && jt != Inner) data += out(pair(s, buildNulls)).copy()
      }
    }
    if (jt == FullOuter) buildRows.indices.foreach { b =>
      if (!buildMatched.get(b)) data += out(pair(streamNulls, buildRows(b))).copy()
    }
    Some(LocalRelation(j.output, data.result()))
  }
}
