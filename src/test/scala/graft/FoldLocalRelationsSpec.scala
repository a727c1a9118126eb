package graft

import java.nio.file.Files

import graft.plans.FoldLocalRelations
import graft.sources.TableCatalog
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, Join, JoinHint, Limit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver fold of plans over `LocalRelation`s
  * ([[graft.plans.FoldLocalRelations]]). Parity specs compare each
  * folded result with the same frames after `.repartition(2)`, which
  * keeps the plan off the fold and so takes Spark's route; every folded
  * frame is also checked to have optimized to one `LocalRelation`, so
  * no comparison is vacuous. */
class FoldLocalRelationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("s", StringType),
    StructField("v", IntegerType)))

  private def frame(rows: (Integer, java.lang.Double, String, String, Int)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, d, dec, s, v) =>
      Row(k, d, Option(dec).map(BigDecimal(_).bigDecimal).orNull, s, v)
    }: _*), schema)

  // NULL, NaN, −0.0/0.0, DECIMAL and STRING keys; key 1 twice per side
  private lazy val left = frame(
    (1, 1.0, "1.00", "a", 1), (1, Double.NaN, "2.50", "b", 2), (2, -0.0, "2.50", "b", 3),
    (3, 0.0, null, null, 4), (null, null, "3.00", "c", 5), (4, Double.NaN, "1.00", "a", 6),
    (5, 7.5, "9.99", "z", 7))
  private lazy val right = frame(
    (1, Double.NaN, "1.00", "a", 10), (1, 0.0, "2.50", "b", 0), (2, -0.0, "1.00", "b", 5),
    (3, -0.0, "3.00", null, 1), (null, null, null, "c", 2), (6, 1.0, "2.50", "y", 3),
    (6, 7.5, "9.99", "y", 9))

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def folded(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case r: LocalRelation => !r.isStreaming
    case _ => false
  }

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])

  /** `build` over the local frames and over their repartitioned copies. */
  private def parity(what: String)(build: (DataFrame, DataFrame) => DataFrame): Seq[String] = {
    val local = build(left, right)
    assert(folded(local), s"$what must fold:\n${local.queryExecution.optimizedPlan}")
    val viaSpark = build(left.repartition(2), right.repartition(2))
    assert(!folded(viaSpark), s"$what: the repartitioned route must not fold")
    val (a, b) = (rendered(local), rendered(viaSpark))
    assert(a == b, s"$what: driver fold and Spark disagree\nfold:  $a\nspark: $b")
    a
  }

  test("every folded join type equals Spark's join on NULL, NaN, -0.0, DECIMAL and STRING keys") {
    val types = Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")
    val conds: Seq[(String, (DataFrame, DataFrame) => Column)] =
      Seq("k", "d", "dec", "s").flatMap(c => Seq(
        s"$c =" -> ((a: DataFrame, b: DataFrame) => a(c) === b(c)),
        s"$c <=>" -> ((a: DataFrame, b: DataFrame) => a(c) <=> b(c)))) :+
        ("k = with residual" -> ((a: DataFrame, b: DataFrame) => a("k") === b("k") && a("v") < b("v")))
    val sizes = for (jt <- types; (name, cond) <- conds)
      yield (jt, name) -> parity(s"$jt on $name")((a, b) => a.join(b, cond(a, b), jt)).size
    val n = sizes.toMap
    // the shapes are not vacuous: duplicates multiply, NULL only meets <=>,
    // NaN meets NaN and -0.0 meets 0.0, the residual drops pairs
    assert(n(("inner", "k =")) == 6, n)   // 2×2 on key 1, 1 on 2, 1 on 3
    assert(n(("inner", "k <=>")) == 7, n) // plus NULL <=> NULL
    assert(n(("inner", "d =")) == 10, n)  // 1.0, NaN 2×1, 0.0/-0.0 2×3, 7.5
    assert(n(("inner", "k = with residual")) == 3, n)
    assert(n(("full_outer", "s =")) > n(("inner", "s =")), n)
    assert(n(("left_anti", "k =")) == 3, n) // NULL, 4, 5
  }

  test("Project, Filter and Limit chains fold to Spark's rows") {
    parity("filter and project")((a, _) =>
      a.filter(col("v") > 2 && col("s").isNotNull)
        .select(col("k"), (col("v") * 2).as("w"), upper(col("s")).as("u")))
    parity("project, filter, limit past the rows")((a, _) =>
      a.select(col("k"), (col("d") + 1).as("d1"), col("dec")).filter(col("k").isNotNull).limit(100))
    parity("join then project and filter")((a, b) =>
      a.join(b, a("k") === b("k"), "left_outer").select(a("k"), b("v").as("rv"))
        .filter(col("rv").isNull || col("rv") > 1))
    // a limit that cuts keeps the first rows in the relation's order,
    // as Spark's CollectLimit over a local scan does
    val cut = left.filter(col("v") > 1).limit(2)
    assert(folded(cut), cut.queryExecution.optimizedPlan)
    assert(cut.collect().toSeq == left.filter(col("v") > 1).collect().take(2).toSeq)
  }

  test("hinted joins, joins without an equi-key and joins over the cap stay Spark joins") {
    val hinted = left.join(broadcast(right), left("k") === right("k"))
    assert(hasJoin(hinted) && GraftSession.explainPlan(hinted).contains("BroadcastHashJoin"))
    val shuffled = left.hint("shuffle_hash").join(right, left("k") === right("k"))
    assert(hasJoin(shuffled) && GraftSession.explainPlan(shuffled).contains("ShuffledHashJoin"))
    val theta = left.join(right, left("v") < right("v"))
    assert(hasJoin(theta))
    assert(rendered(theta) == rendered(left.repartition(2).join(right.repartition(2),
      left("v") < right("v"))))

    import spark.implicits._
    // one key on both sides: 200 × 300 = 60,000 rows fits 2^16, 300 × 300 does not
    def ones(n: Int) = (0 until n).map(i => (1, i)).toDF("k", "i")
    val (l200, l300, r300) = (ones(200), ones(300), ones(300).withColumnRenamed("i", "j"))
    val under = l200.join(r300, "k")
    assert(folded(under) && under.collect().length == 60000)
    val over = l300.join(r300, "k")
    assert(hasJoin(over), over.queryExecution.optimizedPlan)
    assert(over.collect().length == 90000)
    // 20 pairs that each carry a 1 MiB string pass the 16 MiB byte cap
    val wide = Seq((1, "x" * (1 << 20))).toDF("k", "payload")
    val overBytes = wide.join(ones(20), "k")
    assert(hasJoin(overBytes), overBytes.queryExecution.optimizedPlan)
    assert(overBytes.collect().length == 20)
  }

  test("a streaming LocalRelation and an ExistenceJoin are never touched") {
    val k = AttributeReference("k", IntegerType)()
    val k2 = AttributeReference("k2", IntegerType)()
    val rows = Seq(InternalRow(1), InternalRow(2))
    val streaming = LocalRelation(Seq(k), rows, isStreaming = true)
    val streaming2 = LocalRelation(Seq(k2), rows, isStreaming = true)
    val batch = LocalRelation(Seq(k), rows)
    val batch2 = LocalRelation(Seq(k2), rows)
    val untouched: Seq[LogicalPlan] = Seq(
      Filter(GreaterThan(k, Literal(1)), streaming),
      Project(Seq(k), streaming),
      Limit(Literal(1), streaming),
      Join(streaming, streaming2, Inner, Some(EqualTo(k, k2)), JoinHint.NONE),
      Join(batch, batch2, ExistenceJoin(AttributeReference("exists", BooleanType)()),
        Some(EqualTo(k, k2)), JoinHint.NONE))
    for (p <- untouched) assert(FoldLocalRelations(p) eq p, p)
    // the same shapes over batch relations do fold
    assert(FoldLocalRelations(Filter(GreaterThan(k, Literal(1)), batch)).isInstanceOf[LocalRelation])
    assert(FoldLocalRelations(Join(batch, batch2, Inner, Some(EqualTo(k, k2)), JoinHint.NONE))
      .isInstanceOf[LocalRelation])
  }

  test("a union of local relations folds to Spark's rows in child order, within the caps") {
    val rows = parity("union")((a, b) => a.filter(col("k") =!= 2).unionByName(b.select(b.columns.map(col): _*)))
    assert(rows.size == 12)
    val u = left.union(right).union(left)
    assert(folded(u) && u.collect().toSeq == (left.collect() ++ right.collect() ++ left.collect()).toSeq)
    val half = spark.createDataFrame(java.util.Arrays.asList(
      (0L to TableCatalog.LocalReadMaxRows / 2).map(Row(_)): _*), StructType(Seq(StructField("id", LongType))))
    assert(folded(half) && !folded(half.union(half)), "a union past the row cap stays with Spark")
  }

  test("point, range and join SELECTs with new literals compile no class and run no job") {
    // CodegenMetrics is JVM-global: this reads it safely only because
    // `Test / fork` runs the suites one after another in one JVM
    val cat = new TableCatalog(spark, Files.createTempDirectory("graft-fold").toString)
    val g = new GraftSQL(spark, cat)
    val orders = spark.range(0, 2000).select(col("id").as("o_orderkey"),
      date_add(lit("2024-01-01").cast(DateType), (col("id") % 365).cast(IntegerType)).as("o_orderdate"),
      (col("id") * 1.5).as("o_totalprice"))
    cat.createTable("orders", orders.schema, primaryKey = Some("o_orderkey"),
      indexes = Seq("o_orderkey"))
    cat.insert("orders", orders)
    val lineitem = spark.range(0, 8000).select((col("id") / 4).cast(LongType).as("l_orderkey"),
      (col("id") % 4).as("l_linenumber"), (col("id") * 0.25).as("l_extendedprice"))
    cat.createTable("lineitem", lineitem.schema, indexes = Seq("l_orderkey"))
    cat.insert("lineitem", lineitem)

    def point(k: Int) = s"SELECT * FROM lineitem WHERE l_orderkey = $k"
    def range(k: Int) = s"SELECT * FROM orders WHERE o_orderkey BETWEEN $k AND ${k + 20}"
    def join(k: Int) = "SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_extendedprice " +
      s"FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
      s"WHERE o.o_orderkey = $k AND l.l_orderkey = $k"
    val shapes = Seq((point _, 4), (range _, 21), (join _, 4))
    shapes.foreach { case (sql, n) => assert(g.execute(sql(1)).collect().length == n) }

    val sc = spark.sparkContext
    val (driver0, spark0) = (g.driverSelects, g.sparkSelects)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup("graft-fold-literals", "driver fold literals")
    try for ((sql, n) <- shapes; k <- 100 until 150)
      assert(g.execute(sql(k)).collect().length == n, sql(k))
    finally sc.clearJobGroup()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(compiles == 0, s"$compiles Janino compiles over 150 SELECTs")
    assert(sc.statusTracker.getJobIdsForGroup("graft-fold-literals").isEmpty)
    assert((g.driverSelects - driver0, g.sparkSelects - spark0) == ((150, 0)))
  }
}
