package graft.plans

import graft.functions.{CosineSim, Registry}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{
  ArrayExists, EqualTo, If, IsNaN, LambdaFunction, Literal, NamedLambdaVariable, Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Extension entry point: `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` wires the graft function
  * library and optimizer rules into any session at construction time —
  * the injection route a deployment uses when it doesn't call
  * [[graft.GraftSession]] (e.g. spark-submit with
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * The reference runs its own optimizer passes over its plan tree
  * (/root/reference/src/sql/plan/optimizer.rs); on Spark, domain rules
  * join Catalyst's batches through exactly this hook.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => FoldSelfCosine)
    e.injectOptimizerRule(_ => FoldLocalRelations)
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // function registration happens per-session via Registry (the
    // injectFunction hook needs ExpressionInfo plumbing; Registry
    // covers both entry paths)
  }
}

/** Domain constant-folding (analog of the reference's ConstantFolder,
  * optimizer.rs:17): cosine similarity of a column with itself is 1.0
  * for any non-zero vector — replace the O(dim) three-accumulator
  * kernel with short-circuiting element probes.
  *
  * Semantics preserved exactly, matching [[graft.functions.Kernels
  * .cosine]] on EVERY input: 0.0 for an all-zero or empty vector
  * (undefined direction), NaN when any element is NaN or ±Infinity
  * (the kernel's accumulators produce NaN/inf÷inf there), else 1.0.
  * Null semantics preserved: only fires when the child can't be null.
  * Injected into every GraftSession via [[GraftExtensions]] and
  * spec-checked by executing the folded plan end-to-end. */
object FoldSelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSim(a, b) if a.semanticEquals(b) && !a.nullable && a.deterministic =>
        val x1 = NamedLambdaVariable("x", FloatType, nullable = true)
        val nonFinite = LambdaFunction(
          Or(IsNaN(x1),
            Or(EqualTo(x1, Literal(Float.PositiveInfinity, FloatType)),
              EqualTo(x1, Literal(Float.NegativeInfinity, FloatType)))), Seq(x1))
        val x2 = NamedLambdaVariable("x", FloatType, nullable = true)
        val nonZero = LambdaFunction(Not(EqualTo(x2, Literal(0.0f, FloatType))), Seq(x2))
        If(ArrayExists(a, nonFinite), Literal(Double.NaN, DoubleType),
          If(ArrayExists(a, nonZero),
            Literal(1.0, DoubleType), Literal(0.0, DoubleType)))
    }
}
