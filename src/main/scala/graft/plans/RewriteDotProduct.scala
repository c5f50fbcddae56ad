package graft.plans

import graft.functions.DotQ
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Catalyst optimizer rule (§2.12 extension surface, rung (c) of the
  * custom-operator ladder): rewrite the declarative integer dot-product
  * pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)
  *
  * into the fused whole-stage-codegen expression [[graft.functions.DotQ]].
  * The HOF chain allocates an intermediate array and invokes two lambda
  * closures per element; DotQ is one branch-minimal loop over the two
  * ArrayData buffers. The rewrite is SEMANTICS-PRESERVING for every input:
  * DotQ mirrors the HOF form exactly (NULL on null array, null paired
  * element, or length mismatch — zip_with null-pads the shorter side, which
  * nulls the sum; 0 on two empty arrays). Asserted by OptimizerRuleSpec on
  * fixture embeddings plus the null/mismatch edge cases.
  *
  * Matched conservatively: both sides must be array<bigint>, the zero must
  * be literal 0L, the zip and merge lambdas must be a bare product / sum of
  * their own two variables (either operand order), and the finish lambda
  * must be the identity (what `functions.aggregate` without a finish
  * argument emits). Anything else — casts, extra arithmetic, non-long
  * elements — is left untouched.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The lambda body uses exactly the lambda's own two variables, once each
    * (operand order free — both * and + commute here). */
  private def usesOwnVars(p: NamedLambdaVariable, q: NamedLambdaVariable,
      args: Seq[NamedExpression]): Boolean =
    args.collect { case v: NamedLambdaVariable => v.exprId }.toSet ==
      Set(p.exprId, q.exprId) && p.exprId != q.exprId

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(l, r, LambdaFunction(
          Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _), margs, _)),
        Literal(zero, LongType),
        LambdaFunction(
          Add(aa: NamedLambdaVariable, av: NamedLambdaVariable, _), aargs, _),
        LambdaFunction(fv: NamedLambdaVariable, Seq(farg: NamedLambdaVariable), _))
      if zero == 0L && isLongArray(l) && isLongArray(r) &&
        usesOwnVars(mx, my, margs) && usesOwnVars(aa, av, aargs) &&
        fv.exprId == farg.exprId =>
      DotQ(l, r)
  }
}

/** Installer for sessions graft does not construct (the driver harness
  * builds its own SparkSession): appends graft's rules ([[RewriteDotProduct]]
  * and [[SmallSortOneTask]]) to `spark.experimental.extraOptimizations`,
  * which the optimizer runs as the final "User Provided Optimizers" batch.
  * Idempotent. Sessions built from scratch can instead set
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftOptimizations {
  val rules: Seq[Rule[LogicalPlan]] = Seq(RewriteDotProduct, SmallSortOneTask)

  def install(spark: SparkSession): Unit = synchronized {
    val missing = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
  }
}
