package graft

import graft.functions.{DotQ, GraftExpressions, HllDistinct}
import graft.plans.GraftOptimizations
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Build-time session wiring for graft's Catalyst extensions (§2.12):
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * registers the `graft_dot_q` SQL function and the
  * [[graft.plans.RewriteDotProduct]] and [[graft.plans.SmallSortOneTask]]
  * optimizer rules on every session of the application — the production
  * path on a real cluster, where the session is built once in the job
  * entrypoint. For a session graft did NOT build (the
  * driver harness passes one in), the runtime equivalents are
  * `GraftExpressions.register(spark)` + `GraftOptimizations.install(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(GraftExpressions.DotQName),
      new ExpressionInfo(classOf[DotQ].getName, GraftExpressions.DotQName),
      (exprs: Seq[Expression]) => DotQ(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftExpressions.HllName),
      new ExpressionInfo(classOf[HllDistinct].getName, GraftExpressions.HllName),
      (exprs: Seq[Expression]) => HllDistinct(exprs.head)))
    GraftOptimizations.rules.foreach(rule => ext.injectOptimizerRule(_ => rule))
  }
}
