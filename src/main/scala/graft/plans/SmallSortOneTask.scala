package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT

/** Catalyst optimizer rule: a global `Sort` whose child Spark estimates at
  * or below `spark.sql.autoBroadcastJoinThreshold` sorts in one task.
  *
  * The rule puts `RepartitionByExpression(order, child, Some(1))` under the
  * Sort. Spark plans a one-partition repartition as an
  * `Exchange SinglePartition`, which satisfies the Sort's ordered
  * distribution and needs no range bounds, so the sort runs as one task
  * without the sampling job Spark otherwise starts to pick those bounds —
  * on a result of a few KB that job, not the rows, is most of the sort's
  * cost. The bound is the one Spark already uses to broadcast a join side:
  * input that small fits one task, and a larger estimate (any table at
  * scale) leaves the plan as it was. Its one risk is the one a broadcast
  * already takes: an estimate below the real size (a `Generate` fan-out,
  * say) puts more rows in the one task than the bound implies.
  *
  * Left alone:
  *  - a Sort under `GlobalLimit`/`LocalLimit`/`Tail`/`Offset`, also through
  *    a `Project`: Spark plans those as `TakeOrderedAndProject` (or a
  *    collect), with no range exchange to replace;
  *  - a Sort whose child is already a one-partition repartition (the rule
  *    runs in a fixed-point batch);
  *  - streaming plans, and every plan when the threshold is below 0.
  */
object SmallSortOneTask extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bound = conf.autoBroadcastJoinThreshold
    if (bound < 0 || plan.isStreaming || !plan.containsPattern(SORT)) plan
    else rewrite(plan, bound, underLimit = false)
  }

  private def rewrite(p: LogicalPlan, bound: Long, underLimit: Boolean): LogicalPlan = {
    val childUnderLimit = p match {
      case _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset => true
      case _: Project => underLimit
      case _ => false
    }
    p.mapChildren(rewrite(_, bound, childUnderLimit)) match {
      case done @ Sort(_, true, RepartitionByExpression(_, _, Some(1), _), _) => done
      case s @ Sort(order, true, child, _) if !underLimit && child.stats.sizeInBytes <= bound =>
        s.copy(child = RepartitionByExpression(order, child, Some(1)))
      case other => other
    }
  }
}
