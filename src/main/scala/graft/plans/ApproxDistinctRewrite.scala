package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Size}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Opt-in optimizer rule: rewrite exact COUNT(DISTINCT x), and its
  * streaming-safe form `size(collect_set(x))` (the exact distinct of
  * [[graft.operators.EventAggregator.aggregate]]), into HyperLogLog++
  * when `spark.graft.approxDistinct=true`.
  *
  * The 100 TB "approx switch" (SURVEY §7.4) as a planner concern rather
  * than a query-code concern: the same dashboards/pipelines run
  * unchanged, and an operator flips one session conf to trade ≤2%
  * distinct-count error for the removal of the Expand + second shuffle
  * that exact distinct costs. Single-column, unfiltered distincts only —
  * multi-column or FILTER'd forms keep exact semantics.
  *
  * Registered through [[graft.functions.GraftExtensions]]
  * (injectOptimizerRule), so it composes with Catalyst's own batches:
  * it runs before RewriteDistinctAggregates, which then never sees a
  * distinct aggregate to expand.
  */
case class ApproxDistinctRewrite() extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.approxDistinct", "false").toBoolean) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(c: Count, _, true, None, _)
          if c.children.size == 1 =>
        ae.copy(
          aggregateFunction = HyperLogLogPlusPlus(c.children.head),
          isDistinct = false)
      // Size is an int: keep the type its parent expressions were
      // resolved against
      case Size(ae @ AggregateExpression(cs: CollectSet, _, false, None, _), _) =>
        Cast(ae.copy(aggregateFunction = HyperLogLogPlusPlus(cs.child)), IntegerType)
    }
}
