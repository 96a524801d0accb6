package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule for the custom node — the Rule[LogicalPlan] extension
  * tier. Catalyst's own PushDownPredicates only knows built-in nodes, so
  * a Filter above AsofJoin would otherwise stay above it and the
  * predicate would never reach the parquet scan. Left-side-only
  * conjuncts move into the left child (safe: the join emits each left
  * row exactly once, so filtering left rows before or after the join is
  * equivalent); right-referencing conjuncts stay put (right columns are
  * null-extended, so pushing them would change which rows match). */
object AsofJoinFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  // Every session carries this rule, and almost no plan holds an
  // AsofJoin: a read-only search skips the rewriting walk for those.
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.isInstanceOf[AsofJoin])) plan
    else plan.transform {
      case f @ Filter(cond, aj: AsofJoin) =>
        val (leftOnly, rest) = splitConjunctivePredicates(cond)
          .partition(p => p.deterministic &&
            p.references.subsetOf(aj.left.outputSet))
        if (leftOnly.isEmpty) f
        else {
          val pushed = aj.copy(left = Filter(leftOnly.reduce(And), aj.left))
          rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
        }
    }
}
