package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Shared-subplan barrier: a logical node that passes its child's rows
  * through unchanged and that the optimizer cannot see past.
  *
  * When one subplan feeds two consumers of a plan (the two branches of a
  * union, say), column pruning and filter push-down specialise each copy to
  * its consumer, so the copies stop being equal and AQE shuffles both.
  * Under this node they stay whole: it references every child column, so
  * `ColumnPruning` keeps them all below it, and it is not a node that
  * filters are pushed through. Each consumer then plans a canonically equal
  * subtree, and AQE runs its exchanges once and reuses them.
  *
  * Planning drops the node ([[SharedSubplanStrategy]] plans the child in its
  * place): no exec node, no state, lineage kept. Unlike `cache` or
  * `localCheckpoint` it stores nothing and shares only within one plan.
  */
case class SharedSubplanNode(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): SharedSubplanNode =
    copy(child = newChild)
}

/** Planner rule: the barrier plans as its child. */
object SharedSubplanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: SharedSubplanNode => planLater(n.child) :: Nil
    case _ => Nil
  }
}

object SharedSubplan {

  /** `df` under the barrier, with the strategy installed on its session. */
  def of(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    Install.strategy(spark, SharedSubplanStrategy)
    PlanBridge.ofRows(spark, SharedSubplanNode(df.queryExecution.analyzed))
  }
}
