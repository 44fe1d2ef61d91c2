package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the DataFrame top-k idiom
  *
  *   df.withColumn("rank", row_number().over(partitionBy(k).orderBy(o)))
  *     .filter(col("rank") <= K)
  *
  * into the heap-based [[TopKPerKeyNode]]. The window form hash-partitions by
  * the key and then SORTS every row of every group before discarding all but
  * K; the rewritten plan keeps the identical shuffle contract but retains at
  * most K rows per key in a bounded binary heap — O(n log K) per partition,
  * no sort, no spill. Output rows, ranks, and the rank column's name/exprId
  * are preserved exactly, so downstream references resolve unchanged.
  *
  * Fires only on the unambiguous shape: a single row_number window expression
  * with a non-empty PARTITION BY, filtered by an upper rank bound
  * (`<= K`, `< K`, `= K` — the `= K` predicate is kept on top of the node,
  * the others are implied by it and dropped). Rank/dense_rank are left to the
  * window: their tie semantics emit MORE than K rows, which a K-heap cannot.
  * Spark's own InferWindowGroupLimit (SPARK-37099) may already have placed a
  * WindowGroupLimit pre-filter under the window; it is STRIPPED when its
  * limit is >= K — its physical form (WindowGroupLimitExec) requires sorted
  * child input, which would reintroduce under the heap exactly the sort the
  * rewrite removes, and every row it would drop the heap drops anyway.
  *
  * Disable with spark.graft.topkRewrite.enabled=false (checked per plan, so
  * it can be toggled on a live session).
  *
  * As with the window formulation itself, among order-ties the surviving rows
  * are arbitrary — supply a total order for deterministic results (the same
  * contract row_number already imposes).
  *
  * Installed by [[graft.GraftExtensions]] (injectOptimizerRule) and
  * [[TopKRankInstall.ensureInstalled]] (spark.experimental.extraOptimizations —
  * the post-hoc path runs in the "User Provided Optimizers" batch after the
  * main optimizer, by which point filter pushdown has already placed the
  * rank filter directly above its Window node).
  */
object TopKRankRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Heap memory per partition is bounded by keys-per-partition x K retained
    * rows; past this K the window sort's spill path is the safer plan.
    */
  val MaxK = 1024

  /** An upper bound on `a`: (attr, bound, droppable). `droppable` marks
    * predicates fully implied by the node's own "rank <= bound" guarantee.
    */
  private object Bound {
    def unapply(e: Expression): Option[(Attribute, Int, Boolean)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) => Some((a, k, true))
      case LessThan(a: Attribute, Literal(k: Int, IntegerType)) => Some((a, k - 1, true))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) => Some((a, k, true))
      case GreaterThan(Literal(k: Int, IntegerType), a: Attribute) => Some((a, k - 1, true))
      case EqualTo(a: Attribute, Literal(k: Int, IntegerType)) => Some((a, k, false))
      case EqualTo(Literal(k: Int, IntegerType), a: Attribute) => Some((a, k, false))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString("spark.graft.topkRewrite.enabled", "true") == "false") plan
    else plan.transformUp {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)), _, _, _, _))
          if w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty =>
        val rankAttr = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val bounds = conjuncts.collect {
          case b @ Bound(a, k, droppable) if a.semanticEquals(rankAttr) => (b, k, droppable)
        }
        if (bounds.isEmpty) f
        else {
          val k = bounds.map(_._2).min
          if (k <= 0 || k > MaxK) f
          else {
            val implied = bounds.filter(_._3).map(_._1).toSet
            val remaining = conjuncts.filterNot(implied.contains)
            val child = w.child match {
              case WindowGroupLimit(_, _, _, limit, grandchild) if limit >= k => grandchild
              case c => c
            }
            val node = TopKPerKeyNode(w.partitionSpec, w.orderSpec, k,
              rankAttr.asInstanceOf[AttributeReference], child)
            if (remaining.isEmpty) node else Filter(remaining.reduce(And), node)
          }
        }
    }
}

object TopKRankInstall {
  /** Idempotently install BOTH halves post-hoc on an existing session: the
    * optimizer rewrite and the planner strategy that turns its node physical.
    * (Sessions configured with spark.sql.extensions=graft.GraftExtensions
    * get both injected at build time instead.)
    */
  def ensureInstalled(spark: SparkSession): Unit = {
    Install.strategy(spark, TopKPerKeyStrategy)
    if (!spark.experimental.extraOptimizations.contains(TopKRankRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRankRewrite
    }
  }
}
