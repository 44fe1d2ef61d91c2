package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.IntegerType

/** Whole-operator custom plan: per-key top-k with bounded heaps.
  *
  * The DataFrame idiom for "rank <= k per key" is a window function — which
  * hash-repartitions by the key and then SORTS EVERY ROW of every group
  * before discarding all but k. This operator keeps the same shuffle
  * contract but replaces the full sort with a size-k binary heap per key:
  * O(n log k) per partition, O(distinct-keys-per-partition x k) memory, no
  * sort spill. It is the build brief's preference-order (c) path end to end:
  * a logical `UnaryNode`, a `SparkStrategy` planning it into a physical
  * `UnaryExecNode`, installable via `SparkSessionExtensions`
  * (graft.GraftExtensions) or `spark.experimental.extraStrategies`.
  *
  * Output = child columns + an int rank column (1..k per key in `ordering`
  * order). Supply a TOTAL order (include a tiebreaker) and the result is
  * independent of arrival order — identical rows and ranks to the window
  * formulation (asserted in TopKPerKeySpec).
  *
  * Partitioning passthrough: the heaps run inside each partition and never
  * move a row, so the output keeps the child's partitioning (the key's hash
  * clustering after the exchange). A second top-k on the same key, or an
  * aggregate grouped on a superset of the keys, plans no further exchange.
  *
  * Scale note: memory is bounded by keys-per-partition x k retained rows.
  * For the top-k-neighbors shape (many rows per key, k small) that is a
  * large win over the window sort; for near-unique keys it degenerates to
  * the input size — use the window form there.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rank is GENERATED here, not read from the child — without this the
  // analyzer counts the constructor's AttributeReference as a reference and
  // fails with MISSING_ATTRIBUTES
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)

  /** The shuffle contract: all rows of one key meet in one partition — the
    * same distribution a window would demand, minus the sort requirement.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrders = ordering
    val kk = k
    val rank = rankAttr
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(sortOrders, childOutput)
      // per key, a max-heap under `ord`: the root is the WORST retained row,
      // evicted when a better one arrives
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, ord.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kk) {
          heap.add(row.copy())
        } else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      val outProj = UnsafeProjection.create(childOutput :+ rank, childOutput :+ rank)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val groups = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var current: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = current.hasNext || {
          while (!current.hasNext && groups.hasNext) advance()
          current.hasNext
        }
        private def advance(): Unit = {
          val heap = groups.next()
          val arr = new Array[InternalRow](heap.size())
          var i = arr.length - 1
          while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // heap drains worst-first
          current = arr.iterator.zipWithIndex.map { case (r, idx) =>
            rankRow.setInt(0, idx + 1)
            outProj(joined(r, rankRow))
          }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          current.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerKeyNode -> physical TopKPerKeyExec. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyNode =>
      TopKPerKeyExec(n.keys, n.ordering, n.k, n.rankAttr, planLater(n.child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** DataFrame-level entry: top `k` rows per `keyCols` group under `order`
    * ((column, ascending) pairs forming a total order), with a 1-based int
    * rank column appended.
    */
  def of(df: DataFrame, keyCols: Seq[String], order: Seq[(String, Boolean)],
      k: Int, rankName: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    Install.strategy(spark, TopKPerKeyStrategy)
    val plan = df.queryExecution.analyzed
    def attr(c: String): Attribute = plan.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$c' among ${plan.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    PlanBridge.ofRows(spark,
      TopKPerKeyNode(keyCols.map(attr), sortOrders, k, rankAttr, plan))
  }
}
