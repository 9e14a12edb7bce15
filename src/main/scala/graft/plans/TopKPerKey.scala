package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Per-key top-k as a first-class operator (SURVEY.md §7.3 tier (c):
  * custom `LogicalPlan` + `SparkStrategy` + physical node, registered
  * via `SparkSessionExtensions`).
  *
  * The window formulation (`row_number().over(partitionBy(key).orderBy(o))
  * .filter(_ <= k)`) must shuffle EVERY row and fully sort each key
  * group before discarding all but k. This operator keeps a bounded
  * heap of k rows per key:
  *
  *  - a `partial = true` instance runs map-side, BEFORE the exchange —
  *    at most k rows per (partition, key) ever reach the shuffle;
  *  - EnsureRequirements inserts the key-clustered exchange demanded by
  *    the final instance, which merges the partial winners.
  *
  * At 100 TB with k=10 and millions of keys, the shuffle shrinks from
  * the full table to ~k × keys rows — the difference between a
  * sort-bound stage and a scan-bound one. Memory is O(keys-per-partition
  * × k rows), spill-free by construction.
  *
  * The sort order must be total (include a tiebreaker) for
  * deterministic results — same requirement the window formulation has.
  */
case class TopKPerKeyNode(
    keyExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    keyExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keyExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keys = keyExprs
    val order = sortOrder
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val ordering: Ordering[InternalRow] =
        GenerateOrdering.generate(order, childOutput)
      // head of the queue = worst kept row under the sort order
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < limit) heap.enqueue(row.copy())
            else if (ordering.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Plans the logical node as partial → (exchange) → final. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** `SparkSessionExtensions` hook:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
}

/** DataFrame-level API. */
object TopKPerKey {
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    // the operator reads the session's planner and never changes it
    if (!spark.sessionState.planner.strategies.contains(TopKPerKeyStrategy))
      throw new IllegalStateException(
        "TopKPerKey.topKPerKey needs a session built with GraftExtensions: " +
          "SparkSession.builder().withExtensions(new graft.plans.GraftExtensions) " +
          "or spark.sql.extensions=graft.plans.GraftExtensions")
    val sortOrder = order.map { c =>
      ColumnBridge.expression(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    ColumnBridge.ofRows(spark,
      TopKPerKeyNode(keys.map(ColumnBridge.expression), sortOrder, k,
        df.queryExecution.analyzed))
  }
}
