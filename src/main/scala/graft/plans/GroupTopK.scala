package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.mutable

/** Whole-operator Catalyst extension (the deepest extension tier): per-group
  * top-k as a first-class plan node. The default formulation —
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k` — shuffles and
  * sorts EVERY row; this operator keeps a bounded heap of k rows per group
  * in each map task, shuffles only those survivors (≤ k rows per group per
  * partition), and merges heaps on the reduce side. No full sort anywhere,
  * shuffle volume O(groups × k × partitions) instead of O(rows) — the same
  * map-side-combine asymmetry aggregation enjoys, applied to top-k.
  *
  * Ladder position (SURVEY §6): (a) builtins, (b) native Expressions +
  * typed Aggregator, (c) optimizer Rule, and — here — (c+) custom
  * LogicalPlan + SparkStrategy + SparkPlan via SparkSessionExtensions. */
case class GroupTopKNode(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKNode =
    copy(child = c)
}

/** Plans the logical node as partial→final bounded-heap stages; the final
  * stage demands clustering on the group key, so EnsureRequirements inserts
  * exactly one hash exchange over the (already k-bounded) partial output. */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap stage. Memory is O(distinct groups in the partition × k)
  * rows and does NOT spill — the right trade for top-k's usual shape
  * (group cardinality ≪ row count). For ultra-high-cardinality groups
  * where even k rows per group exceed task memory, use the window
  * formulation (sort-based, spills) instead. */
case class GroupTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsLocal = groupExprs
    val childOutput = child.output
    val kLocal = k
    // serializable codegen'd row comparator (compiled lazily per executor)
    val ord = new LazilyGeneratedOrdering(order, childOutput)
    child.execute().mapPartitions ({ rows =>
      val keyProj = UnsafeProjection.create(groupExprsLocal, childOutput)
      // per-group max-heap of the current k best: head = worst survivor
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      rows.foreach { row =>
        val heap = heaps.getOrElseUpdate(keyProj(row).copy(),
          mutable.PriorityQueue.empty[InternalRow](ord))
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKExec =
    copy(child = c)
}

/** User API: `GroupTopK.topK(df, Seq($"g"), 3, $"score".desc, $"id")` ≡
  * the window row_number filter, executed as bounded heaps. Registers
  * `GroupTopKStrategy` on the session's experimental strategies itself,
  * so any session can call it. */
object GroupTopK {
  def topK(df: DataFrame, groupCols: Seq[Column], k: Int,
      orderCols: Column*): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(GroupTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupTopKStrategy
    val g = groupCols.map(DatasetBridge.resolvableExpression)
    val o = orderCols.map(c => DatasetBridge.resolvableExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    DatasetBridge.ofRows(spark, GroupTopKNode(g, o, k,
      DatasetBridge.logicalPlan(df)))
  }
}
