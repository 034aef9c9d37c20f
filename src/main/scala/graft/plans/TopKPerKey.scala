package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.ColumnBridge

/** Custom whole-plan operator: top-k rows per key under an ordering.
  *
  * The DataFrame idiom (`row_number().over(partitionBy(key).orderBy(o))
  * <= k`) sorts EVERY candidate row inside each key partition before
  * discarding all but k — at 100 TB of similarity candidates that sort
  * is the bottleneck. This operator keeps a bounded heap per key
  * instead, in two phases: a partial pass on the map side (each input
  * partition emits ≤k rows per key, collapsing the shuffle input), then
  * a final pass after clustering by key. O(n log k) with k-bounded
  * memory, no full sort anywhere.
  *
  * Registered as a planner strategy (GraftExtensions /
  * `spark.experimental.extraStrategies`); `TopKPerKey.apply` is the
  * user-facing entry.
  */
object TopKPerKey {

  /** logical node — resolution is generic (output = child output). */
  case class TopKPerKeyNode(
      keyExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
      copy(child = newChild)
  }

  /** physical node; `partial=true` instances run before the exchange. */
  case class TopKPerKeyExec(
      keyExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      partial: Boolean,
      child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output

    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      else Seq(ClusteredDistribution(keyExprs))

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val keys = keyExprs
      val ord = new LazilyGeneratedOrdering(order, childOutput)
      val limit = k
      child.execute().mapPartitions ({ iter =>
        val keyProj = UnsafeProjection.create(keys, childOutput)
        // max-heap under ord: head = worst of the kept k; evict when a
        // better row arrives
        val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
        iter.foreach { row =>
          val u = row.asInstanceOf[UnsafeRow]
          val key = keyProj(u)
          val heap = heaps.get(key) match {
            case Some(h) => h
            case None =>
              val h = mutable.PriorityQueue.empty[UnsafeRow](ord.asInstanceOf[Ordering[UnsafeRow]])
              heaps.put(key.copy(), h)
              h
          }
          if (heap.size < limit) heap.enqueue(u.copy())
          else if (ord.compare(u, heap.head) < 0) { heap.dequeue(); heap.enqueue(u.copy()) }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
      copy(child = newChild)
  }

  /** planner strategy: partial top-k → (exchange inserted by
    * EnsureRequirements) → final top-k. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, child) =>
        TopKPerKeyExec(keys, order, k, partial = false,
          TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
      case _ => Nil
    }
  }

  private def toSortOrder(c: Column): SortOrder =
    ColumnBridge.expression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }

  /** top-k rows of `df` per `keyCols` group, "first k" under
    * `orderCols` (use `.desc` for largest-first). Output rows are
    * unsorted within a key — add a cheap window over the ≤k survivors
    * if a rank column is needed. */
  def apply(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
            k: Int): DataFrame = {
    val spark = df.sparkSession
    TopKInstaller.installStrategy(spark)
    ColumnBridge.ofRows(spark, TopKPerKeyNode(
      keyCols.map(ColumnBridge.expression),
      orderCols.map(toSortOrder),
      k,
      ColumnBridge.logicalPlan(df)))
  }
}
