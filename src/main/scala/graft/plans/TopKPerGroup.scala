package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (build-brief preference (c)): per-group top-k
  * as a first-class plan node instead of the `Window(row_number) + Filter`
  * idiom. The window plan shuffles and SORTS every row of every group;
  * this operator keeps a bounded heap of k rows per group on the map
  * side, so only `k × groups × partitions` rows reach the exchange and
  * nothing is ever globally sorted — the shape that survives a 100-TB
  * fact table with a handful of groups (the reference's "top N per
  * category" reporting idiom, DataCorrelator.java:61-76's sorted print).
  *
  * Semantics: the k FIRST rows of each group under `ordering` (ties at
  * the k-boundary resolved by the ordering itself — callers supply a
  * total order, same determinism contract as every oracle query).
  * Planned as two [[TopKPerGroupExec]] levels, exactly like Spark's
  * partial/final HashAggregate pair: the partial level runs on whatever
  * distribution the child has, the final level declares
  * `ClusteredDistribution(groupCols)` and lets EnsureRequirements insert
  * the one hash exchange.
  */
case class TopKPerGroup(
    groupCols: Seq[Attribute],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Plans [[TopKPerGroup]] as partial→final [[TopKPerGroupExec]]. Injected
  * via `SparkSessionExtensions.injectPlannerStrategy` (GraftExtensions),
  * which `graft.Session` installs on every session it builds.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(groupCols, ordering, k, child) =>
      TopKPerGroupExec(groupCols, ordering, k, partial = false,
        TopKPerGroupExec(groupCols, ordering, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** One level of bounded per-group heaps. The same algorithm serves both
  * levels: the final level just runs it again over the ≤k-per-group
  * partial survivors after the exchange (idempotent on converged input).
  * The row comparator comes from `GenerateOrdering` — a codegen'd
  * UnsafeRow comparator, not per-field reflection.
  */
case class TopKPerGroupExec(
    groupCols: Seq[Attribute],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupCols))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val grp = groupCols
    val ord = ordering
    val kk = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(grp, childOutput)
      val cmp = GenerateOrdering.generate(ord, childOutput)
      // head = worst row currently kept, so one peek decides admission
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = cmp.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk, worstFirst)
          // the projection reuses its output buffer; the map key must own its bytes
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
