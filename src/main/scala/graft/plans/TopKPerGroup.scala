package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator extension demo (SURVEY §2.2 "custom operator" path c):
  * top-K rows per group as a FIRST-CLASS physical operator, with TWO
  * execution modes covering both memory regimes:
  *
  *  - '''heap mode''' (default): requiredChildDistribution clusters by the
  *    group keys (Catalyst inserts the single hash exchange), then each
  *    partition streams its rows through per-group bounded K-heaps —
  *    O(n log k) time, K×|groups-per-partition| memory, no sort. The right
  *    choice when K×|groups| fits task memory (the documented contract).
  *  - '''sort mode''' (`sortBased = true`): additionally declares
  *    requiredChildOrdering, so Catalyst plans a SortExec below — which
  *    SPILLS to disk under memory pressure — and the operator degenerates
  *    to a zero-state streaming "emit first K of each group" pass. The
  *    safe choice for high-cardinality group keys, where the heap map
  *    itself would be the OOM risk. Same results, same single exchange;
  *    only the sort/memory trade moves.
  *
  * At 100 TB: heap mode is shuffle+scan vs the window formulation's
  * shuffle+full-sort; sort mode matches the window formulation's execution
  * shape (sorted stream) while still avoiding rank materialization, and
  * inherits SortExec's spill machinery rather than OOMing.
  *
  * Wiring: [[TopKPerGroupPlan]] (logical) → [[TopKStrategy]] (planner rule,
  * injected by [[graft.GraftExtensions]]) → [[TopKPerGroupExec]]
  * (physical). Entry point: [[TopKPerGroup.apply]].
  */
case class TopKPerGroupPlan(
    k: Int,
    groupExprs: Seq[Expression],
    order: SortOrder,
    sortBased: Boolean,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    order: SortOrder,
    sortBased: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  /** Sort mode: ask Catalyst for (group keys asc, order key) — the planner
    * inserts a spill-capable SortExec; heap mode needs no ordering.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (sortBased)
      Seq(groupExprs.map(SortOrder(_, Ascending)) :+ order)
    else Seq(Nil)

  override protected def doExecute(): RDD[InternalRow] =
    if (sortBased) doExecuteSorted() else doExecuteHeap()

  /** Streaming pass over the sorted partition: O(1) state (current group
    * key + counter). All memory pressure lives in the SortExec below,
    * which spills.
    */
  private def doExecuteSorted(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val groupLocal = groupExprs
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(groupLocal, childOutput)
      var current: UnsafeRow = null
      var taken = 0
      iter.flatMap { row =>
        val key = groupProj(row.asInstanceOf[InternalRow])
        if (current == null || key != current) {
          current = key.copy(); taken = 1
          Iterator.single(row)
        } else if (taken < kLocal) {
          taken += 1
          Iterator.single(row)
        } else Iterator.empty
      }
    }
  }

  private def doExecuteHeap(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val groupLocal = groupExprs
    val orderExpr = order.child
    val descending = order.direction == Descending
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(groupLocal, childOutput)
      val boundKey = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(orderExpr, childOutput)
      val baseOrd = TypeUtils.getInterpretedOrdering(orderExpr.dataType)
      // heap keeps the WORST retained entry on top so it can be evicted
      val entryOrd = new Ordering[(Any, UnsafeRow)] {
        override def compare(a: (Any, UnsafeRow), b: (Any, UnsafeRow)): Int = {
          // "greater" per this ordering == better (more worth retaining):
          // larger values for descending top-k, smaller for ascending
          val c = baseOrd.compare(a._1, b._1)
          if (descending) c else -c
        }
      }
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[(Any, UnsafeRow)]]()
      iter.foreach { row =>
        val key = groupProj(row.asInstanceOf[InternalRow])
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[(Any, UnsafeRow)](entryOrd.reverse)
          heaps.put(key.copy(), heap)
        }
        val ordVal = boundKey.eval(row)
        if (heap.size < kLocal) {
          heap.enqueue((ordVal, row.asInstanceOf[UnsafeRow].copy()))
        } else if (entryOrd.compare((ordVal, null), heap.head) > 0) {
          heap.dequeue()
          heap.enqueue((ordVal, row.asInstanceOf[UnsafeRow].copy()))
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator.map(_._2))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(k, g, o, sb, child) =>
      TopKPerGroupExec(k, g, o, sb, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Top-K rows per group, ordered by `orderCol` (desc by default).
    * `sortBased = true` selects the spill-safe sorted mode — use it when
    * K×|groups| may not fit task memory (high-cardinality group keys).
    */
  def apply(
      df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      k: Int,
      desc: Boolean = true,
      sortBased: Boolean = false): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val lp = df.queryExecution.analyzed
    val resolve = lp.output.map(a => a.name -> a).toMap
    def attr(name: String): Attribute =
      resolve.getOrElse(name, sys.error(s"column $name not in ${lp.output.map(_.name)}"))
    val order = SortOrder(attr(orderCol), if (desc) Descending else Ascending)
    graft.sparkutil.DatasetFactory.ofRows(spark,
      TopKPerGroupPlan(k, groupCols.map(attr), order, sortBased, lp))
  }
}
