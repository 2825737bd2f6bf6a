package graft.sparkutil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Parts (catalog part files, or bucket partitions of an aligned
  * sequence scan) a scan planned after skipping and runtime filtering.
  * Top level with a no-arg constructor: Spark re-instantiates a custom
  * metric by class name to aggregate it.
  */
class PartsKeptMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.Kept
  override def description(): String = "parts kept after pruning"
}

/** Parts the scan's snapshot held before any pruning. */
class PartsTotalMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.Total
  override def description(): String = "parts before pruning"
}

/** What a DSv2 scan pruned, as two Spark SQL metrics the scan sets on the
  * driver (`Scan.reportDriverMetrics`, called once its partitions are
  * planned). The numbers live on the executed plan of the query that ran,
  * so concurrent queries never see each other's, and the UI and event log
  * carry them like any other operator metric.
  */
object ScanMetrics {
  val Kept = "partsKept"
  val Total = "partsTotal"

  def supported: Array[CustomMetric] = Array(new PartsKeptMetric, new PartsTotalMetric)

  def report(kept: Int, total: Int): Array[CustomTaskMetric] =
    Array(Kept -> kept, Total -> total).map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v.toLong
      }: CustomTaskMetric
    }

  /** (table name, (kept, total)) of every reporting scan in the executed
    * plan of `df`, in plan order, through AQE query stages and a
    * command's (DML's) physical plan. Read it after an action on `df`
    * itself: `collect()`, not `head()` or `count()`, which run separately
    * planned queries.
    */
  def pruned(df: DataFrame): Seq[(String, (Long, Long))] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.metrics.contains(Kept) =>
        b.table.name() -> ((b.metrics(Kept).value, b.metrics(Total).value))
    }
  }
}
