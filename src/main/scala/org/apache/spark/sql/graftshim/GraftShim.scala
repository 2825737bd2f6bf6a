package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bridge to `Dataset.ofRows`, `ExpressionUtils.column`, `LogicalRDD` and
  * the shutdown-delete hook (all `private[sql]`, `private[spark]` or
  * internal). Lives inside the `org.apache.spark.sql` namespace purely as
  * an access shim — the conventional pattern for Spark
  * extension libraries; no Spark internals are modified.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A Column over a hand-built Catalyst expression. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deletes `dir` when the JVM exits, after the SparkContext has stopped
    * (Spark's own temp-dir hook), so no task is still writing into it. */
  def deleteOnShutdown(dir: java.nio.file.Path): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir.toFile)

  /** Executes `df` now, as one SQL execution, and returns a frame over the
    * resulting RDD. Under AQE that runs every shuffle map stage (without
    * AQE the first action runs them). Every action on the returned frame
    * reuses those shuffle files — the scheduler skips map stages whose
    * outputs are registered — and runs only the last stage. Nothing is
    * persisted: the shuffle files live as long as the RDD is reachable,
    * like any shuffle's.
    */
  def materialized(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("materialized"))(qe.toRdd)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
