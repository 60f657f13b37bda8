package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{DataSourceScanExec, RangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase

/** graft-side face of [[org.apache.spark.sql.classic.GraftBridge]]. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.GraftBridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Each collected row's values, as `df.collect().map(_.toSeq)` has
    * them, with no generated deserializer. */
  def collectValues(df: DataFrame): Array[Seq[Any]] =
    org.apache.spark.sql.classic.GraftBridge.collectValues(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame])

  /** The rows the table, file and range scans of `df`'s executed plan
    * output, adaptive query stages and subqueries included: CH's
    * `read_rows`. Read once an action has returned, when the driver
    * has merged every finished task's metrics; a reused exchange or
    * subquery counts once. */
  def scannedRows(df: DataFrame): Long =
    Stages.collectWithSubqueries(df.queryExecution.executedPlan) {
      case scan @ (_: DataSourceScanExec | _: DataSourceV2ScanExecBase | _: RangeExec) =>
        scan.metrics.get("numOutputRows").fold(0L)(_.value)
    }.sum

  private object Stages extends AdaptiveSparkPlanHelper
}
