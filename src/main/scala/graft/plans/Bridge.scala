package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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
}
