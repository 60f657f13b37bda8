package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CollectLimitExec, CommandResultExec,
  LocalTableScanExec, QueryExecution, SQLExecution, SparkPlan}

/** `Dataset.ofRows` is `private[sql]`; this is the minimal sanctioned
  * doorway for building a DataFrame from a custom logical plan (the
  * same approach Spark connector libraries use). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** `df.collect().map(_.toSeq)` without the generated Row
    * deserializer: the action runs as `Dataset.withAction` runs it (a
    * new execution id, metrics reset, internal errors wrapped), so
    * listeners, job tags and cancellation see a `collect`. Rows a
    * driver-side `LocalTableScanExec` or `CommandResultExec` holds are
    * handed over as they are, skipping their `UnsafeProjection`; every
    * column converts through Spark's interpreted Catalyst-to-Scala
    * converters, which yield the values the Row encoder would. */
  def collectValues(df: DataFrame): Array[Seq[Any]] = {
    val qe = df.queryExecution
    val fields = df.schema.fields
    val convert = fields.map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
    def values(row: InternalRow): Seq[Any] =
      fields.indices.map(i => convert(i)(row.get(i, fields(i).dataType)))
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      QueryExecution.withInternalError("""The "collect" action failed.""") {
        val plan = qe.executedPlan
        plan.resetMetrics()
        driverRows(plan).getOrElse(plan.executeCollect().toSeq).iterator.map(values).toArray
      }
    }
  }

  /** The rows a plan answers with when the driver already holds them. */
  private def driverRows(plan: SparkPlan): Option[Seq[InternalRow]] = plan match {
    case scan: LocalTableScanExec => Some(scan.rows)
    case cmd: CommandResultExec => Some(cmd.rows)
    case CollectLimitExec(limit, child, 0) => driverRows(child).map(_.take(limit))
    case _ => None
  }
}
