package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.SortAggregateExec

/** Plan budget: shapes a query's physical plan must not take. Each
  * entry names the queries that once had the hazard, so a regression
  * shows up as a failing query name rather than a slower bench. */
class PlanBudgetSpec extends SparkSpec {

  /** Every node of a physical plan, through the adaptive wrapper (as
    * planned, before execution) and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  // min/max/first over a struct or array: the variable-width buffer
  // used to force SortAggregate in all of these
  private val sortAggregateCauses = Seq(
    "q_any_join_shim", "q_any_right", "q_any_right_using", "q_any_using",
    "q_any_two", "dedup_jaccard", "pipeline_clean", "emb_centroids")

  test("no SortAggregate in the former SortAggregate queries") {
    val offenders = sortAggregateCauses.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[SortAggregateExec])
    }
    assert(offenders.isEmpty, s"SortAggregate planned in: ${offenders.mkString(", ")}")
  }
}
