package graft.sql

import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

/** The planning state of ONE guarded statement ([[QueryGuard.plan]]).
  *
  * The dialect hoists (nested subqueries, plain-join prefixes, ASOF and
  * ANY joins) plan a fragment, record its analyzed plan here under a
  * fresh `__graft_*` name, and splice that name into the statement
  * text. [[bind]] swaps every relation naming a fragment — in subquery
  * expressions and CTE bodies too — for `SubqueryAlias(name, plan)`,
  * the shape a temp-view lookup gives minus the `View` wrapper. So a
  * statement writes nothing to the shared session catalog, and
  * concurrent statements cannot see or drop each other's fragments.
  *
  * [[bind]] is also the one place that sees which relations a
  * statement reads: the first time the statement reads a live ops
  * table, it refreshes them ([[QueryLog.refresh]]) before analysis.
  *
  * `escaped` marks text sliced out of an already-normalized statement:
  * the literal-escape pass must not run on it again (its \uXXXX output
  * would be read as an unknown escape and doubled). */
private[sql] final class Binding private (val spark: SparkSession,
    val escaped: Boolean, state: Binding.State) {

  def this(spark: SparkSession) = this(spark, false, new Binding.State)

  /** The same statement, for planning a slice of its normalized text. */
  def sliced: Binding =
    if (escaped) this else new Binding(spark, true, state)

  /** Record `df` as a fragment; returns the name to splice into text. */
  def add(kind: String, df: DataFrame): String = {
    val name = s"__graft_${kind}_${Binding.counter.incrementAndGet()}"
    state.fragments(name) = df.queryExecution.analyzed
    name
  }

  def bind(plan: LogicalPlan): LogicalPlan = {
    var live = false
    def walk(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        val key = name.toLowerCase(Locale.ROOT)
        if (Binding.Live(key)) live = true
        state.fragments.get(key).map(SubqueryAlias(name, _)).getOrElse(u)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map(r =>
          r.copy(_2 = walk(r._2).asInstanceOf[SubqueryAlias])))
    }
    val bound = walk(plan)
    if (live && !state.refreshed) {
      QueryLog.refresh(spark)
      state.refreshed = true
    }
    bound
  }

  /** Analyze `plan` against this statement's fragments. */
  def rows(plan: LogicalPlan): DataFrame =
    graft.plans.Bridge.ofRows(spark, bind(plan))

  /** A read-only SQL text within this statement. */
  def sql(text: String): DataFrame =
    rows(QueryGuard.parseReadOnly(spark, text))

  /** A table (or fragment) name within this statement. */
  def table(name: String): DataFrame =
    rows(UnresolvedRelation(
      spark.sessionState.sqlParser.parseMultipartIdentifier(name)))
}

private[sql] object Binding {

  /** The ops tables [[QueryLog.refresh]] rebuilds from live state. */
  private val Live = Set("system_processes", "system_query_log",
    "system_metrics")

  private val counter = new AtomicLong()

  private final class State {
    val fragments = mutable.HashMap.empty[String, LogicalPlan]
    var refreshed = false
  }
}
