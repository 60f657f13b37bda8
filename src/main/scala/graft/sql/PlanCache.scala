package graft.sql

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{SessionCatalog, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Command, LeafNode,
  LocalRelation, LogicalPlan, OneRowRelation, Range, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE

import graft.functions.CHFunctions

/** The limited DataFrames one [[QueryExecutor]] has run successfully,
  * so that a repeated statement re-collects its executed plan: no
  * shims, parsing, analysis, graft's rules, optimizer or physical
  * planning, and the file scans keep the Hadoop-conf broadcast of
  * their first run. At most [[PlanCache.Capacity]] entries, the least
  * recently used dropped first.
  *
  * The key is the raw statement text, the row cap and the session's
  * SQL confs (`getAllConfs`), so a changed setting plans afresh.
  *
  * A plan is admitted ([[PlanCache.admit]]) only if its analyzed tree,
  * subqueries included, holds none of these:
  *  - a non-deterministic expression (`rand()`, `uuid()`,
  *    `rowNumberInAllBlocks()`, ...)
  *  - a clock read (`TreePattern.CURRENT_LIKE`: `now()`, `today()`,
  *    ...)
  *  - a per-planning literal ([[CHFunctions.perPlanningTag]]:
  *    `randConstant()`, `uptime()`, `queryID()`, `initialQueryID()`)
  *  - a live ops table ([[Binding.Live]]), which only a new plan
  *    refreshes
  *  - a relation outside a local temp view: `file()`,
  *    ``parquet.`path` ``, catalog tables (`registerDatabase`), a
  *    global temp or persistent view, or any leaf other than a local
  *    relation, a range or a CTE reference
  *  - a statement answered while it was planned ([[QueryGuard.Eager]]:
  *    EXPLAIN, SHOW, EXISTS) or a command (`DESCRIBE`, `SHOW COLUMNS`):
  *    its executed plan keeps the result of its first run
  *
  * An entry remembers the temp views its plan read. On a hit each name
  * must still hold the same catalog entry (`getRawTempView`, by
  * identity), or the entry is dropped and the statement planned anew.
  * A hit is taken out of the cache while it runs, so no two threads
  * execute one physical plan, and goes back only if it succeeds.
  *
  * Not watched: a function re-registered under a name a plan resolved,
  * and the bytes of a file under a temp view (its listing is fixed when
  * the view is made). A hit re-runs only the plan's last stage and
  * reads its earlier stages' shuffle output from its first run.
  */
private[sql] final class PlanCache {
  import PlanCache._

  private val entries = new java.util.LinkedHashMap[Key, Entry] {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size > Capacity
  }

  /** Take `key`'s entry out, if every temp view it read is unchanged. */
  def checkOut(key: Key, catalog: SessionCatalog): Option[Entry] =
    entries.synchronized(Option(entries.remove(key))).filter(_.views.get.forall {
      case (name, raw) => catalog.getRawTempView(name).exists(_ eq raw)
    })

  def checkIn(key: Key, entry: Entry): Unit = entries.synchronized {
    entries.put(key, entry)
  }

  /** The statement texts held now. */
  def texts: Seq[String] = entries.synchronized {
    val b = Seq.newBuilder[String]
    entries.keySet.forEach(k => b += k.sql)
    b.result()
  }
}

private[sql] object PlanCache {

  val Capacity = 256

  final case class Key(sql: String, capRows: Int, confs: Map[String, String])

  /** `limited` is the statement's plan under its `LIMIT cap + 1`;
    * `views` the temp views it read, None when it was not admitted;
    * `readRows` what its scans read the first time it ran. */
  final case class Entry(limited: DataFrame, columns: Seq[String],
      views: Option[Seq[(String, TemporaryViewRelation)]], readRows: Long)

  /** The temp views `df` reads, with their catalog entries, if its
    * plan may be reused (the rules in [[PlanCache]]); None otherwise. */
  def admit(spark: SparkSession, df: DataFrame)
      : Option[Seq[(String, TemporaryViewRelation)]] = {
    val catalog = spark.sessionState.catalog
    val views = Seq.newBuilder[(String, TemporaryViewRelation)]
    def stable(e: Expression): Boolean =
      e.deterministic && !e.containsPattern(CURRENT_LIKE) &&
        !e.exists(_.getTagValue(CHFunctions.perPlanningTag).isDefined)
    def tempView(v: View): Boolean = {
      val name = v.desc.identifier.table
      v.isTempView && v.desc.identifier.database.isEmpty &&
        !Binding.Live(name.toLowerCase(Locale.ROOT)) &&
        catalog.getRawTempView(name).exists { raw =>
          views += name -> raw
          raw.tableMeta eq v.desc
        }
    }
    def reusable(p: LogicalPlan, inView: Boolean): Boolean = {
      val node = p match {
        case v: View => tempView(v)
        case _: Command => false
        case _: LocalRelation | _: OneRowRelation | _: Range | _: CTERelationRef => true
        case _: LeafNode => inView
        case _ => true
      }
      val below = inView || p.isInstanceOf[View]
      node && p.expressions.forall(stable) &&
        p.subqueries.forall(reusable(_, below)) &&
        p.children.forall(reusable(_, below))
    }
    val analyzed = df.queryExecution.analyzed
    if (analyzed.getTagValue(QueryGuard.Eager).isEmpty && reusable(analyzed, inView = false))
      Some(views.result().distinct)
    else None
  }
}
