package graft.sql

import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{SessionCatalog, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Command, LeafNode,
  LocalRelation, LogicalPlan, OneRowRelation, Range, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.util.SizeEstimator

import graft.catalog.FileKey
import graft.functions.CHFunctions

/** The limited DataFrames one [[QueryExecutor]] has run successfully,
  * so that a repeated statement re-collects its executed plan: no
  * shims, parsing, analysis, graft's rules, optimizer or physical
  * planning, and the file scans keep the Hadoop-conf broadcast of
  * their first run. An entry also keeps the result of its last run
  * while the files that run read are unchanged, and a repeat is then
  * answered from it with no Spark job. At most [[PlanCache.Capacity]]
  * entries and [[PlanCache.MaxStoredBytes]] of stored results, the
  * least recently used dropped first.
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
  *
  * An entry whose plan reads only files, local relations, ranges and
  * CTE references also remembers the fingerprint ([[FileKey]]: path,
  * length, modification time) of every file its plan lists, subqueries
  * included, taken just before its last run. A hit re-stats them; a
  * changed or deleted file drops the entry, so the statement is planned
  * anew and reads the file as a fresh `Dataset.collect` does. With the
  * files unchanged the entry's stored result answers, and the entry
  * stays in the cache, so concurrent callers all hit it. A result is
  * stored when it measures at most [[PlanCache.MaxEntryBytes]]; an
  * entry without one (too large, or a leaf the fingerprint cannot see,
  * such as an RDD) re-runs its plan: it is taken out of the cache while
  * it runs, so no two threads execute one physical plan, and goes back
  * only if it succeeds.
  *
  * Not watched: a function re-registered under a name a plan resolved;
  * a file added to a directory under a temp view (its listing is fixed
  * when the view is made); a file rewritten with the same length within
  * one modification-time tick; and the input of a plan with a leaf the
  * fingerprint cannot see. Such a plan's hit re-runs only its last
  * stage and reads its earlier stages' shuffle output from its first
  * run.
  */
private[sql] final class PlanCache {
  import PlanCache._

  // access order: a result hit stays in the map and counts as a use
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean = {
      val full = size > Capacity
      if (full) storedBytes -= e.getValue.storedBytes
      full
    }
  }

  /** The bytes of every result held now; guarded by `entries`. */
  private var storedBytes = 0L

  /** `key`'s entry, if every temp view it read and every file it
    * fingerprinted is unchanged. An entry with a stored result stays in
    * the cache; any other is taken out. */
  def checkOut(key: Key, catalog: SessionCatalog, conf: Configuration): Option[Entry] =
    entries.synchronized(Option(entries.get(key))).flatMap { e =>
      val same = e.views.get.forall { case (name, raw) =>
        catalog.getRawTempView(name).exists(_ eq raw)
      } && e.files.forall(files =>
        files.forall(f => FileKey.stat(f.path, conf).contains(f)))
      if (same && e.stored.isDefined) Some(e)
      else entries.synchronized {
        // a thread that got here first has taken it out already
        val mine = entries.get(key) eq e
        if (mine) { entries.remove(key); storedBytes -= e.storedBytes }
        if (mine && same) Some(e) else None
      }
    }

  /** Put `entry` back, dropping the oldest stored results while they
    * exceed [[MaxStoredBytes]]. */
  def checkIn(key: Key, entry: Entry): Unit = entries.synchronized {
    Option(entries.put(key, entry)).foreach(old => storedBytes -= old.storedBytes)
    storedBytes += entry.storedBytes
    val oldest = entries.entrySet.iterator
    while (storedBytes > MaxStoredBytes && oldest.hasNext) {
      val e = oldest.next()
      storedBytes -= e.getValue.storedBytes
      e.setValue(e.getValue.copy(stored = None))
    }
  }

  /** The statement texts held now. */
  def texts: Seq[String] = entries.synchronized {
    val b = Seq.newBuilder[String]
    entries.keySet.forEach(k => b += k.sql)
    b.result()
  }

  /** The statement texts held now with a stored result. */
  def answered: Seq[String] = entries.synchronized {
    val b = Seq.newBuilder[String]
    entries.forEach((k, e) => if (e.stored.isDefined) b += k.sql)
    b.result()
  }
}

private[sql] object PlanCache {

  val Capacity = 256

  /** The largest result an entry keeps: ClickHouse's query cache default
    * (`query_cache_max_entry_size_in_bytes`), 1 MiB. */
  val MaxEntryBytes = 1L << 20

  /** All stored results together: 64 full entries, or 1/32 of a 2 GiB
    * driver heap (perfbench's). */
  val MaxStoredBytes = 64L << 20

  final case class Key(sql: String, capRows: Int, confs: Map[String, String])

  /** A result an entry keeps, with its [[SizeEstimator]] measure. */
  final case class Stored(result: QueryResult, bytes: Long)

  /** `limited` is the statement's plan under its `LIMIT cap + 1`;
    * `views` the temp views it read, None when it was not admitted;
    * `readRows` what its scans read the first time it ran; `files` the
    * fingerprint of every file it lists, taken before its last run, None
    * when a leaf hides its input or a file was missing; `stored` the
    * result of its last run, when `files` is known and the result small
    * enough. */
  final case class Entry(limited: DataFrame, columns: Seq[String],
      views: Option[Seq[(String, TemporaryViewRelation)]], readRows: Long,
      files: Option[Seq[FileKey]], stored: Option[Stored]) {
    def storedBytes: Long = stored.fold(0L)(_.bytes)
  }

  /** What may be reused of an admitted plan: the temp views it reads,
    * with their catalog entries, and the paths of the files it lists,
    * None when a leaf is none of a file relation, a local relation, a
    * range or a CTE reference. */
  final case class Reuse(views: Seq[(String, TemporaryViewRelation)], paths: Option[Seq[String]])

  /** `paths`' fingerprint now, sorted by path; None if one is gone. */
  def fingerprint(paths: Seq[String], conf: Configuration): Option[Seq[FileKey]] = {
    val keys = paths.distinct.sorted.map(FileKey.stat(_, conf))
    if (keys.forall(_.isDefined)) Some(keys.flatten) else None
  }

  /** `result` as an entry keeps it, if it is at most [[MaxEntryBytes]]. */
  def store(result: QueryResult): Option[Stored] =
    Some(Stored(result, SizeEstimator.estimate(result))).filter(_.bytes <= MaxEntryBytes)

  /** Whether `df`'s plan may be reused (the rules in [[PlanCache]]), and
    * what it reads. */
  def admit(spark: SparkSession, df: DataFrame): Option[Reuse] = {
    val catalog = spark.sessionState.catalog
    val views = Seq.newBuilder[(String, TemporaryViewRelation)]
    val paths = Seq.newBuilder[String]
    var seen = true
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
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if inView =>
          paths ++= fs.location.inputFiles
          true
        case _: LeafNode =>
          seen = false
          inView
        case _ => true
      }
      val below = inView || p.isInstanceOf[View]
      node && p.expressions.forall(stable) &&
        p.subqueries.forall(reusable(_, below)) &&
        p.children.forall(reusable(_, below))
    }
    val analyzed = df.queryExecution.analyzed
    if (analyzed.getTagValue(QueryGuard.Eager).isEmpty && reusable(analyzed, inView = false))
      Some(Reuse(views.result().distinct, if (seen) Some(paths.result()) else None))
    else None
  }
}
