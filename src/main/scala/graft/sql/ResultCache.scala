package graft.sql

import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{SessionCatalog, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Command, LeafNode,
  LocalRelation, LogicalPlan, OneRowRelation, Range, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.util.SizeEstimator

import graft.catalog.FileKey
import graft.functions.CHFunctions

/** The results of the statements one [[QueryExecutor]] has run
  * successfully, so that a repeated statement is answered with no Spark
  * job while what its plan read is unchanged; any other repeat is
  * planned afresh. At most [[ResultCache.Capacity]] entries and
  * [[ResultCache.MaxStoredBytes]] of results, the least recently used
  * dropped first.
  *
  * The key is the raw statement text, the row cap and the session's
  * SQL confs (`getAllConfs`), so a changed setting plans afresh.
  *
  * A result is kept ([[ResultCache.admit]]) only if its analyzed plan,
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
  *    global temp or persistent view
  *  - a leaf no fingerprint sees: anything but a file relation, a local
  *    relation, a range or a CTE reference (an RDD, a JDBC table, ...)
  *  - a statement answered while it was planned ([[QueryGuard.Eager]]:
  *    EXPLAIN, SHOW, EXISTS) or a command (`DESCRIBE`, `SHOW COLUMNS`)
  *
  * and it measures at most [[ResultCache.MaxEntryBytes]].
  *
  * An entry remembers the temp views its plan read and the fingerprint
  * ([[FileKey]]: path, length, modification time) of every file its plan
  * lists, subqueries included, taken just before it ran. A hit checks
  * that each name still holds the same catalog entry
  * (`getRawTempView`, by identity) and re-stats the files; a re-registered
  * view or a changed or deleted file drops the entry, so the statement
  * is planned anew and reads as a fresh `Dataset.collect` does.
  *
  * Not watched: a function re-registered under a name a plan resolved;
  * a file added to a directory under a temp view (its listing is fixed
  * when the view is made); a file rewritten with the same length within
  * one modification-time tick.
  */
private[sql] final class ResultCache {
  import ResultCache._

  // access order: a hit counts as a use
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)

  /** The bytes of every result held now; guarded by `entries`. */
  private var storedBytes = 0L

  /** `key`'s entry, if every temp view it read and every file it
    * fingerprinted is unchanged; else the entry is dropped. */
  def get(key: Key, catalog: SessionCatalog, conf: Configuration): Option[Entry] =
    entries.synchronized(Option(entries.get(key))).filter { e =>
      val same = e.reuse.views.forall { case (name, raw) =>
        catalog.getRawTempView(name).exists(_ eq raw)
      } && e.reuse.files.forall(f => FileKey.stat(f.path, conf).contains(f))
      // a thread that got here first has dropped it already
      if (!same) entries.synchronized {
        if (entries.get(key) eq e) { entries.remove(key); storedBytes -= e.bytes }
      }
      same
    }

  /** Hold `entry`, dropping the least recently used entries while there
    * are more than [[Capacity]] or their results exceed
    * [[MaxStoredBytes]]. */
  def put(key: Key, entry: Entry): Unit = entries.synchronized {
    Option(entries.put(key, entry)).foreach(old => storedBytes -= old.bytes)
    storedBytes += entry.bytes
    val oldest = entries.values.iterator
    while (entries.size > Capacity || storedBytes > MaxStoredBytes) {
      storedBytes -= oldest.next().bytes
      oldest.remove()
    }
  }

  /** The statement texts held now. */
  def answered: Seq[String] = entries.synchronized {
    val b = Seq.newBuilder[String]
    entries.keySet.forEach(k => b += k.sql)
    b.result()
  }
}

private[sql] object ResultCache {

  val Capacity = 256

  /** The largest result an entry keeps: ClickHouse's query cache default
    * (`query_cache_max_entry_size_in_bytes`), 1 MiB. */
  val MaxEntryBytes = 1L << 20

  /** All stored results together: 64 full entries, or 1/32 of a 2 GiB
    * driver heap (perfbench's). */
  val MaxStoredBytes = 64L << 20

  final case class Key(sql: String, capRows: Int, confs: Map[String, String])

  /** A statement's result with its [[SizeEstimator]] measure, what its
    * scans read, and what its plan read as it was about to run. */
  final case class Entry(result: QueryResult, bytes: Long, readRows: Long, reuse: Reuse)

  /** What an admitted plan reads: the temp views, with their catalog
    * entries, and the fingerprint of every file it lists, sorted by path. */
  final case class Reuse(views: Seq[(String, TemporaryViewRelation)], files: Seq[FileKey])

  /** `result` as an entry keeps it, if it is at most [[MaxEntryBytes]]. */
  def entry(result: QueryResult, readRows: Long, reuse: Reuse): Option[Entry] =
    Some(SizeEstimator.estimate(result)).filter(_ <= MaxEntryBytes)
      .map(Entry(result, _, readRows, reuse))

  /** The file indexes of `df`'s plan, subqueries included, that list a
    * file whose length or modification time is no longer what was
    * listed: a view keeps its listing, so a file rewritten in place
    * would be read with its old length. A file that is gone is not
    * counted, so reading it fails as it does in Spark. */
  def stale(df: DataFrame, conf: Configuration): Seq[FileIndex] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.collect {
      case index: PartitioningAwareFileIndex if index.allFiles().exists { st =>
          FileKey.stat(st.getPath.toString, conf).exists(_ != FileKey(st))
        } => index
    }

  /** Whether `df`'s result may be kept (the rules in [[ResultCache]]),
    * and what its plan reads; None too when a file it lists is gone. */
  def admit(spark: SparkSession, df: DataFrame, conf: Configuration): Option[Reuse] = {
    val catalog = spark.sessionState.catalog
    val views = Seq.newBuilder[(String, TemporaryViewRelation)]
    val paths = Seq.newBuilder[String]
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
        case _: LocalRelation | _: OneRowRelation | _: Range | _: CTERelationRef => true
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if inView =>
          paths ++= fs.location.inputFiles
          true
        case _: LeafNode | _: Command => false
        case _ => true
      }
      val below = inView || p.isInstanceOf[View]
      node && p.expressions.forall(stable) &&
        p.subqueries.forall(reusable(_, below)) &&
        p.children.forall(reusable(_, below))
    }
    val analyzed = df.queryExecution.analyzed
    if (analyzed.getTagValue(QueryGuard.Eager).isEmpty && reusable(analyzed, inView = false)) {
      val files = paths.result().distinct.sorted.map(FileKey.stat(_, conf))
      if (files.forall(_.isDefined)) Some(Reuse(views.result().distinct, files.flatten)) else None
    } else None
  }
}
