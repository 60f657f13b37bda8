package graft.sql

import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.functions.CHFunctions

/** Registers the data-dir tables as temp views (and the ClickHouse
  * function dialect) so the SQL surface (reference: run_select_query)
  * can resolve them by name. */
object TableEnv {

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** Idempotent per (session, dir): re-registering would re-open every
    * parquet footer on each query. */
  def register(spark: SparkSession, dir: String): Unit =
    if (registered.add((spark, dir))) {
      CHFunctions.register(spark)
      Tables.all.foreach { n =>
        Tables(spark, dir, n).createOrReplaceTempView(n)
      }
      // the CH system.* surface, queryable through the same SQL path
      // (underscored names: temp views cannot carry a qualifier).
      // Footer-stat metadata only; built once per (session, dir).
      val cat = new graft.catalog.GraftCatalog(spark, dir)
      cat.systemDatabases.createOrReplaceTempView("system_databases")
      cat.systemTables.createOrReplaceTempView("system_tables")
      cat.systemColumns.createOrReplaceTempView("system_columns")
      cat.systemFunctions.createOrReplaceTempView("system_functions")
      cat.systemParts.createOrReplaceTempView("system_parts")
      // CH's constant/generator system tables, for pasted dotted
      // references (QueryGuard rewrites `system.one` → `system_one`):
      // system.one is the 1-row dummy source; system.numbers is the
      // unbounded counter — a Range LEAF, so a LIMIT takes only the
      // rows it needs and a full scan is the same user error (bounded
      // here by the executor timeout) it is on ClickHouse
      // the live ops slice (processes/query_log/metrics — registered
      // here so SHOW TABLES and system.tables list them, refreshed
      // again only by a statement that reads them, see QueryLog) and
      // its static companions
      QueryLog.refresh(spark)
      QueryLog.registerStatic(spark, dir)
      import org.apache.spark.sql.functions.lit
      spark.range(1).select(lit(0).cast("tinyint").as("dummy"))
        .createOrReplaceTempView("system_one")
      val numbers = spark.range(0, Long.MaxValue).toDF("number")
      numbers.createOrReplaceTempView("system_numbers")
      // CH's multithreaded variant — same rows, and the Range leaf
      // already splits across cores here
      numbers.createOrReplaceTempView("system_numbers_mt")
      // system.settings: the engine knobs a CH user checks when
      // debugging (SELECT * FROM system.settings WHERE changed) —
      // CH's (name, value, changed, description) shape over the live
      // session confs plus the serving limits
      import spark.implicits._
      val defaults = Map(
        "spark.sql.shuffle.partitions" -> "200",
        "spark.sql.session.timeZone" -> "",
        "spark.sql.ansi.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "true")
      val settings = Seq(
        ("max_threads", spark.sparkContext.defaultParallelism.toString,
          0.toShort, "scheduling parallelism (Spark cores)"),
        ("shuffle_partitions",
          spark.conf.get("spark.sql.shuffle.partitions"),
          (if (spark.conf.get("spark.sql.shuffle.partitions") !=
            defaults("spark.sql.shuffle.partitions")) 1 else 0).toShort,
          "spark.sql.shuffle.partitions"),
        ("session_timezone",
          spark.conf.get("spark.sql.session.timeZone", "UTC"),
          1.toShort, "spark.sql.session.timeZone"),
        ("ansi_mode", spark.conf.get("spark.sql.ansi.enabled", "true"),
          0.toShort,
          "ANSI arithmetic (integer ops wrap via the CH bridge)"),
        ("adaptive_execution",
          spark.conf.get("spark.sql.adaptive.enabled", "true"),
          0.toShort, "AQE runtime re-planning"),
        ("readonly", "1", 1.toShort,
          "SELECT-only guard on the served path"))
      settings.toDF("name", "value", "changed", "description")
        .createOrReplaceTempView("system_settings")
    }

  /** Mount an extra parquet directory as a session-catalog DATABASE,
    * so the guarded SQL path resolves qualified `db.table` names
    * end-to-end (the A1 mount surface; temp views cannot carry a
    * qualifier, so mounts use real external tables — metadata only,
    * no data is copied or written).
    *
    * Idempotence is keyed on the shared [[org.apache.spark
    * .SparkContext]] (the public stand-in for the SharedState/external
    * catalog that `newSession()` clones share — SharedState itself is
    * private[sql]), not the session instance — keying on the session
    * would let a cloned session's `CREATE ... IF NOT EXISTS` silently
    * no-op against the first session's mount and keep serving the OLD
    * directory's data. Remounting the same name onto a DIFFERENT
    * directory drops and re-creates the database's tables (all
    * external, metadata-only) instead of refusing: a long-lived
    * session must be able to re-point a mount at a refreshed
    * directory, and once the catalog is shared a refusal guard is
    * itself the silent-wrong-data hazard it claimed to prevent.
    * ConcurrentHashMap `compute` serialises concurrent (re)mounts of
    * one db name. */
  private val mountedDbs = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), String]()

  def registerDatabase(spark: SparkSession, db: String, dir: String): Unit = {
    require(db.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad database name $db")
    mountedDbs.compute((spark.sparkContext, db), (_, prev) => {
      if (prev == dir) prev
      else {
        if (prev != null) {
          // re-point: drop the old mount's (external) table metadata
          spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        }
        try {
          // explicit LOCATION keeps the in-memory catalog from creating
          // a warehouse directory inside the working tree
          val loc = s"${System.getProperty("java.io.tmpdir")}/graft_db_$db"
          spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db` LOCATION '$loc'")
          val root = new java.io.File(dir)
          val tables = Option(root.listFiles()).getOrElse(Array.empty)
            .map(_.getName).filter(_.endsWith(".parquet"))
            .map(_.stripSuffix(".parquet")).sorted
          tables.foreach { t =>
            spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$t` " +
              s"USING parquet LOCATION '$dir/$t.parquet'")
            if (prev != null) {
              // DROP DATABASE CASCADE goes straight to the external
              // catalog and does NOT invalidate per-session relation
              // caches — refresh so this session's next read resolves
              // the new location. Other live sessions follow Spark's
              // standard multi-session DDL rule (REFRESH TABLE there).
              spark.sql(s"REFRESH TABLE `$db`.`$t`")
            }
          }
          dir
        } catch {
          // a mid-mount failure must not leave a half-mounted database
          // that can never be repaired in-session
          case e: Throwable =>
            spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
            throw e
        }
      }
    })
  }

  /** Unmount a database registered via [[registerDatabase]] —
    * metadata-only (the parquet directory is untouched). No-op for
    * names this catalog never mounted. */
  def unregisterDatabase(spark: SparkSession, db: String): Unit =
    mountedDbs.compute((spark.sparkContext, db), (_, prev) => {
      if (prev != null) spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      null
    })
}
