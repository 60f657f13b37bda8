package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructField

import graft.Tables

/** Column metadata, mirroring the reference's Column dataclass
  * (reference: mcp_clickhouse/mcp_server.py:27-34). `defaultKind` /
  * `defaultExpression` surface Spark column defaults (DDL
  * `DEFAULT <expr>`, kept in struct-field metadata); `comment` is the
  * field comment when the schema carries one. */
final case class ColumnInfo(
    database: String,
    table: String,
    name: String,
    columnType: String,
    nullable: Boolean,
    defaultKind: Option[String],
    defaultExpression: Option[String],
    comment: Option[String])

/** Table metadata + storage stats, mirroring the reference's Table
  * dataclass (reference: mcp_clickhouse/mcp_server.py:37-55). For
  * parquet-backed tables `parts` is the file count, `totalRows` and
  * `totalBytesUncompressed` come from parquet footers (metadata-only,
  * no data scan), and `totalMarks` is the row-group count — the closest
  * Spark/parquet analog of a ClickHouse mark (the unit of intra-part
  * scan granularity). `createTableQuery` is the schema-in-one-string
  * answer LLM clients lean on: a runnable `CREATE TABLE ... USING
  * parquet LOCATION ...` derived from the live schema. */
final case class TableInfo(
    database: String,
    name: String,
    engine: String,
    engineFull: String,
    createTableQuery: String,
    sortingKey: String,
    primaryKey: String,
    totalRows: Long,
    totalBytes: Long,
    totalBytesUncompressed: Long,
    parts: Int,
    activeParts: Int,
    totalMarks: Long,
    comment: Option[String],
    columns: Seq[ColumnInfo])

final case class TablePage(
    tables: Seq[TableInfo],
    nextPageToken: Option[String],
    totalTables: Int)

/** Catalog introspection with the reference's tool semantics
  * (reference: mcp_clickhouse/mcp_server.py:124-418):
  * `list_databases(like, not_like)` and `list_tables(...)` with
  * multi-pattern LIKE (OR) / NOT LIKE (AND) filters and paginated
  * results.
  *
  * Scale departure from the reference: page tokens are STATELESS by
  * default — the token encodes (database, filters, last listed name),
  * so no server-side TTL cache and any driver/executor can resume a
  * listing; churn before the name neither hides nor repeats a table.
  * Stats for a page are computed for that page's tables only; a
  * 100k-table catalog never materializes more than `pageSize`
  * TableInfos at once.
  *
  * Setting SPARK_GRAFT_TOKEN_TTL (seconds) opts into REFERENCE-PARITY
  * cached tokens instead (mcp_server.py:165-166, 266-297): an opaque
  * token keys a server-side snapshot of the filtered name list, so a
  * replayed token pages over the listing AS IT WAS (no churn shift);
  * an expired or unknown token, or one replayed with different
  * filters, resets to the first page — the reference's cache-miss /
  * state-mismatch behavior (mcp_server.py:340-358). The cache is
  * per-JVM (like the reference's per-server dict), which is the
  * documented cost of parity: only the issuing driver can resume.
  */
final class GraftCatalog(
    spark: SparkSession,
    dir: String,
    extraDatabases: Map[String, String] = Map.empty,
    defaultDatabase: String = "default",
    tokenTtlSec: Option[Long] =
      sys.env.get("SPARK_GRAFT_TOKEN_TTL").map(_.toLong),
    nowMs: () => Long = () => System.currentTimeMillis) {

  import GraftCatalog._

  /** The primary file-backed database this engine serves — renameable
    * via SPARK_GRAFT_DATABASE (reference: CLICKHOUSE_DATABASE,
    * mcp_env.py:97). */
  val database: String = defaultDatabase

  /** database name → backing directory. Additional parquet directories
    * mount as further databases (reference: multi-database listing,
    * mcp_server.py:124-161), so `listTables("staging")` and
    * `describeTable("staging", t)` resolve against that directory. */
  private val databases: Map[String, String] =
    Map(database -> dir) ++ extraDatabases

  def listDatabases(
      like: Seq[String] = Nil,
      notLike: Seq[String] = Nil): Seq[String] =
    databases.keys.toSeq.filter(matches(_, like, notLike)).sorted

  /** The `system.databases` surface: one row per served database with
    * its backing path (CH's data_path analogue). */
  def systemDatabases: DataFrame = {
    import spark.implicits._
    databases.toSeq.sortBy(_._1).toDF("name", "data_path")
  }

  /** The ClickHouse `system.tables`, `system.columns` and
    * `system.parts` surfaces (TableEnv registers them as `system_*`
    * views for the guarded SQL path) from one pass: one describe per
    * table, one footer read per data file, no data pages. A part is a
    * parquet data FILE, always `active` (no pending merges). */
  def systemViews: (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val described = databases.keys.toSeq.sorted.flatMap { db =>
      tableNames(db).sorted.map { t =>
        val parts = dataFiles(location(db, t))
        (tableInfo(db, t, parts, includeColumns = true), parts)
      }
    }
    // `name` is ClickHouse's own column for the table name (pasted
    // `SELECT name FROM system.tables` must resolve); `table_name`
    // stays alongside for the original surface
    val tables = described.map(_._1)
      .map(t => (t.database, t.name, t.name, t.engine, t.totalRows,
        t.totalBytes, t.totalBytesUncompressed, t.parts, t.totalMarks))
      .toDF("database", "name", "table_name", "engine", "total_rows",
        "total_bytes", "total_bytes_uncompressed", "parts", "marks")
    // `table` and `type` are ClickHouse's own column names; the
    // original `table_name`/`col_type` stay alongside; `position` is
    // 1-based, like CH's
    val columns = described.flatMap(_._1.columns.zipWithIndex)
      .map { case (c, i) =>
        (c.database, c.table, c.table, c.name, c.columnType, c.columnType,
          c.nullable, i + 1)
      }
      .toDF("database", "table", "table_name", "name", "type", "col_type",
        "nullable", "position")
    val parts = described.flatMap { case (t, ps) =>
      ps.map(p => (t.database, t.name, p.file.getPath.getName, p.rows,
        p.rowGroups, p.file.getLen, p.uncompressed, true))
    }.toDF("database", "table", "name", "rows", "marks",
      "bytes_on_disk", "data_uncompressed_bytes", "active")
    (tables, columns, parts)
  }

  /** The `system.functions` surface: every name the SQL path can call —
    * the graft dialect pack (origin 'graft', straight from the pack's
    * registration list, independent of session state) plus the
    * session's other registered functions (origin 'spark'). */
  def systemFunctions: DataFrame = {
    import spark.implicits._
    val dialect = graft.functions.CHFunctions.all.map(_._1).distinct.sorted
    val dset = dialect.toSet
    val builtin = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).distinct.filterNot(dset).sorted
    (dialect.map((_, "graft")) ++ builtin.map((_, "spark")))
      .toDF("name", "origin")
  }

  /** Table names of a database: the driver contract's fixed table list
    * for `default`; a parquet directory listing for mounted extras. */
  private def tableNames(db: String): Seq[String] =
    if (db == database) Tables.all
    else {
      val root = new Path(databases(db))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet"))
        .sorted
    }

  def listTables(
      database: String = database,
      like: Seq[String] = Nil,
      notLike: Seq[String] = Nil,
      pageToken: Option[String] = None,
      pageSize: Int = 50,
      includeDetailedColumns: Boolean = true): TablePage = {
    requireDatabase(database)
    // an empty page's token would resume where it stands, forever
    if (pageSize < 1) throw GraftCatalog.badPageSize(pageSize.toString)
    if (tokenTtlSec.isDefined)
      return cachedListTables(database, like, notLike, pageToken,
        pageSize, includeDetailedColumns)
    val all = tableNames(database).filter(matches(_, like, notLike)).sorted
    // a token for different filters is ignored, like the reference's
    // cache-state mismatch path (mcp_server.py:345-356)
    val rest = pageToken
      .flatMap(decodeToken(_, database, like, notLike, includeDetailedColumns))
      .fold(all)(last => all.dropWhile(_ <= last))
    val page = rest.take(pageSize)
    val infos = page.map(describeTable(database, _, includeDetailedColumns))
    val next =
      if (rest.size > pageSize)
        Some(encodeToken(database, like, notLike, includeDetailedColumns, page.last))
      else None
    TablePage(infos, next, all.size)
  }

  /** Reference-parity TTL'd token mode (see the class doc): tokens are
    * opaque UUIDs keying a snapshot of the filtered name list, so a
    * resumed listing never shifts under churn; expiry / unknown token
    * / filter mismatch resets to the first page. */
  private def cachedListTables(
      database: String, like: Seq[String], notLike: Seq[String],
      pageToken: Option[String], pageSize: Int,
      detailed: Boolean): TablePage = {
    val now = nowMs()
    // synchronizedMap's mutex is the wrapper: compound entrySet
    // iteration needs the explicit lock
    tokenCache.synchronized {
      tokenCache.entrySet.removeIf(_.getValue.expiresAt < now)
    }
    val hit = pageToken
      .flatMap(t => Option(tokenCache.get(t)))
      .filter(e => e.db == database && e.like == like &&
        e.notLike == notLike && e.detailed == detailed)
    val (names, start) = hit match {
      case Some(e) => (e.names, e.offset)
      case None =>
        (tableNames(database).filter(matches(_, like, notLike)).sorted, 0)
    }
    val page = names.slice(start, start + pageSize)
    // a snapshot name whose table dropped since the token was issued
    // yields no row (the reference's info query over cached names
    // behaves the same) — the page shrinks rather than erroring
    val infos = page.flatMap { n =>
      try Some(describeTable(database, n, detailed))
      catch { case _: Exception => None }
    }
    val next =
      if (start + pageSize < names.size) {
        val tok = java.util.UUID.randomUUID().toString
        tokenCache.put(tok, TokenEntry(database, like, notLike, detailed,
          start + pageSize, names,
          now + tokenTtlSec.get * 1000L))
        Some(tok)
      } else None
    TablePage(infos, next, names.size)
  }

  /** Stats + schema for one table; parquet-footer row count and
    * uncompressed sizes, FS compressed sizes — all metadata-only. */
  def describeTable(
      database: String,
      table: String,
      includeColumns: Boolean = true): TableInfo = {
    requireDatabase(database)
    tableInfo(database, table, dataFiles(location(database, table)), includeColumns)
  }

  private def location(db: String, table: String) = new Path(s"${databases(db)}/$table.parquet")

  /** [[describeTable]] over data files already listed and read. */
  private def tableInfo(
      database: String,
      table: String,
      files: Seq[Part],
      includeColumns: Boolean): TableInfo = {
    val path = location(database, table)
    val df =
      if (database == this.database) Tables(spark, dir, table)
      else spark.read.parquet(path.toString)
    TableInfo(
      database = database,
      name = table,
      engine = "Parquet",
      engineFull = s"Parquet LOCATION '$path'",
      createTableQuery =
        s"CREATE TABLE $database.$table (${df.schema.toDDL}) USING parquet LOCATION '$path'",
      sortingKey = "", // parquet carries no sort/primary key metadata
      primaryKey = "",
      totalRows = files.map(_.rows).sum, // straight from footers — no Spark job
      totalBytes = files.map(_.file.getLen).sum,
      totalBytesUncompressed = files.map(_.uncompressed).sum,
      parts = files.size,
      activeParts = files.size, // no inactive (merging) parts on files
      totalMarks = files.map(_.rowGroups).sum,
      comment = tableComment(table),
      columns =
        if (includeColumns) df.schema.fields.toSeq.map(columnInfo(database, table, _))
        else Nil)
  }

  /** DESCRIBE of any registered table or file-backed source
    * (reference: chDB `DESCRIBE` over table functions). */
  def describe(df: DataFrame, name: String = "source"): Seq[ColumnInfo] =
    df.schema.fields.toSeq.map(columnInfo(database, name, _))

  /** Stats + schema for a SESSION-CATALOG table (managed or external) —
    * the path where `sortingKey`/`primaryKey` are real: ClickHouse's
    * primary key is its clustering key, whose Spark analog is the
    * bucket spec (`CLUSTERED BY`), and the in-part sort key is the
    * bucket sort columns. Storage stats come from the table location's
    * parquet footers, like [[describeTable]]. */
  def describeCatalogTable(table: String): TableInfo = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val location = new Path(meta.location)
    val files = dataFiles(location)
    val bucket = meta.bucketSpec
    val provider = meta.provider.getOrElse("parquet")
    val clusterClause = bucket
      .map(b => s" CLUSTERED BY (${b.bucketColumnNames.mkString(", ")})" +
        (if (b.sortColumnNames.nonEmpty)
          s" SORTED BY (${b.sortColumnNames.mkString(", ")})" else "") +
        s" INTO ${b.numBuckets} BUCKETS")
      .getOrElse("")
    TableInfo(
      database = database,
      name = table,
      engine = provider,
      engineFull = s"$provider LOCATION '$location'" +
        bucket.map(b => s" BUCKETS ${b.numBuckets}").getOrElse(""),
      createTableQuery =
        s"CREATE TABLE $database.$table (${meta.schema.toDDL}) USING $provider" +
          clusterClause + s" LOCATION '$location'",
      sortingKey = bucket.map(_.sortColumnNames.mkString(", ")).getOrElse(""),
      primaryKey = bucket.map(_.bucketColumnNames.mkString(", ")).getOrElse(""),
      totalRows = files.map(_.rows).sum,
      totalBytes = files.map(_.file.getLen).sum,
      totalBytesUncompressed = files.map(_.uncompressed).sum,
      parts = files.size,
      activeParts = files.size,
      totalMarks = files.map(_.rowGroups).sum,
      comment = meta.comment,
      columns = meta.schema.fields.toSeq.map(columnInfo(database, table, _)))
  }

  /** A table location's data files with their footer stats: the file
    * itself, or a directory's files by name minus `_`-prefixed markers;
    * none when the location is missing. */
  private def dataFiles(location: Path): Seq[Part] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = location.getFileSystem(conf)
    val files =
      if (!fs.exists(location)) Nil
      else if (fs.isFile(location)) Seq(fs.getFileStatus(location))
      else fs.listStatus(location).toSeq.filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
    files.map(part(_, conf))
  }

  private def requireDatabase(db: String): Unit =
    if (!databases.contains(db))
      throw new IllegalArgumentException(
        s"Unknown database '$db' — this catalog serves " +
          databases.keys.toSeq.sorted.mkString("'", "', '", "'"))

  /** Table-level comment: taken from the session catalog when the same
    * name is registered there with a description. */
  private def tableComment(table: String): Option[String] =
    try Option(spark.catalog.getTable(table).description).filter(_.nonEmpty)
    catch { case _: Exception => None }

  private def columnInfo(db: String, table: String, f: StructField) = {
    val defaultExpr =
      if (f.metadata.contains("CURRENT_DEFAULT"))
        Some(f.metadata.getString("CURRENT_DEFAULT"))
      else None
    ColumnInfo(db, table, f.name, f.dataType.sql, f.nullable,
      defaultKind = defaultExpr.map(_ => "DEFAULT"),
      defaultExpression = defaultExpr,
      comment = Option(f.getComment()).flatten)
  }
}

object GraftCatalog {

  /** A `page_size` as a client sent it (query string or JSON): a whole
    * number, which [[GraftCatalog.listTables]] then requires to be at
    * least 1. Anything else (`abc`, `2.7`) is refused, never rounded
    * or defaulted. */
  def pageSize(raw: String): Int =
    raw.trim.toIntOption.getOrElse(throw badPageSize(raw))

  private def badPageSize(raw: String) =
    new IllegalArgumentException(s"page_size must be at least 1, got $raw")

  /** One TTL-mode token: the snapshot list it pages over, the offset
    * it resumes at, and the (db, filters, detail) state a replay must
    * match (reference cache-entry shape, mcp_server.py:165-166). */
  private[catalog] final case class TokenEntry(
      db: String, like: Seq[String], notLike: Seq[String],
      detailed: Boolean, offset: Int, names: Seq[String], expiresAt: Long)

  /** Per-JVM token cache shared by every catalog instance, like the
    * reference's module-level TTLCache(maxsize=100) (mcp_server.py:
    * module scope): pruned by expiry on each TTL-mode access AND
    * LRU-capped at the same maxsize=100 — without the cap, chatty
    * paging over a large catalog grows driver memory for the whole
    * TTL window, each entry carrying a full filtered-name snapshot
    * (ADVICE r11). Access-ordered LinkedHashMap = true LRU; callers
    * synchronize on the wrapper for compound iteration. */
  private[catalog] val tokenCacheMax = 100
  private[catalog] val tokenCache: java.util.Map[String, TokenEntry] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, TokenEntry](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, TokenEntry]): Boolean =
          size() > tokenCacheMax
      })

  /** A parquet data file with its footer's row count, uncompressed
    * bytes and row-group count. */
  private[catalog] final case class Part(
      file: FileStatus, rows: Long, uncompressed: Long, rowGroups: Long)

  /** The most footers [[part]] keeps: a [[Part]] and its key take a
    * few hundred bytes, so 4096 files hold about 1 MB; a catalog of more
    * files re-reads its least recently listed footers. */
  private val FooterCapacity = 4096

  private val footers = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FileKey, Part](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[FileKey, Part]): Boolean =
        size() > FooterCapacity
    })

  /** A footer read only — no data pages touched and no Spark job, so a
    * catalog page over many tables costs one metadata read per file
    * rather than one count job per table; and that read happens once
    * per file fingerprint ([[FileKey]]), so a rewritten file is read
    * again on the next listing. */
  private[catalog] def part(
      st: FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Part = {
    import scala.jdk.CollectionConverters._
    val key = FileKey(st)
    Option(footers.get(key)).getOrElse {
      val read = graft.sources.Sink.withFooter(st, conf) { reader =>
        val blocks = reader.getRowGroups.asScala
        Part(st, blocks.map(_.getRowCount).sum,
          blocks.map(_.getColumns.asScala.map(_.getTotalUncompressedSize).sum).sum,
          blocks.size)
      }
      footers.put(key, read)
      read
    }
  }

  /** SQL LIKE → anchored regex ('%' ≡ '.*', '_' ≡ '.'), case-sensitive
    * like ClickHouse LIKE. */
  private[catalog] def likeToRegex(pattern: String): String =
    pattern.map {
      case '%' => ".*"
      case '_' => "."
      case c if "\\.[]{}()*+?^$|".contains(c) => "\\" + c
      case c => c.toString
    }.mkString("^", "", "$")

  /** Multi-pattern semantics of the reference: likes OR'd, notLikes
    * AND'd (mcp_server.py:147-158). */
  private[catalog] def matches(
      name: String,
      like: Seq[String],
      notLike: Seq[String]): Boolean = {
    val pos = like.isEmpty || like.exists(p => name.matches(likeToRegex(p)))
    val neg = notLike.forall(p => !name.matches(likeToRegex(p)))
    pos && neg
  }

  private def encodeToken(
      db: String, like: Seq[String], notLike: Seq[String],
      detailed: Boolean, lastName: String): String =
    Base64.getUrlEncoder.encodeToString(
      s"$db\n${like.mkString("\u0001")}\n${notLike.mkString("\u0001")}\n$detailed\n$lastName"
        .getBytes(UTF_8))

  /** The last name the token's page listed; None when the token is
    * invalid or was issued for different filters or a different
    * metadata setting — mirrors the reference's cache-state mismatch
    * reset (mcp_server.py:345-356). */
  private def decodeToken(
      token: String, db: String, like: Seq[String], notLike: Seq[String],
      detailed: Boolean): Option[String] =
    try {
      val parts = new String(Base64.getUrlDecoder.decode(token), UTF_8)
        .split("\n", 5)
      val same = parts.length == 5 &&
        parts(0) == db &&
        parts(1) == like.mkString("\u0001") &&
        parts(2) == notLike.mkString("\u0001") &&
        parts(3) == detailed.toString
      if (same) Some(parts(4)) else None
    } catch { case _: Exception => None }
}
