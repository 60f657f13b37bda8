package graft.sql

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The live ops slice of the ClickHouse `system.*` surface: what an
  * operator (or the reference's LLM client) pastes to see what the
  * server is doing — `SELECT query, elapsed FROM system.processes`,
  * `SELECT query_duration_ms FROM system.query_log ORDER BY
  * event_time DESC`, plus `system.metrics` / `system.disks` /
  * `system.clusters` (reference surface: mcp_server.py passes any
  * pasted SELECT through; CH serves these tables on every install).
  *
  * State lives driver-side in this object (a bounded ring for the
  * log, a map for in-flight queries) — the serving path is the
  * driver, so no distribution concern — and [[refresh]] re-registers
  * the `system_processes`, `system_query_log` and `system_metrics`
  * temp views from a snapshot. It runs on reference: a guarded
  * statement that reads one of them refreshes all three once, while
  * [[Binding]] binds it, before analysis. [[QueryExecutor.run]] marks
  * the query in flight before planning, so a pasted `SELECT * FROM
  * system.processes` sees itself, as it does on ClickHouse.
  * Statements that read none of them pay nothing. Snapshots are
  * LocalRelations of at most [[MaxLog]] rows — never a Spark job.
  */
object QueryLog {

  final case class Finished(
      eventTimeMs: Long,
      queryId: String,
      query: String,
      durationMs: Long,
      resultRows: Long,
      readRows: Long,
      exception: String) // "" on success, like CH

  private val MaxLog = 1000
  private val running = new ConcurrentHashMap[String, (String, Long)]()
  private val log = new java.util.ArrayDeque[Finished]()
  private val seq = new AtomicLong(0L)

  def begin(queryId: String, sql: String): Unit =
    running.put(queryId, (sql, System.currentTimeMillis()))

  /** `readRows`: what the statement's scans read
    * ([[graft.plans.Bridge.scannedRows]]). */
  def finish(queryId: String, resultRows: Long, readRows: Long,
      exception: String): Unit = {
    val started = Option(running.remove(queryId))
    val now = System.currentTimeMillis()
    val entry = Finished(now, queryId,
      started.map(_._1).getOrElse(""), now - started.map(_._2).getOrElse(now),
      resultRows, readRows, exception)
    log.synchronized {
      log.addLast(entry)
      while (log.size > MaxLog) log.removeFirst()
    }
    seq.incrementAndGet()
  }

  /** (Re-)register the live ops views from the current state:
    * in-process rows only, but three DataFrames and three catalog
    * writes (tens of milliseconds), so it runs only for statements
    * that read these views ([[Binding.bind]]) and once at
    * [[TableEnv.register]]. */
  def refresh(spark: SparkSession): Unit = {
    import spark.implicits._
    val nowMs = System.currentTimeMillis()
    val procs = {
      val it = running.entrySet().iterator()
      val b = Seq.newBuilder[(String, String, String, Double)]
      while (it.hasNext) {
        val e = it.next()
        b += ((e.getKey, "default", e.getValue._1,
          (nowMs - e.getValue._2) / 1000.0))
      }
      b.result()
    }
    procs.toDF("query_id", "user", "query", "elapsed")
      .createOrReplaceTempView("system_processes")
    val entries = log.synchronized {
      val b = Seq.newBuilder[Finished]
      log.forEach(e => b += e)
      b.result()
    }
    entries.map(e => ("QueryFinish", new java.sql.Timestamp(e.eventTimeMs),
        e.queryId, e.query, e.durationMs, e.resultRows, e.readRows,
        e.exception))
      .toDF("type", "event_time", "query_id", "query",
        "query_duration_ms", "result_rows", "read_rows", "exception")
      .createOrReplaceTempView("system_query_log")
    val rt = Runtime.getRuntime
    Seq(
      ("MemoryTracking", rt.totalMemory() - rt.freeMemory(),
        "JVM heap in use, bytes"),
      ("MemoryTotal", rt.totalMemory(), "JVM heap committed, bytes"),
      ("MemoryMax", rt.maxMemory(), "JVM heap limit, bytes"),
      ("Query", running.size().toLong, "queries in flight"),
      ("TotalQueries", seq.get(), "queries finished since start"),
      ("Threads", Thread.activeCount().toLong, "live JVM threads"),
      ("CPUCores", rt.availableProcessors().toLong, "visible cores"))
      .toDF("metric", "value", "description")
      .createOrReplaceTempView("system_metrics")
  }

  /** The static ops views: one local disk, one single-node cluster —
    * truthful for this engine's topology (a Spark cluster's real
    * topology lives with its own resource manager, not here). */
  def registerStatic(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val root = new java.io.File(dir)
    Seq(("default", root.getAbsolutePath, root.getUsableSpace,
        root.getTotalSpace, "Local"))
      .toDF("name", "path", "free_space", "total_space", "type")
      .createOrReplaceTempView("system_disks")
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Throwable => "localhost" }
    Seq(("default", 1, 1, 1, host, "127.0.0.1", 9000, 1))
      .toDF("cluster", "shard_num", "shard_weight", "replica_num",
        "host_name", "host_address", "port", "is_local")
      .createOrReplaceTempView("system_clusters")
  }
}
