package graft.ops

/** Unified env-driven configuration, mirroring the reference's
  * `mcp_env.py` surface (enable flag, timeouts, transport knobs) with
  * `SPARK_GRAFT_*` names. All reads go through one injectable env map
  * so tests can exercise every path without mutating the process
  * environment; defaults match the reference's (query timeout 30 s,
  * pool of 10) plus the executor's row cap.
  *
  * Reference: mcp_clickhouse/mcp_env.py:27-130 (ClickHouseConfig
  * properties), mcp_server.py:66 (pool), :433 (timeout).
  */
final case class GraftConfig(env: Map[String, String] = sys.env) {

  private def get(key: String): Option[String] = env.get(s"SPARK_GRAFT_$key")

  private def bool(key: String, dflt: Boolean): Boolean =
    get(key).map(_.trim.toLowerCase).map {
      case "true" | "1" | "yes" | "on" => true
      case "false" | "0" | "no" | "off" => false
      case other =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_$key: unrecognized boolean value '$other'")
    }.getOrElse(dflt)

  private def int(key: String, dflt: Int): Int =
    get(key).map(_.trim.toInt).getOrElse(dflt)

  /** Master enable flag (reference: CLICKHOUSE_ENABLED). */
  def enabled: Boolean = bool("ENABLED", dflt = true)

  /** Register the in-place file-query tool `run_chdb_select_query`
    * (reference: CHDB_ENABLED, default false there too) — same guarded
    * executor, aimed at `file()/s3()/hdfs()` table-function queries. */
  def chdbEnabled: Boolean = bool("CHDB_ENABLED", dflt = false)

  /** Per-query timeout in seconds (reference: *_SEND_RECEIVE_TIMEOUT
    * semantics applied to query execution). */
  def queryTimeoutSec: Int = int("QUERY_TIMEOUT_SEC", 30)

  /** Pool size (reference: max_workers=10): the HTTP handler threads,
    * which bound how many served queries plan and execute at once. */
  def poolSize: Int = int("POOL_SIZE", 10)

  /** Result row cap for the SQL executor. */
  def maxRows: Int = int("MAX_ROWS", graft.sql.QueryExecutor.DefaultMaxRows)

  /** Data directory the engine serves (set by the driver for
    * Bench/Verify; no default — callers must pass one explicitly). */
  def dataDir: Option[String] = get("SF_DIR")

  /** Health endpoint port; 0 = ephemeral (reference binds 8000+). */
  def healthPort: Int = int("HEALTH_PORT", 0)

  /** Serving transport (reference: MCP_SERVER_TRANSPORT accepts
    * stdio/http/sse — stdio is MCP's canonical default there; this
    * engine's primary surface is HTTP, with stdio for MCP clients that
    * spawn the server as a child process and `sse` serving the legacy
    * HTTP+SSE framing some older MCP clients still default to). */
  def transport: String = get("TRANSPORT").map(_.trim.toLowerCase).map {
    case t @ ("http" | "stdio" | "sse") => t
    case other => throw new IllegalArgumentException(
      s"SPARK_GRAFT_TRANSPORT: unsupported transport '$other' (http | stdio | sse)")
  }.getOrElse("http")

  /** Concurrent SSE session cap: past it, GET /sse sheds load with
    * 503 + Retry-After the way the reference's HTTP layer sheds
    * connection-pool exhaustion (uvicorn's backlog/limit knobs).
    * Each open stream holds one thread in the dedicated SSE pool, so
    * the cap bounds that pool. */
  def sseMaxSessions: Int = int("SSE_MAX_SESSIONS", 64)

  /** Bind host for the HTTP listener (reference: MCP_BIND_HOST,
    * default 127.0.0.1; 0.0.0.0 exposes it beyond loopback). */
  def bindHost: String = get("BIND_HOST").map(_.trim).filter(_.nonEmpty)
    .getOrElse("127.0.0.1")

  /** Serve HTTPS (reference: CLICKHOUSE_SECURE, default true there —
    * here false: the sandbox JDK server carries no certificate store,
    * so `true` is validated and surfaced to the operator log while the
    * listener stays plain HTTP). */
  def secure: Boolean = bool("SECURE", dflt = false)

  /** TLS certificate verification (reference: CLICKHOUSE_VERIFY).
    * Meaningful only with [[secure]]; validated and logged. */
  def verify: Boolean = bool("VERIFY", dflt = true)

  /** URL prefix every endpoint mounts under, for deployments behind a
    * path-routing proxy (reference: CLICKHOUSE_PROXY_PATH). Must start
    * with '/' and not end with one. */
  def proxyPath: Option[String] = get("PROXY_PATH").map(_.trim).filter(_.nonEmpty).map { p =>
    require(p.startsWith("/") && !p.endsWith("/"),
      s"SPARK_GRAFT_PROXY_PATH must start with '/' and not end with '/': '$p'")
    p
  }

  /** Name of the default database the catalog serves (reference:
    * CLICKHOUSE_DATABASE, mcp_env.py:97). */
  def database: String = get("DATABASE").map(_.trim).filter(_.nonEmpty).map { d =>
    require(d.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"SPARK_GRAFT_DATABASE must be an identifier: '$d'")
    d
  }.getOrElse("default")

  /** Role asserted for the session (reference: CLICKHOUSE_ROLE,
    * mcp_env.py:92 — applied via SET ROLE on each connection there).
    * An embedded engine has no remote auth model to hand the role to,
    * so the value is validated and operator-logged at startup. */
  def role: Option[String] = get("ROLE").map(_.trim).filter(_.nonEmpty).map { r =>
    require(r.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"SPARK_GRAFT_ROLE must be an identifier: '$r'")
    r
  }

  /** An executor honoring the configured timeout and row cap. */
  def newExecutor(spark: org.apache.spark.sql.SparkSession): graft.sql.QueryExecutor =
    new graft.sql.QueryExecutor(spark, queryTimeoutSec, maxRows)
}
