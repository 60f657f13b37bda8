package graft.ops

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.catalog.{ColumnInfo, GraftCatalog, TableInfo, TablePage}

/** Minimal JSON rendering for the served catalog payloads. */
private object Json {
  def str(s: String): String = "\"" + graft.sql.QueryResult.esc(s) + "\""
  def opt(o: Option[String]): String = o.map(str).getOrElse("null")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  def column(c: ColumnInfo): String =
    s"""{"name": ${str(c.name)}, "column_type": ${str(c.columnType)}, """ +
      s""""nullable": ${c.nullable}, "default_kind": ${opt(c.defaultKind)}, """ +
      s""""default_expression": ${opt(c.defaultExpression)}, "comment": ${opt(c.comment)}}"""

  def table(t: TableInfo): String =
    s"""{"database": ${str(t.database)}, "name": ${str(t.name)}, """ +
      s""""engine": ${str(t.engine)}, "engine_full": ${str(t.engineFull)}, """ +
      s""""create_table_query": ${str(t.createTableQuery)}, """ +
      s""""sorting_key": ${str(t.sortingKey)}, "primary_key": ${str(t.primaryKey)}, """ +
      s""""total_rows": ${t.totalRows}, "total_bytes": ${t.totalBytes}, """ +
      s""""total_bytes_uncompressed": ${t.totalBytesUncompressed}, """ +
      s""""parts": ${t.parts}, "active_parts": ${t.activeParts}, """ +
      s""""total_marks": ${t.totalMarks}, "comment": ${opt(t.comment)}, """ +
      s""""columns": ${arr(t.columns.map(column))}}"""

  /** One `list_tables` page, as `/tables` and MCP `list_tables` serve it. */
  def tablesPage(page: TablePage): String =
    s"""{"tables": ${arr(page.tables.map(table))}, """ +
      s""""next_page_token": ${opt(page.nextPageToken)}, """ +
      s""""total_tables": ${page.totalTables}}"""

  def error(message: String): String =
    s"""{"status": "error", "message": ${str(message)}}"""
}

/** The served surface of the engine, with the reference's contracts:
  *
  *  - `/health` (reference: mcp_clickhouse/mcp_server.py:74-103) —
  *    HTTP 200 `OK - Connected to Spark <version>` when the engine is
  *    enabled and can run a trivial query, 503 `ERROR - ...` otherwise;
  *    plain text like the reference's `PlainTextResponse`.
  *  - `/query` (the `run_select_query` tool, mcp_server.py:421-459) —
  *    when started with a [[graft.sql.QueryExecutor]]: the SQL comes
  *    from the POST body (or `?q=` on GET), runs through the read-only
  *    guard / timeout / row cap, and returns the reference's
  *    `{columns, rows}` JSON on 200 or `{"status": "error",
  *    "message": ...}` on 400 — guard violations and analysis errors
  *    are responses, never crashes.
  *
  * Uses the JDK's built-in HTTP server — no extra dependency. Each
  * request holds one handler thread until its reply is written, so
  * the handler pool (`SPARK_GRAFT_POOL_SIZE` threads) bounds served
  * concurrency; requests past it queue in the server.
  */
final class HealthServer private (
    server: HttpServer,
    pool: java.util.concurrent.ExecutorService) extends AutoCloseable {

  /** Bound port (useful when started on an ephemeral port 0). */
  def port: Int = server.getAddress.getPort

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
}

object HealthServer {

  def start(
      spark: SparkSession,
      config: GraftConfig = GraftConfig(),
      executor: Option[graft.sql.QueryExecutor] = None,
      catalog: Option[GraftCatalog] = None): HealthServer = {
    // `respond` writes headers and body separately; with Nagle on, the
    // body of a keep-alive reply waits for the client's delayed ACK
    // (~40 ms). The JDK server reads this once, at its first create.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(
      new InetSocketAddress(config.bindHost, config.healthPort), 0)

    // transport-security parity (reference: mcp_env.py secure/verify/
    // proxy_path): the sandbox listener is plain HTTP, so secure=true
    // is validated config surfaced to the operator, not silently eaten
    if (config.secure || !config.verify)
      System.err.println(
        s"[graft] transport config: secure=${config.secure} " +
          s"verify=${config.verify} — no certificate store in this " +
          "build; serving plain HTTP")
    val prefix = config.proxyPath.getOrElse("")

    def params(exchange: HttpExchange): Map[String, String] =
      Option(exchange.getRequestURI.getRawQuery).getOrElse("")
        .split('&').filter(_.contains('=')).map { p =>
          val Array(k, v) = p.split("=", 2)
          k -> java.net.URLDecoder.decode(v, UTF_8)
        }.toMap

    // `like` repeats as a comma-separated list, matching the reference's
    // multi-pattern semantics (likes OR'd, not_likes AND'd)
    def patterns(p: Map[String, String], key: String): Seq[String] =
      p.get(key).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    def respond(exchange: HttpExchange, code: Int, body: String, json: Boolean): Unit = {
      val bytes = body.getBytes(UTF_8)
      exchange.getResponseHeaders.set("Content-Type",
        if (json) "application/json; charset=utf-8" else "text/plain; charset=utf-8")
      exchange.sendResponseHeaders(code, bytes.length.toLong)
      val os = exchange.getResponseBody
      try os.write(bytes)
      finally os.close()
    }

    server.createContext(prefix + "/health", (exchange: HttpExchange) => {
      val (code, body) =
        if (!config.enabled)
          (503, "ERROR - Engine is disabled (SPARK_GRAFT_ENABLED=false)")
        else {
          val st = Health.check(spark)
          (if (st.ok) 200 else 503, st.message)
        }
      respond(exchange, code, body, json = false)
    })

    executor.foreach { exec =>
      server.createContext(prefix + "/query", (exchange: HttpExchange) => {
        val p = params(exchange)
        val sql =
          if (exchange.getRequestMethod == "POST")
            new String(exchange.getRequestBody.readAllBytes(), UTF_8)
          else p.getOrElse("q", "") // GET ?q=<urlencoded sql>
        if (sql.trim.isEmpty)
          respond(exchange, 400, Json.error("empty query"), json = true)
        else exec.runSafe(sql) match {
          // ?format=<name> selects the CH output format by its CH
          // spelling (case-insensitive): CSV[WithNames], JSONEachRow,
          // TabSeparated[WithNames]/TSV, Pretty[Compact], Vertical,
          // Values; the reference's {columns, rows} JSON otherwise
          case Right(result) =>
            // a ?format= parameter wins; otherwise the statement's own
            // trailing FORMAT clause selects, like CH over HTTP
            val fmt = p.get("format")
              .orElse(graft.sql.QueryGuard.trailingFormat(sql))
              .map(_.toLowerCase).getOrElse("json")
            fmt match {
              case "csv" | "csvwithnames" =>
                respond(exchange, 200, result.toCsv, json = false)
              case "jsoneachrow" | "ndjson" =>
                respond(exchange, 200, result.toJsonEachRow, json = false)
              case "tsv" | "tabseparated" =>
                respond(exchange, 200, result.toTsv(withNames = false),
                  json = false)
              case "tsvwithnames" | "tabseparatedwithnames" =>
                respond(exchange, 200, result.toTsv(withNames = true),
                  json = false)
              case "pretty" | "prettycompact" =>
                respond(exchange, 200, result.toPretty, json = false)
              case "vertical" =>
                respond(exchange, 200, result.toVertical, json = false)
              case "values" =>
                respond(exchange, 200, result.toValues, json = false)
              case _ => respond(exchange, 200, result.toJson, json = true)
            }
          case Left(message) =>
            respond(exchange, 400, Json.error(message), json = true)
        }
      })

      // formatted physical plan, same guard, no execution — the
      // pre-flight check before paying for a big scan
      server.createContext(prefix + "/explain", (exchange: HttpExchange) => {
        val sql =
          if (exchange.getRequestMethod == "POST")
            new String(exchange.getRequestBody.readAllBytes(), UTF_8)
          else params(exchange).getOrElse("q", "")
        if (sql.trim.isEmpty)
          respond(exchange, 400, Json.error("empty query"), json = true)
        else exec.explainSafe(sql) match {
          case Right(plan) => respond(exchange, 200, plan, json = false)
          case Left(message) =>
            respond(exchange, 400, Json.error(message), json = true)
        }
      })
    }

    catalog.foreach { cat =>
      server.createContext(prefix + "/databases", (exchange: HttpExchange) => {
        val p = params(exchange)
        val names = cat.listDatabases(patterns(p, "like"), patterns(p, "not_like"))
        respond(exchange, 200,
          s"""{"databases": ${Json.arr(names.map(Json.str))}}""", json = true)
      })
      server.createContext(prefix + "/tables", (exchange: HttpExchange) => {
        val p = params(exchange)
        try {
          val page = cat.listTables(
            database = p.getOrElse("database", cat.database),
            like = patterns(p, "like"),
            notLike = patterns(p, "not_like"),
            pageToken = p.get("page_token"),
            pageSize = p.get("page_size").map(GraftCatalog.pageSize).getOrElse(50),
            includeDetailedColumns =
              p.get("include_detailed_columns").forall(_ == "true"))
          respond(exchange, 200, Json.tablesPage(page), json = true)
        } catch {
          case e: Exception =>
            respond(exchange, 400,
              Json.error(Option(e.getMessage).getOrElse(e.toString)), json = true)
        }
      })
    }

    // MCP protocol framing: JSON-RPC 2.0 over POST (initialize,
    // tools/list, tools/call, prompts/*) dispatching to the SAME
    // catalog/executor as the plain endpoints — the interface every
    // reference user actually connects through (mcp_server.py:596-616)
    server.createContext(prefix + "/mcp", (exchange: HttpExchange) => {
      if (exchange.getRequestMethod != "POST")
        respond(exchange, 405, Json.error("MCP requires POST"), json = true)
      else {
        val body = new String(exchange.getRequestBody.readAllBytes(), UTF_8)
        val (code, out) = Mcp.handle(body, spark, config, executor, catalog)
        if (out.isEmpty) { // notification: acknowledge without a body
          exchange.sendResponseHeaders(code, -1L)
          exchange.getResponseBody.close()
        } else respond(exchange, code, out, json = true)
      }
    })

    // legacy MCP HTTP+SSE transport (reference: MCP_SERVER_TRANSPORT=sse,
    // mcp_env.py:13-18): GET /sse opens an event stream and announces
    // the session's POST endpoint; POSTs to /messages?session_id=... are
    // acknowledged with 202 and their JSON-RPC responses pushed onto the
    // stream as `message` events — the framing older MCP clients expect
    if (config.transport == "sse") {
      val sessions =
        new java.util.concurrent.ConcurrentHashMap[
          String, java.util.concurrent.LinkedBlockingQueue[String]]()
      // Streams are long-lived (one blocked writer per connected
      // client), so they must never occupy the shared request pool
      // (`poolSize` threads): that many lingering sessions would starve
      // /messages — including a session's OWN posts — plus /query and
      // /health. Each stream gets a thread from this dedicated cached
      // pool instead; the handler returns immediately and the request
      // thread is freed. A session cap keeps the thread count bounded,
      // shedding load with 503 the way the reference's HTTP layer sheds
      // connection-pool exhaustion.
      val ssePool = java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-sse")
        t.setDaemon(true)
        t
      })
      val sseMax = config.sseMaxSessions

      server.createContext(prefix + "/sse", (exchange: HttpExchange) => {
        if (exchange.getRequestMethod != "GET")
          respond(exchange, 405, Json.error("SSE requires GET"), json = true)
        else if (sessions.size >= sseMax) {
          // slots free when a stream's keep-alive probe (500 ms) hits
          // the closed client — tell well-behaved clients when to retry
          exchange.getResponseHeaders.set("Retry-After", "5")
          respond(exchange, 503, Json.error("too many SSE sessions"), json = true)
        }
        else {
          val sid = java.util.UUID.randomUUID().toString
          val queue = new java.util.concurrent.LinkedBlockingQueue[String]()
          sessions.put(sid, queue)
          exchange.getResponseHeaders.set("Content-Type",
            "text/event-stream; charset=utf-8")
          exchange.getResponseHeaders.set("Cache-Control", "no-cache")
          exchange.sendResponseHeaders(200, 0L) // chunked: stream stays open
          val os = exchange.getResponseBody
          ssePool.execute(() => {
            try {
              os.write((s"event: endpoint\n" +
                s"data: $prefix/messages?session_id=$sid\n\n").getBytes(UTF_8))
              os.flush()
              while (true) {
                val msg = queue.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)
                // keep-alive comments double as disconnect probes: a write
                // to a closed client throws and releases the thread
                if (msg == null) os.write(": keep-alive\n\n".getBytes(UTF_8))
                else os.write((
                  "event: message\n" +
                    msg.linesIterator.map("data: " + _).mkString("", "\n", "\n\n"))
                  .getBytes(UTF_8))
                os.flush()
              }
            } catch {
              case _: java.io.IOException => // client went away
              case _: InterruptedException => // server shutting down
            } finally {
              sessions.remove(sid)
              try os.close() catch { case _: Exception => }
            }
          })
        }
      })

      server.createContext(prefix + "/messages", (exchange: HttpExchange) => {
        if (exchange.getRequestMethod != "POST")
          respond(exchange, 405, Json.error("messages requires POST"), json = true)
        else {
          val sid = params(exchange).getOrElse("session_id", "")
          val queue = sessions.get(sid)
          if (queue == null)
            respond(exchange, 404, Json.error("unknown session_id"), json = true)
          else {
            val body = new String(exchange.getRequestBody.readAllBytes(), UTF_8)
            val (_, out) = Mcp.handle(body, spark, config, executor, catalog)
            if (out.nonEmpty) queue.put(out)
            respond(exchange, 202, "Accepted", json = false)
          }
        }
      })
    }

    // usage-guidance prompt (reference: chdb_initial_prompt resource,
    // chdb_prompt.py:3-155) — also reachable as prompts/get over /mcp
    server.createContext(prefix + "/prompt", (exchange: HttpExchange) =>
      respond(exchange, 200, GuidePrompt.Text, json = false))

    // handler threads, off the dispatcher thread so a long /query
    // cannot stall accepting; a served query holds its thread while it
    // runs, so this pool is the served path's concurrency bound
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, config.poolSize), r => {
        val t = new Thread(r, "graft-http")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    server.start()
    new HealthServer(server, pool)
  }
}
