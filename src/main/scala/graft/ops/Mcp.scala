package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.catalog.GraftCatalog

/** MCP protocol framing: JSON-RPC 2.0 over HTTP POST, dispatching to
  * the same catalog/executor the plain HTTP endpoints use — the layer
  * that makes the engine a drop-in server for MCP clients, mirroring
  * the reference's FastMCP registration of `list_databases`,
  * `list_tables` and `run_select_query` as tools plus the guidance
  * prompt (reference: mcp_clickhouse/mcp_server.py:596-616).
  *
  * Methods: `initialize`, `ping`, `tools/list`, `tools/call`,
  * `prompts/list`, `prompts/get`; notifications (no id) are accepted
  * and produce no body. Tool-call failures return a RESULT with
  * `isError: true` and the reference's `{"status": "error",
  * "message": ...}` payload — the reference deliberately ships
  * errors as structured responses, not protocol errors
  * (mcp_server.py:442-459).
  *
  * JSON in/out rides Jackson from Spark's own classpath — no added
  * dependency.
  */
object Mcp {

  val ProtocolVersion = "2025-06-18"

  /** Revisions this server can speak; `initialize` echoes the client's
    * requested version when it is one of these, else answers with the
    * latest (the MCP version-negotiation rule). */
  val SupportedProtocolVersions: Set[String] =
    Set("2024-11-05", "2025-03-26", ProtocolVersion)

  private val mapper = new ObjectMapper()

  private def obj(): ObjectNode = mapper.createObjectNode()

  /** Tool descriptors with the reference's parameter surface. */
  private def toolDescriptors(config: GraftConfig): ArrayNode = {
    val tools = mapper.createArrayNode()

    def strOrList(desc: String): ObjectNode = {
      val t = obj()
      val anyOf = mapper.createArrayNode()
      anyOf.add(obj().put("type", "string"))
      anyOf.add(obj().put("type", "array")
        .set[ObjectNode]("items", obj().put("type", "string")))
      t.set[ObjectNode]("anyOf", anyOf)
      t.put("description", desc)
      t
    }

    {
      val t = obj()
      t.put("name", "list_databases")
      t.put("description",
        "List available databases, with optional LIKE / NOT LIKE " +
          "pattern filters (multiple LIKE patterns OR, NOT LIKE AND)")
      val props = obj()
      props.set[ObjectNode]("like", strOrList("LIKE pattern(s) to keep"))
      props.set[ObjectNode]("not_like", strOrList("NOT LIKE pattern(s) to drop"))
      t.set[ObjectNode]("inputSchema", obj()
        .put("type", "object")
        .set[ObjectNode]("properties", props))
      tools.add(t)
    }
    {
      val t = obj()
      t.put("name", "list_tables")
      t.put("description",
        "List tables in a database with schema, stats, page tokens")
      val props = obj()
      props.set[ObjectNode]("database",
        obj().put("type", "string").put("description", "database to list"))
      props.set[ObjectNode]("like", strOrList("LIKE pattern(s) to keep"))
      props.set[ObjectNode]("not_like", strOrList("NOT LIKE pattern(s) to drop"))
      props.set[ObjectNode]("page_token",
        obj().put("type", "string").put("description", "resume token"))
      props.set[ObjectNode]("page_size",
        obj().put("type", "integer").put("description", "page size (default 50)"))
      props.set[ObjectNode]("include_detailed_columns",
        obj().put("type", "boolean").put("description", "full column metadata"))
      val req = mapper.createArrayNode()
      req.add("database")
      val schema = obj().put("type", "object")
      schema.set[ObjectNode]("properties", props)
      schema.set[ObjectNode]("required", req)
      t.set[ObjectNode]("inputSchema", schema)
      tools.add(t)
    }
    {
      val t = obj()
      t.put("name", "run_select_query")
      t.put("description", "Run a read-only SELECT query")
      val props = obj()
      props.set[ObjectNode]("query",
        obj().put("type", "string").put("description", "the SELECT statement"))
      val req = mapper.createArrayNode()
      req.add("query")
      val schema = obj().put("type", "object")
      schema.set[ObjectNode]("properties", props)
      schema.set[ObjectNode]("required", req)
      t.set[ObjectNode]("inputSchema", schema)
      tools.add(t)
    }
    // in-place file querying registers as its own tool only when opted
    // in, mirroring the reference's CHDB_ENABLED gate
    if (config.chdbEnabled) {
      val t = obj()
      t.put("name", "run_chdb_select_query")
      t.put("description",
        "Run a read-only SELECT that queries files in place via " +
          "file()/s3()/hdfs() table functions")
      val props = obj()
      props.set[ObjectNode]("query",
        obj().put("type", "string").put("description", "the SELECT statement"))
      val req = mapper.createArrayNode()
      req.add("query")
      val schema = obj().put("type", "object")
      schema.set[ObjectNode]("properties", props)
      schema.set[ObjectNode]("required", req)
      t.set[ObjectNode]("inputSchema", schema)
      tools.add(t)
    }
    tools
  }

  private def patterns(args: JsonNode, key: String): Seq[String] =
    Option(args.get(key)).toSeq.flatMap { n =>
      if (n.isArray) {
        val it = n.elements()
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) out += it.next().asText()
        out.toSeq
      } else if (n.isNull) Nil
      else Seq(n.asText())
    }

  /** A `tools/call` result: one text content item + isError flag. */
  private def toolResult(text: String, isError: Boolean): ObjectNode = {
    val res = obj()
    val content = mapper.createArrayNode()
    content.add(obj().put("type", "text").put("text", text))
    res.set[ObjectNode]("content", content)
    res.put("isError", isError)
    res
  }

  private def rpcError(id: JsonNode, code: Int, message: String): String = {
    val env = obj().put("jsonrpc", "2.0")
    if (id == null) env.putNull("id") else env.set[ObjectNode]("id", id)
    env.set[ObjectNode]("error", obj().put("code", code).put("message", message))
    mapper.writeValueAsString(env)
  }

  private def rpcResult(id: JsonNode, result: JsonNode): String = {
    val env = obj().put("jsonrpc", "2.0")
    env.set[ObjectNode]("id", id)
    env.set[ObjectNode]("result", result)
    mapper.writeValueAsString(env)
  }

  /** Handle one JSON-RPC request body → (HTTP status, body).
    * Notifications return (202, ""). */
  def handle(
      body: String,
      spark: SparkSession,
      config: GraftConfig,
      executor: Option[graft.sql.QueryExecutor],
      catalog: Option[GraftCatalog]): (Int, String) = {
    val req =
      try mapper.readTree(body)
      catch {
        case _: Exception =>
          return (200, rpcError(null, -32700, "parse error: invalid JSON"))
      }
    if (req == null || !req.isObject)
      return (200, rpcError(null, -32600, "invalid request: expected an object"))
    val id = req.get("id")
    val method = Option(req.get("method")).map(_.asText()).getOrElse("")
    val params = Option(req.get("params")).getOrElse(obj())

    // notifications: no id → acknowledge, no body
    if (id == null || id.isNull)
      return if (method.startsWith("notifications/") || method.nonEmpty) (202, "")
      else (200, rpcError(null, -32600, "invalid request: missing method"))

    // an id-bearing request without a method is malformed, not an
    // unknown method: -32600, never "method not found: "
    if (method.isEmpty)
      return (200, rpcError(id, -32600, "invalid request: missing method"))

    // anything unexpected below becomes a -32603 internal error rather
    // than an aborted exchange (clients hang on dropped connections)
    try dispatch(method, id, params, spark, config, executor, catalog)
    catch {
      case e: Exception =>
        (200, rpcError(id, -32603,
          "internal error: " + Option(e.getMessage).getOrElse(e.toString)))
    }
  }

  private def dispatch(
      method: String,
      id: JsonNode,
      params: JsonNode,
      spark: SparkSession,
      config: GraftConfig,
      executor: Option[graft.sql.QueryExecutor],
      catalog: Option[GraftCatalog]): (Int, String) = {
    method match {
      case "initialize" =>
        val result = obj()
        // echo a supported requested revision; otherwise answer with
        // the latest we speak (MCP version negotiation)
        val requested = Option(params.get("protocolVersion"))
          .map(_.asText()).filter(SupportedProtocolVersions.contains)
        result.put("protocolVersion", requested.getOrElse(ProtocolVersion))
        val caps = obj()
        caps.set[ObjectNode]("tools", obj())
        caps.set[ObjectNode]("prompts", obj())
        result.set[ObjectNode]("capabilities", caps)
        result.set[ObjectNode]("serverInfo", obj()
          .put("name", "graft")
          .put("title", "graft Spark analytics engine")
          .put("version", "0.6"))
        (200, rpcResult(id, result))

      case "ping" =>
        (200, rpcResult(id, obj()))

      case "tools/list" =>
        val result = obj()
        // mirrors the reference: tools register only when enabled
        result.set[ObjectNode]("tools",
          if (config.enabled) toolDescriptors(config) else mapper.createArrayNode())
        (200, rpcResult(id, result))

      case "tools/call" =>
        val name = Option(params.get("name")).map(_.asText()).getOrElse("")
        val args = Option(params.get("arguments")).getOrElse(obj())
        callTool(name, args, config, executor, catalog) match {
          case Right(result) => (200, rpcResult(id, result))
          case Left((code, msg)) => (200, rpcError(id, code, msg))
        }

      case "prompts/list" =>
        val result = obj()
        val prompts = mapper.createArrayNode()
        prompts.add(obj()
          .put("name", GuidePrompt.Name)
          .put("description", GuidePrompt.Description))
        result.set[ObjectNode]("prompts", prompts)
        (200, rpcResult(id, result))

      case "prompts/get" =>
        val name = Option(params.get("name")).map(_.asText()).getOrElse("")
        if (name != GuidePrompt.Name)
          (200, rpcError(id, -32602, s"unknown prompt: $name"))
        else {
          val result = obj()
          result.put("description", GuidePrompt.Description)
          val msgs = mapper.createArrayNode()
          val m = obj().put("role", "user")
          m.set[ObjectNode]("content",
            obj().put("type", "text").put("text", GuidePrompt.Text))
          msgs.add(m)
          result.set[ObjectNode]("messages", msgs)
          (200, rpcResult(id, result))
        }

      case other =>
        (200, rpcError(id, -32601, s"method not found: $other"))
    }
  }

  /** MCP stdio transport: newline-delimited JSON-RPC on stdin/stdout —
    * the framing MCP clients use when they SPAWN the server as a child
    * process (the reference's default transport). Responses go to
    * `out`; notifications produce nothing; logging must stay on stderr
    * (stdout belongs to the protocol). Runs until EOF. */
  def serveStdio(
      in: java.io.BufferedReader,
      out: java.io.PrintStream,
      spark: SparkSession,
      config: GraftConfig,
      executor: Option[graft.sql.QueryExecutor],
      catalog: Option[GraftCatalog]): Unit = {
    var line = in.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val (_, body) = handle(line, spark, config, executor, catalog)
        if (body.nonEmpty) {
          out.println(body)
          out.flush()
        }
      }
      line = in.readLine()
    }
  }

  private def callTool(
      name: String,
      args: JsonNode,
      config: GraftConfig,
      executor: Option[graft.sql.QueryExecutor],
      catalog: Option[GraftCatalog]): Either[(Int, String), ObjectNode] =
    name match {
      case "list_databases" =>
        catalog match {
          case None => Right(toolResult(Json.error("catalog is not mounted"), isError = true))
          case Some(cat) =>
            val names = cat.listDatabases(
              patterns(args, "like"), patterns(args, "not_like"))
            Right(toolResult(Json.arr(names.map(Json.str)), isError = false))
        }

      case "list_tables" =>
        catalog match {
          case None => Right(toolResult(Json.error("catalog is not mounted"), isError = true))
          case Some(cat) =>
            try {
              val page = cat.listTables(
                database = Option(args.get("database")).map(_.asText())
                  .getOrElse(cat.database),
                like = patterns(args, "like"),
                notLike = patterns(args, "not_like"),
                pageToken = Option(args.get("page_token")).filter(!_.isNull)
                  .map(_.asText()),
                pageSize = Option(args.get("page_size")).filter(!_.isNull)
                  .map(n => GraftCatalog.pageSize(if (n.isTextual) n.asText else n.toString))
                  .getOrElse(50),
                includeDetailedColumns =
                  Option(args.get("include_detailed_columns"))
                    .forall(_.asBoolean(true)))
              Right(toolResult(Json.tablesPage(page), isError = false))
            } catch {
              case e: Exception =>
                Right(toolResult(
                  Json.error(Option(e.getMessage).getOrElse(e.toString)),
                  isError = true))
            }
        }

      case "run_chdb_select_query" if !config.chdbEnabled =>
        Left((-32602, "unknown tool: run_chdb_select_query (set " +
          "SPARK_GRAFT_CHDB_ENABLED=true to register it)"))

      case "run_select_query" | "run_chdb_select_query" =>
        executor match {
          case None => Right(toolResult(Json.error("executor is not mounted"), isError = true))
          case Some(exec) =>
            val sql = Option(args.get("query")).map(_.asText()).getOrElse("")
            if (sql.trim.isEmpty)
              Right(toolResult(Json.error("empty query"), isError = true))
            else exec.runSafe(sql) match {
              case Right(result) =>
                Right(toolResult(result.toJson, isError = false))
              case Left(message) =>
                Right(toolResult(Json.error(message), isError = true))
            }
        }

      case other =>
        Left((-32602, s"unknown tool: $other"))
    }
}
