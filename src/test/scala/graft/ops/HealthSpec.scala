package graft.ops

import graft.SparkSpec

class HealthSpec extends SparkSpec {

  private def httpGet(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("health check reports OK with engine version on a live session") {
    val s = Health.check(spark)
    assert(s.ok)
    assert(s.message.startsWith("OK - Connected to Spark "))
    assert(s.message.contains(spark.version))
  }

  test("served /health returns 200 + version on a live session") {
    val srv = HealthServer.start(spark, GraftConfig(Map.empty))
    try {
      val (code, body) = httpGet(s"http://localhost:${srv.port}/health")
      assert(code == 200)
      assert(body == s"OK - Connected to Spark ${spark.version}")
    } finally srv.close()
  }

  test("served /health returns 503 when the engine is disabled") {
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_ENABLED" -> "false")))
    try {
      val (code, body) = httpGet(s"http://localhost:${srv.port}/health")
      assert(code == 503)
      assert(body.startsWith("ERROR - "))
    } finally srv.close()
  }

  test("served /query runs guarded SQL and shapes errors as JSON") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec))
    try {
      val base = s"http://localhost:${srv.port}/query"
      val sql = "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
      val (code, body) = httpGet(
        base + "?q=" + java.net.URLEncoder.encode(sql, "UTF-8"))
      assert(code == 200)
      assert(body.startsWith("""{"columns": ["o_orderpriority", "n"]"""))
      assert(body.contains("\"rows\": ["))
      // guard violation surfaces as a structured 400, not a crash
      val (badCode, badBody) = httpGet(
        base + "?q=" + java.net.URLEncoder.encode("DROP TABLE orders", "UTF-8"))
      assert(badCode == 400)
      assert(badBody.contains("\"status\": \"error\""))
      assert(badBody.contains("read-only"))
      // empty query
      assert(httpGet(base)._1 == 400)
    } finally { srv.close(); exec.close() }
  }

  test("/query format=csv renders CSVWithNames with RFC-4180 quoting") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec))
    try {
      val sql =
        "SELECT 'a,b' AS tricky, 'plain' AS p, NULL AS n, 'say \"hi\"' AS q"
      val (code, body) = httpGet(s"http://localhost:${srv.port}/query" +
        "?format=csv&q=" + java.net.URLEncoder.encode(sql, "UTF-8"))
      assert(code == 200)
      val lines = body.split("\n")
      assert(lines(0) == "tricky,p,n,q")
      assert(lines(1) == "\"a,b\",plain,,\"say \"\"hi\"\"\"")
    } finally { srv.close(); exec.close() }
  }

  test("/query format=jsoneachrow streams NDJSON rows") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec))
    try {
      val sql = "SELECT * FROM VALUES (1, 'x'), (2, 'y') t(id, s) ORDER BY id"
      val (code, body) = httpGet(s"http://localhost:${srv.port}/query" +
        "?format=jsoneachrow&q=" + java.net.URLEncoder.encode(sql, "UTF-8"))
      assert(code == 200)
      assert(body.split("\n").toSeq ==
        Seq("{\"id\": 1, \"s\": \"x\"}", "{\"id\": 2, \"s\": \"y\"}"))
    } finally { srv.close(); exec.close() }
  }

  test("/query serves array/map/decimal cells as JSON values in every format") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec))
    try {
      // the round-13 wire-format leak, pinned at the ENDPOINT (the
      // oracle never sees array cells — the driver flattens them by
      // contract, so only these specs can prove the served shapes)
      val sql = "SELECT [1, 2, 3] AS arr, map('k', 1) AS m, " +
        "CAST(1.5 AS DECIMAL(10,2)) AS d"
      val enc = java.net.URLEncoder.encode(sql, "UTF-8")
      val base = s"http://localhost:${srv.port}/query"
      val (c1, json) = httpGet(base + "?q=" + enc)
      assert(c1 == 200)
      assert(json.contains("[[1, 2, 3], {\"k\": 1}, 1.50]"), json)
      assert(!json.contains("ArraySeq") && !json.contains("\"1.50\""), json)
      val (c2, nd) = httpGet(base + "?format=jsoneachrow&q=" + enc)
      assert(c2 == 200)
      assert(nd == "{\"arr\": [1, 2, 3], \"m\": {\"k\": 1}, \"d\": 1.50}", nd)
      val (c3, csv) = httpGet(base + "?format=csv&q=" + enc)
      assert(c3 == 200)
      assert(csv.split("\n")(1) == "\"[1,2,3]\",{'k':1},1.50", csv)
      // a real sketch result through the served path: topK is a list
      val (c4, tk) = httpGet(base + "?q=" + java.net.URLEncoder.encode(
        "SELECT topK(2)(o_orderpriority) AS t FROM orders", "UTF-8"))
      assert(c4 == 200)
      assert(tk.matches(""".*"rows": \[\[\["[^"]+", "[^"]+"\]\]\].*"""), tk)
    } finally { srv.close(); exec.close() }
  }

  test("served /explain returns the formatted plan without running jobs") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec))
    try {
      val base = s"http://localhost:${srv.port}/explain"
      val sql = "SELECT count(*) FROM orders WHERE o_totalprice > 100"
      val (code, body) = httpGet(
        base + "?q=" + java.net.URLEncoder.encode(sql, "UTF-8"))
      assert(code == 200)
      assert(body.contains("Physical Plan"))
      assert(body.contains("PushedFilters"), body.take(400)) // plan, not prose
      // same guard as /query
      val (badCode, badBody) = httpGet(
        base + "?q=" + java.net.URLEncoder.encode("DROP TABLE orders", "UTF-8"))
      assert(badCode == 400 && badBody.contains("read-only"))
      assert(httpGet(base)._1 == 400)
    } finally { srv.close(); exec.close() }
  }

  test("served catalog endpoints mirror the reference tools") {
    val cat = new graft.catalog.GraftCatalog(spark, sf)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), None, Some(cat))
    try {
      val (dbCode, dbBody) = httpGet(s"http://localhost:${srv.port}/databases")
      assert(dbCode == 200 && dbBody == """{"databases": ["default"]}""")
      val (tCode, tBody) = httpGet(
        s"http://localhost:${srv.port}/tables?like=ord%25&page_size=5")
      assert(tCode == 200)
      assert(tBody.contains("\"name\": \"orders\""))
      assert(tBody.contains("\"create_table_query\": \"CREATE TABLE default.orders ("))
      assert(tBody.contains("\"total_tables\": 1"))
      assert(tBody.contains("\"column_type\""))
      // unknown database → structured 400, like the query endpoint
      val (badCode, badBody) = httpGet(
        s"http://localhost:${srv.port}/tables?database=prod")
      assert(badCode == 400 && badBody.contains("Unknown database"))
    } finally srv.close()
  }

  test("a malformed percent-escape is answered with a 400, not a dropped connection") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val cat = new graft.catalog.GraftCatalog(spark, sf)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec), Some(cat))
    try {
      // the JDK server rejects the request URI before any handler runs,
      // so parameter decoding never sees a malformed escape
      for (path <- Seq("/databases?like=%zz", "/tables?like=%", "/query?q=%",
          "/query?q=SELECT%201&format=%g", "/explain?q=%"))
        assert(httpGet(s"http://localhost:${srv.port}$path")._1 == 400, path)
    } finally { srv.close(); exec.close() }
  }

  test("config reads SPARK_GRAFT_* envs with reference defaults") {
    val dflt = GraftConfig(Map.empty)
    assert(dflt.enabled && dflt.queryTimeoutSec == 30 && dflt.poolSize == 10)
    assert(dflt.maxRows == graft.sql.QueryExecutor.DefaultMaxRows)
    assert(dflt.dataDir.isEmpty)
    val set = GraftConfig(Map(
      "SPARK_GRAFT_QUERY_TIMEOUT_SEC" -> "5",
      "SPARK_GRAFT_MAX_ROWS" -> "7",
      "SPARK_GRAFT_SF_DIR" -> "/data/sf1"))
    assert(set.queryTimeoutSec == 5 && set.maxRows == 7)
    assert(set.dataDir.contains("/data/sf1"))
    // common truthy/falsy env spellings parse; junk is rejected loudly
    for (v <- Seq("true", "1", "yes", "on", "TRUE"))
      assert(GraftConfig(Map("SPARK_GRAFT_ENABLED" -> v)).enabled, v)
    for (v <- Seq("false", "0", "no", "off"))
      assert(!GraftConfig(Map("SPARK_GRAFT_ENABLED" -> v)).enabled, v)
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_ENABLED" -> "maybe")).enabled
    }
    // a config-built executor enforces the configured cap
    graft.sql.TableEnv.register(spark, sf)
    val ex = set.newExecutor(spark)
    try {
      val r = ex.run("SELECT n_nationkey FROM nation")
      assert(r.rows.length == 7 && r.truncated)
    } finally ex.close()
  }

  test("transport-security knobs: secure/verify/proxy_path parse + validate") {
    val dflt = GraftConfig(Map.empty)
    assert(!dflt.secure && dflt.verify && dflt.proxyPath.isEmpty)
    val set = GraftConfig(Map(
      "SPARK_GRAFT_SECURE" -> "true",
      "SPARK_GRAFT_VERIFY" -> "false",
      "SPARK_GRAFT_PROXY_PATH" -> "/graft"))
    assert(set.secure && !set.verify && set.proxyPath.contains("/graft"))
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_PROXY_PATH" -> "graft")).proxyPath
    }
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_PROXY_PATH" -> "/graft/")).proxyPath
    }
  }

  test("proxy_path mounts every endpoint under the prefix") {
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_PROXY_PATH" -> "/behind/proxy")))
    try {
      val (code, body) =
        httpGet(s"http://localhost:${srv.port}/behind/proxy/health")
      assert(code == 200 && body.startsWith("OK - Connected to Spark "))
      assert(httpGet(s"http://localhost:${srv.port}/health")._1 == 404)
      val (pCode, pBody) =
        httpGet(s"http://localhost:${srv.port}/behind/proxy/prompt")
      assert(pCode == 200 && pBody.contains("run_select_query"))
    } finally srv.close()
  }

  private def httpPost(url: String, body: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val out =
      if (stream == null) ""
      else new String(stream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  test("/prompt serves the guidance cheat-sheet") {
    val srv = HealthServer.start(spark, GraftConfig(Map.empty))
    try {
      val (code, body) = httpGet(s"http://localhost:${srv.port}/prompt")
      assert(code == 200)
      assert(body.contains("Table functions"))
      assert(body.contains("file('/data/events.parquet')"))
      // the dialect doc states groupArraySample's sampling unit
      assert(body.contains("samples k input ROWS per group"))
      // and the Java-vs-RE2 regex nuance for match/COLUMNS patterns
      assert(body.contains("near-superset of ClickHouse's RE2"))
      // the r17 ask stays pinned: the deviations section is SERVED
      assert(body.contains("Known deviations"))
      assert(body.contains("arrayZipUnaligned"))
    } finally srv.close()
  }

  test("keep-alive replies are not held back by Nagle's algorithm") {
    val srv = HealthServer.start(spark, GraftConfig(Map.empty))
    val sock = new java.net.Socket("localhost", srv.port)
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n' && c >= 0) { if (c != '\r') sb += c.toChar; c = in.read() }
        sb.toString
      }
      // one request and its whole reply on the shared socket
      def get(): Double = {
        val t0 = System.nanoTime()
        out.write("GET /prompt HTTP/1.1\r\nHost: localhost\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        out.flush()
        assert(line().startsWith("HTTP/1.1 200"))
        var len = -1
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:"))
            len = h.substring(15).trim.toInt
          h = line()
        }
        assert(len > 0 && in.readNBytes(len).length == len)
        (System.nanoTime() - t0) / 1e6
      }
      get() // first reply pays the handler warm-up
      val ms = Seq.fill(9)(get()).sorted
      assert(ms(4) < 20.0, s"keep-alive /prompt times (ms): $ms")
    } finally { sock.close(); srv.close() }
  }

  test("MCP: initialize, tools/list, prompts round-trip JSON-RPC") {
    val srv = HealthServer.start(spark, GraftConfig(Map.empty))
    try {
      val base = s"http://localhost:${srv.port}/mcp"
      val (c1, init) = httpPost(base,
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
      assert(c1 == 200)
      assert(init.contains("\"protocolVersion\""))
      assert(init.contains("\"serverInfo\""))
      assert(init.contains("\"tools\""))
      // notification → 202, no body
      val (c2, note) = httpPost(base,
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      assert(c2 == 202 && note.isEmpty)
      val (_, tools) = httpPost(base,
        """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
      for (t <- Seq("list_databases", "list_tables", "run_select_query"))
        assert(tools.contains("\"" + t + "\""), t)
      assert(tools.contains("\"inputSchema\""))
      val (_, prompts) = httpPost(base,
        """{"jsonrpc":"2.0","id":3,"method":"prompts/list"}""")
      assert(prompts.contains(GuidePrompt.Name))
      val (_, prompt) = httpPost(base,
        s"""{"jsonrpc":"2.0","id":4,"method":"prompts/get","params":{"name":"${GuidePrompt.Name}"}}""")
      assert(prompt.contains("\"messages\""))
      assert(prompt.contains("run_select_query"))
      // unknown method → JSON-RPC error, not a crash
      val (_, bad) = httpPost(base,
        """{"jsonrpc":"2.0","id":5,"method":"resources/list"}""")
      assert(bad.contains("-32601"))
      // invalid JSON → parse error
      val (_, parse) = httpPost(base, "{nope")
      assert(parse.contains("-32700"))
      // version negotiation: a supported requested revision is echoed;
      // an unknown one gets the latest we speak
      val (_, echoed) = httpPost(base,
        """{"jsonrpc":"2.0","id":6,"method":"initialize",
          |"params":{"protocolVersion":"2024-11-05"}}""".stripMargin)
      assert(echoed.contains("\"protocolVersion\":\"2024-11-05\""))
      val (_, latest) = httpPost(base,
        """{"jsonrpc":"2.0","id":7,"method":"initialize",
          |"params":{"protocolVersion":"1999-01-01"}}""".stripMargin)
      assert(latest.contains("\"protocolVersion\":\"" + Mcp.ProtocolVersion + "\""))
      // id-bearing request without a method → -32600 invalid request
      val (_, noMethod) = httpPost(base, """{"jsonrpc":"2.0","id":8}""")
      assert(noMethod.contains("-32600"))
      assert(!noMethod.contains("-32601"))
    } finally srv.close()
  }

  test("SSE transport round-trips a tools/call over the event stream") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val cat = new graft.catalog.GraftCatalog(spark, sf)
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "sse")), Some(exec), Some(cat))
    try {
      val conn = new java.net.URL(s"http://localhost:${srv.port}/sse")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setReadTimeout(30000)
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/event-stream"))
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream,
          java.nio.charset.StandardCharsets.UTF_8))

      // one SSE frame: skip keep-alive comments, collect event+data lines
      def readEvent(): (String, String) = {
        var event = ""
        val data = new StringBuilder
        var line = reader.readLine()
        while (line != null && (line.isEmpty || line.startsWith(":"))) line = reader.readLine()
        while (line != null && line.nonEmpty) {
          if (line.startsWith("event: ")) event = line.drop(7)
          else if (line.startsWith("data: ")) {
            if (data.nonEmpty) data.append('\n')
            data.append(line.drop(6))
          }
          line = reader.readLine()
        }
        (event, data.toString)
      }

      val (epEvent, endpoint) = readEvent()
      assert(epEvent == "endpoint")
      assert(endpoint.startsWith("/messages?session_id="))

      val post = s"http://localhost:${srv.port}$endpoint"
      val (c1, ack1) = httpPost(post,
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
      assert(c1 == 202 && ack1 == "Accepted")
      val (initEvent, init) = readEvent()
      assert(initEvent == "message")
      assert(init.contains("\"protocolVersion\""))

      val (c2, _) = httpPost(post,
        """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{
          |"name":"run_select_query",
          |"arguments":{"query":"SELECT n_name FROM nation ORDER BY 1 LIMIT 2"}}}"""
          .stripMargin)
      assert(c2 == 202)
      val (resEvent, res) = readEvent()
      assert(resEvent == "message")
      assert(res.contains("\"id\":2"))
      assert(res.contains("\"isError\":false"))
      assert(res.contains("NATION_0"))

      // unknown session → 404 structured error
      val (c404, notFound) =
        httpPost(s"http://localhost:${srv.port}/messages?session_id=nope",
          """{"jsonrpc":"2.0","id":3,"method":"ping"}""")
      assert(c404 == 404 && notFound.contains("unknown session_id"))
      conn.disconnect()
    } finally srv.close()
  }

  test("SSE streams do not occupy the shared request pool") {
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "sse")))
    try {
      // hold open more streams than the 8-thread request pool; each
      // must detach to the dedicated SSE pool or the pool drains and
      // every other endpoint (including the sessions' own /messages
      // POSTs) deadlocks
      val conns = (1 to 12).map { _ =>
        val c = new java.net.URL(s"http://localhost:${srv.port}/sse")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("GET")
        c.setReadTimeout(30000)
        assert(c.getResponseCode == 200)
        // reading the endpoint frame proves the stream thread is live
        assert(c.getInputStream.read() != -1)
        c
      }
      val (code, body) = httpGet(s"http://localhost:${srv.port}/health")
      assert(code == 200, s"health starved behind SSE streams: $body")
      conns.foreach(_.disconnect())
    } finally srv.close()
  }

  test("SSE session cap sheds the cap+1th stream with 503 + Retry-After") {
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "sse",
        "SPARK_GRAFT_SSE_MAX_SESSIONS" -> "3")), Some(exec))
    try {
      def open() = {
        val c = new java.net.URL(s"http://localhost:${srv.port}/sse")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("GET")
        c.setReadTimeout(30000)
        c
      }
      val held = (1 to 3).map { _ =>
        val c = open()
        assert(c.getResponseCode == 200)
        assert(c.getInputStream.read() != -1) // stream thread is live
        c
      }
      // cap+1 sheds with 503 and a Retry-After hint
      val over = open()
      assert(over.getResponseCode == 503)
      assert(over.getHeaderField("Retry-After") == "5")
      over.disconnect()
      // shedding SSE load must not affect the query/health surface
      val (code, body) = httpGet(s"http://localhost:${srv.port}/health")
      assert(code == 200, s"health unavailable while SSE at cap: $body")
      val (qc, qb) = httpGet(
        s"http://localhost:${srv.port}/query?q=" +
          java.net.URLEncoder.encode("SELECT 1 AS one", "UTF-8"))
      assert(qc == 200 && qb.contains("\"one\""),
        s"/query unavailable while SSE at cap: $qb")
      // a released slot is re-admitted once the keep-alive probe
      // notices the closed client (500 ms cadence). Close the
      // underlying stream explicitly BEFORE disconnect():
      // HttpURLConnection.disconnect() alone may keep the socket in a
      // keep-alive pool, which on a loaded box delays the probe's
      // detection past the deadline (the noisy-box flake this repo
      // tracks); the generous deadline absorbs scheduler stalls
      try held.head.getInputStream.close() catch { case _: Exception => }
      held.head.disconnect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var admitted = false
      while (!admitted && System.nanoTime() < deadline) {
        val c = open()
        if (c.getResponseCode == 200) { admitted = true; c.disconnect() }
        else { c.disconnect(); Thread.sleep(200) }
      }
      assert(admitted, "slot not released after client disconnect")
      held.tail.foreach(_.disconnect())
    } finally { srv.close(); exec.close() }
  }

  test("MCP tools/call runs run_select_query and list_tables with reference shapes") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val cat = new graft.catalog.GraftCatalog(spark, sf)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), Some(exec), Some(cat))
    try {
      val base = s"http://localhost:${srv.port}/mcp"
      val (code, res) = httpPost(base,
        """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{
          |"name":"run_select_query",
          |"arguments":{"query":"SELECT n_name FROM nation ORDER BY 1 LIMIT 2"}}}"""
          .stripMargin)
      assert(code == 200)
      assert(res.contains("\"isError\":false"))
      // the {columns, rows} payload rides inside the text content item
      assert(res.contains("columns"))
      assert(res.contains("n_name"))
      // guard violation → isError true with the reference's error shape
      val (_, bad) = httpPost(base,
        """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{
          |"name":"run_select_query","arguments":{"query":"DROP TABLE nation"}}}"""
          .stripMargin)
      assert(bad.contains("\"isError\":true"))
      assert(bad.contains("read-only"))
      val (_, dbs) = httpPost(base,
        """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{
          |"name":"list_databases","arguments":{}}}""".stripMargin)
      assert(dbs.contains("default"))
      val (_, tbls) = httpPost(base,
        """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{
          |"name":"list_tables","arguments":{"database":"default","like":"ord%","page_size":5}}}"""
          .stripMargin)
      assert(tbls.contains("orders"))
      assert(tbls.contains("total_tables"))
      assert(tbls.contains("create_table_query"))
      // unknown tool → invalid-params JSON-RPC error
      val (_, unk) = httpPost(base,
        """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"nope"}}""")
      assert(unk.contains("-32602"))
      // the chdb file-query tool is opt-in, like the reference's gate
      val (_, gated) = httpPost(base,
        """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{
          |"name":"run_chdb_select_query","arguments":{"query":"SELECT 1"}}}"""
          .stripMargin)
      assert(gated.contains("-32602"))
      assert(!res.contains("run_chdb_select_query"))
    } finally { srv.close(); exec.close() }
  }

  test("MCP tools/list is empty when the engine is disabled") {
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_ENABLED" -> "false")))
    try {
      val (_, tools) = httpPost(s"http://localhost:${srv.port}/mcp",
        """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""")
      assert(tools.contains("\"tools\":[]"), tools)
    } finally srv.close()
  }

  test("MCP chdb gate registers the in-place file-query tool") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    val srv = HealthServer.start(spark,
      GraftConfig(Map("SPARK_GRAFT_CHDB_ENABLED" -> "true")), Some(exec))
    try {
      val base = s"http://localhost:${srv.port}/mcp"
      val (_, tools) = httpPost(base,
        """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""")
      assert(tools.contains("run_chdb_select_query"))
      // queries a parquet file IN PLACE through the guarded SQL path,
      // natively and through the advertised file() table function
      for (from <- Seq(s"parquet.`$sf/nation.parquet`", s"file('$sf/nation.parquet')")) {
        val q = s"SELECT count(*) AS n FROM $from"
        val (_, res) = httpPost(base,
          s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{
             |"name":"run_chdb_select_query","arguments":{"query":${mcpStr(q)}}}}"""
            .stripMargin)
        assert(res.contains("\"isError\":false"), res.take(300))
        assert(res.contains("[[25]]"), res.take(300)) // nation has 25 rows
      }
    } finally { srv.close(); exec.close() }
  }

  test("list_tables rejects a page_size below 1 on /tables and /mcp") {
    val cat = new graft.catalog.GraftCatalog(spark, sf)
    val srv = HealthServer.start(spark, GraftConfig(Map.empty), None, Some(cat))
    try {
      // one rule on both: a whole number of at least 1; a non-integer
      // is refused, never rounded down or defaulted to 50
      for ((n, json) <- Seq("0" -> "0", "-1" -> "-1", "abc" -> "\"abc\"",
          "2.7" -> "2.7")) {
        val (code, body) = httpGet(s"http://localhost:${srv.port}/tables?page_size=$n")
        assert(code == 400, body)
        assert(body.contains(s"page_size must be at least 1, got $n"), body)
        val (_, res) = httpPost(s"http://localhost:${srv.port}/mcp",
          s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{
             |"name":"list_tables","arguments":{"page_size":$json}}}""".stripMargin)
        assert(res.contains("\"isError\":true"), res)
        assert(res.contains(s"page_size must be at least 1, got $n"), res)
      }
    } finally srv.close()
  }

  private def mcpStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("MCP stdio transport: newline-delimited JSON-RPC until EOF") {
    graft.sql.TableEnv.register(spark, sf)
    val exec = new graft.sql.QueryExecutor(spark, timeoutSec = 60)
    try {
      val requests = Seq(
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""",
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
        """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"run_select_query","arguments":{"query":"SELECT 41 + 1 AS answer"}}}""")
      val in = new java.io.BufferedReader(
        new java.io.StringReader(requests.mkString("\n") + "\n"))
      val buf = new java.io.ByteArrayOutputStream()
      Mcp.serveStdio(in, new java.io.PrintStream(buf, true, "UTF-8"),
        spark, GraftConfig(Map.empty), Some(exec), None)
      val lines = buf.toString("UTF-8").split("\n").filter(_.nonEmpty)
      // two responses: the notification produced nothing
      assert(lines.length == 2, lines.mkString("|"))
      assert(lines(0).contains("\"protocolVersion\""))
      assert(lines(1).contains("\"isError\":false"))
      assert(lines(1).contains("42"))
    } finally exec.close()
  }

  test("transport/bind-host config parses and rejects junk") {
    assert(GraftConfig(Map.empty).transport == "http")
    assert(GraftConfig(Map.empty).bindHost == "127.0.0.1")
    assert(GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "stdio")).transport == "stdio")
    assert(GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "sse")).transport == "sse")
    assert(GraftConfig(Map("SPARK_GRAFT_BIND_HOST" -> "0.0.0.0")).bindHost == "0.0.0.0")
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_TRANSPORT" -> "carrier-pigeon")).transport
    }
  }

  test("role / default-database knobs parse, validate, and reach the catalog") {
    assert(GraftConfig(Map.empty).database == "default")
    assert(GraftConfig(Map.empty).role.isEmpty)
    assert(GraftConfig(Map("SPARK_GRAFT_DATABASE" -> "warehouse")).database == "warehouse")
    assert(GraftConfig(Map("SPARK_GRAFT_ROLE" -> "analyst")).role.contains("analyst"))
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_DATABASE" -> "bad db; DROP")).database
    }
    intercept[IllegalArgumentException] {
      GraftConfig(Map("SPARK_GRAFT_ROLE" -> "no spaces!")).role
    }
    val cat = new graft.catalog.GraftCatalog(spark, sf,
      defaultDatabase = GraftConfig(Map("SPARK_GRAFT_DATABASE" -> "warehouse")).database)
    assert(cat.database == "warehouse")
    assert(cat.listDatabases() == Seq("warehouse"))
    assert(cat.listTables("warehouse", pageSize = 5).tables.nonEmpty)
  }
}
