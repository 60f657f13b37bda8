package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.catalog.GraftCatalog
import graft.ops.{GraftConfig, HealthServer, Mcp}
import graft.sql.{QueryExecutor, QueryGuard, QueryLog, QueryResult, TableEnv}

/** `serve`: a closed loop of `cpus` clients against graft's HTTP server
  * over a real socket. Each client holds one keep-alive connection and
  * sends its next request only after the reply. */
object ServeWorkload {

  /** One corpus statement and its pinned outcome: `rows`, a guided
    * `error`, or a read-only `refused`; `exact` compares values, else
    * only the result's shape (for statements that read the clock or a
    * random source). */
  final case class Stmt(label: String, sql: String, expect: String,
      exact: Boolean, message: String, timed: Boolean = true)

  final case class Req(kind: String, stmt: Stmt)

  final case class Rec(req: Req, latMs: Double, failure: Option[String], body: String)

  /** Request mix: shares of each lap of the timed loop. */
  val Mix: Seq[(String, Double)] = Seq(
    "query" -> 0.40, "mcp_sql" -> 0.40,
    "mcp_list_databases" -> 0.05, "mcp_list_tables" -> 0.05,
    "explain" -> 0.05, "write_query" -> 0.025, "write_mcp" -> 0.025)

  /** Read statements in the timed working set: every `Stride`-th of the
    * corpus's timed reads, plus both guided errors. */
  val Stride = 7

  private val NoStmt = Stmt("", "", "rows", exact = false, "")

  def loadCorpus(path: String): Seq[Stmt] =
    Common.json.readTree(new java.io.File(path)).get("statements").elements().asScala.map { n =>
      Stmt(n.get("label").asText, n.get("sql").asText, n.get("expect").asText,
        n.get("check").asText == "exact", n.path("message").asText(""),
        n.path("timed").asBoolean(true))
    }.filter(_.timed).toSeq

  final class Corpus(all: Seq[Stmt]) {
    val reads: IndexedSeq[Stmt] = all.filter(_.expect != "refused").toIndexedSeq
    val writes: IndexedSeq[Stmt] = all.filter(_.expect == "refused").toIndexedSeq
    val working: IndexedSeq[Stmt] = reads.zipWithIndex.collect {
      case (st, i) if i % Stride == 1 || st.expect == "error" => st
    }
    val answers: IndexedSeq[Stmt] = working.filter(_.expect == "rows")

    /** One lap of the timed loop: every working statement once, over
      * `/query` and `/mcp` in turn, plus catalog, explain and write
      * requests in the shares of [[Mix]]. */
    val deck: IndexedSeq[Req] = {
      val sql = working.zipWithIndex.map { case (st, i) => Req(if (i % 2 == 0) "query" else "mcp_sql", st) }
      def share(kind: String) = math.round(sql.size * Mix.toMap.apply(kind) / 0.8).toInt
      sql ++
        Seq.fill(share("mcp_list_databases"))(Req("mcp_list_databases", NoStmt)) ++
        Seq.fill(share("mcp_list_tables"))(Req("mcp_list_tables", NoStmt)) ++
        (0 until share("explain")).map(i => Req("explain", answers(i * answers.size / share("explain")))) ++
        (0 until share("write_query")).map(i => Req("write_query", writes(2 * i % writes.size))) ++
        (0 until share("write_mcp")).map(i => Req("write_mcp", writes((2 * i + 1) % writes.size)))
    }

    /** `n` laps of the deck, each in a seeded order. Every run of the
      * same seconds times the same statements in the same shares. */
    def laps(seed: Long, n: Int): Iterator[IndexedSeq[Req]] =
      Iterator.range(0, n).map(i => new scala.util.Random(seed * 7919L + i).shuffle(deck))
  }

  /** Typical seconds of one timed lap on 4 cores (see [[Conf.units]]). */
  val LapRefS = 5.0

  /** The request counts toward latency only when it asks for an answer
    * (catalog tools included); refusals and guided errors are checked but
    * never timed as samples. */
  def isAnswer(q: Req): Boolean = q.stmt.expect == "rows"

  def send(c: HttpClient, q: Req): HttpReply = q.kind match {
    case "query" | "write_query" => c.request("POST", "/query", q.stmt.sql)
    case "explain" => c.request("POST", "/explain", q.stmt.sql)
    case "mcp_sql" | "write_mcp" =>
      c.request("POST", "/mcp", Rpc.call("run_select_query", Map("query" -> q.stmt.sql)))
    case "mcp_list_databases" => c.request("POST", "/mcp", Rpc.call("list_databases", Map()))
    case "mcp_list_tables" =>
      c.request("POST", "/mcp", Rpc.call("list_tables", Map("database" -> "default")))
  }

  private def message(s: String): String =
    try Option(Common.json.readTree(s).get("message")).map(_.asText).getOrElse(s)
    catch { case _: Exception => s }

  /** The served answer text: the `/query` body, or the tool result text. */
  def answerText(q: Req, r: HttpReply): String =
    if (q.kind == "mcp_sql") Rpc.toolResult(r.body).map(_._2).getOrElse("") else r.body

  /** None when the reply has the pinned shape, else why not. */
  def verdict(q: Req, r: HttpReply): Option[String] = {
    def want(ok: Boolean, what: String) =
      if (ok) None else Some(s"${q.kind} ${q.stmt.label}: $what (HTTP ${r.status}: ${r.body.take(160)})")
    q.kind match {
      case "query" | "write_query" => q.stmt.expect match {
        // a trailing FORMAT clause picks the reply's format, as on ClickHouse
        case "rows" => want(r.status == 200, "expected rows")
        case _ => want(r.status == 400 && r.body.contains("\"status\": \"error\"") &&
          message(r.body).contains(q.stmt.message), s"expected error '${q.stmt.message}'")
      }
      case "explain" => want(r.status == 200 && r.body.nonEmpty, "expected a plan")
      case _ =>
        val res = if (r.status == 200) Rpc.toolResult(r.body) else None
        q.kind match {
          case "mcp_list_databases" =>
            want(res.exists(t => !t._1 && t._2.contains("\"default\"")), "expected databases")
          case "mcp_list_tables" =>
            want(res.exists(t => !t._1 && t._2.contains("\"total_tables\": 10")), "expected 10 tables")
          case _ => q.stmt.expect match {
            case "rows" => want(res.exists(t => !t._1 && t._2.startsWith("{\"columns\"")), "expected rows")
            case _ => want(res.exists(t => t._1 && message(t._2).contains(q.stmt.message)),
              s"expected tool error '${q.stmt.message}'")
          }
        }
    }
  }

  /** Run `clients` closed-loop clients over `laps`; keeps the reply
    * body of the requests `keep` selects. The clients share each lap and
    * wait for one another at its end. Returns the records and the loop's
    * wall time in seconds. */
  def loop(port: Int, clients: Int, laps: Iterator[IndexedSeq[Req]],
      keep: Req => Boolean): (Seq[Rec], Double) = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    @volatile var done = false
    @volatile var broken: Throwable = null
    def next(): Unit = if (laps.hasNext) laps.next().foreach(queue.add) else done = true
    next()
    // the last client to finish a lap deals the next one
    val lapEnd = new java.util.concurrent.Phaser(clients) {
      override def onAdvance(phase: Int, parties: Int): Boolean = { next(); parties == 0 }
    }
    val t0 = System.nanoTime()
    val out = (0 until clients).map(_ => ArrayBuffer.empty[Rec])
    val threads = (0 until clients).map { i =>
      new Thread(() => {
        val client = new HttpClient(port, keepAlive = true)
        try while (!done) {
          Iterator.continually(queue.poll()).takeWhile(_ != null).foreach { q =>
            val req = Trace.newRequest()
            val s = System.nanoTime()
            val reply =
              try Trace.inRequest(req)(Trace.span(s"serve.${q.kind}")(send(client, q)))
              catch { case e: Exception => client.close(); HttpReply(-1, e.toString) }
            val lat = Common.ms(s)
            val bad = verdict(q, reply)
            out(i) += Rec(q, lat, bad, if (bad.isEmpty && keep(q)) answerText(q, reply) else "")
          }
          lapEnd.arriveAndAwaitAdvance()
        } catch {
          // a client that dies must not leave the others waiting for it
          case e: Throwable => broken = e; lapEnd.arriveAndDeregister()
        } finally client.close()
      }, s"graftbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (broken != null) throw new IllegalStateException("a client failed", broken)
    (out.flatten, (System.nanoTime() - t0) / 1e9)
  }

  /** Timeout of the served executor: a failed request counts as a sample
    * this slow, so it can never read as fast. */
  val MissMs: Double = GraftConfig().queryTimeoutSec * 1000.0

  def latencies(recs: Seq[Rec]): Seq[Double] =
    recs.filter(r => isAnswer(r.req)).map(r => if (r.failure.isEmpty) r.latMs else MissMs)

  /** Canonical answer: column list plus the sorted rows, doubles to 9
    * significant digits (parallel sums may differ in the last bits);
    * `exact = false` keeps only the column list and the row count. */
  def canonical(answer: String, exact: Boolean): String = {
    val n = Common.json.readTree(answer)
    val cols = n.get("columns").toString
    val rows = n.get("rows").elements().asScala.toSeq
    def norm(v: com.fasterxml.jackson.databind.JsonNode): String =
      if (v.isFloatingPointNumber) f"${v.asDouble}%.9g"
      else if (v.isContainerNode) v.elements().asScala.map(norm).mkString("[", ",", "]")
      else v.toString
    if (exact) cols + rows.map(norm).sorted.mkString("\n", "\n", "")
    else s"$cols ${rows.size} rows"
  }

  final case class Env(spark: SparkSession, exec: QueryExecutor, catalog: GraftCatalog,
      server: HealthServer)

  def start(c: Conf): Env = {
    val spark = Common.session(c, serving = true)
    TableEnv.register(spark, c.data)
    val config = GraftConfig(Map(
      "SPARK_GRAFT_BIND_HOST" -> "127.0.0.1", "SPARK_GRAFT_HEALTH_PORT" -> "0"))
    val exec = config.newExecutor(spark)
    val catalog = new GraftCatalog(spark, c.data)
    val server = HealthServer.start(spark, config, Some(exec), Some(catalog))
    val h = new HttpClient(server.port, keepAlive = false).request("GET", "/health")
    require(h.status == 200, s"/health answered ${h.status}: ${h.body}")
    Env(spark, exec, catalog, server)
  }

  def stop(e: Env): Unit = { e.server.close(); e.exec.close(); e.spark.stop() }

  def run(c: Conf): Outcome = {
    val corpus = new Corpus(loadCorpus(s"${c.bench}/corpus.json"))
    val (env, setupS) = Common.setUp(3)(start(c))(stop)
    val port = env.server.port
    // statements whose served answers are compared with in-process runs
    val rng = new SplittableRandom(c.seed)
    val sample = Iterator.continually(corpus.answers(rng.nextInt(corpus.answers.size)))
      .take(30).map(_.sql).toSet
    val keep: Req => Boolean = q =>
      (q.kind == "query" || q.kind == "mcp_sql") && sample(q.stmt.sql)

    // untimed warm-up: one lap of the deck, so every timed send repeats a
    // text the process has planned and compiled once
    val (warm, warmS) = loop(port, c.cpus, corpus.laps(c.seed + 1000, 1), keep)

    val out = if (c.trace) traced(c, env, corpus, keep) else {
      val (recs, wall) = loop(port, c.cpus, corpus.laps(c.seed, c.units(LapRefS)), keep)
      val lat = latencies(recs)
      Outcome(recs.size, recs.count(_.failure.nonEmpty), Nil, Map(
        "p50_ms" -> Stats.median(lat),
        "p90_ms" -> Stats.quantile(lat, 0.90),
        "geomean_ms" -> Stats.geomean(lat),
        "throughput_per_s" -> recs.count(_.failure.isEmpty) / wall),
        notes(recs) + ("laps" -> recs.size / corpus.deck.size) + ("timed_s" -> wall))
    }

    // correctness: every reply's shape (warm-up lap included), and the
    // served answers against in-process runs after the loops
    val served = (out.notes("kept").asInstanceOf[Seq[Rec]] ++ warm.filter(_.body.nonEmpty))
      .filter(_.body.startsWith("{\"columns\""))
    val reference = new QueryExecutor(env.spark)
    val mismatches = served.groupBy(_.req.stmt.sql).toSeq.flatMap { case (_, rs) =>
      val st = rs.head.req.stmt
      val want = canonical(reference.run(st.sql).toJson, st.exact)
      rs.filter(r => canonical(r.body, st.exact) != want)
        .map(r => s"${r.req.kind} ${st.label}: served answer differs from QueryExecutor.run")
    }
    val failures = out.notes("failures").asInstanceOf[Seq[String]] ++ warm.flatMap(_.failure)
    reference.close()
    stop(env)
    out.copy(checks = (failures ++ mismatches).distinct,
      metrics = out.metrics ++ Map("setup_s" -> setupS),
      notes = out.notes - "kept" - "failures" + ("compared_answers" -> served.size) +
        ("warmup_lap_s" -> warmS))
  }

  private def notes(recs: Seq[Rec]): Map[String, Any] = {
    Map(
      "distinct_texts" -> recs.map(_.req.stmt.sql).filter(_.nonEmpty).distinct.size,
      "kept" -> recs.filter(_.body.nonEmpty),
      "failures" -> recs.flatMap(_.failure),
      "refusals_and_guided_errors" -> recs.count(r => !isAnswer(r.req)),
      "catalog_p50_ms" -> Stats.median(recs.filter(_.req.kind.startsWith("mcp_list")).map(_.latMs)))
  }

  /** The traced run: the timed loop untraced and traced (the difference
    * is the tracing overhead), then single-client probes that time each
    * layer's public entry point on 25 working-set statements. */
  private def traced(c: Conf, env: Env, corpus: Corpus, keep: Req => Boolean): Outcome = {
    val port = env.server.port
    val quarter = math.max(1, c.units(LapRefS) / 4)
    // plain-traced-traced-plain, so warm-up drift cancels out of the
    // tracing overhead; the traced halves replay the plain halves' laps
    val (plainA, _) = loop(port, c.cpus, corpus.laps(c.seed, quarter), _ => false)
    val counters = new SparkCounters
    env.spark.sparkContext.addSparkListener(counters)
    val before = counters.snapshot
    Trace.on = true
    val (tracedA, _) = loop(port, c.cpus, corpus.laps(c.seed, quarter), keep)
    val (tracedB, _) = loop(port, c.cpus, corpus.laps(c.seed + 1, quarter), keep)
    Trace.on = false
    Thread.sleep(200) // let the listener bus drain
    val recs = tracedA ++ tracedB
    val spark = SparkCounters.perUnit(before, counters.snapshot, recs.size)
    val (plainB, _) = loop(port, c.cpus, corpus.laps(c.seed + 1, quarter), _ => false)
    val plain = plainA ++ plainB
    Trace.on = true
    val p50Plain = Stats.median(latencies(plain))
    val p50Traced = Stats.median(latencies(recs))

    // per-statement probes, one client, in-process and served
    val rng = new SplittableRandom(c.seed + 1)
    val probes = Iterator.continually(corpus.answers(rng.nextInt(corpus.answers.size)))
      .filter(_.sql.trim.take(7).equalsIgnoreCase("SELECT ")).take(25).toSeq.distinct
    val s = env.spark
    val client = new HttpClient(port, keepAlive = true)
    val planJobs = ArrayBuffer.empty[Double]
    val overhead = ArrayBuffer.empty[Double]
    val single = scala.collection.mutable.Map.empty[String, Double]
    probes.foreach { st =>
      Trace.inRequest(Trace.newRequest())(Trace.span("probe.statement") {
        Trace.span("sql.querylog_refresh")(QueryLog.refresh(s))
        Trace.span("sql.shim")(QueryGuard.normalizeDialect(st.sql))
        val jobs0 = counters.jobs.sum
        val df = Trace.span("sql.plan")(QueryGuard.plan(s, st.sql))
        Thread.sleep(20)
        planJobs += (counters.jobs.sum - jobs0).toDouble
        Trace.span("plans.rules")(graft.functions.WrapArith(
          graft.plans.SplitDistinctAggregate(df.queryExecution.analyzed)))
        Trace.span("spark.optimize")(df.queryExecution.optimizedPlan)
        Trace.span("spark.physical")(df.queryExecution.executedPlan)
        val rows = Trace.span("spark.exec")(df.limit(QueryExecutor.DefaultMaxRows + 1).collect())
        Trace.span("sql.render")(QueryResult(df.columns.toSeq, rows.toSeq.map(_.toSeq)).toJson)
        val (_, inProc) = Common.timed(Trace.span("sql.executor_run")(env.exec.run(st.sql)))
        val (_, servedMs) = Common.timed(Trace.span("ops.served_single")(
          client.request("POST", "/query", st.sql)))
        overhead += servedMs - inProc
        single(st.sql) = servedMs
      })
    }
    client.close()
    def times(n: Int)(body: => Any): Double =
      Stats.median((1 to n).map(_ => Common.timed(body)._2))
    val keepAlive = new HttpClient(port, keepAlive = true)
    val staticRtt = times(20)(Trace.span("ops.static_rtt")(keepAlive.request("GET", "/prompt")))
    keepAlive.close()
    val fresh = new HttpClient(port, keepAlive = false)
    val staticFresh = times(20)(Trace.span("ops.static_rtt_fresh")(fresh.request("GET", "/prompt")))
    val cfg = GraftConfig()
    val listTools = """{"jsonrpc": "2.0", "id": 1, "method": "tools/list"}"""
    val frame = times(50)(Trace.span("ops.mcp_frame")(
      Mcp.handle(listTools, s, cfg, Some(env.exec), Some(env.catalog))))
    val cat = CatalogProbe(env.catalog, c.data)
    // queueing: a statement's latency under load minus its latency alone;
    // both are repeat sends of a text (the warm-up lap sent it first)
    val wait = recs.filter(r => r.failure.isEmpty && single.contains(r.req.stmt.sql) &&
        r.req.kind == "query")
      .groupBy(_.req.stmt.sql).toSeq
      .map { case (l, rs) => Stats.median(rs.map(_.latMs)) - single(l) }
    Trace.on = false
    val summary = Trace.summary
    def med(n: String) = summary.get(n).map(_._2).getOrElse(0.0)
    val layers = Map(
      "ops.static_rtt_ms" -> staticRtt, "ops.static_rtt_fresh_ms" -> staticFresh,
      "ops.mcp_frame_ms" -> frame, "ops.overhead_ms" -> Stats.median(overhead.toSeq),
      "sql.shim_ms" -> med("sql.shim"), "sql.plan_ms" -> med("sql.plan"),
      "sql.plan_jobs" -> planJobs.sum / math.max(1, planJobs.size),
      "plans.rules_ms" -> med("plans.rules"),
      "sql.querylog_refresh_ms" -> med("sql.querylog_refresh"),
      "sql.render_ms" -> med("sql.render"),
      "sql.wait_ms" -> (if (wait.isEmpty) 0.0 else Stats.median(wait)),
      "spark.optimize_ms" -> med("spark.optimize"), "spark.physical_ms" -> med("spark.physical"),
      "spark.exec_ms" -> med("spark.exec"),
      "catalog.tool_p50_ms" -> notes(recs)("catalog_p50_ms").asInstanceOf[Double],
      "trace.overhead_ms" -> (p50Traced - p50Plain),
      "trace.overhead_pct" -> 100.0 * (p50Traced - p50Plain) / p50Plain) ++
      cat ++ spark
    TraceOut.write(c, layers)
    Outcome(plain.size + recs.size, (plain ++ recs).count(_.failure.nonEmpty), Nil,
      layers, notes(plain ++ recs) + ("probes" -> probes.size))
  }
}

/** Timed calls into `graft.catalog`: list, describe, and how many data
  * files the listed database holds. */
object CatalogProbe {
  def apply(cat: GraftCatalog, dir: String): Map[String, Double] = {
    def times(n: Int)(body: => Any): Double = Stats.median((1 to n).map(_ => Common.timed(body)._2))
    val tables = cat.listTables("default", includeDetailedColumns = false).tables.map(_.name)
    Map(
      "catalog.list_tables_ms" -> times(5)(Trace.span("catalog.list_tables")(cat.listTables("default"))),
      "catalog.list_databases_ms" -> times(5)(Trace.span("catalog.list_databases")(cat.listDatabases())),
      "catalog.describe_ms" -> times(5)(tables.foreach(t =>
        Trace.span("catalog.describe")(cat.describeTable("default", t)))) / math.max(1, tables.size),
      "catalog.files_listed" -> Common.dataFiles(new java.io.File(dir)).size.toDouble)
  }
}

/** Where a traced run leaves its spans: one JSON line per span plus a
  * per-layer summary, under the checkout's `.bench_out/`. */
object TraceOut {
  def write(c: Conf, layers: Map[String, Double]): Unit = {
    val dir = new java.io.File(c.bench, "../.bench_out")
    dir.mkdirs()
    val base = s"${dir.getPath}/trace-${c.workload}-${c.seed}"
    Trace.write(s"$base.spans.jsonl")
    val o = Common.json.createObjectNode()
    val sp = o.putObject("spans")
    Trace.summary.toSeq.sortBy(_._1).foreach { case (n, (k, med, self)) =>
      sp.putObject(n).put("calls", k).put("median_ms", med).put("median_self_ms", self)
    }
    val m = o.putObject("layers")
    layers.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    Common.json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(s"$base.summary.json"), o)
  }
}
