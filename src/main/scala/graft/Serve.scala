package graft

import org.apache.spark.sql.SparkSession

import graft.ops.{GraftConfig, HealthServer}
import graft.sql.TableEnv

/** Runnable server entry — the role the reference's MCP server plays
  * (reference: mcp_clickhouse/mcp_server.py `main`): registers the
  * warehouse tables + CH dialect, serves `/health` and the guarded
  * `/query` endpoint, and blocks until killed. Configuration comes
  * entirely from `SPARK_GRAFT_*` envs via [[graft.ops.GraftConfig]]
  * (data dir, port, timeout, pool size, row cap).
  *
  * `SPARK_GRAFT_SF_DIR=/data/warehouse SPARK_GRAFT_HEALTH_PORT=8080
  *  sbt "runMain graft.Serve"`
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val config = GraftConfig()
    val dir = args.headOption.orElse(config.dataDir).getOrElse(
      sys.error("pass a data dir or set SPARK_GRAFT_SF_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // tz-less parquet timestamps (timestamp[us] with no tz, as the
      // driver-generated testdata now carries) read as TIMESTAMP, not
      // TIMESTAMP_NTZ: one instant line under the UTC session zone,
      // matching DuckDB's naive-as-UTC oracle reading
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ClickHouse reads "double quotes" as IDENTIFIERS (single quotes
      // for strings); Spark's default reads them as string literals, so
      // a pasted `SELECT "col" FROM t` would silently select a constant
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      .config("spark.ui.enabled", "false")
      // a served statement generates ~3.3 classes; Spark's default 100
      // entries hold ~30 statements, so a cycling working set compiles
      // its classes again on every repeat. 1000 entries hold ~300.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TableEnv.register(spark, dir)
    val executor = Some(config.newExecutor(spark))
    // the first statement of a fresh JVM spends seconds loading and
    // compiling the planner, where no deadline can cancel it: pay that
    // here, before /health turns 200. It reads a table function, so it
    // runs a Spark job as a served aggregate does. A grouped aggregate
    // over the smallest registered table then pays the first parquet
    // scan and aggregate codegen, which a client's first table query
    // would otherwise pay. Both take the served path, so they are the
    // first rows of system.query_log; the comment names them there.
    val warmUps = "SELECT sum(number) FROM numbers(10)" +: smallestTable(spark, dir).toSeq.map {
      case (table, column) => s"SELECT `$column`, count() FROM `$table` GROUP BY 1"
    }
    for (exec <- executor; sql <- warmUps)
      exec.runSafe(s"/* graft warm-up */ $sql").left
        .foreach(e => System.err.println(s"[graft] warm-up failed: $e"))
    val catalog = Some(new graft.catalog.GraftCatalog(spark, dir,
      defaultDatabase = config.database))
    config.role.foreach(r => System.err.println(s"[graft] serving as role '$r'"))
    if (config.transport == "stdio") {
      // MCP child-process mode: the protocol owns stdout, humans get stderr
      System.err.println("graft MCP serving on stdio")
      graft.ops.Mcp.serveStdio(
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        System.out, spark, config, executor, catalog)
    } else {
      val server = HealthServer.start(spark, config, executor, catalog)
      val sse = if (config.transport == "sse") " /sse /messages" else ""
      println("graft serving /health /query /explain /databases /tables " +
        s"/mcp /prompt$sse on ${config.bindHost}:${server.port}")
      Thread.currentThread.join() // serve until killed
    }
  }

  /** The registered table with the fewest bytes under `dir`, with its
    * first column; none when the directory holds no table. */
  private def smallestTable(spark: SparkSession, dir: String): Option[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.Tables.all.flatMap { name =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) Some(name -> fs.getContentSummary(path).getLength) else None
    }.minByOption(_._2).map { case (name, _) =>
      name -> spark.table(name).schema.fieldNames.head
    }
  }
}
