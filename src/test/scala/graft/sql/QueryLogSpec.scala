package graft.sql

import graft.SparkSpec

/** The live ops slice of system.*: processes sees the in-flight query
  * itself, query_log accumulates finished statements with durations
  * and error text, metrics/disks/clusters answer the pasted dotted
  * spellings. */
class QueryLogSpec extends SparkSpec {

  private def ex = {
    TableEnv.register(spark, sf)
    new QueryExecutor(spark, timeoutSec = 60)
  }

  test("system.processes shows the asking query itself in flight") {
    val r = ex.run("SELECT query, user, elapsed FROM system.processes")
    assert(r.rows.size == 1)
    assert(r.rows.head.head.toString.contains("system.processes"))
    assert(r.rows.head(1) == "default")
  }

  test("system.query_log records finished queries, duration and errors") {
    val e = ex
    e.run("SELECT 42 AS marker_success")
    assert(e.runSafe("SELECT no_such_column FROM orders").isLeft)
    val log = e.run(
      """SELECT query, query_duration_ms, result_rows, exception
        |FROM system.query_log ORDER BY event_time DESC""".stripMargin)
    val byQuery = log.rows.map(r =>
      (r.head.toString, r(1).toString.toLong, r(2).toString.toLong,
        r(3).toString))
    val ok = byQuery.find(_._1.contains("marker_success")).get
    assert(ok._2 >= 0 && ok._3 == 1 && ok._4 == "")
    val bad = byQuery.find(_._1.contains("no_such_column")).get
    assert(bad._4.nonEmpty)
  }

  test("metrics, disks and clusters answer the dotted spellings") {
    val e = ex
    val m = e.run(
      "SELECT value FROM system.metrics WHERE metric = 'MemoryTracking'")
    assert(m.rows.head.head.toString.toLong > 0L)
    val d = e.run("SELECT name, free_space, total_space FROM system.disks")
    assert(d.rows.head.head == "default")
    assert(d.rows.head(2).toString.toLong >= d.rows.head(1).toString.toLong)
    val c = e.run(
      "SELECT cluster, shard_num, is_local FROM system.clusters")
    assert(c.rows.head.head == "default")
    assert(c.rows.head(2).toString.toInt == 1)
  }

  test("query_log read_rows reflects the scan's input records") {
    val e = ex
    e.run("SELECT sum(o_totalprice) AS s FROM orders")
    val rows = e.run(
      """SELECT read_rows FROM system.query_log
        |WHERE query LIKE '%sum(o_totalprice)%'
        |  AND query NOT LIKE '%read_rows%'
        |ORDER BY event_time DESC LIMIT 1""".stripMargin)
    val n = rows.rows.head.head.toString.toLong
    val direct = e.run("SELECT count(*) AS n FROM orders")
      .rows.head.head.toString.toLong
    assert(n >= direct, s"read_rows $n < table rows $direct")
  }

  test("read_rows is the table's row count on every run, a reused plan's too") {
    TableEnv.register(spark, sf)
    val table = spark.table("orders").count()
    val sql = "SELECT sum(o_totalprice) AS read_rows_probe FROM orders"
    // 100 fresh plans, each from its own executor; then one executor
    // twice, whose second run answers from the first run's stored result
    (1 to 100).foreach { _ =>
      val e = new QueryExecutor(spark, timeoutSec = 60)
      try e.run(sql) finally e.close()
    }
    val e = ex
    e.run(sql)
    e.run(sql)
    assert(e.answered == Seq(sql))
    val read = e.run(
      s"""SELECT read_rows, exception FROM system.query_log
         |WHERE query = '$sql'""".stripMargin).rows
    assert(read.size == 102)
    assert(read.forall(_ == Seq(table, "")), read.distinct)
    val procs = e.run("SELECT query FROM system.processes")
    assert(!procs.rows.exists(_.head == sql), procs.rows)
  }

  test("TotalQueries grows monotonically across served statements") {
    val e = ex
    def total(): Long = e.run(
      "SELECT value FROM system.metrics WHERE metric = 'TotalQueries'")
      .rows.head.head.toString.toLong
    val before = total()
    e.run("SELECT 1")
    assert(total() >= before + 1)
  }
}
