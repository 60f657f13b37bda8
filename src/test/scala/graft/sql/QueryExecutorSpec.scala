package graft.sql

import java.util.concurrent.TimeoutException
import graft.SparkSpec

class QueryExecutorSpec extends SparkSpec {

  test("run returns columns + rows shape") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run("SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1")
      assert(r.columns == Seq("o_orderpriority", "n"))
      assert(r.rows.length == 5)
      assert(r.rows.forall(_.length == 2))
    } finally ex.close()
  }

  test("non-select is rejected before execution") {
    val ex = new QueryExecutor(spark)
    try intercept[ReadOnlyViolation](ex.run("DROP TABLE orders"))
    finally ex.close()
  }

  test("ClickHouse-surface shims: PREWHERE, SETTINGS, FORMAT") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // a query pasted verbatim from a ClickHouse client
      val r = ex.run(
        """SELECT count(*) AS n FROM orders
          |PREWHERE o_orderpriority = '1-URGENT'
          |SETTINGS max_threads = 4, readonly = 1
          |FORMAT JSONEachRow""".stripMargin)
      assert(r.columns == Seq("n"))
      assert(r.rows.head.head.asInstanceOf[Long] > 0)
      // string literals and nested identifiers survive untouched
      val r2 = ex.run(
        "SELECT 'keep PREWHERE SETTINGS FORMAT intact' AS s")
      assert(r2.rows.head.head ==
        "keep PREWHERE SETTINGS FORMAT intact")
      // FORMAT as a column alias (not a trailing clause) is untouched
      val r3 = ex.run("SELECT 1 AS format")
      assert(r3.columns == Seq("format"))
      // GLOBAL IN / GLOBAL JOIN drop the distribution hint
      val r4 = ex.run(
        """SELECT count(*) AS n FROM orders
          |WHERE o_custkey GLOBAL IN (SELECT c_custkey FROM customer)
          |  AND o_orderkey GLOBAL NOT IN
          |    (SELECT c_custkey FROM customer WHERE c_custkey < 0)""".stripMargin)
      assert(r4.rows.head.head.asInstanceOf[Long] > 0)
      // but an identifier merely NAMED global survives
      val r5 = ex.run("SELECT 1 AS global")
      assert(r5.columns == Seq("global"))
      // ... including in operand position right before IN: a column
      // named global is not the distribution hint
      val r6 = ex.run(
        """SELECT count(*) AS n FROM (SELECT 1 AS global) t
          |WHERE global IN (1, 2)""".stripMargin)
      assert(r6.rows.head.head.asInstanceOf[Long] == 1L)
      val r7 = ex.run(
        """SELECT count(*) AS n FROM (SELECT 1 AS global) t
          |WHERE global NOT IN (3, 4)""".stripMargin)
      assert(r7.rows.head.head.asInstanceOf[Long] == 1L)
    } finally ex.close()
  }

  test("WITH TOTALS rewrites to a grand-total grouping set") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run(
        """SELECT o_orderstatus, count(*) AS n FROM orders
          |GROUP BY o_orderstatus WITH TOTALS
          |ORDER BY o_orderstatus NULLS LAST""".stripMargin)
      // 3 status groups + the totals row (NULL status)
      assert(r.rows.length == 4)
      val totals = r.rows.last
      assert(totals.head == null)
      assert(totals(1).asInstanceOf[Long] ==
        r.rows.dropRight(1).map(_(1).asInstanceOf[Long]).sum)
      // ordinal lists are rejected with a clear message
      val e = intercept[ReadOnlyViolation](ex.run(
        "SELECT o_orderstatus, count(*) FROM orders GROUP BY 1 WITH TOTALS"))
      assert(e.getMessage.contains("ordinals"))
      // a CTE merely NAMED totals is not the CH clause and parses as-is
      val cte = ex.run(
        """WITH totals AS (SELECT count(*) AS n FROM orders)
          |SELECT n FROM totals""".stripMargin)
      assert(cte.rows.head.head.asInstanceOf[Long] > 0)
      // ... even alongside a real WITH TOTALS later in the statement
      val both = ex.run(
        """WITH totals AS (SELECT o_orderstatus AS st FROM orders)
          |SELECT st, count(*) AS n FROM totals
          |GROUP BY st WITH TOTALS
          |ORDER BY st NULLS LAST""".stripMargin)
      assert(both.rows.length == 4 && both.rows.last.head == null)
    } finally ex.close()
  }

  test("LIMIT n BY pasted clause rewrites to per-group heads") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run(
        """SELECT c_nationkey, c_custkey FROM customer
          |ORDER BY c_nationkey, c_custkey
          |LIMIT 2 BY c_nationkey""".stripMargin)
      assert(r.columns == Seq("c_nationkey", "c_custkey"))
      val perGroup = r.rows.groupBy(_.head)
      assert(perGroup.nonEmpty && perGroup.values.forall(_.size <= 2))
      // the result keeps the pasted ORDER BY
      assert(r.rows == r.rows.sortBy(row =>
        (row(0).toString.toLong, row(1).toString.toLong)))
      // offset form: LIMIT 1, 2 BY skips each group's first row
      val ro = ex.run(
        """SELECT c_nationkey, c_custkey FROM customer
          |ORDER BY c_nationkey, c_custkey
          |LIMIT 1, 2 BY c_nationkey""".stripMargin)
      val firsts = perGroup.values.map(_.head).toSet
      assert(ro.rows.nonEmpty && ro.rows.forall(!firsts.contains(_)))
      // a trailing plain LIMIT still applies after the per-group cut
      val rl = ex.run(
        """SELECT c_nationkey, c_custkey FROM customer
          |ORDER BY c_nationkey, c_custkey
          |LIMIT 2 BY c_nationkey LIMIT 3""".stripMargin)
      assert(rl.rows.size == 3 && rl.rows == r.rows.take(3))
      // without LIMIT BY, a plain LIMIT is untouched
      val plain = ex.run("SELECT c_custkey FROM customer LIMIT 4")
      assert(plain.rows.size == 4)
    } finally ex.close()
  }

  test("CH type names rewrite inside CAST and :: suffix casts") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val r = ex.run(
        """SELECT CAST(300 AS UInt32) AS a, CAST(-5 AS Int8) AS b,
          |  1.5::Float64 AS c, CAST(NULL AS Nullable(Int64)) AS d,
          |  CAST(array(1, 2) AS Array(Int64)) AS e,
          |  CAST('ab' AS FixedString(4)) AS f,
          |  CAST('2024-03-01 10:00:00' AS DateTime) AS g,
          |  CAST(12.345 AS Decimal64(2)) AS h""".stripMargin)
      val df = spark.sql(QueryGuard.normalizeDialect(
        "SELECT CAST(300 AS UInt32) AS a, CAST(-5 AS Int8) AS b, " +
          "1.5::Float64 AS c, CAST(NULL AS Nullable(Int64)) AS d, " +
          "CAST(array(1, 2) AS Array(Int64)) AS e, " +
          "CAST('ab' AS FixedString(4)) AS f, " +
          "CAST('2024-03-01 10:00:00' AS DateTime) AS g, " +
          "CAST(12.345 AS Decimal64(2)) AS h"))
      val types = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
      assert(types("a") == "BIGINT" && types("b") == "TINYINT")
      assert(types("c") == "DOUBLE" && types("d") == "BIGINT")
      assert(types("e") == "ARRAY<BIGINT>" && types("f") == "STRING")
      assert(types("g") == "TIMESTAMP" && types("h") == "DECIMAL(18,2)")
      assert(r.rows.head.head.toString == "300")
      // nested value-slot casts all rewrite
      val nested = ex.run(
        "SELECT CAST(CAST(7 AS UInt8) AS Int64) AS x")
      assert(nested.rows.head.head == 7L)
      // standard Spark types and `::` on literals pass through
      val std = ex.run(
        "SELECT CAST(1 AS DECIMAL(10, 2)) AS p, '5'::INT AS q")
      assert(std.rows.head(1) == 5)
      // a string containing a CH type name is untouched
      val lit = ex.run("SELECT 'CAST(1 AS UInt32)' AS s")
      assert(lit.rows.head.head == "CAST(1 AS UInt32)")
    } finally ex.close()
  }

  test("ARRAY JOIN pasted clause rewrites to lateral explode") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // aliased single array
      val r = ex.run(
        """SELECT n, count(*) AS c
          |FROM (SELECT sequence(1, o_orderkey % 3 + 1) AS ns FROM orders) t
          |ARRAY JOIN ns AS n
          |GROUP BY n ORDER BY n""".stripMargin)
      assert(r.columns == Seq("n", "c"))
      assert(r.rows.map(_.head.toString.toLong) == Seq(1L, 2L, 3L))
      // bare-column form rebinds the column to its element (CH
      // semantics) via the derived-table swap
      val b = ex.run(
        """SELECT arr, k FROM (SELECT 7 AS k, array(1, 2) AS arr) t
          |ARRAY JOIN arr ORDER BY arr""".stripMargin)
      assert(b.columns == Seq("arr", "k"))
      assert(b.rows.map(row =>
        (row(0).toString.toInt, row(1).toString.toInt)) ==
        Seq((1, 7), (2, 7)))
      // LEFT ARRAY JOIN keeps empty-array rows; the inner form drops
      val l = ex.run(
        """SELECT k, x FROM
          |  (SELECT 1 AS k, array(10) AS a
          |   UNION ALL SELECT 2, array()) t
          |LEFT ARRAY JOIN a AS x ORDER BY k""".stripMargin)
      assert(l.rows.size == 2 && l.rows.last(1) == null)
      val inn = ex.run(
        """SELECT k, x FROM
          |  (SELECT 1 AS k, array(10) AS a
          |   UNION ALL SELECT 2, array()) t
          |ARRAY JOIN a AS x ORDER BY k""".stripMargin)
      assert(inn.rows.size == 1)
      // multiple arrays unnest in lockstep (zip), not as a product
      val m = ex.run(
        """SELECT x, y
          |FROM (SELECT array(1, 2, 3) AS a, array('p', 'q', 'r') AS b) t
          |ARRAY JOIN a AS x, b AS y ORDER BY x""".stripMargin)
      assert(m.rows.map(row =>
        (row(0).toString.toInt, row(1).toString)) ==
        Seq((1, "p"), (2, "q"), (3, "r")))
      // a table merely NAMED array in join position is not the clause
      val plain = "SELECT * FROM array JOIN u ON array.id = u.id"
      assert(QueryGuard.normalizeDialect(plain) == plain)
      val aliased = "SELECT * FROM t AS array JOIN u ON array.id = u.id"
      assert(QueryGuard.normalizeDialect(aliased) == aliased)
    } finally ex.close()
  }

  test("WITH FILL pasted clause densifies the axis with type defaults") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // integer axis, implicit step 1: k3 hits only multiples of 3 —
      // the gaps fill with zero counts (CH type-default fill)
      val f = ex.run(
        """SELECT c_nationkey * 3 AS k3, count(*) AS n FROM customer
          |WHERE c_nationkey < 5 GROUP BY 1
          |ORDER BY k3 WITH FILL""".stripMargin)
      assert(f.rows.map(_.head.toString.toLong) == (0L to 12L).toSeq)
      assert(f.rows.filter(_.head.toString.toLong % 3 != 0)
        .forall(_(1).toString.toLong == 0L))
      assert(f.rows.filter(_.head.toString.toLong % 3 == 0)
        .forall(_(1).toString.toLong > 0L))
      // FROM/TO/STEP: grid beyond the data appears, TO is exclusive,
      // off-grid data rows are kept (CH semantics)
      val g = ex.run(
        """SELECT c_nationkey AS k, count(*) AS n FROM customer
          |WHERE c_nationkey < 7 GROUP BY 1
          |ORDER BY k WITH FILL FROM 0 TO 20 STEP 5""".stripMargin)
      assert(g.rows.map(_.head.toString.toLong) ==
        Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 10L, 15L))
      assert(g.rows.takeRight(2).forall(_(1).toString.toLong == 0L))
    } finally ex.close()
  }

  test("JSONEachRow renders one object per row") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val r = ex.run(
        "SELECT * FROM VALUES (1, 'a'), (2, NULL) t(id, s) ORDER BY id")
      assert(r.toJsonEachRow ==
        "{\"id\": 1, \"s\": \"a\"}\n{\"id\": 2, \"s\": null}")
      // numeric columns keep a stable JSON type: non-finite floats are
      // null (CH's default denormal handling), decimals are unquoted
      val nf = ex.run(
        """SELECT double('NaN') AS a, double('Infinity') AS b,
          |  CAST(1.50 AS DECIMAL(10,2)) AS d""".stripMargin)
      assert(nf.toJsonEachRow == "{\"a\": null, \"b\": null, \"d\": 1.50}")
    } finally ex.close()
  }

  test("bounded pool serves concurrent queries") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      import scala.concurrent._
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = (1 to 8).map { i =>
        Future(ex.run(s"SELECT count(*) + $i AS n FROM orders"))
      }
      val rows = Await.result(Future.sequence(futures), 120.seconds)
      val base = rows.head.rows.head.head.toString.toLong - 1
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.rows.head.head.toString.toLong == base + i + 1)
      }
    } finally ex.close()
  }

  test("errors shape as status results, empty results keep columns") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      assert(ex.runSafe("SELECT * FROM no_such_table").isLeft)
      assert(ex.runSafe("SELECT FROM WHERE").isLeft)
      assert(ex.runSafe("DROP TABLE orders").swap.exists(_.contains("read-only")))
      val empty = ex.runSafe("SELECT o_orderkey FROM orders WHERE o_orderkey < 0")
      assert(empty.exists(r => r.columns == Seq("o_orderkey") && r.rows.isEmpty))
    } finally ex.close()
  }

  test("results serialize to the reference's JSON wire shape") {
    val r = QueryResult(Seq("a", "b\"q"), Seq(Seq(1L, "x\ny"), Seq(null, 2.5)))
    val json = r.toJson
    assert(json == """{"columns": ["a", "b\"q"], "rows": [[1, "x\ny"], [null, 2.5]]}""")
  }

  test("non-scalar cells serialize as JSON values, never Scala toString") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      // the round-13 wire-format leak: SELECT [1,2,3] rendered
      // "ArraySeq(1, 2, 3)" and toJson quoted Decimal cells — the
      // reference returns JSON lists/objects/numbers (mcp_server.py:426)
      val r = ex.run(
        """SELECT [1, 2, 3] AS arr, map('k', 1) AS m,
          |  named_struct('a', 1, 'b', 'x') AS st,
          |  CAST(1.5 AS DECIMAL(10,2)) AS d""".stripMargin)
      val json = r.toJson
      assert(json.contains("[[1, 2, 3], {\"k\": 1}, {\"a\": 1, \"b\": \"x\"}, 1.50]"), json)
      assert(!json.contains("ArraySeq") && !json.contains("Map("), json)
      val ndjson = r.toJsonEachRow
      assert(ndjson ==
        "{\"arr\": [1, 2, 3], \"m\": {\"k\": 1}, \"st\": {\"a\": 1, \"b\": \"x\"}, \"d\": 1.50}",
        ndjson)
      // CSV renders CH-style literals: arrays [..], maps {'k':v},
      // tuples (..) — RFC-4180 field quoting wraps the commas
      val csv = r.toCsv.linesIterator.toSeq
      assert(csv(1) == "\"[1,2,3]\",{'k':1},\"(1,'x')\",1.50", csv(1))
      // a headline CH shape through the served read path: topK's
      // array cell arrives as a JSON list of strings
      TableEnv.register(spark, sf)
      val tk = ex.run("SELECT topK(2)(o_orderpriority) AS t FROM orders")
      assert(tk.toJson.matches(""".*"rows": \[\[\["[^"]+", "[^"]+"\]\]\].*"""),
        tk.toJson)
      // nested: array-of-structs recurses
      val nested = ex.run(
        "SELECT array(named_struct('x', 1), named_struct('x', 2)) AS a")
      assert(nested.toJson.contains("[[[{\"x\": 1}, {\"x\": 2}]]]"), nested.toJson)
      // dates inside composite CSV literals are quoted, CH-style
      val dr = ex.run("SELECT array(DATE'2024-01-01') AS da")
      assert(dr.toCsv.split("\n")(1) == "['2024-01-01']", dr.toCsv)
      assert(dr.toJson.contains("[\"2024-01-01\"]"), dr.toJson)
    } finally ex.close()
  }

  test("row cap bounds a huge SELECT and flags truncation") {
    val ex = new QueryExecutor(spark, timeoutSec = 60, maxRows = 100)
    try {
      TableEnv.register(spark, sf)
      // lineitem at sf0.001 has thousands of rows — far past the cap
      val r = ex.run("SELECT l_orderkey FROM lineitem")
      assert(r.rows.length == 100)
      assert(r.truncated)
      assert(r.toJson.endsWith("\"truncated\": true}"))
      // under the cap: untouched result, no flag
      val small = ex.run("SELECT l_orderkey FROM lineitem LIMIT 5")
      assert(small.rows.length == 5 && !small.truncated)
      // the cap reaches the plan as a limit, not a post-collect trim
      val plan = ex.select("SELECT l_orderkey FROM lineitem").limit(101)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("Limit") || plan.contains("limit"), plan.take(300))
    } finally ex.close()
  }

  test("timeout cancels the query") {
    val ex = new QueryExecutor(spark, timeoutSec = 2)
    try {
      TableEnv.register(spark, sf)
      // A cartesian heavy enough to exceed 2s at local[4].
      intercept[TimeoutException](ex.run(
        """SELECT count(*) FROM lineitem a CROSS JOIN lineitem b
          |CROSS JOIN lineitem c""".stripMargin))
    } finally ex.close()
  }

  test("expression-form WITH inlines scalar aliases at use sites") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // CH's `WITH <expr> AS <ident>` — a macro, not a CTE
      val r = ex.run(
        """WITH 0.1 AS rate
          |SELECT o_orderpriority,
          |  round(sum(o_totalprice * rate), 2) AS fee
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
      assert(r.columns == Seq("o_orderpriority", "fee"))
      assert(r.rows.length == 5)
      // chained aliases resolve left to right
      val rc = ex.run("WITH 2 AS a, a * 3 AS b SELECT b + 1 AS v")
      assert(rc.rows.head.head.toString == "7")
      // mixed with a real CTE: the CTE survives, the scalar inlines
      val rm = ex.run(
        """WITH 5 AS k, t AS (SELECT o_custkey FROM orders LIMIT 10)
          |SELECT count(*) AS n FROM t WHERE o_custkey > k""".stripMargin)
      assert(rm.columns == Seq("n"))
      // a column merely mentioned with qualification is not touched
      val rq = ex.run(
        """WITH 1 AS o_custkey
          |SELECT count(o.o_custkey) AS n FROM orders o""".stripMargin)
      assert(rq.rows.head.head.asInstanceOf[Long] > 1)
    } finally ex.close()
  }

  test("FROM-item FINAL and SAMPLE modifiers rewrite") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // FINAL drops: a parquet snapshot has no pending merges
      val r = ex.run("SELECT count(*) AS n FROM orders FINAL")
      val all = ex.run("SELECT count(*) AS n FROM orders")
      assert(r.rows == all.rows)
      // with alias + WHERE after
      val r2 = ex.run(
        "SELECT count(*) AS n FROM orders o FINAL WHERE o.o_custkey > 0")
      assert(r2.rows.head.head.asInstanceOf[Long] > 0)
      // a column alias literally named final survives
      val r3 = ex.run("SELECT o_orderpriority AS final FROM orders LIMIT 1")
      assert(r3.columns == Seq("final"))
      // SAMPLE 1 reads everything (CH whole-table semantics)
      val s1 = ex.run("SELECT count(*) AS n FROM orders SAMPLE 1")
      assert(s1.rows == all.rows)
      // fractional SAMPLE thins the scan deterministically per seed
      val total = all.rows.head.head.asInstanceOf[Long]
      val s = ex.run("SELECT count(*) AS n FROM orders SAMPLE 0.2")
      val n = s.rows.head.head.asInstanceOf[Long]
      assert(n > 0 && n < total)
      val sAgain = ex.run("SELECT count(*) AS n FROM orders SAMPLE 0.2")
      assert(sAgain.rows == s.rows) // REPEATABLE seed
      // integer SAMPLE n caps rows
      val sr = ex.run("SELECT o_orderkey FROM orders SAMPLE 10")
      assert(sr.rows.size == 10)
    } finally ex.close()
  }

  test("WITH FILL INTERPOLATE carries columns across filler rows") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run(
        """SELECT x, v FROM VALUES (1, 10), (3, 30), (6, 60) AS t(x, v)
          |ORDER BY x WITH FILL INTERPOLATE (v)""".stripMargin)
      assert(r.rows.map(_.map(_.toString)) == Seq(
        Seq("1", "10"), Seq("2", "10"), Seq("3", "30"),
        Seq("4", "30"), Seq("5", "30"), Seq("6", "60")))
      // bare INTERPOLATE carries every non-axis column
      val rb = ex.run(
        """SELECT x, v, s FROM VALUES (1, 10, 'a'), (3, 30, 'b') AS t(x, v, s)
          |ORDER BY x WITH FILL INTERPOLATE""".stripMargin)
      assert(rb.rows.map(_.map(_.toString)) == Seq(
        Seq("1", "10", "a"), Seq("2", "10", "a"), Seq("3", "30", "b")))
      // leading filler rows (FROM before the first real row) fall back
      // to the type default
      val rl = ex.run(
        """SELECT x, v FROM VALUES (3, 30) AS t(x, v)
          |ORDER BY x WITH FILL FROM 1 INTERPOLATE (v)""".stripMargin)
      assert(rl.rows.map(_.map(_.toString)) == Seq(
        Seq("1", "0"), Seq("2", "0"), Seq("3", "30")))
      // the cascade form re-evaluates per filler row (expr^k of the
      // last real value; DialectStressSpec pins richer shapes)
      val rc = ex.run(
        """SELECT x, v FROM VALUES (1, 10), (4, 40) AS t(x, v)
          |ORDER BY x WITH FILL INTERPOLATE (v AS v + 1)""".stripMargin)
      assert(rc.rows.map(_.map(_.toString)) == Seq(
        Seq("1", "10"), Seq("2", "11"), Seq("3", "12"), Seq("4", "40")))
      // bare INTERPOLATE excludes EVERY ORDER BY column, not just the
      // fill axis: the secondary sort key takes its type default on
      // filler rows. The filler re-sorts under the full ORDER BY
      // (''-keyed row first), so with no preceding real row the
      // interpolated column falls back to its type default too.
      val rm = ex.run(
        """SELECT a, x, v FROM VALUES ('g', 1, 10), ('g', 3, 30) AS t(a, x, v)
          |ORDER BY a, x WITH FILL INTERPOLATE""".stripMargin)
      assert(rm.rows.map(_.map(_.toString)) == Seq(
        Seq("", "2", "0"), Seq("g", "1", "10"), Seq("g", "3", "30")))
    } finally ex.close()
  }

  test("COLUMNS regex and APPLY select-list modifiers expand") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run("SELECT COLUMNS('^n_n') FROM nation ORDER BY n_nationkey")
      assert(r.columns == Seq("n_nationkey", "n_name"))
      // APPLY over a COLUMNS match aggregates each column, CH naming
      val ra = ex.run("SELECT COLUMNS('key$') APPLY(max) FROM nation")
      assert(ra.columns.toSet == Set("max(n_nationkey)", "max(n_regionkey)"))
      assert(ra.rows.head(ra.columns.indexOf("max(n_nationkey)"))
        .toString == "24")
      // * APPLY over the full row
      val rs = ex.run("SELECT * APPLY(count) FROM region")
      assert(rs.columns.toSet == Set("count(r_regionkey)", "count(r_name)"))
      // EXCEPT survives in the core and APPLY maps the remainder
      val re = ex.run("SELECT * EXCEPT (r_name) APPLY(max) FROM region")
      assert(re.columns == Seq("max(r_regionkey)"))
      // no match is a clear error, not an empty projection
      intercept[ReadOnlyViolation](
        ex.run("SELECT COLUMNS('^zz') FROM nation"))
      // a chain as ONE ITEM of a larger list, with the statement's own
      // GROUP BY applying per group (the form dashboards paste)
      val rm = ex.run(
        """SELECT n_regionkey, COLUMNS('^n_n') APPLY(max), count(*) AS n
          |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      assert(rm.columns ==
        Seq("n_regionkey", "max(n_nationkey)", "max(n_name)", "n"))
      assert(rm.rows.size == 5 && rm.rows.forall(_(3).toString == "5"))
      // plain COLUMNS item among others, WHERE intact
      val rp = ex.run(
        """SELECT r_regionkey AS rk, COLUMNS('^r_n')
          |FROM region WHERE r_regionkey < 2 ORDER BY rk""".stripMargin)
      assert(rp.columns == Seq("rk", "r_name") && rp.rows.size == 2)
      // a no-match item errors clearly even in the mixed form
      intercept[ReadOnlyViolation](ex.run(
        "SELECT r_regionkey, COLUMNS('^zz') FROM region"))
      // a whole-list chain with the statement's own GROUP BY (the
      // grouped column not selected) expands textually and groups
      val rg = ex.run(
        """SELECT COLUMNS('key$') APPLY(max) FROM nation
          |GROUP BY n_regionkey""".stripMargin)
      assert(rg.columns.toSet ==
        Set("max(n_nationkey)", "max(n_regionkey)") && rg.rows.size == 5)
      // chains work after a WITH prefix (the probe carries the CTEs)
      val rw = ex.run(
        """WITH k AS (SELECT n_nationkey, n_regionkey FROM nation)
          |SELECT n_regionkey, COLUMNS('^n_nationkey$') APPLY(max)
          |FROM k GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      assert(rw.columns == Seq("n_regionkey", "max(n_nationkey)") &&
        rw.rows.size == 5)
      // a multi-column expansion with an ordinal GROUP BY would bind
      // the ordinal to a different column — rejected with guidance
      val eo = intercept[ReadOnlyViolation](ex.run(
        """SELECT n_regionkey, COLUMNS('^n_n') APPLY(max), count(*) AS c
          |FROM nation GROUP BY 1""".stripMargin))
      assert(eo.getMessage.contains("ordinals"))
      // a single-column expansion keeps positions: ordinals still work
      val ro1 = ex.run(
        """SELECT n_regionkey, COLUMNS('^n_nationkey$') APPLY(max)
          |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)
      assert(ro1.rows.size == 5)
      // a NON-LEADING ordinal is caught too (ORDER BY name, 3)
      val eo2 = intercept[ReadOnlyViolation](ex.run(
        """SELECT n_regionkey, COLUMNS('^n_n') APPLY(max), count(*) AS c
          |FROM nation GROUP BY n_regionkey
          |ORDER BY n_regionkey, 3""".stripMargin))
      assert(eo2.getMessage.contains("ordinals"))
      // a CTE merely named fill is not the WITH FILL clause
      val rf = ex.run(
        "WITH fill AS (SELECT 1 AS x) SELECT x FROM fill")
      assert(rf.rows.head.head.toString == "1")
      // APPLY with a parameterized-aggregate head flattens through
      // the param-agg shim, whole-list and mixed forms alike
      val rq = ex.run(
        "SELECT COLUMNS('key$') APPLY(quantileExact(0.5)) FROM nation")
      assert(rq.columns.toSet == Set("quantileExact(0.5)(n_nationkey)",
        "quantileExact(0.5)(n_regionkey)"))
      assert(rq.rows.head(rq.columns.indexOf(
        "quantileExact(0.5)(n_regionkey)")).toString.toDouble == 2.0)
      val rqm = ex.run(
        """SELECT n_regionkey, COLUMNS('^n_nationkey$') APPLY(quantileExact(0.5))
          |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      assert(rqm.columns ==
        Seq("n_regionkey", "quantileExact(0.5)(n_nationkey)"))
      assert(rqm.rows.size == 5)
    } finally ex.close()
  }

  test("bracket array literals and 1-based CH subscripts rewrite") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // CH bracket literal + 1-based subscript (Spark's bracket is
      // 0-based; the shim routes through try_element_at)
      val r = ex.run("SELECT [10, 20, 30][1] AS a, [10, 20, 30][-1] AS z")
      assert(r.rows.head.map(_.toString) == Seq("10", "30"))
      // nested literals, chained subscripts, map key lookup
      val rn = ex.run(
        "SELECT [[1],[2,3]][2][1] AS n, map('a', 5)['a'] AS m")
      assert(rn.rows.head.map(_.toString) == Seq("2", "5"))
      // out of range is the element-type default (CH), not an ANSI
      // error and not NULL
      val ro = ex.run("SELECT [1][5] AS oob")
      assert(ro.rows.head.head.toString == "0")
      // a bracket inside a string literal is untouched
      val rs = ex.run("SELECT 'a[1]' AS s")
      assert(rs.rows.head.head == "a[1]")
      // function-call result subscript keeps the whole call as target
      val rf = ex.run("SELECT splitByChar(',', 'x,y,z')[2] AS second")
      assert(rf.rows.head.head == "y")
      // parameterless count() (CH idiom)
      val rc = ex.run("SELECT count() AS n FROM region")
      assert(rc.rows.head.head.asInstanceOf[Long] == 5L)
    } finally ex.close()
  }

  test("pasted ANY JOIN keeps one right row per key") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // plain LEFT JOIN multiplies lineitem by matching rows; ANY keeps
      // the customer row count
      val base = ex.run("SELECT count(*) AS n FROM customer")
      val any = ex.run(
        """SELECT count(*) AS n FROM customer c
          |ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin)
      assert(any.rows.head.head == base.rows.head.head)
      // the survivor is the smallest right row (deterministic pick)
      val one = ex.run(
        """SELECT o.o_orderkey FROM customer c
          |ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          |WHERE c.c_custkey = 1""".stripMargin)
      val direct = ex.run(
        "SELECT min(o_orderkey) AS k FROM orders WHERE o_custkey = 1")
      assert(one.rows.head.head == direct.rows.head.head)
      // ALL multiplicity (the CH default) just strips
      val all = ex.run(
        """SELECT count(*) AS n FROM nation
          |ALL LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin)
      assert(all.rows.head.head.asInstanceOf[Long] == 25L)
      // RIGHT ANY (either token order) keeps all right rows and
      // dedupes the LEFT side, as in CH: customer count survives, and
      // the surviving left row is the lexicographically smallest
      val rr = ex.run(
        """SELECT count(*) AS n
          |FROM (SELECT o_custkey, o_orderkey FROM orders) l
          |ANY RIGHT JOIN customer c ON l.o_custkey = c.c_custkey""".stripMargin)
      assert(rr.rows.head.head == base.rows.head.head)
      val rr2 = ex.run(
        """SELECT l.o_orderkey
          |FROM (SELECT o_custkey, o_orderkey FROM orders) l
          |RIGHT ANY JOIN customer c ON l.o_custkey = c.c_custkey
          |WHERE c.c_custkey = 1""".stripMargin)
      val dmin = ex.run(
        "SELECT min(o_orderkey) AS k FROM orders WHERE o_custkey = 1")
      assert(rr2.rows.head.head == dmin.rows.head.head)
      // the OUTER spelling reaches the shim too (previously it missed
      // the pattern and Spark read ANY as a table alias — a silent
      // row-multiplying wrong answer)
      val ro = ex.run(
        """SELECT count(*) AS n FROM customer c
          |ANY LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin)
      assert(ro.rows.head.head == base.rows.head.head)
      val ro2 = ex.run(
        """SELECT count(*) AS n
          |FROM (SELECT o_custkey, o_orderkey FROM orders) l
          |RIGHT OUTER ANY JOIN customer c ON l.o_custkey = c.c_custkey""".stripMargin)
      assert(ro2.rows.head.head == base.rows.head.head)
      // RIGHT ANY composes with USING: dedupe the LEFT side on the
      // using column, all right rows kept
      val ruR = ex.run(
        """SELECT count(*) AS n
          |FROM (SELECT o_custkey AS c_custkey, o_orderkey FROM orders) l
          |ANY RIGHT JOIN customer c USING (c_custkey)""".stripMargin)
      assert(ruR.rows.head.head == base.rows.head.head)
      // CH's GLOBAL distribution hint strips before the ANY shim
      val rg = ex.run(
        """SELECT count(*) AS n FROM customer c
          |GLOBAL ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey"""
          .stripMargin)
      assert(rg.rows.head.head == base.rows.head.head)
      // FULL ANY is rejected in both orders (ClickHouse rejects it
      // too) — and at ANY depth: the nested spelling isn't hoisted,
      // so without the rejection it would misparse silently
      val e3 = intercept[ReadOnlyViolation](ex.run(
        "SELECT 1 FROM nation FULL ANY JOIN region ON n_regionkey = r_regionkey"))
      assert(e3.getMessage.contains("FULL ANY JOIN is not supported"))
      val e3b = intercept[ReadOnlyViolation](ex.run(
        "SELECT 1 FROM nation ANY FULL JOIN region ON n_regionkey = r_regionkey"))
      assert(e3b.getMessage.contains("FULL ANY JOIN is not supported"))
      val e3c = intercept[ReadOnlyViolation](ex.run(
        """SELECT count(*) FROM (SELECT n_nationkey FROM nation
          |ANY FULL JOIN region ON n_regionkey = r_regionkey) t""".stripMargin))
      assert(e3c.getMessage.contains("FULL ANY JOIN is not supported"))
      // a non-equality ON conjunct is rejected (the right side dedupes
      // BEFORE residual predicates would apply — never drop silently)
      val e4 = intercept[ReadOnlyViolation](ex.run(
        """SELECT c.c_custkey FROM customer c
          |ANY LEFT JOIN orders o
          |  ON c.c_custkey = o.o_custkey AND o.o_totalprice > 1000""".stripMargin))
      assert(e4.getMessage.contains("not a simple column equality"))
      // parenthesized equalities still parse
      val par = ex.run(
        """SELECT count(*) AS n FROM customer c
          |ANY LEFT JOIN orders o ON (c.c_custkey = o.o_custkey)""".stripMargin)
      assert(par.rows.head.head == base.rows.head.head)
      // an unqualified key shared by BOTH sides is ambiguous → rejected
      spark.sql("SELECT n_nationkey AS k, n_name FROM nation")
        .createOrReplaceTempView("any_l")
      spark.sql("SELECT r_regionkey AS k, r_name FROM region")
        .createOrReplaceTempView("any_r")
      try {
        val e5 = intercept[ReadOnlyViolation](ex.run(
          "SELECT 1 FROM any_l l ANY LEFT JOIN any_r r ON k = k"))
        assert(e5.getMessage.contains("qualify your columns"))
        // qualified form works
        val q = ex.run(
          """SELECT count(*) AS n FROM any_l l
            |ANY LEFT JOIN any_r r ON l.k = r.k""".stripMargin)
        assert(q.rows.head.head.asInstanceOf[Long] == 25L)
      } finally {
        spark.catalog.dropTempView("any_l")
        spark.catalog.dropTempView("any_r")
      }
      // USING form: the using column is the dedup key, the clause
      // plans natively (coalesced column), row count stays left-sized
      val ru = ex.run(
        """SELECT count(*) AS n FROM customer c
          |ANY LEFT JOIN (SELECT o_custkey AS c_custkey, o_orderkey
          |               FROM orders) o USING (c_custkey)""".stripMargin)
      assert(ru.rows.head.head == base.rows.head.head)
      val eU = intercept[ReadOnlyViolation](ex.run(
        """SELECT 1 FROM customer c
          |ANY LEFT JOIN orders o USING (nope)""".stripMargin))
      assert(eU.getMessage.contains("not a right-side column"))
      // duplicate-key fixture: the survivor is the lexicographically
      // smallest FULL right row (first field breaks the tie)
      spark.sql(
        """SELECT * FROM VALUES (2, 1, 'b'), (1, 1, 'z'), (3, 2, 'a')
          |  AS t(id, k, v)""".stripMargin)
        .createOrReplaceTempView("any_dup")
      try {
        val s = ex.run(
          """SELECT l.n_nationkey, d.id, d.v FROM nation l
            |ANY LEFT JOIN any_dup d ON l.n_nationkey = d.k
            |WHERE l.n_nationkey = 1""".stripMargin)
        assert(s.rows.head.toSeq == Seq(1, 1, "z"))
      } finally spark.catalog.dropTempView("any_dup")
    } finally ex.close()
  }

  test("pasted ASOF JOIN routes through the custom sort-merge operator") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // LEFT form keeps unmatched clicks with NULL right columns
      val r = ex.run(
        """SELECT a.event_id, b.event_id AS prior
          |FROM (SELECT * FROM events WHERE event_type = 'click') a
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
          |  ON a.user_id = b.user_id AND a.ts >= b.ts
          |ORDER BY a.event_id""".stripMargin)
      assert(r.columns == Seq("event_id", "prior") && r.rows.nonEmpty)
      // plain (inner) form drops them; reversed operand order normalizes
      val ri = ex.run(
        """SELECT count(*) AS n
          |FROM (SELECT * FROM events WHERE event_type = 'click') a
          |ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') b
          |  ON b.ts <= a.ts AND b.user_id = a.user_id""".stripMargin)
      val matched = ri.rows.head.head.asInstanceOf[Long]
      assert(matched > 0 && matched <= r.rows.size)
      assert(r.rows.count(_(1) != null).toLong == matched)
      // a malformed ON clause names the contract
      val e = intercept[ReadOnlyViolation](ex.run(
        """SELECT 1 FROM events a ASOF JOIN events b
          |ON a.user_id = b.user_id""".stripMargin))
      assert(e.getMessage.contains("time inequality"))
      // several equalities compose into one struct key: each left row
      // must match within ITS (k, g) group, not just the latest by k
      val mk = ex.run(
        """SELECT l.g, r.v AS rv
          |FROM (SELECT * FROM VALUES (1, 'a', 10), (1, 'b', 10)
          |      AS t(k, g, t1)) l
          |ASOF LEFT JOIN (SELECT * FROM VALUES
          |    (1, 'a', 5, 100), (1, 'b', 6, 200) AS t(k, g, t1, v)) r
          |  ON l.k = r.k AND l.g = r.g AND l.t1 >= r.t1
          |ORDER BY l.g""".stripMargin)
      assert(mk.rows.map(_.map(_.toString)) ==
        Seq(Seq("a", "100"), Seq("b", "200")))
      // the OUTER spelling reaches the shim (previously it missed the
      // pattern and ASOF parsed as a table alias — silent wrong answer)
      val rout = ex.run(
        """SELECT a.event_id, b.event_id AS prior
          |FROM (SELECT * FROM events WHERE event_type = 'click') a
          |ASOF LEFT OUTER JOIN (SELECT * FROM events WHERE event_type = 'error') b
          |  ON a.user_id = b.user_id AND a.ts >= b.ts
          |ORDER BY a.event_id""".stripMargin)
      assert(rout.rows.map(_.toSeq) == r.rows.map(_.toSeq))
      // USING (k..., t): equality keys then the ASOF column, default
      // at-or-before direction — same answer as the spelled-out ON
      val us = ex.run(
        """SELECT a.event_id, prior
          |FROM (SELECT user_id, ts, event_id FROM events
          |      WHERE event_type = 'click') a
          |ASOF LEFT JOIN (SELECT user_id, ts, event_id AS prior
          |                FROM events WHERE event_type = 'error') b
          |  USING (user_id, ts)
          |ORDER BY a.event_id""".stripMargin)
      assert(us.columns == Seq("event_id", "prior"))
      assert(us.rows.map(_.toSeq) == r.rows.map(_.toSeq))
      // join columns surface ONCE; qualified refs to them resolve
      val uq = ex.run(
        """SELECT b.user_id AS u, count(*) AS n
          |FROM (SELECT user_id, ts, event_id FROM events
          |      WHERE event_type = 'click') a
          |ASOF JOIN (SELECT user_id, ts, event_id AS prior
          |           FROM events WHERE event_type = 'error') b
          |  USING (user_id, ts)
          |GROUP BY u ORDER BY u LIMIT 3""".stripMargin)
      assert(uq.columns == Seq("u", "n") && uq.rows.nonEmpty)
      // USING needs at least one equality key before the ASOF column
      val eu = intercept[ReadOnlyViolation](ex.run(
        """SELECT 1 FROM events a ASOF JOIN events b USING (ts)"""))
      assert(eu.getMessage.contains("at least one equality column"))
      // ASOF RIGHT/FULL is rejected (CH rejects it too), at any depth
      // — not silently planned as a row-multiplying plain join
      val ed = intercept[ReadOnlyViolation](ex.run(
        """SELECT 1 FROM events a ASOF RIGHT JOIN events b
          |ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin))
      assert(ed.getMessage.contains("ASOF RIGHT/FULL JOIN is not supported"))
      val ed2 = intercept[ReadOnlyViolation](ex.run(
        """SELECT count(*) FROM (SELECT a.event_id FROM events a
          |ASOF FULL JOIN events b
          |ON a.user_id = b.user_id AND a.ts >= b.ts) t""".stripMargin))
      assert(ed2.getMessage.contains("ASOF RIGHT/FULL JOIN is not supported"))
      // two sibling ASOF joins in one flat FROM compose: the leftmost
      // materializes into a view, the second joins against it (a self
      // at-or-before join always matches itself, so inner keeps all)
      val evN = ex.run("SELECT count(*) AS n FROM events")
      val two = ex.run(
        """SELECT count(*) AS n FROM events a
          |ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts
          |ASOF JOIN events c ON a.user_id = c.user_id AND a.ts >= c.ts"""
          .stripMargin)
      assert(two.rows.head.head == evN.rows.head.head)
      // the second join's conditions may reference the FIRST join's
      // right side too (it surfaces as the view's r_* columns)
      val twoR = ex.run(
        """SELECT count(*) AS n FROM events a
          |ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts
          |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts"""
          .stripMargin)
      assert(twoR.rows.head.head == evN.rows.head.head)
      // FROM-position subqueries containing the joins HOIST: they plan
      // recursively through the full shim pipeline, so the nested form
      // answers exactly like the flat one
      val hAsof = ex.run(
        """SELECT count(*) AS n FROM (
          |  SELECT a.event_id FROM events a
          |  ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts) t"""
          .stripMargin)
      val hFlat = ex.run(
        """SELECT count(*) AS n FROM events a
          |ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts"""
          .stripMargin)
      assert(hAsof.rows.head.head == hFlat.rows.head.head)
      val hAny = ex.run(
        """SELECT count(*) AS n FROM (
          |  SELECT c.c_custkey FROM customer c
          |  ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey) t"""
          .stripMargin)
      val custN = ex.run("SELECT count(*) AS n FROM customer")
      assert(hAny.rows.head.head == custN.rows.head.head)
      // CTE bodies hoist too
      val hCte = ex.run(
        """WITH j AS (
          |  SELECT c.c_custkey FROM customer c
          |  ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey)
          |SELECT count(*) AS n FROM j""".stripMargin)
      assert(hCte.rows.head.head == custN.rows.head.head)
      // an ASOF clause followed by a further plain join plans against
      // the joined view
      val hChain = ex.run(
        """SELECT count(*) AS n FROM events a
          |ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts
          |INNER JOIN (SELECT DISTINCT user_id AS uid FROM events) u
          |  ON u.uid = a.user_id""".stripMargin)
      assert(hChain.rows.head.head == hFlat.rows.head.head)
      // an UNCORRELATED scalar subquery (comma-listed select item)
      // hoists too: the parenthesized view replacement is a valid
      // scalar subquery, so the pasted form just works
      val sc = ex.run(
        """SELECT n_name, (SELECT count(*) FROM customer c
          |  ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey) AS n
          |FROM nation""".stripMargin)
      assert(sc.rows.forall(_(1) == custN.rows.head.head))
      // a CORRELATED one cannot be pre-planned standalone — scoped
      // message naming the trigger join, not a parser syntax error
      val e4 = intercept[ReadOnlyViolation](ex.run(
        """SELECT n_name, (SELECT count(*) FROM customer c
          |  ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          |  WHERE c.c_nationkey = nation.n_nationkey) AS n
          |FROM nation""".stripMargin))
      assert(e4.getMessage.contains("could not pre-plan the subquery"))
      assert(e4.getMessage.contains("ANY join"))
      // two sibling ANY joins likewise compose (each dedupes its own
      // right side, so the left multiplicity never grows)
      val anyTwo = ex.run(
        """SELECT count(*) AS n FROM customer c
          |ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          |ANY LEFT JOIN nation n2 ON c.c_nationkey = n2.n_nationkey"""
          .stripMargin)
      assert(anyTwo.rows.head.head == custN.rows.head.head)
    } finally ex.close()
  }

  test("shim-only constructs work inside FROM-position subqueries and CTEs") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // LIMIT n BY nested in a derived table
      val r1 = ex.run(
        """SELECT count(*) AS n FROM (
          |  SELECT o_custkey, o_orderkey FROM orders
          |  ORDER BY o_orderkey LIMIT 2 BY o_custkey) t""".stripMargin)
      val r1flat = ex.run(
        """SELECT count(*) AS n FROM (
          |  SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderkey) AS rn FROM orders) w WHERE rn <= 2""".stripMargin)
      assert(r1.rows.head.head == r1flat.rows.head.head)
      // ARRAY JOIN nested in a derived table
      val r2 = ex.run(
        """SELECT sum(v) AS s FROM (
          |  SELECT v FROM (SELECT array(1, 2, 3) AS a) src ARRAY JOIN a AS v) t"""
          .stripMargin)
      assert(r2.rows.head.head.toString == "6")
      // WITH TOTALS nested in a CTE body
      val r3 = ex.run(
        """WITH agg AS (
          |  SELECT o_orderpriority AS pri, count(*) AS n FROM orders
          |  GROUP BY pri WITH TOTALS)
          |SELECT count(*) AS rows_with_total FROM agg""".stripMargin)
      val r3base = ex.run(
        "SELECT count(DISTINCT o_orderpriority) AS n FROM orders")
      assert(r3.rows.head.head.asInstanceOf[Long] ==
        r3base.rows.head.head.asInstanceOf[Long] + 1)
      // COLUMNS APPLY nested in a derived table
      val r4 = ex.run(
        """SELECT * FROM (
          |  SELECT COLUMNS('key$') APPLY(max) FROM nation) t""".stripMargin)
      assert(r4.columns.toSet ==
        Set("max(n_nationkey)", "max(n_regionkey)"))
      // WITH FILL nested in a derived table
      val r5 = ex.run(
        """SELECT count(*) AS n FROM (
          |  SELECT x FROM VALUES (1), (5) AS t(x) ORDER BY x WITH FILL) f"""
          .stripMargin)
      assert(r5.rows.head.head.toString == "5")
    } finally ex.close()
  }

  test("parameterized-aggregate call form f(params)(args) flattens") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // quantile(level)(x): the canonical CH form
      val r = ex.run(
        "SELECT round(quantile(0.5)(o_totalprice), 2) AS med FROM orders")
      assert(r.columns == Seq("med") &&
        r.rows.head.head.asInstanceOf[Double] > 0)
      // quantiles returns one value per level
      val rq = ex.run(
        "SELECT quantiles(0.25, 0.75)(o_totalprice) AS qs FROM orders")
      assert(rq.rows.head.head.asInstanceOf[scala.collection.Seq[_]].size == 2)
      // topK(k)(x) yields at most k heavy hitters
      val rt = ex.run("SELECT topK(3)(o_orderpriority) AS t FROM orders")
      assert(rt.rows.head.head.asInstanceOf[scala.collection.Seq[_]].size <= 3)
      // windowFunnel(window)(ts, conds...) — params land first, as the
      // flattened registration expects
      val rw = ex.run(
        """SELECT windowFunnel(3600)(ts, event_type = 'view',
          |  event_type = 'click') AS d FROM events""".stripMargin)
      assert(rw.rows.head.head.asInstanceOf[Int] >= 0)
      // uniqCombined's precision parameter drops
      val ru = ex.run("SELECT uniqCombined(12)(o_custkey) AS u FROM orders")
      assert(ru.rows.head.head.asInstanceOf[Long] > 0)
      // bare CH any/anyLast work over non-boolean columns
      val ra = ex.run(
        "SELECT any(o_orderpriority) AS a, anyLast(o_orderpriority) AS z FROM orders")
      assert(ra.rows.head.forall(_.toString.nonEmpty))
      // an ordinary call followed by a separate group is untouched
      // (round(1.5) is Float64 under CH literal lexing, hence "2.0")
      val rn = ex.run("SELECT round(1.5) AS r, (2) AS p")
      assert(rn.rows.head.map(_.toString) == Seq("2.0", "2"))
    } finally ex.close()
  }

  test("LIMIT k WITH TIES keeps rows tied with the k-th") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      val r = ex.run(
        """SELECT x FROM VALUES (1), (1), (2), (2), (3) AS t(x)
          |ORDER BY x LIMIT 3 WITH TIES""".stripMargin)
      assert(r.rows.map(_.head.toString).sorted == Seq("1", "1", "2", "2"))
      intercept[ReadOnlyViolation](ex.run(
        "SELECT x FROM VALUES (1) AS t(x) LIMIT 3 WITH TIES"))
    } finally ex.close()
  }

  test("star EXCEPT/REPLACE modifiers rewrite") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      TableEnv.register(spark, sf)
      // bare single-column EXCEPT gains Spark's parens
      val r = ex.run("SELECT * EXCEPT r_name FROM region ORDER BY r_regionkey")
      assert(r.columns == Seq("r_regionkey"))
      // parenthesized list passes through to Spark's native star-EXCEPT
      val rp = ex.run(
        "SELECT * EXCEPT (n_name, n_regionkey) FROM nation ORDER BY n_nationkey")
      assert(rp.columns == Seq("n_nationkey"))
      // REPLACE keeps the same column NAMES with the new expression
      val rr = ex.run(
        """SELECT * REPLACE(upper(r_name) AS r_name)
          |FROM region ORDER BY r_regionkey""".stripMargin)
      assert(rr.columns.toSet == Set("r_regionkey", "r_name"))
      val names = rr.rows.map(row => row(rr.columns.indexOf("r_name")).toString)
      assert(names.forall(n => n == n.toUpperCase))
      // set-operation EXCEPT is untouched
      val so = ex.run(
        """SELECT r_regionkey FROM region EXCEPT
          |SELECT r_regionkey FROM region WHERE r_regionkey = 0""".stripMargin)
      assert(so.rows.size == 4)
    } finally ex.close()
  }

  test("double-quoted identifiers resolve CH-style under the serve conf") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val key = "spark.sql.ansi.doubleQuotedIdentifiers"
    val prev = spark.conf.get(key, "false")
    try {
      TableEnv.register(spark, sf)
      spark.conf.set(key, "true") // graft.Serve sets this at startup
      val r = ex.run("SELECT \"r_name\" FROM region ORDER BY \"r_regionkey\" LIMIT 1")
      assert(r.columns == Seq("r_name"))
      assert(r.rows.head.head.toString != "r_name") // identifier, not literal
      // single quotes remain strings
      val s2 = ex.run("SELECT 'r_name' AS lit")
      assert(s2.rows.head.head == "r_name")
    } finally {
      spark.conf.set(key, prev)
      ex.close()
    }
  }

  test("property: every toJson/toJsonEachRow payload is parseable JSON " +
    "with the right structure (150 random nested cells)") {
    // pins escaping and recursion together: whatever cell shape a
    // query produces, the wire payload must round-trip through a real
    // JSON parser (the renderers are hand-rolled — a missed escape or
    // an unquoted token would corrupt every client downstream)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rnd = new scala.util.Random(20260815)
    val trickyStrings = Seq("plain", "with \"quotes\"", "tab\tnewline\n",
      "back\\slash", "comma,paren(", "unicode é中", "'single'",
      "{\"json\": 1}", "")
    def randCell(depth: Int): Any = rnd.nextInt(if (depth > 2) 7 else 14) match {
      case 0 => null
      case 1 => rnd.nextLong()
      case 2 => rnd.nextInt()
      case 3 => rnd.nextDouble() * 1e6
      case 4 => rnd.nextBoolean()
      case 5 => trickyStrings(rnd.nextInt(trickyStrings.size))
      case 6 => new java.math.BigDecimal("12345.6789").movePointLeft(rnd.nextInt(5))
      case 7 => Seq.fill(rnd.nextInt(4))(randCell(depth + 1))
      case 8 => Map("k" + rnd.nextInt(3) -> randCell(depth + 1),
        trickyStrings(rnd.nextInt(trickyStrings.size)) -> randCell(depth + 1))
      case 9 => org.apache.spark.sql.Row(randCell(depth + 1), randCell(depth + 1))
      // every remaining type the engine can put in a collected cell —
      // incl. the interval classes whose java toString leaked "PT24H"
      // through the round-14 net (they only had endpoint pins for
      // scalars; this walks them through the same parser round-trip)
      case 10 => java.time.Duration.ofSeconds(rnd.nextLong() % 1000000L,
        if (rnd.nextBoolean()) 0 else rnd.nextInt(1000000000))
      case 11 => java.time.Period.ofMonths(rnd.nextInt(500) - 250)
      case 12 => new org.apache.spark.unsafe.types.CalendarInterval(
        rnd.nextInt(24), rnd.nextInt(100), rnd.nextLong() % 1000000L)
      case 13 => if (rnd.nextBoolean()) java.sql.Date.valueOf("2024-03-05")
        else java.sql.Timestamp.valueOf("2024-03-05 07:08:09")
    }
    (1 to 150).foreach { i =>
      val nCols = 1 + rnd.nextInt(4)
      val cols = (1 to nCols).map(c => s"c$c")
      val rows = Seq.fill(1 + rnd.nextInt(3))(cols.map(_ => randCell(0)))
      val r = QueryResult(cols, rows, truncated = rnd.nextBoolean())
      val parsed = mapper.readTree(r.toJson)
      assert(parsed.get("columns").size == nCols, s"case $i: ${r.toJson.take(200)}")
      assert(parsed.get("rows").size == rows.size, s"case $i")
      assert(parsed.get("rows").get(0).size == nCols, s"case $i")
      r.toJsonEachRow.split("\n").filter(_.nonEmpty).foreach { line =>
        val obj = mapper.readTree(line)
        assert(obj.isObject && obj.size == nCols, s"case $i: ${line.take(200)}")
      }
      // no java object reprs in ANY of the three wire formats: a
      // Duration/Period toString starts "PT"/"P" and class-name leaks
      // carry "Seq("/"Map(" — none may appear as rendered values
      Seq(r.toJson, r.toJsonEachRow, r.toCsv).foreach { wire =>
        assert(!wire.contains("\"PT") && !wire.contains("\"P-"),
          s"case $i interval leak: ${wire.take(200)}")
        assert(!wire.contains("ArraySeq(") && !wire.contains("Map(") &&
          !wire.contains("GenericRow"), s"case $i: ${wire.take(200)}")
      }
    }
  }

  test("interval-typed cells serve CH-style integers, never PT strings") {
    import graft.sql.QueryResult
    assert(QueryResult.jsonValue(java.time.Duration.ofHours(24),
      nonFiniteAsNull = false) == "86400")
    assert(QueryResult.jsonValue(java.time.Duration.ofSeconds(1, 500000000),
      nonFiniteAsNull = false) == "1.5")
    assert(QueryResult.jsonValue(java.time.Duration.ofHours(-1),
      nonFiniteAsNull = false) == "-3600")
    assert(QueryResult.jsonValue(java.time.Period.ofYears(2),
      nonFiniteAsNull = false) == "24")
    assert(QueryResult.chLiteral(java.time.Duration.ofHours(24),
      nested = false) == "86400")
    assert(QueryResult.chLiteral(java.time.Period.ofMonths(3),
      nested = true) == "3")
    // end-to-end: an interval literal (NOT rewritten by ChronoArith —
    // only subtraction is) serves a number through all three formats
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val r = ex.run("SELECT INTERVAL 1 DAY AS d, INTERVAL 2 YEAR AS ym")
      assert(r.toJson.contains("[[86400, 24]]"), r.toJson)
      assert(r.toJsonEachRow.contains("{\"d\": 86400, \"ym\": 24}"),
        r.toJsonEachRow)
      assert(r.toCsv.linesIterator.toSeq(1) == "86400,24", r.toCsv)
    } finally ex.close()
  }

  /** A JSON-lines file of `n` records in a fresh temp directory;
    * gzipped, it cannot be split, so one task reads all of it. */
  private def jsonLines(n: Int, gzip: Boolean = false): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, if (gzip) "big.json.gz" else "big.json")
    val os: java.io.OutputStream = new java.io.FileOutputStream(f)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      if (gzip) new java.util.zip.GZIPOutputStream(os, 1 << 16) else os,
      java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
    try (0 until n).foreach { i =>
      w.write(s"""{"id":$i,"s":"s$i","d":$i.5,"b":${i % 2 == 0},""" +
        s""""a":[$i,${i + 1}],"o":{"k":"v${i % 97}","n":${i % 13}}}""")
      w.newLine()
    } finally w.close()
    f
  }

  /** `body`'s outcome, and the tag set of every Spark job it started, in
    * start order. A marker job run afterwards drains the listener bus:
    * events arrive in order, so once its start is seen, every earlier
    * job's start has been seen too. */
  private def jobTags[A](body: => A): (Either[Throwable, A], Seq[Set[String]]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(',').filter(_.nonEmpty).toSet))
    }
    sc.addSparkListener(listener)
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val marker = s"spec-marker-${java.util.UUID.randomUUID()}"
    sc.addJobTag(marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
    val until = System.currentTimeMillis + 30000
    while (!seen.asScala.exists(_(marker)) && System.currentTimeMillis < until)
      Thread.sleep(10)
    sc.removeSparkListener(listener)
    (out, seen.asScala.toSeq.takeWhile(!_(marker)))
  }

  test("every job a statement starts carries its tag, planning included") {
    // json.`path` infers its schema with a Spark job while the
    // statement is planned, before any result is collected
    val f = jsonLines(2000)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val sql = s"SELECT count(*) AS n FROM json.`${f.getPath}`"
      for ((what, call) <- Seq[(String, () => Any)](
          "run" -> (() => ex.run(sql)),
          "explainSafe" -> (() => ex.explainSafe(sql)))) {
        val (out, jobs) = jobTags(call())
        out match {
          case Right(r: QueryResult) => assert(r.rows == Seq(Seq(2000L)))
          case Right(e: Either[_, _]) => assert(e.isRight, e)
          case other => fail(s"$what: $other")
        }
        assert(jobs.nonEmpty, what)
        val tags = jobs.map(_.filter(_.startsWith("graft-query-")))
        assert(tags.forall(_.size == 1), s"$what: untagged job in $jobs")
        assert(tags.distinct.size == 1, s"$what: more than one tag in $jobs")
      }
    } finally { ex.close(); f.delete(); f.getParentFile.delete() }
  }

  test("the deadline covers planning: inference past it times out and leaves nothing running") {
    // 800k gzipped JSON lines (73 MB unpacked, 13 MB on disk): one task
    // infers their schema, which alone took 2.3 s on a 4-core x86 VM,
    // past the 1 s deadline, so the statement fails while being planned
    val f = jsonLines(800000, gzip = true)
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 1)
    val probe = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val sql = s"SELECT count(*) AS n FROM json.`${f.getPath}`"
      var ms = 0L
      val (out, jobs) = jobTags {
        val t0 = System.nanoTime
        try ex.run(sql) finally ms = (System.nanoTime - t0) / 1000000
      }
      assert(out.left.toOption.exists(_.isInstanceOf[TimeoutException]),
        s"answered after $ms ms: $out")
      assert(out.left.toOption.get.getMessage == "Query timed out after 1 seconds")
      assert(ms < 2000, s"timed out after $ms ms")
      // one job, the inference: execution never started
      val tagged = jobs.filter(_.exists(_.startsWith("graft-query-")))
      assert(tagged.size == 1, s"tagged jobs: $tagged")
      val tag = tagged.head.find(_.startsWith("graft-query-"))
      // the tag's jobs stop (the status store follows the listener bus)
      val st = spark.sparkContext.statusTracker
      def active = st.getJobIdsForTag(tag.get).toSeq.flatMap(st.getJobInfo)
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      val until = System.currentTimeMillis + 10000
      while (active.nonEmpty && System.currentTimeMillis < until) Thread.sleep(50)
      assert(active.isEmpty)
      val procs = probe.run("SELECT query FROM system.processes")
      assert(!procs.rows.exists(_.head.toString.contains(f.getPath)), procs.rows)
    } finally {
      ex.close(); probe.close(); f.delete(); f.getParentFile.delete()
    }
  }

  test("file(), s3() and hdfs() read files in place on the guarded path") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf")
    val csv = dir.resolve("n.csv")
    java.nio.file.Files.writeString(csv, "a,b\n1,x\n2,y\n")
    try {
      assert(ex.run(s"SELECT count(*) AS n FROM file('$sf/nation.parquet')")
        .rows == Seq(Seq(25L)))
      assert(ex.run(s"SELECT * FROM file('$sf/nation.parquet')").rows.size == 25)
      assert(ex.run(s"SELECT sum(a) AS s, max(b) AS m FROM file('$csv', 'CSVWithNames')")
        .rows == Seq(Seq(3L, "y")))
      assert(ex.run(s"SELECT count(*) AS n FROM hdfs('file://$sf/region.parquet')")
        .rows == Seq(Seq(5L)))
      assert(ex.run(s"SELECT count(*) AS n FROM s3('$sf/region.parquet', 'Parquet')")
        .rows == Seq(Seq(5L)))
      // a non-constant argument and an http(s) URL are refused with the
      // function's own message; url() itself is not registered
      val nonConst = ex.runSafe("SELECT * FROM file(uuid())")
      assert(nonConst.left.exists(_.contains("file() requires constant string arguments")),
        nonConst)
      val http = ex.runSafe("SELECT * FROM s3('http://localhost:1/n.csv')")
      assert(http.left.exists(_.contains("http(s) URLs are not served")), http)
      assert(ex.runSafe("SELECT * FROM url('http://localhost:1/n.csv')").isLeft)
    } finally {
      ex.close(); java.nio.file.Files.delete(csv); java.nio.file.Files.delete(dir)
    }
  }

  test("FROM-less SELECTs and system.one run on the driver: no job, no compile") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    // counts every class compiled; a codegen cache hit compiles nothing
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    try {
      // output shapes no other statement of the suite has: a result
      // ships through interpreted converters, so even a new shape
      // compiles no row projection and no deserializer
      for ((sql, want) <- Seq(
          ("SELECT 6007 * 7 AS x, concat('gr', 'aft') AS s, " +
            "map('k', CAST(2.5 AS decimal(29, 3))) AS m, array(DATE '2024-02-29') AS d",
            Seq(Seq(42049, "graft", Map("k" -> new java.math.BigDecimal("2.500")),
              Seq(java.sql.Date.valueOf("2024-02-29"))))),
          ("SELECT dummy + 9173 AS d, named_struct('e', dummy, 'f', 'x') AS t FROM system.one",
            Seq(Seq(9173, org.apache.spark.sql.Row(0.toByte, "x")))))) {
        val (out, jobs) = jobTags {
          val before = compiles.getCount
          (ex.run(sql), compiles.getCount - before)
        }
        val (r, compiled) = out.toTry.get
        assert(r.rows == want, sql)
        assert(jobs.isEmpty, s"$sql started jobs $jobs")
        assert(compiled == 0, s"$sql compiled $compiled classes")
      }
    } finally ex.close()
  }

  /** Every shuffle exchange of `df`'s executed plan, inside adaptive
    * query stages too. */
  private def exchanges(df: org.apache.spark.sql.DataFrame) = {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
  }

  test("an aggregate over a one-split table runs as one job with no exchange") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT o_orderstatus, count() AS n, sum(o_totalprice) AS s " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    try {
      val df = ex.select(sql)
      assert(exchanges(df).isEmpty, df.queryExecution.executedPlan)
      val plan = ex.explain(sql)
      assert("""\(\d+\) Coalesce\n[^(]*Arguments: 1\n""".r.findFirstIn(plan).nonEmpty, plan)
      val (out, jobs) = jobTags(ex.run(sql))
      val want = spark.table("orders").groupBy("o_orderstatus").count()
        .orderBy("o_orderstatus").collect().map(r => (r.get(0), r.get(1))).toSeq
      assert(out.toTry.get.rows.map(r => (r(0), r(1))) == want)
      val tagged = jobs.filter(_.exists(_.startsWith("graft-query-")))
      assert(tagged.size == 1, s"jobs: $jobs")
    } finally ex.close()
  }

  test("a table of two files, or of one file above either size bound, keeps its exchange") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toFile
    val two = s"${dir.getPath}/two"
    val one = s"${dir.getPath}/one"
    spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k", "id AS v").write.parquet(two)
    spark.range(0, 1000, 1, 1).selectExpr("id % 7 AS k", "id AS v").write.parquet(one)
    def agg(path: String) =
      s"SELECT k, count() AS n, sum(v) AS s FROM parquet.`$path` GROUP BY k ORDER BY k"
    val want = (0 until 7).map(k => Seq(k.toLong, (0 until 1000).count(_ % 7 == k).toLong,
      (0 until 1000).filter(_ % 7 == k).map(_.toLong).sum))
    val bounds = Seq("spark.sql.files.openCostInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = bounds.map(spark.conf.getOption)
    def restore(): Unit = bounds.zip(prev).foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    try {
      assert(exchanges(ex.select(agg(two))).nonEmpty)
      assert(ex.run(agg(two)).rows == want)
      assert(exchanges(ex.select(agg(one))).isEmpty)
      val bytes = dir.listFiles.filter(_.getName == "one").flatMap(_.listFiles)
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      for (bound <- bounds) {
        spark.conf.set(bound, (bytes - 1).toString)
        assert(exchanges(ex.select(agg(one))).nonEmpty, bound)
        assert(ex.run(agg(one)).rows == want)
        restore()
      }
    } finally {
      restore()
      ex.close()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  /** A collected cell with its byte arrays as sequences, so cells
    * compare by value. */
  private def byValue(x: Any): Any = x match {
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => (r.schema, r.toSeq.map(byValue))
    case m: scala.collection.Map[_, _] => m.map { case (k, v) => byValue(k) -> byValue(v) }
    case s: scala.collection.Seq[_] => s.map(byValue)
    case other => other
  }

  private def renderings(r: QueryResult): Seq[String] = Seq(r.toJson, r.toCsv,
    r.toJsonEachRow, r.toTsv(withNames = true), r.toPretty, r.toVertical, r.toValues)

  test("served values equal Dataset.collect's for every rendered type") {
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft_types").toFile
    val path = s"${dir.getPath}/t"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(named_struct('a', 1, 'b', 'x'), NULL), map('k', array(1, NULL)),
        |   named_struct('x', 1.5D, 'y', map(2, 'z')), 12345678901234567890.123456789012345678BD,
        |   X'00ff', DATE '2024-02-29', TIMESTAMP '2024-02-29 12:34:56.789',
        |   TIMESTAMP_NTZ '2024-03-01 00:00:00.000001', 'é\t"q"'),
        |  (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |  AS t(id, arr, m, st, dec, bin, d, ts, ntz, s)""".stripMargin)
      .selectExpr("id", "arr", "m", "st", "CAST(dec AS decimal(38, 18)) AS dec", "bin",
        "d", "ts", "ntz", "s")
      .coalesce(1).write.parquet(path)
    val sql =
      s"""SELECT *,
         |  if(id = 1, make_dt_interval(1, 2, 3, 4.5), NULL) AS dti,
         |  if(id = 1, make_ym_interval(1, 2), NULL) AS ymi
         |FROM parquet.`$path` ORDER BY id NULLS LAST""".stripMargin
    try {
      val served = ex.run(sql)
      val collected = ex.select(sql).collect().map(_.toSeq).toSeq
      assert(served.rows.size == 2 && served.rows(1).forall(_ == null), served.rows)
      assert(served.rows.map(_.map(byValue)) == collected.map(_.map(byValue)))
      assert(renderings(served) ==
        renderings(QueryResult(served.columns, collected)))
    } finally {
      ex.close()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("FROM-less corpus statements answer as their executed plans do") {
    // perfbench's corpus pins every statement's outcome on the served
    // path; its FROM-less `exact` ones are compared here with the same
    // text planned without ConvertToLocalRelation, which runs the
    // projection in a Spark task as an executed plan would
    import scala.jdk.CollectionConverters._
    TableEnv.register(spark, sf)
    val corpus = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/corpus.json"))
      .get("statements").elements.asScala.toSeq
    val fromless = corpus.filter(s =>
      s.get("expect").asText == "rows" && s.get("check").asText == "exact" &&
        "(?i)\\bFROM\\b".r.findFirstIn(s.get("sql").asText).isEmpty)
      .map(s => s.get("label").asText -> s.get("sql").asText)
    assert(fromless.size == 254)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sc = spark.sparkContext
    def answers = fromless.map { case (label, sql) =>
      sc.addJobTag(s"corpus-$label")
      try ex.runSafe(sql).map(_.toJson) finally sc.removeJobTag(s"corpus-$label")
    }
    val rule = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(rule)
    try {
      val (local, jobs) = jobTags(answers)
      spark.conf.set(rule,
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val executed = answers
      val differ = fromless.map(_._1).zip(local.toTry.get.zip(executed))
        .filter { case (_, (a, b)) => a != b }
      assert(differ.isEmpty, differ.mkString("\n"))
      assert(local.toTry.get.forall(_.isRight), local)
      // only arrayJoin's generator runs as a job
      val withJobs = jobs.flatten.filter(_.startsWith("corpus-")).distinct
      assert(withJobs.sorted == Seq(
        "corpus-w19_scalar_range", "corpus-w50_fromless_generators"), withJobs)
    } finally {
      prev.fold(spark.conf.unset(rule))(spark.conf.set(rule, _))
      ex.close()
    }
  }

  test("every row-returning corpus statement answers alike served, collected and unrewritten") {
    // each answer five ways: QueryExecutor.run; the same text run twice
    // more through the same executor, which answers from the first
    // run's stored result when ResultCache admitted it, or plans it
    // afresh; Dataset.collect of a fresh frame; and the same analyzed plan
    // without the one-split Repartition(1) nodes, which plans its
    // exchanges as Spark would. Row order is compared where one plan
    // shape produced both answers.
    // One statement's ORDER BY ... LIMIT cuts through a tie at this
    // scale (two groups of 111 orders compete for the third row), so
    // either plan's row is right; only its shape is compared.
    // No statement pinned to its shape only (random, clock, EXPLAIN or
    // live ops table) is ever answered from a stored result.
    val tieCut = Set("w30_group_by_all")
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    TableEnv.register(spark, sf)
    val corpus = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/corpus.json"))
      .get("statements").elements.asScala.toSeq
      .filter(_.get("expect").asText == "rows")
    assert(corpus.size == 449)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val cap = QueryExecutor.DefaultMaxRows
    def collect(df: org.apache.spark.sql.DataFrame): QueryResult = {
      val rows = df.limit(cap + 1).collect().map(_.toSeq).toSeq
      QueryResult(df.columns.toSeq, rows.take(cap), truncated = rows.size > cap)
    }
    def unordered(r: QueryResult): (Seq[String], Seq[String]) =
      (r.columns, r.rows.map(row => QueryResult(r.columns, Seq(row)).toJson).sorted)
    var rewritten = 0
    var answered = 0
    try {
      val differ = corpus.flatMap { st =>
        val (label, sql) = (st.get("label").asText, st.get("sql").asText)
        val exact = st.get("check").asText == "exact"
        val served = ex.run(sql)
        val stored = ex.answered.contains(sql)
        if (stored) answered += 1
        val again = ex.run(sql)
        val third = ex.run(sql)
        val df = ex.select(sql)
        val stripped = df.queryExecution.analyzed.transformUp {
          case Repartition(1, false, l: LogicalRelation) => l
        }
        if (stripped != df.queryExecution.analyzed) rewritten += 1
        val answers = Seq(served, collect(df),
          collect(graft.plans.Bridge.ofRows(spark, stripped)), again, third)
        def same(a: QueryResult, b: QueryResult, ordered: Boolean) =
          if (!exact || (!ordered && tieCut(label)))
            a.columns == b.columns && a.rows.size == b.rows.size
          else if (ordered) a.toJson == b.toJson
          else unordered(a) == unordered(b)
        Seq(
          s"$label: run vs collect" -> same(answers(0), answers(1), ordered = true),
          s"$label: run vs unrewritten plan" -> same(answers(0), answers(2), ordered = false),
          s"$label: second run vs collect" -> same(answers(3), answers(1), ordered = true),
          s"$label: third run vs collect" -> same(answers(4), answers(1), ordered = true),
          s"$label: stored, though pinned to its shape" -> (exact || !stored))
          .collect { case (what, false) => what }
      }
      assert(differ.isEmpty, differ.mkString("\n"))
      assert(rewritten > 100, s"$rewritten statements read a one-split table")
      assert(answered > 300, s"$answered statements answer from a stored result")
    } finally ex.close()
  }

  test("every refused or guided-error corpus statement fails with its pinned message") {
    import scala.jdk.CollectionConverters._
    TableEnv.register(spark, sf)
    val corpus = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/corpus.json"))
      .get("statements").elements.asScala.toSeq
      .filter(_.get("expect").asText != "rows")
    assert(corpus.count(_.get("expect").asText == "refused") == 18)
    assert(corpus.count(_.get("expect").asText == "error") == 2)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      val differ = corpus.flatMap { st =>
        val (label, sql) = (st.get("label").asText, st.get("sql").asText)
        val message = st.get("message").asText
        // a refusal names the statement's kind after the pinned words
        def pinned(m: String) =
          if (st.get("expect").asText == "refused") m.startsWith(message)
          else m.contains(message)
        // sent twice: a failure is never stored
        Seq(ex.runSafe(sql), ex.runSafe(sql))
          .collect { case out if !out.left.exists(pinned) => s"$label: $out" }
      }
      assert(differ.isEmpty, differ.mkString("\n"))
      assert(ex.answered.isEmpty)
    } finally ex.close()
  }

  test("driver-evaluated FROM-less SELECTs keep CH's semantics, subqueries and EXPLAIN") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      // literal integral overflow wraps (WrapArith runs before the
      // driver folds the projection)
      assert(ex.run("SELECT 9223372036854775807 + 1 AS x").rows ==
        Seq(Seq(Long.MinValue)))
      // a scalar subquery over a table, and a correlated one over a
      // FROM-less select, which Spark inlines
      val n = ex.run("SELECT count(*) AS n FROM orders").rows.head.head
      assert(ex.run("SELECT (SELECT count(*) FROM orders) AS n, 1 + 1 AS two")
        .rows == Seq(Seq(n, 2)))
      assert(ex.run(
        """SELECT o_orderkey + 1 = (SELECT o_orderkey + 1) AS same
          |FROM orders LIMIT 3""".stripMargin).rows == Seq.fill(3)(Seq(true)))
      val plan = ex.explain("SELECT 1 + 2 AS x")
      assert(plan.contains("LocalTableScan") && !plan.contains("OneRowRelation"), plan)
    } finally ex.close()
  }

  test("the deadline still fails a slow driver-evaluated FROM-less SELECT") {
    val ex = new QueryExecutor(spark, timeoutSec = 1)
    try {
      // 64M interpreted lambda calls (36M took 2 s on a 4-core x86 VM)
      // and no table: evaluated on the driver while the plan is
      // optimized, where no job can be cancelled
      val t0 = System.nanoTime
      val (out, jobs) = jobTags(ex.run(
        """SELECT aggregate(sequence(1, 8000), 0L,
          |  (a, x) -> a + aggregate(sequence(1, 8000), 0L, (b, y) -> b + y)) AS s
          |""".stripMargin))
      val ms = (System.nanoTime - t0) / 1000000
      assert(out.left.toOption.exists(_.isInstanceOf[TimeoutException]), s"$ms ms: $out")
      assert(out.left.toOption.get.getMessage == "Query timed out after 1 seconds")
      assert(jobs.isEmpty, jobs)
    } finally ex.close()
  }

  test("per-planning literals redraw on every run, and no command, EXPLAIN, SHOW or EXISTS is reused") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      for (sql <- Seq("SELECT randConstant() AS r", "SELECT queryID() AS q",
          "SELECT initialQueryID() AS q", "SELECT uptime() AS u")) {
        val first = ex.run(sql)
        if (sql.contains("uptime")) Thread.sleep(1100)
        assert(ex.run(sql).rows != first.rows, sql)
        assert(!ex.answered.contains(sql), sql)
      }
      // statements answered while they are planned are not reused either
      for (sql <- Seq("EXPLAIN SELECT count() FROM orders", "SHOW TABLES",
          "SHOW CREATE TABLE orders", "DESCRIBE orders", "EXISTS orders")) {
        ex.run(sql)
        assert(!ex.answered.contains(sql), sql)
      }
      assert(ex.answered.isEmpty)
    } finally ex.close()
  }

  test("a reused plan sees a re-registered view and a changed setting on the next call") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT count() AS n, sum(o_totalprice) AS s FROM orders"
    val bound = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(bound)
    def tagged(body: => QueryResult): (QueryResult, Int) = {
      val (out, jobs) = jobTags(body)
      (out.toTry.get, jobs.count(_.exists(_.startsWith("graft-query-"))))
    }
    try {
      val first = ex.run(sql)
      assert(ex.answered == Seq(sql))
      assert(ex.run(sql) == first)
      spark.range(0, 7).selectExpr("id AS o_orderkey", "CAST(id AS DOUBLE) AS o_totalprice")
        .createOrReplaceTempView("orders")
      assert(ex.run(sql).rows == Seq(Seq(7L, 21.0)))
      graft.Tables(spark, sf, "orders").createOrReplaceTempView("orders")
      assert(ex.run(sql) == first)
      // a hit answers from the stored result: no job
      assert(tagged(ex.run(sql)) == (first, 0))
      // above the one-split bound the next call plans an exchange: an
      // adaptive map stage and a result stage
      spark.conf.set(bound, "1")
      assert(tagged(ex.run(sql)) == (first, 2))
      assert(ex.answered.count(_ == sql) == 2)
    } finally {
      prev.fold(spark.conf.unset(bound))(spark.conf.set(bound, _))
      graft.Tables(spark, sf, "orders").createOrReplaceTempView("orders")
      ex.close()
    }
  }

  test("four threads sending one text get the right rows") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val sql = "SELECT o_orderstatus, count() AS n, sum(o_totalprice) AS s " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    try {
      val want = ex.select(sql).collect().map(_.toSeq).toSeq
      val runs = (1 to 40).map(_ => pool.submit(() => ex.run(sql)))
      assert(runs.forall(_.get.rows == want))
      assert(ex.answered == Seq(sql))
    } finally { pool.shutdown(); ex.close() }
  }

  test("a view over an RDD is planned and tagged afresh on every call") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    // no fingerprint sees an RDD's input, so no result is stored
    val orders = spark.table("orders")
    spark.createDataFrame(orders.rdd, orders.schema).createOrReplaceTempView("orders_rdd")
    val sql = "SELECT o_orderstatus, count() AS n FROM orders_rdd " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    try {
      val want = ex.select(sql).collect().map(_.toSeq).toSeq
      val calls = (1 to 3).map { _ =>
        val (out, jobs) = jobTags(ex.run(sql))
        assert(out.toTry.get.rows == want)
        jobs.flatMap(_.filter(_.startsWith("graft-query-")))
      }
      // each call runs the whole plan, its exchange's map stage
      // included, under one tag of its own
      assert(calls.forall(tags => tags.size == calls.head.size && tags.distinct.size == 1), calls)
      assert(calls.head.size >= 2 && calls.map(_.head).distinct.size == 3, calls)
      assert(ex.answered.isEmpty)
    } finally { ex.close(); spark.catalog.dropTempView("orders_rdd") }
  }

  /** Write `df` as the one parquet file `f`, replacing it. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, f: java.io.File): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_write").toFile
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/o")
    val part = new java.io.File(out, "o").listFiles.find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(out)
  }

  /** Rows 0 until `n` of (k = id % 3, v = id). */
  private def rows(n: Int) = spark.range(0, n).selectExpr("id % 3 AS k", "id AS v")

  test("a stored result answers with no job and no compile until a file it read changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stored").toFile
    val (a, b) = (new java.io.File(dir, "a.parquet"), new java.io.File(dir, "b.parquet"))
    writeFile(rows(5), a)
    writeFile(rows(4), b)
    // two files: the aggregate keeps its exchange, so a re-run plan
    // would read its map stage's output from the first run
    spark.read.parquet(dir.getPath).createOrReplaceTempView("stored_t")
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT k, count() AS n, sum(v) AS s FROM stored_t GROUP BY k ORDER BY k"
    def fresh = ex.select(sql).collect().map(_.toSeq).toSeq
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    try {
      assert(exchanges(ex.select(sql)).nonEmpty)
      val first = ex.run(sql)
      assert(first.rows == fresh)
      assert(ex.answered == Seq(sql))
      val (out, jobs) = jobTags {
        val before = compiles.getCount
        (ex.run(sql), compiles.getCount - before)
      }
      assert(out.toTry.get == (first, 0))
      assert(!jobs.exists(_.exists(_.startsWith("graft-query-"))), jobs)
      writeFile(rows(7), a)
      val rewritten = ex.run(sql)
      assert(rewritten.rows == fresh)
      assert(rewritten.rows == Seq(Seq(0L, 5L, 12L), Seq(1L, 3L, 6L), Seq(2L, 3L, 9L)))
      assert(ex.answered == Seq(sql))
      assert(a.delete())
      val want = intercept[Exception](fresh).getMessage
      assert(want.contains("FILE_NOT_EXIST"), want)
      assert(intercept[Exception](ex.run(sql)).getMessage == want)
      assert(ex.answered.isEmpty)
    } finally {
      ex.close(); spark.catalog.dropTempView("stored_t")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a file read only through a subquery is fingerprinted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stored").toFile
    val f = new java.io.File(dir, "t.parquet")
    writeFile(rows(5), f)
    spark.read.parquet(f.getPath).createOrReplaceTempView("stored_sub")
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT (SELECT sum(v) FROM stored_sub) AS s, 1 AS one"
    try {
      // Dataset.inputFiles does not look inside subquery expressions
      assert(ex.select(sql).inputFiles.isEmpty)
      assert(ex.run(sql).rows == Seq(Seq(10L, 1)))
      assert(ex.answered == Seq(sql))
      writeFile(rows(7), f)
      assert(ex.run(sql).rows == Seq(Seq(21L, 1)))
    } finally {
      ex.close(); spark.catalog.dropTempView("stored_sub")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a view over a file rewritten in place with more rows reads all of them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stored").toFile
    val f = new java.io.File(dir, "t.parquet")
    writeFile(rows(5), f)
    spark.read.parquet(f.getPath).createOrReplaceTempView("stored_grown")
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT count() AS n, sum(v) AS s FROM stored_grown"
    try {
      assert(ex.run(sql).rows == Seq(Seq(5L, 10L)))
      // the view's listing still holds the 5-row length: read with it,
      // the one row group's midpoint lies past the end and no row is read
      writeFile(rows(50000), f)
      for (call <- 1 to 3)
        assert(ex.run(sql).rows == Seq(Seq(50000L, 49999L * 50000 / 2)), s"call $call")
      assert(ex.answered == Seq(sql))
    } finally {
      ex.close(); spark.catalog.dropTempView("stored_grown")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a view over a JDBC table answers a row inserted since the last call") {
    val url = "jdbc:derby:memory:graftjdbcview;create=true"
    def update(sql: String): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try { val st = conn.createStatement(); st.execute(sql); st.close() }
      finally conn.close()
    }
    update("CREATE TABLE view_t (g INT, v INT)")
    update("INSERT INTO view_t VALUES " + (0 until 10).map(i => s"(${i % 3}, $i)").mkString(", "))
    graft.sources.Jdbc.read(spark, url, "view_t").createOrReplaceTempView("jdbc_v")
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sqls = Seq("SELECT g, count(*) AS n, sum(v) AS s FROM jdbc_v GROUP BY g ORDER BY g",
      "SELECT count(*) AS n FROM jdbc_v")
    def fresh(sql: String) = ex.select(sql).collect().map(_.toSeq).toSeq
    try {
      val before = sqls.map(ex.run(_).rows)
      assert(before == sqls.map(fresh))
      assert(before(1) == Seq(Seq(10L)))
      update("INSERT INTO view_t VALUES (3, 10)")
      val after = sqls.map(ex.run(_).rows)
      assert(after == sqls.map(fresh))
      assert(after(1) == Seq(Seq(11L)) && after(0).size == 4, after)
      assert(ex.answered.isEmpty)
    } finally {
      ex.close(); spark.catalog.dropTempView("jdbc_v")
      update("DROP TABLE view_t")
    }
  }

  test("after one warm send, four threads sending one text start no job") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val sql = "SELECT o_orderpriority, count() AS n, max(o_totalprice) AS m " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    try {
      val want = ex.run(sql)
      val (out, jobs) = jobTags(
        (1 to 4 * 40).map(_ => pool.submit(() => ex.run(sql))).map(_.get))
      assert(out.toTry.get.forall(_ == want))
      assert(!jobs.exists(_.exists(_.startsWith("graft-query-"))), jobs)
      assert(ex.answered == Seq(sql))
    } finally { pool.shutdown(); ex.close() }
  }

  test("a result above the entry bound is not stored: its repeat runs a job") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    val sql = "SELECT * FROM lineitem"
    try {
      val first = ex.run(sql)
      assert(org.apache.spark.util.SizeEstimator.estimate(first) > ResultCache.MaxEntryBytes)
      assert(ex.answered.isEmpty)
      val (out, jobs) = jobTags(ex.run(sql))
      assert(out.toTry.get == first)
      assert(jobs.count(_.exists(_.startsWith("graft-query-"))) == 1, jobs)
    } finally ex.close()
  }

  test("live ops tables, random and clock reads are never answered from a stored result") {
    TableEnv.register(spark, sf)
    val ex = new QueryExecutor(spark, timeoutSec = 60)
    try {
      for (sql <- Seq("SELECT count() AS n FROM system.processes",
          "SELECT rand() AS r FROM orders LIMIT 3", "SELECT now() AS t")) {
        val first = ex.run(sql)
        if (sql.contains("now")) Thread.sleep(5)
        val again = ex.run(sql)
        if (!sql.contains("processes")) assert(again.rows != first.rows, sql)
        assert(!ex.answered.contains(sql), sql)
      }
    } finally ex.close()
  }
}
