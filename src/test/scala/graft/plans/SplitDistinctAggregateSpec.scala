package graft.plans

import graft.SparkSpec
import graft.sql.{QueryGuard, TableEnv}

/** Pins [[SplitDistinctAggregate]] (r21): an Aggregate mixing DISTINCT
  * aggregates with heavy-buffered regular aggregates (string min/max,
  * quantileExact — TypedImperativeAggregates) splits into two
  * aggregates joined on the grouping keys, and the split is
  * result-identical to Spark's unsplit execution of the same SQL. */
class SplitDistinctAggregateSpec extends SparkSpec {

  private def rows(sql: String): Seq[String] = {
    TableEnv.register(spark, sf)
    QueryGuard.plan(spark, sql).collect().map(_.toString).toSeq
  }

  /** The same statement through plain spark.sql — parsed and planned
    * by Spark alone, so the aggregate is NOT split. */
  private def unsplit(sql: String): Seq[String] = {
    TableEnv.register(spark, sf)
    graft.functions.CHFunctions.register(spark)
    spark.sql(sql).collect().map(_.toString).toSeq
  }

  test("grouped distinct + string min/max: split matches unsplit") {
    val q = """SELECT o_orderpriority, count(DISTINCT o_custkey) AS nc,
              |  min(o_orderstatus) AS mn, max(o_orderpriority) AS mx,
              |  count(*) AS n
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin
    assert(rows(q) == unsplit(q))
  }

  test("grouped distinct + uniq sketches: split matches unsplit") {
    // the uniq sketch is a TypedImperativeAggregate, so it splits off
    // count(DISTINCT); its estimate must not depend on the plan shape
    val q = """SELECT o_orderpriority, count(DISTINCT o_custkey) AS nc,
              |  uniq(o_orderstatus) AS us, uniq(o_custkey, o_orderstatus) AS ut,
              |  uniq(o_totalprice) AS up
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin
    val plan = QueryGuard.plan(spark, q).queryExecution.executedPlan.toString()
    assert(plan.contains("Join"), plan.take(800))
    assert(rows(q) == unsplit(q))
  }

  test("global aggregate: cross join of the two one-row sides") {
    val q = """SELECT count(DISTINCT o_custkey) AS nc,
              |  min(o_orderstatus) AS mn, sum(o_orderkey) AS s
              |FROM orders""".stripMargin
    assert(rows(q) == unsplit(q))
  }

  test("global aggregate over empty input still returns one row") {
    val q = """SELECT count(DISTINCT o_custkey) AS nc,
              |  min(o_orderstatus) AS mn, count(*) AS n
              |FROM orders WHERE o_orderkey < 0""".stripMargin
    val got = rows(q)
    assert(got == unsplit(q))
    assert(got.size == 1)
    assert(got.head == "[0,null,0]")
  }

  test("null grouping keys pair through null-safe equality") {
    val q = """SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
              |            ELSE o_orderpriority END AS g,
              |  count(DISTINCT o_custkey) AS nc, min(o_orderpriority) AS mn
              |FROM orders GROUP BY 1 ORDER BY g NULLS FIRST""".stripMargin
    assert(rows(q) == unsplit(q))
  }

  test("split fires: mixed aggregate plans a join and no sort aggregate") {
    TableEnv.register(spark, sf)
    val df = QueryGuard.plan(spark,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS nc,
        |  min(o_orderpriority) AS mn
        |FROM orders GROUP BY o_orderpriority""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Join"), plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("rollup / grouping sets keep the unsplit single-aggregate shape") {
    val q = """SELECT o_orderpriority, count(DISTINCT o_custkey) AS nc,
              |  min(o_orderstatus) AS mn
              |FROM orders GROUP BY ROLLUP(o_orderpriority)
              |ORDER BY o_orderpriority NULLS FIRST""".stripMargin
    TableEnv.register(spark, sf)
    val df = QueryGuard.plan(spark, q)
    assert(!df.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"))
    assert(rows(q) == unsplit(q))
  }

  test("distinct-only and light-regular aggregates are left alone") {
    TableEnv.register(spark, sf)
    val df = QueryGuard.plan(spark,
      """SELECT count(DISTINCT o_custkey) AS nc, sum(o_orderkey) AS s
        |FROM orders""".stripMargin)
    // all-fixed-width buffers: no reason to split, no join in the plan
    assert(!df.queryExecution.executedPlan.toString().contains("Join"))
  }
}
