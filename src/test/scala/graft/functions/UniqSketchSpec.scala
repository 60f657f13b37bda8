package graft.functions

import graft.SparkSpec
import graft.sql.TableEnv

/** Properties of the one distinct-count sketch behind every `uniq*`
  * (DataSketches HLL, lgK 14): per key type and cardinality, `uniq(x)`
  * does not depend on the input's partitioning, equals
  * `uniqMerge(uniqState(x))` over any grouping of the rows, and lands
  * within 3 relative standard errors of `uniqExact(x)`; `uniqCombined`
  * does so at its own lgK. Also the property checks of the oracle-less
  * driver queries that read a sketch. */
class UniqSketchSpec extends SparkSpec {

  /** DataSketches HLL's relative standard error at lgK. */
  private def rse(lgK: Int): Double = 1.04 / math.sqrt(math.pow(2.0, lgK))

  private def within3Rse(est: Long, exact: Long, lgK: Int, what: String): Unit =
    assert(math.abs(est - exact) <= 3 * rse(lgK) * exact,
      s"$what: estimate $est vs exact $exact (3 RSE at lgK $lgK)")

  /** name → (column expressions over a BIGINT `v`, distinct values
    * the type can hold). SMALLINT holds 65,536 values, so its largest
    * cardinality is the whole domain. STRING and BINARY map v = 0 to
    * the empty value, which CH counts as one. */
  private val types: Seq[(String, Seq[String], Long)] = Seq(
    ("INT", Seq("CAST(v AS INT)"), Long.MaxValue),
    ("BIGINT", Seq("v * 1000003"), Long.MaxValue),
    ("SMALLINT", Seq("CAST(v - 32768 AS SMALLINT)"), 65536L),
    ("DOUBLE", Seq("v * 0.5D + 0.25D"), Long.MaxValue),
    ("DECIMAL", Seq("CAST(v AS DECIMAL(18, 2)) / 100"), Long.MaxValue),
    ("DATE", Seq("date_add(DATE'1970-01-01', CAST(v AS INT))"), Long.MaxValue),
    ("STRING", Seq("IF(v = 0, '', concat('k', v))"), Long.MaxValue),
    ("BINARY", Seq("CAST(IF(v = 0, '', concat('b', v)) AS BINARY)"), Long.MaxValue),
    ("TUPLE", Seq("CAST(v % 1000 AS INT)", "concat('s', v DIV 1000)"), Long.MaxValue))

  private val cardinalities = Seq(0L, 1L, 100L, 3000L, 300000L)

  test("uniq is partition-independent, equals uniqMerge(uniqState) and is within 3 RSE") {
    CHFunctions.register(spark)
    for ((name, cols, domain) <- types; card0 <- cardinalities) {
      val card = math.min(card0, domain)
      val args = cols.indices.map(i => s"x$i").mkString(", ")
      // every value twice, in `parts` input partitions, plus one row
      // whose first column is NULL: skipped, as by uniqExact, also as
      // a tuple member; g groups the rows 7 ways for the state/merge
      // round trip
      def view(parts: Int): String = {
        val v = s"t_uniq_$parts"
        val xs = cols.zipWithIndex.map {
          case (c, 0) => s"IF(id = ${2 * card}, NULL, $c) AS x0"
          case (c, i) => s"$c AS x$i"
        }
        spark.sql(
          s"""SELECT ${xs.mkString(", ")}, id % 7 AS g
             |FROM (SELECT id, id % ${math.max(card, 1L)} AS v
             |      FROM range(0, ${2 * card + 1}, 1, $parts))""".stripMargin)
          .createOrReplaceTempView(v)
        v
      }
      val what = s"$name x $card"
      def one(sql: String) = spark.sql(sql).collect().head
      val r1 = one(s"SELECT uniq($args) FROM ${view(1)}")
      val t16 = view(16)
      val r16 = one(
        s"SELECT uniq($args), uniqExact($args), uniqCombined(17, $args) FROM $t16")
      val merged = one(
        s"SELECT uniqMerge(s) FROM (SELECT g, uniqState($args) AS s FROM $t16 GROUP BY g)")
      val (u, exact) = (r16.getLong(0), r16.getLong(1))
      assert(exact == card, what)
      assert(r1.getLong(0) == u, s"$what: 1 vs 16 partitions")
      assert(merged.getLong(0) == u, s"$what: uniqMerge(uniqState) vs uniq")
      within3Rse(u, exact, 14, s"$what uniq")
      within3Rse(r16.getLong(2), exact, 17, s"$what uniqCombined(17)")
    }
  }

  test("the oracle-less sketch queries land within 3 RSE of the exact count") {
    TableEnv.register(spark, sf)
    def run(q: String) = graft.SparkEntry.queries(q)(spark, sf).collect()
    val exact = spark.sql("SELECT uniqExact(o_custkey) FROM orders").collect().head.getLong(0)
    within3Rse(run("q_ch_sketches").head.getAs[Long]("approx_cust"), exact, 14, "q_ch_sketches")
    // Spark's own approx_count_distinct at its default rsd 0.05
    val approx = run("q_uniq").head.getAs[Long]("approx_cust")
    assert(math.abs(approx - exact) <= 3 * 0.05 * exact, s"q_uniq: $approx vs $exact")
    val perPriority = spark.sql(
      """SELECT o_orderpriority, uniqExact(o_custkey) FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rollup = run("q_sketch_rollup")
    assert(rollup.map(_.getString(0)).toSet == perPriority.keySet)
    rollup.foreach { r =>
      within3Rse(r.getAs[Long]("cust_merged"), perPriority(r.getString(0)), 14,
        s"q_sketch_rollup ${r.getString(0)}")
    }
  }
}
