package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Round-20 optimization internals: the typed-imperative string
  * min/max/max_by paths, the plan-time CreateArray-subscript fold, the
  * SampleAgg hot-path rewrite, and tokenSetCount — each pinned against
  * the formulation it replaced. */
class OptR20Spec extends SparkSpec {

  private lazy val s = { CHFunctions.register(spark); spark }

  // ---- TypedMinMax: min/max over strings, hash-aggregated ----

  test("string min/max match the sort-derived truth, per group and global") {
    val rows = s.sql(
      """SELECT v % 3 AS g, min(x) AS mn, max(x) AS mx FROM (
        |  SELECT id AS v, concat('s', cast((id * 37) % 101 AS STRING)) AS x
        |  FROM range(0, 500)) GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    val data = (0L until 500L).map(id => (id % 3, s"s${(id * 37) % 101}"))
    rows.foreach { r =>
      val g = r.getLong(0)
      val vs = data.filter(_._1 == g).map(_._2)
      assert(r.getString(1) == vs.min, s"group $g min")
      assert(r.getString(2) == vs.max, s"group $g max")
    }
  }

  test("string min/max: all-NULL group is NULL, plans ObjectHashAggregate") {
    val df = s.sql(
      "SELECT min(cast(NULL AS STRING)) AS mn, max(cast(NULL AS STRING)) AS mx FROM range(0, 10)")
    assert(df.collect().head == Row(null, null))
    val df2 = s.sql("SELECT min(cast(id AS STRING)) FROM range(0, 10)")
    val phys = df2.queryExecution.executedPlan.toString
    assert(phys.contains("ObjectHashAggregate"), s"want hash-based plan, got:\n$phys")
    assert(!phys.contains("SortAggregate"), "string min must not demote to SortAggregate")
  }

  test("non-string min/max still resolve to the builtin (HashAggregate, same values)") {
    val r = s.sql("SELECT min(id), max(id) FROM range(3, 17)").collect().head
    assert(r == Row(3L, 16L))
    val phys = s.sql("SELECT min(id) FROM range(0, 10)")
      .queryExecution.executedPlan.toString
    assert(phys.contains("HashAggregate") && !phys.contains("ObjectHashAggregate"))
  }

  // ---- TypedMinMax: max_by/min_by with a string value ----

  test("string max_by/min_by match the builtin on unique orderings") {
    val q =
      """SELECT v % 5 AS g,
        |  max_by(concat('n', cast(v AS STRING)), v * 7 % 997) AS top,
        |  min_by(concat('n', cast(v AS STRING)), v * 7 % 997) AS bot
        |FROM (SELECT id AS v FROM range(0, 400)) GROUP BY 1 ORDER BY 1""".stripMargin
    val got = s.sql(q).collect()
    val data = (0L until 400L).map(v => (v % 5, s"n$v", v * 7 % 997))
    got.foreach { r =>
      val g = r.getLong(0)
      val vs = data.filter(_._1 == g)
      assert(r.getString(1) == vs.maxBy(_._3)._2, s"group $g max_by")
      assert(r.getString(2) == vs.minBy(_._3)._2, s"group $g min_by")
    }
  }

  test("string max_by skips NULL orderings; NULL value at the max survives") {
    val r = s.sql(
      """SELECT max_by(x, o) FROM VALUES
        |  ('a', 1), ('b', CAST(NULL AS INT)), (CAST(NULL AS STRING), 5), ('c', 3)
        |AS t(x, o)""".stripMargin).collect().head
    assert(r == Row(null)) // ordering 5 wins and its value IS null
    val r2 = s.sql(
      """SELECT max_by(x, o) FROM VALUES
        |  ('a', CAST(NULL AS INT)), ('b', CAST(NULL AS INT)) AS t(x, o)""".stripMargin)
      .collect().head
    assert(r2 == Row(null)) // no non-null ordering at all
  }

  test("string max_by over a double ordering plans ObjectHashAggregate") {
    val df = s.sql(
      "SELECT max_by(cast(id AS STRING), cast(id AS DOUBLE)) FROM range(0, 100)")
    assert(df.collect().head == Row("99"))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("ObjectHashAggregate") && !phys.contains("SortAggregate"))
  }

  // ---- ChSubscript plan-time fold over CreateArray ----

  test("literal-array subscripts fold at plan time with CH semantics intact") {
    val r = graft.sql.QueryGuard.plan(s,
      """SELECT [10, 20, 30][2] AS a, [10, 20, 30][-1] AS b,
        |  [10, 20, 30][0] AS c, [10, 20, 30][7] AS d,
        |  [[1.0, 2.0],[3.0, 4.0]][2][1] AS m""".stripMargin).collect().head
    assert(r == Row(20, 30, 0, 0, 3.0))
  }

  test("matrix-aggregate cell access prunes the array and compiles") {
    val df = graft.sql.QueryGuard.plan(s,
      "SELECT round(corrMatrix(toFloat64(id % 7), toFloat64(id % 5))[1][2], 6) AS c FROM range(0, 1000)")
    val phys = df.queryExecution.executedPlan.toString
    // the fold prunes the matrix: no array construction survives
    assert(!phys.toLowerCase.contains("createarray") &&
      !phys.toLowerCase.contains("create_array"),
      s"matrix array must fold away, got:\n$phys")
    val v = df.collect().head.getDouble(0)
    val exp = {
      val xs = (0L until 1000L).map(i => (i % 7).toDouble)
      val ys = (0L until 1000L).map(i => (i % 5).toDouble)
      val n = xs.size
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sx = math.sqrt(xs.map(a => (a - mx) * (a - mx)).sum)
      val sy = math.sqrt(ys.map(b => (b - my) * (b - my)).sum)
      BigDecimal(cov / (sx * sy)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(math.abs(v - exp) < 1e-6)
  }

  // ---- SampleAgg hot path ----

  test("groupArraySample still selects the exact bottom-k by (md5, value)") {
    val got = s.sql(
      """SELECT groupArraySample(v, 7) FROM
        |  (SELECT (id * 131) % 10000 AS v FROM range(0, 300))""".stripMargin)
      .collect().head.getSeq[Long](0)
    val vals = (0L until 300L).map(id => (id * 131) % 10000)
    val exp = vals.map(v => (SampleAgg.md5Hex(v.toString), v))
      .sorted.take(7).map(_._2).sorted
    assert(got.sorted == exp)
  }

  test("md5Hex matches the JDK reference rendering") {
    for (x <- Seq("", "0", "12345", "-7", "hello world")) {
      val ref = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(SampleAgg.md5Hex(x) == ref, s"md5Hex($x)")
    }
  }

  // ---- wordShingles / rollingMd5 ----

  test("wordShingles equals the transform/slice/concat_ws formulation") {
    val rows = s.sql(
      """SELECT wordShingles(split(t, ' '), 3) AS fast,
        |  transform(sequence(1, greatest(size(split(t, ' ')) - 2, 1)),
        |            i -> concat_ws(' ', slice(split(t, ' '), i, 3))) AS slow,
        |  wordShingles(split(t, ' '), 8) AS fast8,
        |  transform(sequence(1, greatest(size(split(t, ' ')) - 7, 1)),
        |            i -> concat_ws(' ', slice(split(t, ' '), i, 8))) AS slow8
        |FROM VALUES ('a b c d e f g h i j'), ('one two'), ('solo'), ('')
        |AS v(t)""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=3: $r")
      assert(r.getSeq[String](2) == r.getSeq[String](3), s"n=8: $r")
    }
  }

  test("rollingMd5 equals the aggregate-fold formulation") {
    val rows = s.sql(
      """SELECT rollingMd5(split(t, ' ')) AS fast,
        |  aggregate(split(t, ' '), '', (h, x) -> md5(concat(h, x))) AS slow
        |FROM VALUES ('the quick brown fox'), ('solo'), ('')
        |AS v(t)""".stripMargin).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  // ---- tokenSetCount ----

  test("tokenSetCount equals the filter+IN formulation it replaced") {
    val rows = s.sql(
      """SELECT tokenSetCount(split(t, ' '), 'the,a,of,and,is') AS fast,
        |  size(filter(split(t, ' '), x -> x IN ('the','a','of','and','is'))) AS slow
        |FROM VALUES ('the cat is a cat'), ('and and and'), (''), ('nothing here')
        |AS v(t)""".stripMargin).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    val nul = s.sql(
      "SELECT tokenSetCount(cast(NULL AS ARRAY<STRING>), 'a')").collect().head
    assert(nul == Row(null))
  }
}
