package graft.functions

import graft.SparkSpec

class CHFunctionsSpec extends SparkSpec {

  private def one(sql: String) = {
    CHFunctions.register(spark)
    spark.sql(sql).collect().head
  }

  test("uniq is within CH-parity HLL error of uniqExact") {
    graft.sql.TableEnv.register(spark, sf)
    // one HLL sketch at lgK 14, RSE ≈ 0.8% (CH's uniq/uniqHLL12 land
    // ~0.5-2% practical error; Spark's 5% default showed 1400 vs 1500
    // in round 13)
    val r = one(
      """SELECT uniq(o_custkey), uniqExact(o_custkey),
        |  uniqCombined(17, o_custkey), uniqHLL12(o_custkey)
        |FROM orders""".stripMargin)
    val exact = r.getLong(1).toDouble
    Seq(0, 2, 3).foreach { i =>
      assert(math.abs(r.getLong(i) - exact) / exact < 0.015,
        s"col $i: ${r.getLong(i)} vs exact $exact")
    }
  }

  test("uniqOrNull and uniqOrDefault estimate exactly as uniq does") {
    // all three read the one uniq sketch; Spark's approx_count_distinct
    // at its default rsd 0.05 read a different count for the same
    // 1000-distinct column
    CHFunctions.register(spark)
    def guarded(sql: String) =
      graft.sql.QueryGuard.plan(spark, sql).collect().head
    val r = guarded(
      """SELECT uniq(k), uniqOrDefault(k), uniqOrNull(k)
        |FROM (SELECT number % 1000 AS k FROM numbers(5000))""".stripMargin)
    assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == r.getLong(0), r)
    val empty = guarded(
      "SELECT uniqOrNull(number), uniqOrDefault(number) FROM numbers(0)")
    assert(empty.isNullAt(0) && empty.getLong(1) == 0L, empty)
    // '' is a value, as in CH; the sketch itself skips an empty string
    val blank = guarded(
      "SELECT uniq(s), uniqOrNull(NULLIF(s, 'a')) FROM VALUES (''), ('a') t(s)")
    assert(blank.getLong(0) == 2L && blank.getLong(1) == 1L, blank)
  }

  test("conditional aggregates") {
    val r = one(
      """SELECT countIf(x > 2), sumIf(x, x % 2 = 0), avgIf(x, x > 1),
        |  minIf(x, x > 1), maxIf(x, x < 3)
        |FROM VALUES (1), (2), (3), (4) t(x)""".stripMargin)
    def n(i: Int) = r.get(i).toString.toDouble
    assert(n(0) == 2 && n(1) == 6 && n(2) == 3.0 && n(3) == 2 && n(4) == 2)
  }

  test("argMax / argMin / any / groupArray") {
    val r = one(
      """SELECT argMaxCH(name, score), argMinCH(name, score),
        |  groupArray(name), array_sort(groupUniqArray(score))
        |FROM VALUES ('a', 1), ('b', 3), ('c', 2), ('d', 3) t(name, score)""".stripMargin)
    assert(r.getString(0) == "b" || r.getString(0) == "d") // CH: any of ties
    assert(r.getString(1) == "a")
    assert(r.getSeq[String](2).toSet == Set("a", "b", "c", "d"))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
  }

  test("lambda combinators take the lambda first, ClickHouse-style") {
    val r = one(
      """SELECT arrayMap(x -> x * 2, array(1, 2, 3)),
        |  arrayFilter(x -> x % 2 = 0, array(1, 2, 3, 4)),
        |  arrayExists(x -> x > 3, array(1, 2)),
        |  arrayAll(x -> x > 0, array(1, 2)),
        |  arrayCount(x -> x > 1, array(1, 2, 3)),
        |  element_at(arrayFilter(x -> x > 1, array(1, 2, 3)), 1),
        |  arrayMin(array(3, 1, 2)), arrayMax(array(3, 1, 2))""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(2, 4, 6))
    assert(r.getSeq[Int](1) == Seq(2, 4))
    assert(!r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 2 && r.getInt(5) == 2)
    assert(r.getInt(6) == 1 && r.getInt(7) == 3)
  }

  test("date casts, %-format translation, unix round-trip, intDiv") {
    val r = one(
      """SELECT toDate('2024-03-05'),
        |  formatDateTime(toDateTime('2024-03-05 07:08:09'), '%Y-%m-%d %H:%i:%S'),
        |  formatDateTime(toDate('2024-03-05'), '%Y/%m'),
        |  fromUnixTimestamp(toUnixTimestamp(toDateTime('2024-03-05 07:08:09'))),
        |  intDiv(7, 2), intDiv(-7, 2)""".stripMargin)
    assert(r.getDate(0).toString == "2024-03-05")
    assert(r.getString(1) == "2024-03-05 07:08:09")
    assert(r.getString(2) == "2024/03")
    assert(r.getTimestamp(3).toString.startsWith("2024-03-05 07:08:09"))
    // CH intDiv floors (rounds down): intDiv(-7, 2) = -4, not Spark
    // div's truncation toward zero (-3)
    assert(r.getLong(4) == 3L && r.getLong(5) == -4L)
  }

  test("quantiles exact and approximate") {
    val r = one(
      """SELECT quantileExactCH(x, 0.5), quantileCH(x, 0.5),
        |  quantilesExactCH(x, 0.25, 0.75)
        |FROM VALUES (CAST(1 AS DOUBLE)), (2), (3), (4), (5) t(x)""".stripMargin)
    assert(r.getDouble(0) == 3.0)
    assert(math.abs(r.get(1).toString.toDouble - 3.0) <= 1.0)
    assert(r.getSeq[Double](2) == Seq(2.0, 4.0))
  }

  test("topK returns heavy hitters in order") {
    val r = one(
      """SELECT topKCH(x, 2)
        |FROM VALUES ('a'), ('a'), ('a'), ('b'), ('b'), ('c') t(x)""".stripMargin)
    assert(r.getSeq[String](0) == Seq("a", "b"))
  }

  test("date bucketing functions") {
    val r = one(
      """SELECT toStartOfMonth(ts), toStartOfDay(ts), toYYYYMM(ts), toYYYYMMDD(ts),
        |  toStartOfHour(ts)
        |FROM VALUES (TIMESTAMP '2024-03-17 14:25:36') t(ts)""".stripMargin)
    assert(r.getTimestamp(0).toString.startsWith("2024-03-01 00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-17 00:00"))
    assert(r.getInt(2) == 202403)
    assert(r.getInt(3) == 20240317)
    assert(r.getTimestamp(4).toString.startsWith("2024-03-17 14:00"))
  }

  test("splitByChar quotes regex metacharacters") {
    val r = one("SELECT splitByChar('|', 'a|b|c'), splitByChar('.', 'x.y')")
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("x", "y"))
  }

  test("JSON extraction family") {
    val r = one(
      """SELECT JSONExtractString(j, 'name'), JSONExtractInt(j, 'n'),
        |  JSONExtractFloat(j, 'f'), JSONHas(j, 'name'), JSONHas(j, 'missing')
        |FROM VALUES ('{"name": "x", "n": 42, "f": 1.5}') t(j)""".stripMargin)
    assert(r.getString(0) == "x")
    assert(r.getLong(1) == 42L)
    assert(r.getDouble(2) == 1.5)
    assert(r.getBoolean(3))
    assert(!r.getBoolean(4))
  }

  test("arrayJoin explodes in select position") {
    val rows = {
      CHFunctions.register(spark)
      spark.sql("SELECT arrayJoin(array(1, 2, 3)) AS v").collect()
    }
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("multiIf / ifCH / empty family") {
    val r = one(
      """SELECT multiIf(x > 2, 'big', x > 1, 'mid', 'small'),
        |  ifCH(x = 2, 'two', 'other'),
        |  empty(''), empty('a'), notEmpty('a'), lengthUTF8('héllo')
        |FROM VALUES (2) t(x)""".stripMargin)
    assert(r.getString(0) == "mid")
    assert(r.getString(1) == "two")
    assert(r.getBoolean(2) && !r.getBoolean(3) && r.getBoolean(4))
    assert(r.getInt(5) == 5)
  }

  test("uniqState sketches merge across groups like uniqMerge") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT uniqMerge(st) AS merged,
        |  (SELECT uniqExact(o_custkey) FROM orders) AS exact
        |FROM (SELECT o_orderpriority, uniqState(o_custkey) AS st
        |      FROM orders GROUP BY o_orderpriority)""".stripMargin)
    val (merged, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(merged - exact) / exact < 0.05,
      s"merged=$merged exact=$exact")
  }

  test("a state written at the old default lgK merges with uniqState") {
    // hll_sketch_agg(x) is lgK 12, the state uniqState used to write;
    // BIGINT keys are raw in both, so the 500 shared values count once
    // (the union runs at lgK 12: 3 RSE = 3 * 1.04 / 64)
    val r = one(
      """SELECT uniqMerge(s) FROM (
        |  SELECT hll_sketch_agg(id) AS s FROM range(0, 1000)
        |  UNION ALL SELECT uniqState(id) AS s FROM range(500, 1500))""".stripMargin)
    assert(math.abs(r.getLong(0) - 1500L) <= 3 * 1.04 / 64 * 1500, r)
  }

  test("quantileState sketches merge across groups like quantileMerge") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT quantileMerge(st, 0.5) AS merged,
        |  (SELECT quantileExactCH(o_totalprice, 0.5) FROM orders) AS exact
        |FROM (SELECT o_orderpriority, quantileState(o_totalprice) AS st
        |      FROM orders GROUP BY o_orderpriority)""".stripMargin)
    val (merged, exact) = (r.getDouble(0), r.getDouble(1))
    // GK sketch with 1% relative rank error: the merged median must sit
    // between the exact 45th and 55th percentiles
    val bounds = spark.sql(
      """SELECT percentile(o_totalprice, 0.45), percentile(o_totalprice, 0.55)
        |FROM orders""".stripMargin).head
    assert(merged >= bounds.getDouble(0) && merged <= bounds.getDouble(1),
      s"merged=$merged exact=$exact bounds=$bounds")
  }

  test("quantile sketch round-trips through serialization") {
    val qs = (1 to 1000).foldLeft(QuantileSketch.empty()) {
      (acc, i) => acc.insert(i.toDouble)
    }
    val back = QuantileSketch.deserialize(QuantileSketch.serialize(qs))
    val q = back.query(0.5).get
    assert(q >= 450 && q <= 550, s"median after round-trip: $q")
    // merging a sketch with itself doubles the count, keeps the median
    val doubled = back.merge(QuantileSketch.deserialize(QuantileSketch.serialize(qs)))
    assert(doubled.count == 2000)
    val q2 = doubled.query(0.5).get
    assert(q2 >= 450 && q2 <= 550, s"median after merge: $q2")
  }

  test("array function family keeps ClickHouse semantics") {
    val r = one(
      """SELECT arrayDistinct(array(1, 2, 1)), arraySort(array(3, 1, 2)),
        |  arrayReverse(array(1, 2, 3)), arrayConcat(array(1), array(2, 3)),
        |  arraySlice(array(1, 2, 3, 4), 2, 2), arrayFlatten(array(array(1), array(2))),
        |  arrayStringConcat(array('a', 'b'), '-'), arrayElement(array(10, 20), 1),
        |  indexOf(array(5, 6, 7), 6), arraySum(array(1.5, 2.5))""".stripMargin)
    assert(r.getSeq[Int](0).sorted == Seq(1, 2))
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(3, 2, 1))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Int](4) == Seq(2, 3))
    assert(r.getSeq[Int](5) == Seq(1, 2))
    assert(r.getString(6) == "a-b")
    assert(r.getInt(7) == 10) // 1-based like ClickHouse
    assert(r.getLong(8) == 2L)
    assert(r.getDouble(9) == 4.0)
  }

  test("has membership") {
    val r = one("SELECT has(array(1, 2), 2), has(array(1, 2), 5)")
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("arrayJoinLeft keeps empty-array rows; JSON extras; null family") {
    CHFunctions.register(spark)
    val rows = spark.sql(
      """SELECT id, arrayJoinLeft(a) AS el FROM VALUES
        |  (1, array(10, 20)), (2, array()) t(id, a)""".stripMargin)
      .collect().map(r => (r.getInt(0), Option(r.get(1))))
    assert(rows.toSet == Set((1, Some(10)), (1, Some(20)), (2, None)))
    val r = one(
      """SELECT JSONExtractBool('{"a": true}', 'a'),
        |  JSONArrayLength('[1, 2, 3]'),
        |  JSONArrayLength('{"xs": [1, 2]}', 'xs'),
        |  array_sort(JSONExtractKeys('{"b": 1, "a": 2}')),
        |  ifNull(NULL, 7), ifNull(5, 7), nullIfCH(3, 3),
        |  assumeNotNull(9), isNullCH(NULL), isNotNullCH(1)""".stripMargin)
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 3 && r.getInt(2) == 2)
    assert(r.getSeq[String](3) == Seq("a", "b"))
    assert(r.getInt(4) == 7 && r.getInt(5) == 5)
    assert(r.isNullAt(6))
    assert(r.getInt(7) == 9)
    assert(r.getBoolean(8) && r.getBoolean(9))
  }

  test("map functions under ClickHouse names") {
    val r = one(
      """SELECT array_sort(mapKeys(map('b', 2, 'a', 1))),
        |  mapValues(map('x', 7)),
        |  mapContains(map('k', 1), 'k'), mapContains(map('k', 1), 'z'),
        |  element_at(mapFromArrays(array('p', 'q'), array(1, 2)), 'q')""".stripMargin)
    assert(r.getSeq[String](0) == Seq("a", "b"))
    assert(r.getSeq[Int](1) == Seq(7))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getInt(4) == 2)
  }

  test("array analytics: difference, cumsum, enumerate, compact, stats") {
    val r = one(
      """SELECT arrayDifference(array(1, 4, 9)),
        |  arrayCumSum(array(1, 2, 3)),
        |  arrayEnumerate(array('a', 'b', 'c')),
        |  arrayCompact(array(1, 1, 2, 2, 1)),
        |  arrayUniq(array(1, 2, 2, 3)),
        |  arrayAvg(array(1, 2, 3, 4)),
        |  arrayProduct(array(2.0, 3.0, 4.0)),
        |  arrayZip(array(1, 2), array('x', 'y'))""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(0, 3, 5))
    assert(r.getSeq[Long](1) == Seq(1L, 3L, 6L))
    assert(r.getSeq[Int](2) == Seq(1, 2, 3))
    assert(r.getSeq[Int](3) == Seq(1, 2, 1)) // consecutive runs collapse
    assert(r.getLong(4) == 3L)
    assert(r.getDouble(5) == 2.5)
    assert(r.getDouble(6) == 24.0)
    assert(r.getSeq[org.apache.spark.sql.Row](7).map(_.toSeq) ==
      Seq(Seq(1, "x"), Seq(2, "y")))
  }

  test("array analytics survive empty arrays and double elements") {
    // sequence(1, size) on an empty array yields [1, 0] (descending
    // default step) — these must all come back empty, not crash
    val e = one(
      """SELECT arrayDifference(array_remove(array(1), 1)),
        |  arrayCumSum(array_remove(array(1), 1)),
        |  arrayEnumerate(array_remove(array(1), 1)),
        |  arrayCompact(array_remove(array(1), 1)),
        |  arrayAvg(array_remove(array(1), 1))""".stripMargin)
    assert(e.getSeq[Int](0).isEmpty && e.getSeq[Long](1).isEmpty)
    assert(e.getSeq[Int](2).isEmpty && e.getSeq[Int](3).isEmpty)
    assert(e.isNullAt(4) || e.getDouble(4).isNaN) // 0/0: no elements
    // ArrayAggregate requires the zero in the ELEMENT type; doubles
    // must fold without analysis errors
    val d = one(
      """SELECT arrayCumSum(array(1.5D, 2.5D)), arrayAvg(array(1.0D, 2.0D)),
        |  arrayDifference(array(1.5D, 4.0D)), arrayProduct(array(2, 3))""".stripMargin)
    assert(d.getSeq[Double](0) == Seq(1.5, 4.0))
    assert(d.getDouble(1) == 1.5)
    assert(d.getSeq[Double](2) == Seq(0.0, 2.5))
    assert(d.getDouble(3) == 6.0)
  }

  test("string battery under ClickHouse names") {
    val r = one(
      """SELECT positionCH('Hello world', 'world'),
        |  positionCH('Hello', 'zzz'),
        |  positionCaseInsensitive('Hello World', 'WORLD'),
        |  startsWith('graft', 'gra'), endsWith('graft', 'ft'),
        |  leftPadCH('7', 3, '0'), rightPadCH('ab', 4, '.'),
        |  repeatCH('ab', 3), reverseUTF8('abc'),
        |  substringUTF8('clickhouse', 6, 5),
        |  concatWithSeparator('-', 'a', 'b', 'c'), trimBoth('  x  '),
        |  base64Decode(base64Encode('spark')),
        |  unhexCH(hexCH('spark'))""".stripMargin)
    assert(r.getInt(0) == 7 && r.getInt(1) == 0) // 1-based, 0 = absent
    assert(r.getInt(2) == 7)
    assert(r.getBoolean(3) && r.getBoolean(4))
    assert(r.getString(5) == "007" && r.getString(6) == "ab..")
    assert(r.getString(7) == "ababab" && r.getString(8) == "cba")
    assert(r.getString(9) == "house")
    assert(r.getString(10) == "a-b-c" && r.getString(11) == "x")
    assert(r.getString(12) == "spark" && r.getString(13) == "spark")
  }

  test("greatCircleDistance matches known city distances") {
    // Paris (2.3522, 48.8566) <-> London (-0.1276, 51.5072): ~344 km
    val r = one(
      """SELECT greatCircleDistance(2.3522, 48.8566, -0.1276, 51.5072),
        |  greatCircleDistance(0.0, 0.0, 0.0, 0.0),
        |  greatCircleDistance(0.0, 0.0, 180.0, 0.0)""".stripMargin)
    assert(math.abs(r.getDouble(0) - 343900) < 2000)
    assert(r.getDouble(1) == 0.0)
    // antipodal: half the earth's circumference ~ pi * R
    assert(math.abs(r.getDouble(2) - math.Pi * 6371000) < 1000)
  }

  test("URL family parses protocol/host/tld/path/params") {
    val u = "'https://www.sub.example.com/a/b?id=7&ref=mail#frag'"
    val r = one(
      s"""SELECT protocol($u), domain($u), domainWithoutWWW($u),
         |  topLevelDomain($u), pathCH($u), queryStringCH($u),
         |  extractURLParameter($u, 'id'),
         |  extractURLParameter($u, 'missing'), cutQueryString($u)""".stripMargin)
    assert(r.getString(0) == "https")
    assert(r.getString(1) == "www.sub.example.com")
    assert(r.getString(2) == "sub.example.com")
    assert(r.getString(3) == "com")
    assert(r.getString(4) == "/a/b")
    assert(r.getString(5) == "id=7&ref=mail")
    assert(r.getString(6) == "7")
    assert(r.getString(7) == "") // CH returns '' for absent params
    assert(r.getString(8) == "https://www.sub.example.com/a/b")
  }

  test("IPv4 codec round-trips and matches known encodings") {
    val r = one(
      """SELECT IPv4NumToString(3232235777),
        |  IPv4StringToNum('192.168.1.1'),
        |  IPv4NumToString(0), IPv4StringToNum('255.255.255.255')""".stripMargin)
    assert(r.getString(0) == "192.168.1.1")
    assert(r.getLong(1) == 3232235777L)
    assert(r.getString(2) == "0.0.0.0")
    assert(r.getLong(3) == 4294967295L)
  }

  test("hash family: deterministic, dispersed, seed-distinct") {
    val r = one(
      """SELECT cityHash64('abc'), cityHash64('abc'), sipHash64('abc'),
        |  halfMD5('abc'), cityHash64('abd')""".stripMargin)
    assert(r.getLong(0) == r.getLong(1)) // deterministic
    assert(r.getLong(0) != r.getLong(2)) // seed-distinct families
    assert(r.getLong(0) != r.getLong(4)) // disperses adjacent inputs
    // first 60 bits of md5('abc') = 900150983cd24fb0... -> 0x900150983cd24fb
    assert(r.getLong(3) == 0x900150983cd24fbL)
  }

  test("cryptographic digests pin RFC test vectors (SHA1 has no DuckDB oracle)") {
    // DuckDB 1.0.0 ships only md5/sha256, so q_ch_digest cannot carry a
    // SHA1 column — the SHA1 path is proven here against the RFC 3174 /
    // RFC 1321 / FIPS 180-4 spec constants instead. The registry holds
    // the *CH-suffixed names (the bare spellings are renamed textually
    // on the served path only — QueryGuard.rewriteDigestNames, proven
    // by q_ch_digest's md5/sha256 columns end-to-end).
    val r = one(
      """SELECT lower(hex(SHA1CH('abc'))), lower(hex(SHA1CH(''))),
        |  lower(hex(MD5CH('abc'))), lower(hex(SHA256CH('abc'))),
        |  lower(hex(SHA224CH('abc')))""".stripMargin)
    assert(r.getString(0) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(1) == "da39a3ee5e6b4b0d3255bfef95601890afd80709")
    assert(r.getString(2) == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getString(3) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(4) == "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
  }

  test("-OrNull / -OrDefault aggregate combinators on empty and non-empty groups") {
    val empty = one(
      """SELECT sumOrNull(x), maxOrNull(x), countOrNull(x),
        |  sumOrDefault(x), maxOrDefault(x), avgOrDefault(x),
        |  countOrDefault(x), anyOrNull(x)
        |FROM (SELECT x FROM VALUES (1), (2) t(x) WHERE x > 10)""".stripMargin)
    assert(empty.isNullAt(0) && empty.isNullAt(1) && empty.isNullAt(2))
    assert(empty.get(3).toString.toDouble == 0)
    assert(empty.get(4).toString.toDouble == 0)
    assert(empty.getDouble(5) == 0.0)
    assert(empty.getLong(6) == 0L)
    assert(empty.isNullAt(7))
    val full = one(
      """SELECT sumOrNull(x), maxOrDefault(x), countOrNull(x), avgOrDefault(x)
        |FROM VALUES (1), (2), (3) t(x)""".stripMargin)
    assert(full.get(0).toString.toDouble == 6)
    assert(full.get(1).toString.toDouble == 3)
    assert(full.getLong(2) == 3L)
    assert(full.getDouble(3) == 2.0)
    // stacked with -If, both suffix orders; no-match group = empty
    val stacked = one(
      """SELECT sumOrNullIf(x, x > 10), sumIfOrNull(x, x > 1),
        |  maxOrDefaultIf(x, x > 10), avgIfOrDefault(x, x > 10),
        |  countOrNullIf(x > 10), countIfOrDefault(x > 1)
        |FROM VALUES (1), (2), (3) t(x)""".stripMargin)
    assert(stacked.isNullAt(0))
    assert(stacked.get(1).toString.toDouble == 5)
    assert(stacked.get(2).toString.toDouble == 0)
    assert(stacked.getDouble(3) == 0.0)
    assert(stacked.isNullAt(4))
    assert(stacked.getLong(5) == 2L)
  }

  test("toDateTime64 honors the timezone argument (string-parse semantics)") {
    val r = one(
      """SELECT toDateTime64('2024-01-01 09:00:00', 3, 'Asia/Tokyo'),
        |  toDateTime64('2024-01-01 09:00:00', 3),
        |  toDateTime64OrNull('2024-01-01 09:00:00', 3, 'Asia/Tokyo'),
        |  toDateTime64OrNull('garbage', 3, 'Asia/Tokyo')""".stripMargin)
    // 09:00 Tokyo = 00:00 UTC (session tz is UTC)
    assert(r.getTimestamp(0).toInstant.toString == "2024-01-01T00:00:00Z")
    assert(r.getTimestamp(1).toInstant.toString == "2024-01-01T09:00:00Z")
    assert(r.getTimestamp(2).toInstant.toString == "2024-01-01T00:00:00Z")
    assert(r.isNullAt(3))
  }

  test("bit functions and functional arithmetic") {
    val r = one(
      """SELECT bitAnd(12, 10), bitOr(12, 10), bitXor(12, 10), bitNot(0),
        |  bitShiftLeft(3, 2), bitShiftRight(12, 2), bitCount(255),
        |  plus(2, 3), minus(2, 3), multiply(4, 5), divide(7, 2),
        |  modulo(7, 3), negate(5)""".stripMargin)
    assert(r.getInt(0) == 8 && r.getInt(1) == 14 && r.getInt(2) == 6)
    // CH types the literal 0 as UInt8, so bitNot evaluates in 8-bit
    // width: 255 (the r18 width-aware family), not Int64's -1
    assert(r.getLong(3) == 255L)
    // shifts carry Long (CH's 64-bit arithmetic width — and the
    // ≥64-amount guard yields 0 where Java would mask mod 64)
    assert(r.getLong(4) == 12L && r.getLong(5) == 3L)
    assert(r.get(6).toString.toInt == 8)
    assert(r.getInt(7) == 5 && r.getInt(8) == -1 && r.getInt(9) == 20)
    assert(r.getDouble(10) == 3.5) // CH divide is float division
    assert(r.getInt(11) == 1 && r.getInt(12) == -5)
  }

  test("statistical aggregate family under ClickHouse names") {
    // x = 2,4,4,4,5,5,7,9: classic σ²_pop = 4 example
    val r = one(
      """SELECT stddevPop(x), varPop(x), varSamp(x), skewPop(x), kurtPop(x),
        |  covarPop(x, 2 * x), corrCH(x, 3 * x),
        |  avgWeighted(x, w), groupBitAnd(x), groupBitOr(x), groupBitXor(x)
        |FROM VALUES (2, 0), (4, 0), (4, 0), (4, 0), (5, 1),
        |            (5, 1), (7, 0), (9, 1) t(x, w)""".stripMargin)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 4.0)
    assert(math.abs(r.getDouble(2) - 32.0 / 7) < 1e-12)
    // m3 = avg((x-5)^3) = (−27+3·(−1)+0+8+64)/8 = 42/8; skew = m3/8
    assert(math.abs(r.getDouble(3) - (42.0 / 8) / 8) < 1e-12)
    // m4 = (81+3+0+0+16+256)/8 = 44.5; CH kurtPop = m4/m2² (no −3)
    assert(math.abs(r.getDouble(4) - 44.5 / 16) < 1e-12)
    assert(r.getDouble(5) == 8.0) // cov(x, 2x) = 2·var
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(7) - 19.0 / 3) < 1e-12) // (5+5+9)/3
    assert(r.getInt(8) == 0 && r.getInt(9) == 15)
    assert(r.getInt(10) == (2 ^ 4 ^ 4 ^ 4 ^ 5 ^ 5 ^ 7 ^ 9))
  }

  test("entropy: uniform distribution gives log2(k); constant gives 0") {
    val r = one(
      """SELECT entropy(a), entropy(b) FROM VALUES
        |  ('x', 1), ('y', 1), ('z', 1), ('w', 1) t(a, b)""".stripMargin)
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-12) // 4 uniform values
    assert(r.getDouble(1) == 0.0) // single value
  }

  test("entropy partial-aggregates and skips nulls") {
    CHFunctions.register(spark)
    val df = spark.range(0, 1000).repartition(8)
      .selectExpr(
        "entropy(CASE WHEN id % 10 = 0 THEN NULL ELSE CAST(id % 4 AS INT) END) AS e")
    // non-null values ~uniform over {1,2,3} plus thinner 0-bucket
    val e = df.collect().head.getDouble(0)
    assert(e > 1.9 && e <= 2.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_entropyagg"),
      s"expected partial aggregation in plan:\n$plan")
  }

  test("uniqUpTo counts exactly up to n, clamps at n+1 past it") {
    val r = one(
      """SELECT uniqUpTo(a, 5), uniqUpTo(a, 2) FROM VALUES
        |  (1), (2), (3), (3), (3) t(a)""".stripMargin)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 3L) // 3 distinct > 2 → n+1 = 3
  }

  test("string-search family: match/extractAll/multiSearchAny/countSubstrings") {
    val r = one(
      """SELECT match('join the order', 'j[oa]in'),
        |  extractAll('ab12cd34', '[0-9]+'),
        |  multiSearchAny('the quick fox', array('slow', 'quick')),
        |  multiSearchAny('the quick fox', array('slow', 'lazy')),
        |  countSubstrings('aXbXcX', 'X'),
        |  countSubstrings('aaa', 'aa'),
        |  replaceAll('a-b-c', '-', '+'),
        |  replaceRegexpAll('a1b22c', '[0-9]+', '#')""".stripMargin)
    assert(r.getBoolean(0))
    assert(r.getSeq[String](1) == Seq("12", "34"))
    assert(r.getBoolean(2))
    assert(!r.getBoolean(3))
    assert(r.getInt(4) == 3)
    assert(r.getInt(5) == 1) // non-overlapping, like ClickHouse
    assert(r.getString(6) == "a+b+c")
    assert(r.getString(7) == "a#b#c")
  }

  test("windowFunnel: full chain inside the window counts every stage") {
    val r = one(
      """SELECT windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:50:00', 'p') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 3)
  }

  test("windowFunnel: stage outside the window from chain start is cut") {
    val r = one(
      """SELECT windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'c'),
        |  (TIMESTAMP '2024-01-01 11:30:00', 'p') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 2) // purchase is 90min after the chain's view
  }

  test("windowFunnel: a later chain start wins where the anchored form fails") {
    // view@10:00 click@10:30 view@10:40 click@11:10 purchase@11:30 —
    // anchored at the first view the purchase misses the hour window;
    // the chain starting at view@10:40 completes all three stages
    val r = one(
      """SELECT windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:40:00', 'v'),
        |  (TIMESTAMP '2024-01-01 11:10:00', 'c'),
        |  (TIMESTAMP '2024-01-01 11:30:00', 'p') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 3)
  }

  test("windowFunnel: no stage-1 event means depth 0; partial-aggregates") {
    val r = one(
      """SELECT windowFunnel(3600, ts, t = 'v', t = 'c') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'x') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 0)
    // merge across partitions must reassemble the chain
    CHFunctions.register(spark)
    val df = spark.range(0, 100).repartition(8)
      .selectExpr(
        "timestampadd(MINUTE, CAST(id AS INT), TIMESTAMP '2024-01-01 10:00:00') AS ts",
        "CASE WHEN id = 7 THEN 'v' WHEN id = 20 THEN 'c' WHEN id = 45 THEN 'p' ELSE 'x' END AS t")
      .selectExpr("windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') AS d")
    assert(df.collect().head.getInt(0) == 3)
  }

  test("windowFunnel strict_order: a foreign event freezes the chain") {
    // the documented A -> B -> D -> C example: D stops the scan at 2
    val base =
      """FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:20:00', 'x'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'p') t(ts, t)""".stripMargin
    val strict = one(
      s"SELECT windowFunnel(3600, 'strict_order', ts, t = 'v', t = 'c', t = 'p') $base")
    val dflt = one(
      s"SELECT windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') $base")
    assert(strict.getInt(0) == 2 && dflt.getInt(0) == 3)
  }

  test("windowFunnel strict_order: foreign events before the first stage are inert, the stop is permanent") {
    val r = one(
      """SELECT windowFunnel(3600, 'strict_order', ts, t = 'v', t = 'c') FROM VALUES
        |  (TIMESTAMP '2024-01-01 09:00:00', 'x'),
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'c') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 2)
    val stopped = one(
      """SELECT windowFunnel(3600, 'strict_order', ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:01:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:02:00', 'x'),
        |  (TIMESTAMP '2024-01-01 10:03:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:04:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:05:00', 'p') t(ts, t)""".stripMargin)
    assert(stopped.getInt(0) == 2) // the later complete chain is never scanned
  }

  test("windowFunnel strict_dedup: a repeat of an achieved stage interrupts") {
    // A -> B -> B -> C: the repeated B stops the scan at depth 2
    val r = one(
      """SELECT windowFunnel(3600, 'strict_dedup', ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:20:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'p') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 2)
    // a second view stops at 1; an out-of-order purchase is inert
    val vv = one(
      """SELECT windowFunnel(3600, 'strict_dedup', ts, t = 'v', t = 'c') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:20:00', 'c') t(ts, t)""".stripMargin)
    assert(vv.getInt(0) == 1)
    val inert = one(
      """SELECT windowFunnel(3600, 'strict_dedup', ts, t = 'v', t = 'c', t = 'p') FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'p'),
        |  (TIMESTAMP '2024-01-01 10:20:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'p') t(ts, t)""".stripMargin)
    assert(inert.getInt(0) == 3)
  }

  test("windowFunnel strict_increase: equal timestamps do not advance a stage") {
    val base =
      """FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:00:00', 'c'),
        |  (TIMESTAMP '2024-01-01 10:30:00', 'p') t(ts, t)""".stripMargin
    val strict = one(
      s"SELECT windowFunnel(3600, 'strict_increase', ts, t = 'v', t = 'c', t = 'p') $base")
    val dflt = one(
      s"SELECT windowFunnel(3600, ts, t = 'v', t = 'c', t = 'p') $base")
    assert(strict.getInt(0) == 1 && dflt.getInt(0) == 3)
  }

  test("windowFunnel: modes combine and unknown modes are rejected") {
    val r = one(
      """SELECT windowFunnel(3600, 'strict_order', 'strict_increase', ts, t = 'v', t = 'c')
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', 'v'),
        |  (TIMESTAMP '2024-01-01 10:10:00', 'c') t(ts, t)""".stripMargin)
    assert(r.getInt(0) == 2)
    intercept[Exception] {
      one("""SELECT windowFunnel(3600, 'strict_bogus', ts, t = 'v')
            |FROM VALUES (TIMESTAMP '2024-01-01 10:00:00', 'v') t(ts, t)""".stripMargin)
    }
  }

  test("groupArraySample is deterministic and partitioning-independent") {
    CHFunctions.register(spark)
    def sample(parts: Int): Seq[Long] =
      spark.range(0, 1000).repartition(parts)
        .selectExpr("groupArraySample(id, 7) AS s")
        .collect().head.getSeq[Long](0)
    val s1 = sample(1)
    val s8 = sample(8)
    assert(s1 == s8) // same members whatever the partitioning
    assert(s1.length == 7 && s1.toSet.size == 7)
    assert(s1.forall(v => v >= 0 && v < 1000))
    // fewer values than k → all of them
    val tiny = spark.range(0, 3)
      .selectExpr("groupArraySample(id, 7) AS s")
      .collect().head.getSeq[Long](0)
    assert(tiny == Seq(0L, 1L, 2L))
  }

  test("groupArraySample survives shuffle serialization with duplicates") {
    CHFunctions.register(spark)
    // force partial-aggregate serialization across many partitions;
    // same multiset out regardless, duplicates preserved through the
    // serialize/deserialize round trip (the buffer re-derives its
    // running total on deserialize)
    val rows = spark.range(0, 5000).selectExpr("id % 40 AS v")
    val a = rows.repartition(37).selectExpr("groupArraySample(v, 9) AS s")
      .collect().head.getSeq[Long](0)
    val b = rows.repartition(3).selectExpr("groupArraySample(v, 9) AS s")
      .collect().head.getSeq[Long](0)
    assert(a == b)
    assert(a.length == 9)
  }

  test("groupArraySample samples rows: duplicate values fill adjacent slots") {
    CHFunctions.register(spark)
    // 5 distinct values × 4 copies each = 20 rows; k=7 must return 7
    // elements (ClickHouse samples rows), not the ≤5 a distinct-set
    // sketch would produce — and the same multiset at any partitioning.
    def sample(parts: Int): Seq[Long] =
      spark.range(0, 20).repartition(parts)
        .selectExpr("groupArraySample(id % 5, 7) AS s")
        .collect().head.getSeq[Long](0)
    val s1 = sample(1)
    val s8 = sample(8)
    assert(s1 == s8)
    assert(s1.length == 7)
    assert(s1.toSet.size < 7) // duplicates present by construction
  }

  test("divide by zero yields ClickHouse's ±inf/nan, not an ANSI error") {
    val r = one("SELECT divide(1, 0), divide(-1, 0), divide(0, 0), divide(7, 2)")
    assert(r.getDouble(0).isPosInfinity)
    assert(r.getDouble(1).isNegInfinity)
    assert(r.getDouble(2).isNaN)
    assert(r.getDouble(3) == 3.5)
  }

  test("calendar extractors: CH day-of-week numbering, toMonday, parts") {
    // 2024-01-01 was a Monday; 2024-01-07 a Sunday
    val r = one(
      """SELECT toDayOfWeek(DATE'2024-01-01'), toDayOfWeek(DATE'2024-01-07'),
        |  toDayOfMonth(DATE'2024-01-15'), toHour(TIMESTAMP'2024-01-01 13:45:10'),
        |  toMinute(TIMESTAMP'2024-01-01 13:45:10'),
        |  toMonday(DATE'2024-01-04')""".stripMargin)
    assert(r.getInt(0) == 1) // Monday = 1 (Spark dayofweek says 2)
    assert(r.getInt(1) == 7) // Sunday = 7 (Spark dayofweek says 1)
    assert(r.getInt(2) == 15)
    assert(r.getInt(3) == 13 && r.getInt(4) == 45)
    assert(r.getDate(5).toString == "2024-01-01")
  }

  test("retention flags: first condition gates the rest") {
    CHFunctions.register(spark)
    val rows = spark.sql(
      """SELECT user, retention(t = 'signup', t = 'day1', t = 'day7') AS r
        |FROM VALUES ('a', 'signup'), ('a', 'day1'),
        |  ('b', 'day1'), ('b', 'day7'), ('c', 'signup')
        |t(user, t) GROUP BY user ORDER BY user""".stripMargin).collect()
    // conditions hold on DIFFERENT rows of the group, as in real logs
    assert(rows(0).getSeq[Int](1) == Seq(1, 1, 0)) // a: signup + day1
    assert(rows(1).getSeq[Int](1) == Seq(0, 0, 0)) // b never signed up
    assert(rows(2).getSeq[Int](1) == Seq(1, 0, 0)) // c signup only
  }

  test("readable size/quantity formatting") {
    val r = one(
      """SELECT formatReadableSize(123), formatReadableSize(1536),
        |  formatReadableSize(1073741824), formatReadableQuantity(999),
        |  formatReadableQuantity(1500), formatReadableQuantity(2500000000)""".stripMargin)
    assert(r.getString(0) == "123.00 B")
    assert(r.getString(1) == "1.50 KiB")
    assert(r.getString(2) == "1.00 GiB")
    assert(r.getString(3) == "999.00")
    assert(r.getString(4) == "1.50 thousand")
    assert(r.getString(5) == "2.50 billion")
  }

  test("the wider *If combinator family") {
    val r = one(
      """SELECT uniqExactIf(x, x > 1), anyIf(x, x > 2),
        |  argMaxIf(name, x, x < 4), argMinIf(name, x, x > 1),
        |  array_sort(groupArrayIf(x, x % 2 = 0)), medianIf(x, x > 1)
        |FROM VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd') t(x, name)""".stripMargin)
    assert(r.getLong(0) == 3L) // 2,3,4
    assert(r.getInt(1) == 3)
    assert(r.getString(2) == "c") // max x under 4 is 3 -> 'c'
    assert(r.getString(3) == "b") // min x over 1 is 2 -> 'b'
    assert(r.getSeq[Int](4) == Seq(2, 4))
    assert(r.getInt(5) == 3) // median of 2,3,4
  }

  test("JSON aliases: simpleJSON/visitParam, JSONLength, isValidJSON") {
    val r = one(
      """SELECT simpleJSONExtractString(j, 'name'),
        |  visitParamExtractString(j, 'name'),
        |  JSONLength('[1,2,3]'), JSONLength(j),
        |  isValidJSON(j), isValidJSON('{nope'),
        |  (SELECT sumWithOverflow(x) FROM VALUES (1), (2) s(x)),
        |  JSONLength('5'), JSONLength('{nope')
        |FROM VALUES ('{"name": "x", "n": 42}') t(j)""".stripMargin)
    assert(r.getString(0) == "x" && r.getString(1) == "x")
    assert(r.getInt(2) == 3)
    assert(r.getInt(3) == 2) // two object keys
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getLong(6) == 3L)
    assert(r.getInt(7) == 0 && r.getInt(8) == 0) // scalar / invalid → 0, like CH
  }

  test("URL family round 6: subdomains, fragments, encode, parameter lists") {
    val r = one(
      """SELECT firstSignificantSubdomain('https://news.yandex.com.tr/sport?a=1'),
        |  firstSignificantSubdomain('https://www.example.org/x'),
        |  cutToFirstSignificantSubdomain('https://news.yandex.com.tr/sport'),
        |  cutToFirstSignificantSubdomain('https://www.example.org/x'),
        |  fragment('https://h/p?q=1#sec2'), fragment('https://h/p'),
        |  queryStringAndFragment('https://h/p?q=1#sec2'),
        |  decodeURLComponent('a%20b%2Fc'), encodeURLComponent('a b/c'),
        |  extractURLParameters('https://h/p?a=1&b=2'),
        |  extractURLParameterNames('https://h/p?a=1&b=2')""".stripMargin)
    assert(r.getString(0) == "yandex")
    assert(r.getString(1) == "example")
    assert(r.getString(2) == "yandex.com.tr")
    assert(r.getString(3) == "example.org")
    // public-suffix-list resolution: ccTLD second-level structures
    val g = one(
      """SELECT firstSignificantSubdomain('https://a.gov.uk/x'),
        |  cutToFirstSignificantSubdomain('https://a.gov.uk/x'),
        |  firstSignificantSubdomain('https://www.ac.jp/x')""".stripMargin)
    assert(g.getString(0) == "a")
    assert(g.getString(1) == "a.gov.uk")
    assert(g.getString(2) == "www")
    val psl = one(
      """SELECT firstSignificantSubdomain('https://shop.b.co.jp/x'),
        |  cutToFirstSignificantSubdomain('https://shop.b.co.jp/x'),
        |  firstSignificantSubdomain('https://www.c.com.au/x'),
        |  cutToFirstSignificantSubdomain('https://x.pref.tokyo.jp/'),
        |  firstSignificantSubdomain('https://www.d.museum.no/'),
        |  firstSignificantSubdomain('https://a.b.mm/'),
        |  cutToFirstSignificantSubdomain('https://deep.a.b.mm/'),
        |  firstSignificantSubdomain('https://www.ck/'),
        |  firstSignificantSubdomain('https://city.kawasaki.jp/'),
        |  firstSignificantSubdomain('https://ward.city.kawasaki.jp/'),
        |  firstSignificantSubdomain('https://sub.other.kawasaki.jp/'),
        |  firstSignificantSubdomain('https://com.tr/'),
        |  firstSignificantSubdomain('https://example.dev/')""".stripMargin)
    assert(psl.getString(0) == "b") // co.jp
    assert(psl.getString(1) == "b.co.jp")
    assert(psl.getString(2) == "c") // com.au
    assert(psl.getString(3) == "pref.tokyo.jp") // tokyo.jp prefecture suffix
    assert(psl.getString(4) == "d") // museum.no functional suffix
    // *.mm wildcard: b.mm is itself a public suffix
    assert(psl.getString(5) == "a")
    assert(psl.getString(6) == "a.b.mm")
    // !www.ck exception inside *.ck
    assert(psl.getString(7) == "www")
    // *.kawasaki.jp wildcard with the !city.kawasaki.jp exception
    assert(psl.getString(8) == "city")
    assert(psl.getString(9) == "city")
    assert(psl.getString(10) == "sub")
    // a bare public suffix has no registrable domain
    assert(psl.getString(11) == "")
    // unlisted TLDs fall back to the implicit * rule
    assert(psl.getString(12) == "example")
    assert(r.getString(4) == "sec2" && r.getString(5) == "")
    assert(r.getString(6) == "q=1#sec2")
    assert(r.getString(7) == "a b/c")
    // CH component encoding: %20 for spaces (the form variant's '+'
    // spelling lives under encodeURLFormComponent)
    assert(r.getString(8).toLowerCase == "a%20b%2fc")
    assert(r.getSeq[String](9) == Seq("a=1", "b=2"))
    assert(r.getSeq[String](10) == Seq("a", "b"))
  }

  test("uniq aliases, groupBitmap, simpleLinearRegression, frame lag/lead") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT uniqCombined(o_custkey), uniqHLL12(o_custkey),
        |  groupBitmap(o_custkey),
        |  simpleLinearRegression(o_orderkey, o_totalprice)
        |FROM orders""".stripMargin)
    val exact = r.getLong(2).toDouble
    assert(math.abs(r.getLong(0) - exact) / exact < 0.05)
    assert(math.abs(r.getLong(1) - exact) / exact < 0.05)
    val reg = r.getStruct(3)
    assert(!reg.isNullAt(0) && !reg.isNullAt(1))
    val w = one(
      """SELECT max(prev) FROM (
        |  SELECT lagInFrame(x, 1) OVER (ORDER BY x) AS prev
        |  FROM VALUES (1), (2), (3) t(x))""".stripMargin)
    assert(w.getInt(0) == 2)
  }

  test("arrayFirst/Last/FirstIndex and hasSubstr") {
    val r = one(
      """SELECT arrayFirst(x -> x > 1, array(1, 2, 3)),
        |  arrayLast(x -> x > 1, array(1, 2, 3)),
        |  arrayFirst(x -> x > 9, array(1, 2, 3)),
        |  arrayFirstIndex(x -> x > 1, array(1, 2, 3)),
        |  arrayFirstIndex(x -> x > 9, array(1, 2, 3)),
        |  hasSubstr(array(1, 2, 3, 4), array(2, 3)),
        |  hasSubstr(array(1, 2, 3, 4), array(2, 4)),
        |  hasSubstr(array(1, 2), array()),
        |  hasSubstr(array(1), array(1, 2))""".stripMargin)
    assert(r.getInt(0) == 2 && r.getInt(1) == 3)
    // no match answers the element-type default (CH), not NULL
    assert(r.getInt(2) == 0)
    assert(r.getInt(3) == 2 && r.getInt(4) == 0)
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getBoolean(7) && !r.getBoolean(8))
  }

  test("median/sumCount/boundingRatio aggregate shapes") {
    val r = one(
      """SELECT medianExact(x), median(x), sumCount(x), boundingRatio(x, y)
        |FROM VALUES (CAST(1 AS DOUBLE), CAST(10 AS DOUBLE)),
        |  (2, 30), (3, 50) t(x, y)""".stripMargin)
    assert(r.getDouble(0) == 2.0)
    assert(math.abs(r.get(1).toString.toDouble - 2.0) <= 1.0)
    val sc = r.getStruct(2)
    assert(sc.getDouble(0) == 6.0 && sc.getLong(1) == 3L)
    assert(r.getDouble(3) == 20.0) // (50-10)/(3-1)
  }

  test("week starts, part aliases, CH-order position, notLike") {
    val r = one(
      """SELECT toStartOfWeek(DATE'2024-01-04'), toMonday(DATE'2024-01-04'),
        |  toMonth(DATE'2024-03-05'), toYear(DATE'2024-03-05'),
        |  toQuarter(DATE'2024-07-01'), toISOWeek(DATE'2024-01-04'),
        |  position('haystack', 'stack'), position('haystack', 'zebra'),
        |  notLike('graft', 'gr%'), notLike('graft', 'z%')""".stripMargin)
    // 2024-01-04 is a Thursday: CH default week starts Sunday 12-31,
    // toMonday gives 01-01
    assert(r.getDate(0).toString == "2023-12-31")
    assert(r.getDate(1).toString == "2024-01-01")
    assert(r.getInt(2) == 3 && r.getInt(3) == 2024 && r.getInt(4) == 3)
    assert(r.getInt(5) == 1)
    assert(r.getInt(6) == 4 && r.getInt(7) == 0) // CH (haystack, needle)
    assert(!r.getBoolean(8) && r.getBoolean(9))
    val r2 = one(
      """SELECT position('aXbXc', 'X', 3),
        |  toStartOfWeek(DATE'2024-01-04', 1), toStartOfWeek(DATE'2024-01-04', 0)""".stripMargin)
    assert(r2.getInt(0) == 4) // search resumes at pos 3
    assert(r2.getDate(1).toString == "2024-01-01") // Monday mode
    assert(r2.getDate(2).toString == "2023-12-31") // Sunday mode
  }

  test("dateDiffCH counts boundary crossings like the reference") {
    val r = one(
      """SELECT dateDiffCH('hour', TIMESTAMP'2024-01-01 10:59:00', TIMESTAMP'2024-01-01 11:01:00'),
        |  dateDiffCH('day', DATE'2024-01-01', DATE'2024-03-01'),
        |  dateDiffCH('month', DATE'2023-12-31', DATE'2024-01-01'),
        |  dateDiffCH('year', DATE'2023-12-31', DATE'2024-01-01'),
        |  dateDiffCH('second', TIMESTAMP'2024-01-01 00:00:00', TIMESTAMP'2024-01-01 00:01:30'),
        |  dateDiffCH('week', DATE'2024-01-07', DATE'2024-01-08')""".stripMargin)
    assert(r.getLong(0) == 1L) // crosses one hour boundary
    assert(r.getInt(1) == 60)
    assert(r.getInt(2) == 1) // month boundary crossed
    assert(r.getInt(3) == 1)
    assert(r.getLong(4) == 90L)
    assert(r.getLong(5) == 1L) // Sunday -> Monday crosses a week start
  }

  test("interval arithmetic and string pads/splits") {
    val r = one(
      """SELECT addDays(DATE'2024-01-30', 3), subtractDays(DATE'2024-01-02', 2),
        |  addHours(TIMESTAMP'2024-01-01 23:00:00', 2),
        |  leftPad('7', 3, '0'), rightPad('ab', 4, '-'),
        |  splitByString('||', 'a||b||c'),
        |  lowerUTF8('ÄBC'), isFinite(1.0), isFinite(divide(1, 0)),
        |  isInfinite(divide(-1, 0)), exp2(10)""".stripMargin)
    assert(r.get(0).toString == "2024-02-02")
    assert(r.get(1).toString == "2023-12-31")
    assert(r.get(2).toString.startsWith("2024-01-02 01:00"))
    assert(r.getString(3) == "007" && r.getString(4) == "ab--")
    assert(r.getSeq[String](5) == Seq("a", "b", "c"))
    assert(r.getString(6) == "äbc")
    assert(r.getBoolean(7) && !r.getBoolean(8))
    assert(r.getBoolean(9))
    assert(r.getDouble(10) == 1024.0)
  }

  test("ifNotFinite substitutes the fallback only for inf/nan") {
    val r = one(
      """SELECT ifNotFinite(divide(1, 0), -1.0),
        |  ifNotFinite(divide(0.0, 0.0), -2.0),
        |  ifNotFinite(2.5D, -3.0)""".stripMargin)
    assert(r.getDouble(0) == -1.0)
    assert(r.getDouble(1) == -2.0)
    assert(r.getDouble(2) == 2.5)
    // the argument binds once: a non-deterministic x is classified and
    // returned from the SAME evaluation (rand() is always finite, so
    // the result must be the x that was tested, never the fallback)
    val nd = one("SELECT ifNotFinite(rand(), -1.0)")
    assert(nd.getDouble(0) >= 0.0)
  }

  test("ngramSearch is asymmetric needle containment in [0,1]") {
    val r = one(
      """SELECT ngramSearch('hello world', 'hello'),
        |  ngramSearch('abcd', 'wxyz'),
        |  ngramSearch('hello', 'hellx'),
        |  ngramSearch('anything', 'abc')""".stripMargin)
    assert(r.getDouble(0) == 1.0) // needle grams all present
    assert(r.getDouble(1) == 0.0) // disjoint
    assert(r.getDouble(2) == 0.5) // 'hell' found, 'ellx' not
    assert(r.getDouble(3) == 0.0) // needle shorter than a 4-gram
  }

  test("gcd/lcm Euclid semantics incl. zero and negatives") {
    val r = one(
      """SELECT gcd(12, 18), lcm(4, 6), gcd(0, 0), gcd(-12, 18),
        |  gcd(7, 0), lcm(5, 0)""".stripMargin)
    assert(r.getLong(0) == 6L && r.getLong(1) == 12L)
    assert(r.getLong(2) == 0L)
    assert(r.getLong(3) == 6L)
    assert(r.getLong(4) == 7L)
    assert(r.getLong(5) == 0L)
  }

  test("bitmaskToArray/List expand set bits ascending") {
    val r = one(
      "SELECT bitmaskToArray(50), bitmaskToList(50), bitmaskToArray(0)")
    assert(r.getSeq[Long](0) == Seq(2L, 16L, 32L))
    assert(r.getString(1) == "2,16,32")
    assert(r.getSeq[Long](2) == Seq.empty)
  }

  test("JSONExtractArrayRaw keeps quotes and nesting; bad input is NULL") {
    val r = one(
      """SELECT JSONExtractArrayRaw('{"a":["x",1,{"b":2}]}', 'a'),
        |  JSONExtractArrayRaw('[1,2]'),
        |  JSONExtractArrayRaw('{"a":1}', 'a'),
        |  JSONExtractArrayRaw('not json')""".stripMargin)
    assert(r.getSeq[String](0) == Seq("\"x\"", "1", "{\"b\":2}"))
    assert(r.getSeq[String](1) == Seq("1", "2"))
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("base58 encode/decode round-trips; try form empties on bad input") {
    val r = one(
      """SELECT base58Encode('abc'), base58Encode('Hello!'),
        |  base58Decode('11ZiCa'),
        |  tryBase58Decode('0OIl'), tryBase58Decode('ZiCa'),
        |  tryBase64Decode('####'), tryBase64Decode('YWJj')""".stripMargin)
    assert(r.getString(0) == "ZiCa")
    assert(r.getString(1) == "d3yC1LKr")
    assert(r.getString(2) == "\u0000\u0000abc") // '1' chars carry zero bytes
    assert(r.getString(3) == "") // 0,O,I,l are outside the alphabet
    assert(r.getString(4) == "abc")
    assert(r.getString(5) == "" && r.getString(6) == "abc")
    // strict decode throws on a non-alphabet character, like CH
    assertThrows[Exception] {
      one("SELECT base58Decode('0')")
    }
  }

  test("arrayFill/arrayReverseFill carry the last passing element") {
    val r = one(
      """SELECT arrayFill(x -> x > 1, array(1, 2, 1, 3, 1, 1)),
        |  arrayReverseFill(x -> x > 1, array(1, 2, 1, 3, 1, 1)),
        |  arrayFill(x -> x > 9, array(1, 2)),
        |  arrayPartialSort(2, array(3, 1, 2))""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(1, 2, 2, 3, 3, 3))
    assert(r.getSeq[Int](1) == Seq(2, 2, 3, 3, 1, 1))
    // nothing ever passes: each element carries its predecessor, so
    // the first element propagates (CH: arr[i] := arr[i-1] when false)
    assert(r.getSeq[Int](2) == Seq(1, 1))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
  }

  test("tuple arithmetic is element-wise with CH type reading") {
    val r = one(
      """SELECT tuplePlus(tuple(1, 2.5), tuple(10, 20)),
        |  tupleMinus(tuple(5, 7), tuple(1, 2)),
        |  tupleMultiply(tuple(3, 4), tuple(2, 2)),
        |  tupleDivide(tuple(7, 9), tuple(2, 3)),
        |  tupleNegate(tuple(1, -2.5))""".stripMargin)
    assert(r.getStruct(0).getInt(0) == 11 && r.getStruct(0).getDouble(1) == 22.5)
    assert(r.getStruct(1).getInt(0) == 4 && r.getStruct(1).getInt(1) == 5)
    assert(r.getStruct(2).getInt(0) == 6 && r.getStruct(2).getInt(1) == 8)
    assert(r.getStruct(3).getDouble(0) == 3.5) // divide is always double
    assert(r.getStruct(4).getInt(0) == -1 && r.getStruct(4).getDouble(1) == 2.5)
  }

  test("javaHash is exactly String.hashCode; interval makers compose") {
    val r = one(
      """SELECT javaHash('abc'), javaHash(''),
        |  toString(toIntervalDay(3) + toDate('2024-01-01')),
        |  toString(toIntervalMonth(2) + toDate('2024-01-15')),
        |  substringIndex('a.b.c', '.', 2),
        |  toValidUTF8('ok')""".stripMargin)
    assert(r.getInt(0) == 96354 && r.getInt(1) == 0)
    assert(r.getString(2).startsWith("2024-01-04"))
    assert(r.getString(3).startsWith("2024-03-15"))
    assert(r.getString(4) == "a.b")
    assert(r.getString(5) == "ok")
  }

  test("random distributions stay inside their contracts") {
    val r = one(
      """SELECT randUniform(5, 6) BETWEEN 5 AND 6,
        |  abs(randNormal(0, 1)) < 100,
        |  randBernoulli(0.5) IN (0, 1),
        |  randExponential(2.0) >= 0,
        |  randBernoulli(0.0), randBernoulli(1.0)""".stripMargin)
    (0 to 3).foreach(i => assert(r.getBoolean(i)))
    assert(r.getShort(4) == 0 && r.getShort(5) == 1)
  }

  test("arraySplit/arrayReverseSplit group boundaries match CH") {
    val r = one(
      """SELECT toString(arraySplit(x -> x = 0, array(1, 2, 0, 3, 0, 4))),
        |  toString(arrayReverseSplit(x -> x = 0, array(1, 2, 0, 3))),
        |  toString(arraySplit(x -> x > 9, array(1, 2))),
        |  toString(arraySplit(x -> x >= 0, array(7)))""".stripMargin)
    assert(r.getString(0) == "[[1, 2], [0, 3], [0, 4]]")
    assert(r.getString(1) == "[[1, 2, 0], [3]]")
    assert(r.getString(2) == "[[1, 2]]") // no split points → one group
    assert(r.getString(3) == "[[7]]") // first element always opens
  }

  test("reinterpretAs* is little-endian byte reinterpretation") {
    val r = one(
      """SELECT reinterpretAsString(65), reinterpretAsString(25185),
        |  reinterpretAsUInt32('a'), reinterpretAsUInt16('ab'),
        |  reinterpretAsUInt8('ab'), reinterpretAsUInt64('')""".stripMargin)
    assert(r.getString(0) == "A")
    assert(r.getString(1) == "ab") // 0x6261 LE
    assert(r.getLong(2) == 97L)
    assert(r.getLong(3) == 25185L)
    assert(r.getLong(4) == 97L) // only the first byte
    assert(r.getLong(5) == 0L) // empty string zero-extends
  }

  test("JSONType/JSONKey introspection and OrZero/OrDefault conversions") {
    val r = one(
      """SELECT JSONType('{"a":[1]}', 'a'), JSONType('{"b":"x"}', 'b'),
        |  JSONType('{"c":1}', 'c'), JSONType('{"d":1.5}', 'd'),
        |  JSONType('{"e":true}', 'e'), JSONType('[1]'),
        |  JSONType('not json'), JSONKey('{"x":1,"y":2}', 2),
        |  toString(toDateOrZero('nope')),
        |  toString(toDateTimeOrZero('nope')),
        |  toInt32OrDefault('x', 9), toInt32OrDefault('7', 9),
        |  toString(parseDateTime32BestEffort('15/01/2024')),
        |  toString(parseDateTimeBestEffortOrZero('garbage'))""".stripMargin)
    assert(r.getString(0) == "Array" && r.getString(1) == "String")
    assert(r.getString(2) == "Int64" && r.getString(3) == "Double")
    assert(r.getString(4) == "Bool" && r.getString(5) == "Array")
    assert(r.isNullAt(6))
    assert(r.getString(7) == "y")
    assert(r.getString(8) == "1970-01-01")
    assert(r.getString(9) == "1970-01-01 00:00:00")
    assert(r.getInt(10) == 9 && r.getInt(11) == 7)
    assert(r.getString(12) == "2024-01-15 00:00:00")
    assert(r.getString(13) == "1970-01-01 00:00:00")
  }

  test("skewSamp/kurtSamp relate to the population forms by (vp/vs)^k") {
    val r = one(
      """SELECT skewSamp(v), skewPop(v) * pow(var_pop(v) / var_samp(v), 1.5),
        |  kurtSamp(v), kurtPop(v) * pow(var_pop(v) / var_samp(v), 2.0),
        |  uptime() >= 0, currentUser() IS NOT NULL
        |FROM (SELECT CAST(id AS DOUBLE) AS v FROM range(1, 50))""".stripMargin)
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12)
    assert(r.getBoolean(4) && r.getBoolean(5))
  }

  test("format() expands {} and {N} placeholders over format_string") {
    val r = one(
      """SELECT format('{} owes {}', 'a', 42),
        |  format('{1} then {0}', 'first', 'second'),
        |  format('100% sure: {}', 'yes'),
        |  format('no holes')""".stripMargin)
    assert(r.getString(0) == "a owes 42")
    assert(r.getString(1) == "second then first")
    // CH format has no %-escaping — a literal % passes through
    assert(r.getString(2) == "100% sure: yes")
    assert(r.getString(3) == "no holes")
  }

  test("URL part names: queryString/fragment/netloc/queryStringAndFragment") {
    val r = one(
      """SELECT queryString('https://h/p?a=1&b=2'),
        |  fragment('https://h/p#frag'),
        |  netloc('https://u:p@h:8080/x'),
        |  queryStringAndFragment('https://h/p?a=1#z')""".stripMargin)
    assert(r.getString(0) == "a=1&b=2")
    assert(r.getString(1) == "frag")
    assert(r.getString(2) == "u:p@h:8080")
    assert(r.getString(3) == "a=1#z")
  }

  test("conversion battery: toInt*/toFloat*/toString + OrZero/OrNull") {
    val r = one(
      """SELECT toInt32('42'), toInt64('9007199254740993'), toFloat64('2.5'),
        |  toString(17), toUInt8(200),
        |  toInt32OrZero('nope'), toInt32OrZero('7'),
        |  toInt64OrNull('nope'), toFloat64OrNull('3.5')""".stripMargin)
    assert(r.getInt(0) == 42)
    assert(r.getLong(1) == 9007199254740993L)
    assert(r.getDouble(2) == 2.5)
    assert(r.getString(3) == "17")
    assert(r.getShort(4) == 200)
    assert(r.getInt(5) == 0 && r.getInt(6) == 7)
    assert(r.isNullAt(7))
    assert(r.getDouble(8) == 3.5)
    // the strict forms throw on garbage, like the reference
    intercept[Exception] { one("SELECT toInt32('abc')") }
  }

  test("toUInt8/16/32 wrap modulo 2^width like the reference") {
    val r = one(
      """SELECT toUInt8(300), toUInt8(-1), toUInt8(256),
        |  toUInt16(70000), toUInt16(-1),
        |  toUInt32(4294967296 + 5), toUInt32(-1)""".stripMargin)
    assert(r.getShort(0) == 44 && r.getShort(1) == 255 && r.getShort(2) == 0)
    assert(r.getInt(3) == 4464 && r.getInt(4) == 65535)
    assert(r.getLong(5) == 5L && r.getLong(6) == 4294967295L)
  }

  test("arrayElement is total: OOB and index 0 are the type default, " +
      "negatives wrap") {
    val r = one(
      """SELECT arrayElement(array(10, 20, 30), 2),
        |  arrayElement(array(10, 20, 30), 5),
        |  arrayElement(array(10, 20, 30), 0),
        |  arrayElement(array(10, 20, 30), -1),
        |  arrayElement(array('a', 'b'), 9)""".stripMargin)
    assert(r.getInt(0) == 20)
    // CH: out-of-range and index 0 answer the ELEMENT-TYPE DEFAULT
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == 0)
    assert(r.getInt(3) == 30)
    assert(r.getString(4) == "")
  }

  test("*OrZero division family returns 0 on a zero divisor") {
    val r = one(
      """SELECT divideOrZero(7, 0), divideOrZero(7, 2),
        |  intDivOrZero(7, 0), intDivOrZero(7, 2),
        |  moduloOrZero(7, 0), moduloOrZero(7, 3)""".stripMargin)
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 3.5)
    assert(r.getLong(2) == 0L && r.getLong(3) == 3L)
    assert(r.getInt(4) == 0 && r.getInt(5) == 1)
  }

  test("countSubstrings with an empty needle is 0, not an ANSI divide error") {
    val r = one("SELECT countSubstrings('abc', ''), countSubstrings('', '')")
    assert(r.getInt(0) == 0)
    assert(r.getInt(1) == 0)
  }

  test("ngramDistance counts 4-grams with multiplicity (multiset, not set)") {
    // 'aaaaa' has grams {aaaa×2}; 'aaaa' has {aaaa×1}.
    // multiset: |AΔB|/(|A|+|B|) = (2+1-2·1)/3 = 1/3; a set formula says 0.
    val r = one("SELECT ngramDistance('aaaaa', 'aaaa')")
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-12)
  }

  test("countMatches equals size(regexp_extract_all(...)) on real text") {
    CHFunctions.register(spark)
    // two instances in ONE projection: also proves the codegen'd
    // pattern locals don't collide in a shared scope
    val bad = spark.sql(
      """SELECT text FROM VALUES ('Hello, world! 42 foo'), (''), ('a+b=c') t(text)""")
      .selectExpr(
        "countMatches(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]') AS fast",
        "countMatches(text, '[0-9]+') AS digits",
        "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS slow")
      .where("fast != slow").count()
    assert(bad == 0)
  }

  test("vector distances raise on mismatched dimensions") {
    val e = intercept[Exception] {
      one("SELECT dotProduct(array(1D,2D), array(1D,2D,3D))")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("length mismatch"))
  }

  test("anyHeavy finds the majority element; quantile sketch aliases agree") {
    val r = one(
      """SELECT anyHeavy(x),
        |  quantileTDigest(x, 0.5), quantileTiming(x, 0.5)
        |FROM VALUES (1), (2), (2), (2), (3) t(x)""".stripMargin)
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 2)
  }

  test("array set-ops family under ClickHouse names") {
    val r = one(
      """SELECT arrayIntersect(array(1,2,3), array(2,3,4)),
        |  arrayUnion(array(1,2), array(2,3)),
        |  arrayExcept(array(1,2,3), array(2)),
        |  arrayPushBack(array(1,2), 3),
        |  arrayPushFront(array(2,3), 1),
        |  arrayPopBack(array(1,2,3)),
        |  arrayPopFront(array(1,2,3)),
        |  arrayPopBack(array(7)),
        |  hasAll(array(1,2,3), array(1,3)),
        |  hasAll(array(1,2), array(1,9)),
        |  hasAny(array(1,2), array(9,2)),
        |  rangeCH(4),
        |  rangeCH(2, 5),
        |  rangeCH(0)""".stripMargin)
    assert(r.getSeq[Int](0).sorted == Seq(2, 3))
    assert(r.getSeq[Int](1).sorted == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(1, 3))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Int](4) == Seq(1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(1, 2))
    assert(r.getSeq[Int](6) == Seq(2, 3))
    assert(r.getSeq[Int](7) == Seq())
    assert(r.getBoolean(8))
    assert(!r.getBoolean(9))
    assert(r.getBoolean(10))
    assert(r.getSeq[Int](11) == Seq(0, 1, 2, 3))
    assert(r.getSeq[Int](12) == Seq(2, 3, 4))
    assert(r.getSeq[Int](13) == Seq())
  }

  test("ngramDistance: 0 for equal, 1 for disjoint, symmetric in between") {
    val r = one(
      """SELECT ngramDistance('abcde', 'abcde'),
        |  ngramDistance('abcd', 'wxyz'),
        |  ngramDistance('', ''),
        |  ngramDistance('abcde', 'abcdf'),
        |  ngramDistance('abcdf', 'abcde')""".stripMargin)
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 0.0)
    // abcde grams {abcd,bcde}, abcdf grams {abcd,bcdf}: |AΔB|/(|A|+|B|) = 2/4
    assert(r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == r.getDouble(3))
  }

  test("charEntropy: uniform chars = log2(k), single char = 0, empty = 0") {
    val r = one("SELECT charEntropy('abab'), charEntropy('aaaa'), charEntropy('')")
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 0.0)
  }

  test("vector-distance family agrees with hand math") {
    val r = one(
      """SELECT dotProduct(array(1D,2D,3D), array(4D,5D,6D)),
        |  L2SquaredDistance(array(1D,2D), array(4D,6D)),
        |  L2Distance(array(0D,3D), array(4D,0D)),
        |  L2Norm(array(3D,4D)),
        |  L2SquaredNorm(array(3D,4D))""".stripMargin)
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == 25.0)
    assert(r.getDouble(2) == 5.0)
    assert(r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == 25.0)
  }

  test("avgWeighted with all-zero weights is null, not an ANSI error") {
    val r = one("SELECT avgWeighted(x, 0) FROM VALUES (1), (2) t(x)")
    assert(r.isNullAt(0))
  }

  test("sumMap/minMap/maxMap combine per-key values across rows") {
    val r = one(
      """SELECT sumMap(k, v), minMap(k, v), maxMap(k, v)
        |FROM VALUES (array('b', 'a'), array(2.0D, 1.0D)),
        |            (array('a', 'c'), array(10.0D, 5.0D)),
        |            (array('b'), array(3.0D)) t(k, v)""".stripMargin)
    val s = r.getStruct(0)
    assert(s.getSeq[String](0) == Seq("a", "b", "c")) // sorted keys
    assert(s.getSeq[Double](1) == Seq(11.0, 5.0, 5.0))
    assert(r.getStruct(1).getSeq[Double](1) == Seq(1.0, 2.0, 5.0))
    assert(r.getStruct(2).getSeq[Double](1) == Seq(10.0, 3.0, 5.0))
  }

  test("sumMap: integer keys sort numerically; nulls and ragged arrays skip") {
    val r = one(
      """SELECT sumMap(k, v)
        |FROM VALUES (array(10, 2), array(1, 1)),
        |            (array(2, 10, 99), array(1, 1)),
        |            (CAST(null AS ARRAY<INT>), array(9)),
        |            (array(2, null), array(1, 1)) t(k, v)""".stripMargin)
    val s = r.getStruct(0)
    // 99 has no paired value (prefix zip); null key/array rows skip
    assert(s.getSeq[Int](0) == Seq(2, 10))
    // integral inputs keep the exact bigint path
    assert(s.getSeq[Long](1) == Seq(3L, 2L))
  }

  test("sumMap over bigint values is exact past 2^53") {
    val big = (1L << 53) + 1 // not representable as a double
    val r = one(
      s"""SELECT sumMap(k, v)
         |FROM VALUES (array('a'), array(${big}L)),
         |            (array('a'), array(2L)) t(k, v)""".stripMargin)
    assert(r.getStruct(0).getSeq[Long](1) == Seq(big + 2))
  }

  test("sumMap string keys sort in UTF-8 binary order (non-BMP after BMP)") {
    // U+FF5E (BMP, 3 UTF-8 bytes 0xEF...) < U+10400 (supplementary,
    // 4 bytes 0xF0...) in UTF-8 order, but the UTF-16 surrogate D801
    // sorts BEFORE FF5E in Java String order — pin the UTF-8 order
    val r = one(
      """SELECT sumMap(array('𐐀', '～'), array(1, 2))""")
    assert(r.getStruct(0).getSeq[String](0) == Seq("～", "𐐀"))
  }

  test("sumMap survives shuffle serialization of >64KB string keys") {
    import org.apache.spark.sql.functions._
    CHFunctions.register(spark)
    // writeUTF would throw UTFDataFormatException at 65536 UTF-8 bytes;
    // repartition forces the partial buffers through serialize/merge
    val df = spark.range(0, 4).repartition(4)
      .selectExpr("sumMap(array(repeat('k', 70000)), array(1L)) AS m")
    val s = df.collect().head.getStruct(0)
    assert(s.getSeq[String](0).head.length == 70000)
    assert(s.getSeq[Long](1) == Seq(4L))
  }

  test("sumMap partial-aggregates across partitions") {
    import org.apache.spark.sql.functions._
    CHFunctions.register(spark)
    val df = spark.range(0, 1000).repartition(8)
      .selectExpr("sumMap(array(CAST(id % 3 AS INT)), array(1)) AS m")
    val s = df.collect().head.getStruct(0)
    assert(s.getSeq[Int](0) == Seq(0, 1, 2))
    assert(s.getSeq[Long](1) == Seq(334L, 333L, 333L))
    // the plan must carry a partial aggregation stage (map-side combine)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_mapcombineagg"),
      s"expected partial aggregation in plan:\n$plan")
  }

  test("neighbor reads ahead and behind in window order") {
    val r = spark.sql(
      """SELECT collect_list(nxt), collect_list(prv) FROM (
        |  SELECT neighbor(x, 1) OVER (ORDER BY x) AS nxt,
        |         neighbor(x, -1) OVER (ORDER BY x) AS prv
        |  FROM VALUES (1), (2), (3) t(x))""".stripMargin).collect().head
    // out-of-frame fills the type default (0 — non-nullable VALUES
    // column), ClickHouse's neighbor() contract
    assert(r.getSeq[Int](0) == Seq(2, 3, 0))
    assert(r.getSeq[Int](1) == Seq(0, 1, 2))
  }

  test("date arithmetic battery: month-clamped adds, MJD, names") {
    val r = one(
      """SELECT toDate(addMonths(DATE'1998-01-31', 1)),
        |  toDate(addYears(DATE'1996-02-29', 1)),
        |  toDate(subtractQuarters(DATE'1998-07-15', 2)),
        |  toDate(addWeeks(DATE'1998-01-01', 2)),
        |  toLastDayOfMonth(DATE'1998-02-03'),
        |  toModifiedJulianDay(DATE'1858-11-17'),
        |  toModifiedJulianDay(DATE'1995-10-10'),
        |  fromModifiedJulianDay(50000),
        |  monthName(DATE'1998-02-03'),
        |  dateName('weekday', DATE'1998-02-03'),
        |  dateName('year', DATE'1998-02-03')""".stripMargin)
    assert(r.getDate(0).toString == "1998-02-28")
    assert(r.getDate(1).toString == "1997-02-28")
    assert(r.getDate(2).toString == "1998-01-15")
    assert(r.getDate(3).toString == "1998-01-15")
    assert(r.getDate(4).toString == "1998-02-28")
    assert(r.getInt(5) == 0 && r.getInt(6) == 50000)
    assert(r.getDate(7).toString == "1995-10-10")
    assert(r.getString(8) == "February")
    assert(r.getString(9) == "Tuesday")
    assert(r.getString(10) == "1998")
  }

  test("age counts complete units by strict component compare") {
    val r = one(
      """SELECT age('month', DATE'1998-01-30', DATE'1998-02-28'),
        |  age('month', DATE'1998-01-31', DATE'1998-02-28'),
        |  age('month', DATE'1998-01-28', DATE'1998-02-28'),
        |  age('year', DATE'1996-03-15', DATE'1998-03-14'),
        |  age('year', DATE'1996-03-15', DATE'1998-03-15'),
        |  age('day', DATE'1998-01-01', DATE'1998-01-31'),
        |  age('week', DATE'1998-01-01', DATE'1998-01-15'),
        |  age('quarter', DATE'1998-01-15', DATE'1998-07-20')""".stripMargin)
    // Jan 30/31 → Feb 28 is INCOMPLETE (day 28 < day 30): the
    // months_between both-last-day special case must not leak in
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 1L && r.getLong(4) == 2L)
    assert(r.getLong(5) == 30L && r.getLong(6) == 2L && r.getLong(7) == 2L)
  }

  test("rounding family: bankers, buckets, powers of two, exponentials") {
    val r = one(
      """SELECT roundBankers(2.5), roundBankers(3.5), roundBankers(-2.5),
        |  roundAge(0), roundAge(5), roundAge(20), roundAge(44), roundAge(90),
        |  roundDuration(0), roundDuration(35), roundDuration(40000),
        |  roundToExp2(0), roundToExp2(1), roundToExp2(3), roundToExp2(1023),
        |  roundToExp2(1024),
        |  roundDown(13, array(0, 10, 25)), roundDown(-5, array(0, 10, 25)),
        |  intExp2(62), intExp10(15)""".stripMargin)
    // bare 2.5 parses as DECIMAL; bround keeps the input type
    assert(r.get(0).toString.toDouble == 2.0
      && r.get(1).toString.toDouble == 4.0
      && r.get(2).toString.toDouble == -2.0)
    assert(r.getInt(3) == 0 && r.getInt(4) == 17 && r.getInt(5) == 18
      && r.getInt(6) == 35 && r.getInt(7) == 55)
    assert(r.getInt(8) == 0 && r.getInt(9) == 30 && r.getInt(10) == 36000)
    assert(r.getLong(11) == 0L && r.getLong(12) == 1L && r.getLong(13) == 2L
      && r.getLong(14) == 512L && r.getLong(15) == 1024L)
    assert(r.getInt(16) == 10 && r.getInt(17) == 0)
    assert(r.getLong(18) == (1L << 62) && r.getLong(19) == 1000000000000000L)
  }

  test("transform dispatches between the lambda and remap forms") {
    val r = one(
      """SELECT transform(array(1, 2, 3), x -> x * 10),
        |  transform(2, array(1, 2, 3), array('a', 'b', 'c'), 'z'),
        |  transform(9, array(1, 2, 3), array('a', 'b', 'c'), 'z'),
        |  transform(9, array(1, 2), array(10, 20))""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(10, 20, 30))
    assert(r.getString(1) == "b" && r.getString(2) == "z")
    assert(r.getInt(3) == 9) // 3-arg form falls back to the input
  }

  test("bar renders full blocks plus an eighth glyph") {
    val r = one(
      """SELECT bar(7.5, 0, 10, 5), bar(0, 0, 10, 5), bar(10, 0, 10, 5),
        |  bar(15, 0, 10, 5)""".stripMargin)
    assert(r.getString(0) == "███▊")
    assert(r.getString(1) == "")
    assert(r.getString(2) == "█████")
    assert(r.getString(3) == "█████") // clamped at width
  }

  test("array battery 3: fold, resize, rotate, shift, jaccard, enumerate") {
    val r = one(
      """SELECT arrayFold((acc, x) -> acc + x, array(1, 2, 3), 100),
        |  arrayResize(array(1, 2, 3), 5, 0),
        |  arrayResize(array(1, 2, 3), 2),
        |  arrayRotateLeft(array(1, 2, 3, 4), 1),
        |  arrayRotateLeft(array(1, 2, 3, 4), -1),
        |  arrayRotateRight(array(1, 2, 3, 4), 1),
        |  arrayShiftLeft(array(1, 2, 3, 4), 2, 0),
        |  arrayShiftRight(array(1, 2, 3, 4), 2, 0),
        |  round(arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)), 4),
        |  arrayJaccardIndex(array(), array()),
        |  arrayEnumerateUniq(array(10, 20, 10, 30, 10)),
        |  arrayWithConstant(3, 7)""".stripMargin)
    assert(r.getInt(0) == 106)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3, 0, 0))
    assert(r.getSeq[Int](2) == Seq(1, 2))
    assert(r.getSeq[Int](3) == Seq(2, 3, 4, 1))
    assert(r.getSeq[Int](4) == Seq(4, 1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(4, 1, 2, 3))
    assert(r.getSeq[Int](6) == Seq(3, 4, 0, 0))
    assert(r.getSeq[Int](7) == Seq(0, 0, 1, 2))
    assert(r.getDouble(8) == 0.5)
    assert(r.getDouble(9) == 1.0)
    assert(r.getSeq[Int](10) == Seq(1, 1, 2, 1, 3))
    assert(r.getSeq[Int](11) == Seq(7, 7, 7))
  }

  test("two-sample tests match mpmath references (t, U, z, p, rho)") {
    val r = one(
      """WITH s AS (SELECT * FROM VALUES
        |  (27.1, 0), (22.0, 0), (20.8, 0), (23.4, 0), (23.4, 0),
        |  (23.5, 0), (25.8, 0), (22.0, 0), (24.8, 0), (20.2, 0),
        |  (27.1, 1), (24.0, 1), (20.8, 1), (23.0, 1), (27.7, 1),
        |  (26.8, 1), (22.5, 1), (24.5, 1) t(v, g))
        |SELECT studentTTest(v, g) AS st, welchTTest(v, g) AS wt,
        |  mannWhitneyUTest(v, g) AS mw
        |FROM s""".stripMargin)
    val (st, wt, mw) = (r.getStruct(0), r.getStruct(1), r.getStruct(2))
    // references computed with mpmath (30-digit betainc/erfc)
    assert(math.abs(st.getDouble(0) - -1.1453468879067492) < 1e-9)
    assert(math.abs(st.getDouble(1) - 0.2689089893611406) < 1e-9)
    assert(math.abs(wt.getDouble(0) - -1.1282123225640568) < 1e-9)
    assert(math.abs(wt.getDouble(1) - 0.2780157097638088) < 1e-9)
    assert(mw.getDouble(0) == 28.0) // exact half-integer rank arithmetic
    // plain form applies CH's default continuity_correction=1:
    // z = (u − mu + 0.5)/sigma here (u < mu), same as the param form
    assert(math.abs(mw.getDouble(1) - -1.023917348105449) < 1e-12)
    assert(math.abs(mw.getDouble(2) - 0.305874315452878) < 1e-6) // A-S erfc
  }

  test("rankCorr is Spearman with average ranks for ties") {
    val r = one(
      """SELECT rankCorr(x, y), rankCorr(x, x),
        |  rankCorr(x, -x)
        |FROM VALUES (1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0),
        |  (5.0, 7.0), (6.0, 8.0), (7.0, 6.0), (8.0, 5.0) t(x, y)""".stripMargin)
    assert(math.abs(r.getDouble(0) - 0.7380952380952381) < 1e-12)
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == -1.0)
  }

  test("map arithmetic: add/subtract on key union, update, lambdas, series") {
    val r = one(
      """SELECT mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)),
        |  mapSubtract(map('a', 5), map('a', 2, 'z', 1)),
        |  mapUpdate(map('a', 1, 'b', 2), map('b', 9)),
        |  mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)),
        |  mapApply((k, v) -> struct(k, v * 10), map('a', 1, 'b', 2)),
        |  mapExists((k, v) -> v > 1, map('a', 1)),
        |  mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)),
        |  mapPopulateSeries(map(1, 10, 4, 40)),
        |  mapPopulateSeries(map(1, 10, 3, 30), 5)""".stripMargin)
    assert(r.getMap[String, Int](0) == Map("a" -> 1, "b" -> 12, "c" -> 3))
    assert(r.getMap[String, Int](1) == Map("a" -> 3, "z" -> -1))
    assert(r.getMap[String, Int](2) == Map("a" -> 1, "b" -> 9))
    assert(r.getMap[String, Int](3) == Map("b" -> 2))
    assert(r.getMap[String, Int](4) == Map("a" -> 10, "b" -> 20))
    assert(!r.getBoolean(5) && r.getBoolean(6))
    assert(r.getMap[Int, Int](7) == Map(1 -> 10, 2 -> 0, 3 -> 0, 4 -> 40))
    assert(r.getMap[Int, Int](8) ==
      Map(1 -> 10, 2 -> 0, 3 -> 30, 4 -> 0, 5 -> 0))
  }

  test("ordered-series aggregates: deltaSumTimestamp, coverage, peak") {
    val r = one(
      """SELECT deltaSumTimestamp(v, t),
        |  intervalLengthSum(s, e), maxIntersections(s, e)
        |FROM VALUES
        |  (10.0, 1.0, 0.0, 10.0), (13.0, 2.0, 5.0, 15.0),
        |  (11.0, 3.0, 20.0, 30.0), (16.0, 4.0, 15.0, 18.0)
        |  t(v, t, s, e)""".stripMargin)
    // deltas in t order: +3, -2, +5 → positive sum 8
    assert(r.getDouble(0) == 8.0)
    // union [0,18) ∪ [20,30) = 28; [15,18) touches [5,15)'s end —
    // half-open, so the end point does not stack
    assert(r.getDouble(1) == 28.0)
    assert(r.getLong(2) == 2L)
  }

  test("interval aggregates: empty/degenerate inputs") {
    val r = one(
      """SELECT intervalLengthSum(s, e), maxIntersections(s, e),
        |  deltaSumTimestamp(s, e)
        |FROM VALUES (5.0, 5.0), (7.0, 3.0) t(s, e)""".stripMargin)
    // zero-length and inverted intervals cover nothing
    assert(r.getDouble(0) == 0.0)
    // sorted (point, delta) events: (3,-1),(5,-1),(5,+1),(7,+1) →
    // running sum -1,-2,-1,0 → peak 0
    assert(r.getLong(1) == 0L)
    // value=s ordered by ts=e: t=3→v=7 then t=5→v=5, only a -2 step
    assert(r.getDouble(2) == 0.0)
  }

  test("geohash encode/decode: known cell, round trip, clamping") {
    val r = one(
      """SELECT geohashEncode(-5.6D, 42.6D, 5),
        |  geohashEncode(-5.6D, 42.6D),
        |  geohashDecode('ezs42'),
        |  geohashDecode(geohashEncode(13.361389D, 38.115556D, 12))""".stripMargin)
    assert(r.getString(0) == "ezs42") // the canonical published vector
    assert(r.getString(1).length == 12 && r.getString(1).startsWith("ezs42"))
    val c = r.getStruct(2)
    // 5-char cell is ±0.022° lon, ±0.022° lat around the center
    assert(math.abs(c.getDouble(0) - -5.6) < 0.05)
    assert(math.abs(c.getDouble(1) - 42.6) < 0.05)
    val rt = r.getStruct(3) // 12-char round trip pins ~1e-7 degrees
    assert(math.abs(rt.getDouble(0) - 13.361389) < 1e-6)
    assert(math.abs(rt.getDouble(1) - 38.115556) < 1e-6)
  }

  test("pointInPolygon ray casts with the even-odd rule") {
    val r = one(
      """SELECT
        |  pointInPolygon(0.0D, 0.0D, array(-1.0D, 1.0D, 1.0D, -1.0D),
        |    array(-1.0D, -1.0D, 1.0D, 1.0D)),
        |  pointInPolygon(2.0D, 0.0D, array(-1.0D, 1.0D, 1.0D, -1.0D),
        |    array(-1.0D, -1.0D, 1.0D, 1.0D)),
        |  pointInPolygon(5.0D, 5.0D, array(0.0D, 10.0D, 10.0D, 5.0D, 0.0D),
        |    array(0.0D, 0.0D, 10.0D, 5.0D, 10.0D)),
        |  pointInPolygon(5.0D, 6.0D, array(0.0D, 10.0D, 10.0D, 5.0D, 0.0D),
        |    array(0.0D, 0.0D, 10.0D, 5.0D, 10.0D))""".stripMargin)
    assert(r.getBoolean(0))  // center of the square
    assert(!r.getBoolean(1)) // right of the square
    // concave polygon (square with a notch dipping down to (5,5)):
    // the notch vertex itself ray-casts one crossing (the right wall;
    // both notch edges intersect AT px, and strict < excludes them)
    assert(r.getBoolean(2))
    // (5,6) sits in the notch cavity: right wall + upper-right notch
    // edge = two crossings → outside
    assert(!r.getBoolean(3))
  }

  test("kolmogorovSmirnovTest matches the mpmath reference") {
    val r = one(
      """WITH s AS (SELECT * FROM VALUES
        |  (27.1, 0), (22.0, 0), (20.8, 0), (23.4, 0), (23.4, 0),
        |  (23.5, 0), (25.8, 0), (22.0, 0), (24.8, 0), (20.2, 0),
        |  (27.1, 1), (24.0, 1), (20.8, 1), (23.0, 1), (27.7, 1),
        |  (26.8, 1), (22.5, 1), (24.5, 1) t(v, g))
        |SELECT kolmogorovSmirnovTest(v, g) FROM s""".stripMargin)
    val ks = r.getStruct(0)
    // sup distance is deterministic IEEE over rational counts (the
    // exact value is 13/40; the double carries the division rounding)
    assert(math.abs(ks.getDouble(0) - 0.325) < 1e-15)
    assert(math.abs(ks.getDouble(1) - 0.642134258103074) < 1e-9)
  }

  test("cross-tab association family matches hand-computed references") {
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  ('a','p'),('a','p'),('a','p'),('a','q'),
        |  ('b','p'),('b','q'),('b','q'),('b','q'),
        |  ('c','p'),('c','p'),('c','q'),('c','q') s(x, y))
        |SELECT cramersV(x, y), cramersVBiasCorrected(x, y),
        |  contingency(x, y), theilsU(x, y), theilsU(y, x) FROM t""".stripMargin)
    // chi² = 2 exactly (integer-friendly table); V = sqrt(2/12/1)
    assert(math.abs(r.getDouble(0) - 0.408248290463863) < 1e-12)
    // φ² = 1/6 < (r−1)(c−1)/(n−1) = 2/11 → bias correction clamps to 0
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - 0.3779644730092272) < 1e-12)
    // asymmetric: U(x|y) ≠ U(y|x)
    assert(math.abs(r.getDouble(3) - 0.07938016428569487) < 1e-12)
    assert(math.abs(r.getDouble(4) - 0.12581458369391146) < 1e-12)
  }

  test("meanZTest computes z, p, and the known-variance CI") {
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  (1.0, 0), (2.0, 0), (3.0, 0), (4.0, 0),
        |  (2.0, 1), (4.0, 1), (6.0, 1) s(v, g))
        |SELECT meanZTest(1.5D, 2.5D, 0.95D, v, g) FROM t""".stripMargin)
    val zt = r.getStruct(0)
    assert(math.abs(zt.getDouble(0) - -1.364576478442026) < 1e-12)
    // p and the CI inherit the erfc approximation's ~1e-7 error
    assert(math.abs(zt.getDouble(1) - 0.17238620178886033) < 1e-6)
    // CI uses z₀.₉₇₅ = 1.959963984540054 from the Newton probit
    assert(math.abs(zt.getDouble(2) - -3.6544750501391445) < 1e-5)
    assert(math.abs(zt.getDouble(3) - 0.6544750501391445) < 1e-5)
  }

  test("bitmap set algebra over the sorted-array representation") {
    val r = one(
      """SELECT
        |  bitmapBuild(array(3L, 1L, 2L, 3L, 1L)),
        |  bitmapAnd(bitmapBuild(array(1L, 2L, 3L)), bitmapBuild(array(2L, 3L, 4L))),
        |  bitmapOr(bitmapBuild(array(1L, 2L)), bitmapBuild(array(2L, 5L))),
        |  bitmapXor(bitmapBuild(array(1L, 2L, 3L)), bitmapBuild(array(2L, 3L, 4L))),
        |  bitmapAndnot(bitmapBuild(array(1L, 2L, 3L)), bitmapBuild(array(2L))),
        |  bitmapCardinality(bitmapBuild(array(9L, 9L, 8L))),
        |  bitmapContains(bitmapBuild(array(1L, 5L)), 5L),
        |  bitmapHasAll(bitmapBuild(array(1L, 2L, 3L)), bitmapBuild(array(2L, 3L))),
        |  bitmapHasAll(bitmapBuild(array(1L, 2L)), bitmapBuild(array(2L, 3L))),
        |  bitmapHasAny(bitmapBuild(array(1L, 2L)), bitmapBuild(array(5L))),
        |  bitmapSubsetInRange(bitmapBuild(array(1L, 5L, 10L, 15L)), 5L, 15L),
        |  bitmapSubsetLimit(bitmapBuild(array(1L, 5L, 10L, 15L)), 5L, 2),
        |  subBitmap(bitmapBuild(array(1L, 5L, 10L, 15L)), 1, 2),
        |  bitmapXorCardinality(bitmapBuild(array(1L, 2L)), bitmapBuild(array(2L, 4L)))""".stripMargin)
    assert(r.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Long](1) == Seq(2L, 3L))
    assert(r.getSeq[Long](2) == Seq(1L, 2L, 5L))
    assert(r.getSeq[Long](3) == Seq(1L, 4L))
    assert(r.getSeq[Long](4) == Seq(1L, 3L))
    assert(r.getInt(5) == 2)
    assert(r.getBoolean(6))
    assert(r.getBoolean(7) && !r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getSeq[Long](10) == Seq(5L, 10L))
    assert(r.getSeq[Long](11) == Seq(5L, 10L))
    assert(r.getSeq[Long](12) == Seq(5L, 10L))
    assert(r.getInt(13) == 2)
  }

  test("groupBitmapAnd/Or/Xor fold bitmap rows with count semantics") {
    val r = one(
      """WITH t AS (SELECT bitmapBuild(b) AS bm FROM VALUES
        |  (array(1L, 2L, 3L)), (array(2L, 3L, 4L)), (array(3L, 4L, 5L)) s(b))
        |SELECT groupBitmapAnd(bm), groupBitmapOr(bm), groupBitmapXor(bm)
        |FROM t""".stripMargin)
    assert(r.getSeq[Long](0) == Seq(3L))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L, 4L, 5L))
    // counts: 1→1, 2→2, 3→3, 4→2, 5→1 — odd counts survive XOR
    assert(r.getSeq[Long](2) == Seq(1L, 3L, 5L))
  }

  test("IPv6 parse/format round RFC 5952 canonical forms") {
    val r = one(
      """SELECT
        |  IPv6NumToString(IPv6StringToNum('2001:0db8:0000:0000:0000:ff00:0042:8329')),
        |  IPv6NumToString(IPv6StringToNum('::1')),
        |  IPv6NumToString(IPv6StringToNum('::')),
        |  IPv6NumToString(IPv6StringToNum('2001:0db8:0:0:1:0:0:1')),
        |  IPv6NumToString(IPv6StringToNum('::ffff:192.168.1.1')),
        |  IPv6NumToString(toIPv6('10.0.0.7')),
        |  IPv6NumToString(IPv4ToIPv6(IPv4StringToNum('1.2.3.4'))),
        |  isIPv6String('fe80::1'), isIPv6String('1.2.3.4'),
        |  isIPv6String('1:2:3:4:5:6:7:8:9'), isIPv6String('a::b::c'),
        |  isIPv4String('255.255.255.255'), isIPv4String('256.1.1.1'),
        |  isIPv4String('1.2.3')""".stripMargin)
    assert(r.getString(0) == "2001:db8::ff00:42:8329")
    assert(r.getString(1) == "::1")
    assert(r.getString(2) == "::")
    // two zero runs of length 2: RFC 5952 compresses the LEFTMOST
    assert(r.getString(3) == "2001:db8::1:0:0:1")
    assert(r.getString(4) == "::ffff:192.168.1.1")
    assert(r.getString(5) == "::ffff:10.0.0.7")
    assert(r.getString(6) == "::ffff:1.2.3.4")
    assert(r.getBoolean(7) && !r.getBoolean(8))
    assert(!r.getBoolean(9) && !r.getBoolean(10))
    assert(r.getBoolean(11) && !r.getBoolean(12) && !r.getBoolean(13))
  }

  test("CIDR ranges and family-aware membership") {
    val r = one(
      """SELECT
        |  IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16),
        |  IPv6CIDRToRange(toIPv6('2001:db8::'), 32),
        |  isIPAddressInRange('192.168.5.1', '192.168.0.0/16'),
        |  isIPAddressInRange('192.169.0.1', '192.168.0.0/16'),
        |  isIPAddressInRange('2001:db8::1', '2001:db8::/32'),
        |  isIPAddressInRange('2001:db9::1', '2001:db8::/32'),
        |  isIPAddressInRange('2001:db8::1', '192.168.0.0/16'),
        |  isIPAddressInRange('10.0.0.1', '0.0.0.0/0')""".stripMargin)
    val v4 = r.getStruct(0)
    assert(v4.getString(0) == "192.168.0.0" && v4.getString(1) == "192.168.255.255")
    val v6 = r.getStruct(1)
    assert(v6.getString(0) == "2001:db8::")
    assert(v6.getString(1) == "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff")
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(!r.getBoolean(6) && r.getBoolean(7))
  }

  test("exponential time-decay family weights from the latest point") {
    // t = 0, 1, 2 with x = 1: weights e^-2, e^-1, 1 (and 2^-2, 2^-1, 1
    // for the EMA); hand-check every member
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  (10.0, 0.0), (20.0, 1.0), (30.0, 2.0) s(v, ts))
        |SELECT exponentialMovingAverage(1D, v, ts),
        |  exponentialTimeDecayedSum(1D, v, ts),
        |  exponentialTimeDecayedCount(1D, ts),
        |  exponentialTimeDecayedAvg(1D, v, ts),
        |  exponentialTimeDecayedMax(1D, v, ts) FROM t""".stripMargin)
    val w2 = Seq(0.25, 0.5, 1.0)
    val we = Seq(math.exp(-2.0), math.exp(-1.0), 1.0)
    val vs = Seq(10.0, 20.0, 30.0)
    val ema = vs.zip(w2).map(p => p._1 * p._2).sum / w2.sum
    val dsum = vs.zip(we).map(p => p._1 * p._2).sum
    assert(math.abs(r.getDouble(0) - ema) < 1e-12)
    assert(math.abs(r.getDouble(1) - dsum) < 1e-12)
    assert(math.abs(r.getDouble(2) - we.sum) < 1e-12)
    assert(math.abs(r.getDouble(3) - dsum / we.sum) < 1e-12)
    assert(math.abs(r.getDouble(4) - 30.0) < 1e-12)
  }

  test("tokens/ngrams/arrayShingles windowing shapes") {
    val r = one(
      """SELECT tokens('a-b, c!! 42'), ngrams('abcd', 2), ngrams('ab', 3),
        |  arrayShingles(array(1, 2, 3, 4), 2),
        |  arrayShingles(array(1), 3)""".stripMargin)
    assert(r.getSeq[String](0) == Seq("a", "b", "c", "42"))
    assert(r.getSeq[String](1) == Seq("ab", "bc", "cd"))
    assert(r.getSeq[String](2) == Seq.empty)
    assert(r.getSeq[Seq[Int]](3) == Seq(Seq(1, 2), Seq(2, 3), Seq(3, 4)))
    assert(r.getSeq[Seq[Int]](4) == Seq.empty)
  }

  test("unicode normalization and IDNA/punycode bridges") {
    val r = one(
      """SELECT
        |  length(normalizeUTF8NFD('é')), length(normalizeUTF8NFC(normalizeUTF8NFD('é'))),
        |  normalizeUTF8NFKC('ﬁ'),
        |  idnaEncode('münchen.de'), idnaDecode('xn--mnchen-3ya.de'),
        |  punycodeEncode('münchen'), punycodeDecode('mnchen-3ya')""".stripMargin)
    assert(r.getInt(0) == 2 && r.getInt(1) == 1)
    assert(r.getString(2) == "fi")
    assert(r.getString(3) == "xn--mnchen-3ya.de")
    assert(r.getString(4) == "münchen.de")
    assert(r.getString(5) == "mnchen-3ya")
    assert(r.getString(6) == "münchen")
  }

  test("formatReadableTimeDelta renders the documented unit ladder") {
    val r = one(
      """SELECT formatReadableTimeDelta(7654),
        |  formatReadableTimeDelta(1), formatReadableTimeDelta(0),
        |  formatReadableTimeDelta(100000, 'minutes'),
        |  formatReadableTimeDelta(90061.5)""".stripMargin)
    assert(r.getString(0) == "2 hours, 7 minutes, 34 seconds")
    assert(r.getString(1) == "1 second")
    assert(r.getString(2) == "0 seconds")
    assert(r.getString(3) == "1666 minutes, 40 seconds")
    assert(r.getString(4) == "1 day, 1 hour, 1 minute, 1.50 seconds")
  }

  test("epoch bridges, relative buckets, and group extraction") {
    val r = one(
      """SELECT
        |  toUnixTimestamp64Milli(timestamp'2024-01-01 00:00:01.5Z'),
        |  toUnixTimestamp64Micro(timestamp'2024-01-01 00:00:01.5Z'),
        |  cast(fromUnixTimestamp64Milli(1704067201500L) AS STRING),
        |  cast(fromUnixTimestamp64Nano(1704067201500000000L) AS STRING),
        |  timeDiff(timestamp'2024-01-01 00:00:00Z', timestamp'2024-01-01 01:30:00Z'),
        |  toRelativeHourNum(timestamp'2024-01-01 05:59:59Z'),
        |  toRelativeDayNum(timestamp'2024-01-02 23:00:00Z'),
        |  toDaysSinceYearZero(date'2023-09-08'),
        |  extractGroups('hello abc=111, q=2', '(\\w+)=(\\d+)'),
        |  regexpExtract('k: 42;', 'k: (\\d+)')""".stripMargin)
    assert(r.getLong(0) == 1704067201500L)
    assert(r.getLong(1) == 1704067201500000L)
    assert(r.getString(2).startsWith("2024-01-01 00:00:01.5"))
    assert(r.getString(3).startsWith("2024-01-01 00:00:01.5"))
    assert(r.getLong(4) == 5400L)
    assert(r.getLong(5) == 1704067200L / 3600 + 5)
    assert(r.getLong(6) == 1704067200L / 86400 + 1)
    assert(r.getInt(7) == 739136) // ClickHouse's documented vector
    assert(r.getSeq[String](8) == Seq("abc", "111"))
    assert(r.getString(9) == "42")
  }

  test("quantileExactWeighted crosses the cumulative-weight threshold") {
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  (1.0, 1), (2.0, 1), (3.0, 1), (4.0, 1),
        |  (10.0, 6) s(v, w))
        |SELECT quantileExactWeighted(v, w, 0.5D),
        |  quantileExactWeighted(v, w, 0.3D),
        |  medianExactWeighted(v, w),
        |  quantileExactWeighted(v, w) FROM t""".stripMargin)
    // total weight 10: cum(4.0)=4 < 5, cum(10.0)=10 ≥ 5 → median 10
    assert(r.getDouble(0) == 10.0)
    // 0.3×10 = 3: cum(3.0)=3 ≥ 3 → 3.0
    assert(r.getDouble(1) == 3.0)
    assert(r.getDouble(2) == 10.0 && r.getDouble(3) == 10.0)
  }

  test("sumKahan compensates catastrophic cancellation") {
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  (1e16D), (1.0D), (-1e16D), (1.0D) s(v))
        |SELECT sumKahan(v), sum(v) FROM t""".stripMargin)
    assert(r.getDouble(0) == 2.0) // the naive sum loses the 1.0s
  }

  test("numbers() generates, and toStartOfInterval floors both kinds") {
    val r = one(
      """SELECT
        |  (SELECT count(*) FROM numbers(100)),
        |  (SELECT sum(number) FROM numbers(10)),
        |  (SELECT min(number) FROM numbers(5, 10)),
        |  cast(toStartOfInterval(timestamp'2024-03-05 13:47:12Z',
        |    INTERVAL 15 MINUTE) AS STRING),
        |  cast(toStartOfInterval(timestamp'2024-03-05 13:47:12Z',
        |    INTERVAL 6 HOUR) AS STRING),
        |  cast(toStartOfInterval(date'2024-05-20', INTERVAL 3 MONTH) AS STRING),
        |  cast(toStartOfInterval(date'2024-05-20', INTERVAL 1 YEAR) AS STRING)""".stripMargin)
    assert(r.getLong(0) == 100L)
    assert(r.getLong(1) == 45L)
    assert(r.getLong(2) == 5L)
    assert(r.getString(3) == "2024-03-05 13:45:00")
    assert(r.getString(4) == "2024-03-05 12:00:00")
    assert(r.getString(5) == "2024-04-01")
    assert(r.getString(6) == "2024-01-01")
  }

  test("multiSearch family finds the leftmost needle") {
    val r = one(
      """SELECT
        |  multiSearchAllPositions('hello world', array('world', 'xyz', 'hello')),
        |  multiSearchFirstIndex('hello world', array('world', 'hello')),
        |  multiSearchFirstPosition('hello world', array('world', 'hello')),
        |  multiSearchFirstIndex('abc', array('x', 'y')),
        |  multiSearchFirstPosition('abc', array('x', 'y')),
        |  multiSearchFirstIndex('aaa', array('a', 'aa'))""".stripMargin)
    assert(r.getSeq[Long](0) == Seq(7L, 0L, 1L))
    // 'hello' at 1 beats 'world' at 7 → needle index 2
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    // both match at position 1 → tie keeps the earlier needle
    assert(r.getLong(5) == 1L)
  }

  test("L1/Linf norms, normalizeL2, and the misc aliases") {
    val r = one(
      """SELECT
        |  L1Distance(array(1.0D, -2.0D), array(3.0D, 1.0D)),
        |  LinfDistance(array(1.0D, -2.0D), array(3.0D, 1.0D)),
        |  L1Norm(array(3.0D, -4.0D)), LinfNorm(array(3.0D, -4.0D)),
        |  normalizeL2(array(3.0D, 4.0D)),
        |  tuple(1, 'a').col2,
        |  map_keys(mapConcat(map('a', 1), map('b', 2))),
        |  quantileGK(100, 0.5D, cast(number AS DOUBLE))
        |FROM numbers(101)""".stripMargin)
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 3.0)
    assert(r.getDouble(2) == 7.0 && r.getDouble(3) == 4.0)
    assert(r.getSeq[Double](4) == Seq(0.6, 0.8))
    assert(r.getString(5) == "a")
    assert(r.getSeq[String](6).sorted == Seq("a", "b"))
    assert(math.abs(r.getDouble(7) - 50.0) <= 1.0)
  }

  test("arrayReduce dispatches onto the registered array builders") {
    val r = one(
      """SELECT arrayReduce('sum', array(1, 2, 3)),
        |  arrayReduce('min', array(5, 2, 9)),
        |  arrayReduce('avg', array(1.0D, 3.0D)),
        |  arrayReduce('count', array(7, 8)),
        |  arrayReduce('uniqExact', array(1, 1, 2)),
        |  arrayReduce('any', array(4, 5)),
        |  arrayReduce('anyLast', array(4, 5)),
        |  arrayReduce('median', array(9, 1, 5)),
        |  arrayReduce('median', array(4, 1, 3, 2))""".stripMargin)
    assert(r.getDouble(0) == 6.0) // arraySum's double fold
    assert(r.getInt(1) == 2)
    assert(r.getDouble(2) == 2.0)
    assert(r.getLong(3) == 2L && r.getLong(4) == 2L)
    assert(r.getInt(5) == 4 && r.getInt(6) == 5)
    assert(r.getInt(7) == 5)
    // CH quantileExact takes element floor(0.5·n): the UPPER middle
    // for even n — medianExact([1,2,3,4]) = 3
    assert(r.getInt(8) == 3)
  }

  test("UUID bridges, bit probes, and string extras") {
    val r = one(
      """SELECT
        |  UUIDNumToString(UUIDStringToNum('550e8400-e29b-41d4-a716-446655440000')),
        |  length(cast(generateUUIDv4() AS STRING)),
        |  bitTest(5, 0), bitTest(5, 1),
        |  bitTestAll(5, 0, 2), bitTestAll(5, 0, 1), bitTestAny(5, 1, 3),
        |  bitTestAny(5, 0, 1),
        |  bitHammingDistance(5, 6),
        |  splitByRegexp('[0-9]+', 'a1b22c'),
        |  splitByWhitespace('  a  b '),
        |  trimLeft('  x '), trimRight('  x '),
        |  substringIndexCH('a.b.c', '.', 2),
        |  hasToken('hello, world!', 'world'),
        |  toTypeName(1), toTypeName('x'), toTypeName(array(1.0D)),
        |  currentDatabase(),
        |  cast(parseDateTimeBestEffort('2024-01-02T10:20:30') AS STRING),
        |  cast(parseDateTimeBestEffort('02/03/2024') AS STRING),
        |  parseDateTimeBestEffortOrNull('garbage'),
        |  cast(toDateOrNull('2024-05-06') AS STRING),
        |  JSONExtractRaw('{"a": {"b": 1}}', 'a')""".stripMargin)
    assert(r.getString(0) == "550e8400-e29b-41d4-a716-446655440000")
    assert(r.getInt(1) == 36)
    assert(r.getInt(2) == 1 && r.getInt(3) == 0)
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(!r.getBoolean(6) && r.getBoolean(7))
    assert(r.getInt(8) == 2) // 101 vs 110 differ in two bits
    assert(r.getSeq[String](9) == Seq("a", "b", "c"))
    assert(r.getSeq[String](10) == Seq("a", "b"))
    assert(r.getString(11) == "x " && r.getString(12) == "  x")
    assert(r.getString(13) == "a.b")
    assert(r.getBoolean(14))
    assert(r.getString(15) == "Int32" && r.getString(16) == "String")
    assert(r.getString(17) == "Array(Float64)")
    assert(r.getString(18) == "default")
    assert(r.getString(19) == "2024-01-02 10:20:30")
    assert(r.getString(20) == "2024-03-02 00:00:00")
    assert(r.isNullAt(21))
    assert(r.getString(22) == "2024-05-06")
    assert(r.getString(23) == """{"b":1}""")
  }

  test("linearRegression solves exact OLS and evalMLMethod applies it") {
    val r = one(
      """WITH t AS (SELECT * FROM VALUES
        |  (1.0, 2.0), (2.0, 1.0), (3.0, 5.0), (4.0, 2.0),
        |  (5.0, 9.0), (6.0, 3.0), (7.0, 1.0) s(x1, x2)),
        |m AS (SELECT linearRegression(2*x1 - 3*x2 + 5, x1, x2) AS w FROM t)
        |SELECT w, round(evalMLMethod(w, 10.0D, 1.0D), 9) FROM m""".stripMargin)
    val w = r.getSeq[Double](0)
    assert(math.abs(w(0) - 2.0) < 1e-9)
    assert(math.abs(w(1) - -3.0) < 1e-9)
    assert(math.abs(w(2) - 5.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 22.0) < 1e-6) // 2·10 − 3·1 + 5
  }

  test("Tukey outlier scores and FFT period detection") {
    val r = one(
      """SELECT
        |  seriesOutliersDetectTukey(array(1.0D, 2.0D, 3.0D, 4.0D, 100.0D)),
        |  seriesOutliersDetectTukey(array(1.0D, 2.0D, 3.0D)),
        |  seriesPeriodDetectFFT(transform(sequence(0, 31),
        |    i -> sin(2 * pi() * i / 8.0D))),
        |  seriesPeriodDetectFFT(array(5.0D, 5.0D, 5.0D, 5.0D))""".stripMargin)
    // q1=2, q3=4, fences [-1, 7]: only 100 scores, at 100−7=93
    assert(r.getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0, 93.0))
    // under 4 points → all zeros
    assert(r.getSeq[Double](1) == Seq(0.0, 0.0, 0.0))
    assert(r.getDouble(2) == 8.0)
    assert(r.getDouble(3) == 0.0) // constant series has no period
  }

  test("keyed arraySort, dense enumeration, and non-negative cumsum") {
    val r = one(
      """SELECT
        |  arraySort(array(3, 1, 2)),
        |  arraySort(x -> -x, array(3, 1, 2)),
        |  arraySort(s -> length(s), array('ccc', 'a', 'bb')),
        |  arrayReverseSort(array(2, 9, 4)),
        |  arrayReverseSort(x -> pmod(x, 10), array(12, 45, 23)),
        |  arrayEnumerateDense(array(10, 20, 10, 30, 20)),
        |  arrayCumSumNonNegative(array(1, 1, -4, 1)),
        |  arrayCumSumNonNegative(array(1.5D, -10.0D, 2.5D))""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[Int](1) == Seq(3, 2, 1))
    assert(r.getSeq[String](2) == Seq("a", "bb", "ccc"))
    assert(r.getSeq[Int](3) == Seq(9, 4, 2))
    assert(r.getSeq[Int](4) == Seq(45, 23, 12))
    assert(r.getSeq[Long](5) == Seq(1L, 2L, 1L, 3L, 2L))
    assert(r.getSeq[Int](6) == Seq(1, 2, 0, 1))
    assert(r.getSeq[Double](7) == Seq(1.5, 0.0, 2.5))
  }

  test("small conveniences: countEqual, toFixedString, empties, kv pairs") {
    val r = one(
      """SELECT countEqual(array(1, 2, 2, 3), 2),
        |  countEqual(array(1, NULL, NULL), NULL),
        |  toFixedString('abcdef', 4), toFixedString('ab', 4),
        |  size(emptyArrayInt64()), size(emptyArrayString()),
        |  datediff(current_date(), yesterday()),
        |  extractKeyValuePairs('a=1, b:2,c=xyz'),
        |  length(timezone()) > 0""".stripMargin)
    assert(r.getInt(0) == 2 && r.getInt(1) == 2)
    assert(r.getString(2) == "abcd" && r.getString(3) == "ab  ")
    assert(r.getInt(4) == 0 && r.getInt(5) == 0)
    assert(r.getInt(6) == 1)
    val m = r.getMap[String, String](7)
    assert(m == Map("a" -> "1", "b" -> "2", "c" -> "xyz"))
    assert(r.getBoolean(8))
  }

  test("exact-quantile variants and groupArraySorted") {
    val r = one(
      """WITH t AS (SELECT explode(sequence(1, 10)) AS v)
        |SELECT quantileExactLow(v, 0.3D), quantileExactHigh(v, 0.3D),
        |  quantileExactLow(v, 0.5D), quantileExactHigh(v, 0.5D),
        |  quantileExactExclusive(v, 0.3D), quantileExactInclusive(v, 0.3D),
        |  groupArraySorted(3, 11 - v) FROM t""".stripMargin)
    assert(r.getInt(0) == 3 && r.getInt(1) == 4)
    // even n: the two middle elements
    assert(r.getInt(2) == 5 && r.getInt(3) == 6)
    assert(math.abs(r.getDouble(4) - 3.3) < 1e-12)
    assert(math.abs(r.getDouble(5) - 3.6999999999999997) < 1e-12)
    assert(r.getSeq[Int](6) == Seq(1, 2, 3))
    // CH boundary rule: h < 1 returns the minimum, h ≥ n the maximum —
    // no interpolation leaks past the extremes
    val b = one(
      """SELECT
        |  quantileExactExclusive(v4, 0.05D),  -- h = 0.25 < 1 → min
        |  quantileExactExclusive(v4, 0.95D),  -- h = 4.75 ≥ 4 → max
        |  quantileExactExclusive(v9, 0.9D),   -- h = 9 = n exactly → max
        |  quantileExactInclusive(v9, 1.0D)    -- h = n → max
        |FROM (SELECT explode(sequence(1, 4)) AS v4, NULL AS v9
        |      UNION ALL SELECT NULL, explode(sequence(1, 9))) t"""
        .stripMargin)
    assert(b.getDouble(0) == 1.0 && b.getDouble(1) == 4.0)
    assert(b.getDouble(2) == 9.0 && b.getDouble(3) == 9.0)
  }

  test("tupleElement and map key-pattern helpers") {
    val r = one(
      """SELECT tupleElement(tuple(7, 'x'), 1),
        |  tupleElement(tuple(7, 'x'), 2),
        |  tupleElement(named_struct('a', 1, 'b', 2), 'b'),
        |  mapContainsKeyLike(map('abc_1', 10, 'xyz', 20), 'abc%'),
        |  mapContainsKeyLike(map('abc_1', 10), 'zzz%'),
        |  map_keys(mapExtractKeyLike(map('abc_1', 1, 'abc_2', 2, 'q', 3),
        |    'abc%'))""".stripMargin)
    assert(r.getInt(0) == 7 && r.getString(1) == "x")
    assert(r.getInt(2) == 2)
    assert(r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getSeq[String](5).sorted == Seq("abc_1", "abc_2"))
  }

  test("jumpConsistentHash balances and moves ~1/(n+1) keys on resize") {
    graft.functions.CHFunctions.register(spark)
    val rows = spark.sql(
      """SELECT jumpConsistentHash(id, 10) AS b10,
        |  jumpConsistentHash(id, 11) AS b11
        |FROM range(0, 10000)""".stripMargin).collect()
    val counts = rows.groupBy(_.getInt(0)).view.mapValues(_.length)
    // balanced: every bucket within ±30% of the fair share
    assert(counts.size == 10)
    assert(counts.values.forall(c => c > 700 && c < 1300), counts.toMap)
    // consistency: growing 10 → 11 moves only ~1/11 of keys, and every
    // moved key lands in the NEW bucket
    val moved = rows.filter(r => r.getInt(0) != r.getInt(1))
    assert(moved.length < 10000 / 11 * 1.4, s"moved ${moved.length}")
    assert(moved.forall(_.getInt(1) == 10))
  }

  test("round-7 aggregates are partition-count invariant") {
    // every new TypedImperativeAggregate must serialize/merge to the
    // SAME result whether the group arrives in 1 partition or 7 —
    // exercises update, serialize, deserialize, AND merge
    val sql =
      """SELECT
        |  round(cramersV(x, y), 12) AS v,
        |  round(theilsU(x, y), 12) AS u,
        |  kolmogorovSmirnovTest(d, g).d_stat AS ks,
        |  groupBitmapXor(bitmapBuild(array(k, k + 1))) AS bx,
        |  round(exponentialMovingAverage(10D, d, t), 12) AS ema,
        |  quantileExactWeighted(d, w, 0.5D) AS qw,
        |  sumKahan(d) AS sk,
        |  transform(linearRegression(d, t), z -> round(z, 9)) AS lr
        |FROM src""".stripMargin
    def run(parts: Int): org.apache.spark.sql.Row = {
      import spark.implicits._
      graft.functions.CHFunctions.register(spark)
      val df = (1 to 200).map { i =>
        (s"x${i % 3}", s"y${i % 4}", i * 0.5 + (i % 7), i % 2,
          (i % 11).toLong, i.toDouble, (i % 13) + 1)
      }.toDF("x", "y", "d", "g", "k", "t", "w").repartition(parts)
      df.createOrReplaceTempView("src")
      spark.sql(sql).collect()(0)
    }
    val a = run(1)
    val b = run(7)
    assert(a == b, s"\n1 partition: $a\n7 partitions: $b")
  }

  test("plain-aggregate State/Merge pairs reaggregate to the direct value") {
    val r = one(
      """WITH slice AS (
        |  SELECT x % 3 AS g, sumState(x) AS ss, countState(x) AS cs,
        |    minState(x) AS mns, maxState(x) AS mxs, avgState(x) AS avs
        |  FROM VALUES (1), (2), (3), (4), (5), (6), (7) t(x) GROUP BY 1)
        |SELECT sumMerge(ss), countMerge(cs), minMerge(mns), maxMerge(mxs),
        |  avgMerge(avs)
        |FROM slice""".stripMargin)
    assert(r.getLong(0) == 28L && r.getLong(1) == 7L)
    assert(r.getInt(2) == 1 && r.getInt(3) == 7)
    assert(r.getDouble(4) == 4.0)
  }

  test("sparkbar renders ceil(v*8/max) glyphs, space for zero") {
    val r = one("SELECT sparkbar(array(8L, 4L, 1L, 0L, 6L)), sparkbar(array(1L))")
    assert(r.getString(0) == "█▄▁ ▆")
    assert(r.getString(1) == "█") // single value is its own max
  }

  test("timeSlot family floors to fixed sub-hour grids; editDistance resolves") {
    val r = one(
      """SELECT timeSlot(TIMESTAMP'2024-03-05 10:47:13'),
        |  toStartOfFifteenMinutes(TIMESTAMP'2024-03-05 10:47:13'),
        |  toStartOfTenMinutes(TIMESTAMP'2024-03-05 10:47:13'),
        |  toStartOfFiveMinutes(TIMESTAMP'2024-03-05 10:47:13'),
        |  editDistance('kitten', 'sitting'),
        |  levenshteinDistance('abc', 'abc')""".stripMargin)
    assert(r.getTimestamp(0).toString == "2024-03-05 10:30:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-05 10:45:00.0")
    assert(r.getTimestamp(2).toString == "2024-03-05 10:40:00.0")
    assert(r.getTimestamp(3).toString == "2024-03-05 10:45:00.0")
    assert(r.getInt(4) == 3 && r.getInt(5) == 0)
  }

  test("arrayAUC: separation, reversal, ties, and single-class NaN") {
    val r = one(
      """SELECT arrayAUC(array(0.1, 0.2, 0.8, 0.9), array(0, 0, 1, 1)),
        |  arrayAUC(array(0.9, 0.8, 0.1), array(0, 0, 1)),
        |  arrayROCAUC(array(0.5, 0.5, 0.5, 0.5), array(0, 1, 0, 1)),
        |  arrayAUC(array(0.3, 0.7), array(1, 1))""".stripMargin)
    assert(r.getDouble(0) == 1.0) // perfect separation
    assert(r.getDouble(1) == 0.0) // perfectly wrong
    assert(r.getDouble(2) == 0.5) // all tied -> midranks give chance
    assert(r.getDouble(3).isNaN) // single class
  }

  test("topKWeighted is exact, ties break toward the larger value") {
    val r = one(
      """SELECT topKWeighted(v, w, 2), topKWeighted(v, w, 10)
        |FROM VALUES ('a', 3), ('b', 1), ('b', 2), ('c', 3), ('d', 1) t(v, w)""".stripMargin)
    // weights: a=3, b=3, c=3, d=1 — ties at 3 prefer larger value
    assert(r.getSeq[String](0) == Seq("c", "b"))
    assert(r.getSeq[String](1) == Seq("c", "b", "a", "d")) // k past distinct count
  }

  test("topKWeighted partial-aggregates across partitions") {
    CHFunctions.register(spark)
    val df = spark.range(0, 1000).repartition(8)
      .selectExpr("topKWeighted(CAST(id % 5 AS INT), CAST(id % 7 AS LONG), 2) AS t")
    assert(df.collect().head.getSeq[Int](0).length == 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_mapcombineagg"),
      s"expected map-side partial aggregation in plan:\n$plan")
  }

  test("spanKeys emits one key per span, equal iff the token span repeats") {
    CHFunctions.register(spark)
    val r = spark.sql(
      """SELECT spanKeys(array('a','b','a','b','a','b'), 3),
        |  spanKeys(array('a','b'), 3),
        |  spanKeys(array(CAST(NULL AS STRING), 'x'), 2)""".stripMargin).collect().head
    val ks = r.getSeq[Long](0)
    assert(ks.length == 4) // 6 tokens, len 3 -> 4 spans
    assert(ks(0) == ks(2) && ks(1) == ks(3)) // 'a b a' repeats at 0/2
    assert(ks(0) != ks(1)) // 'a b a' vs 'b a b'
    assert(r.getSeq[Long](1).length == 1) // short array -> one whole key
    assert(r.getSeq[Long](2).length == 1) // null token hashes as 0, no NPE
  }

  private def lttbPoints(sql: String): Seq[(Double, Double)] = {
    CHFunctions.register(spark)
    spark.sql(sql).collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(p => (p.getDouble(0), p.getDouble(1)))
  }

  test("lttb keeps the whole series when it has <= n points") {
    val pts = lttbPoints(
      "SELECT lttb(12, x, y) FROM VALUES (3.0, 1.0), (1.0, 5.0), (2.0, 2.0) t(x, y)")
    assert(pts == Seq((1.0, 5.0), (2.0, 2.0), (3.0, 1.0))) // sorted by x
  }

  test("lttb n=3 keeps endpoints and the largest-triangle middle point") {
    // prev=(0,0), anchor=(3,0): (1,10) spans area 30 vs (2,1)'s 3
    val pts = lttbPoints(
      """SELECT largestTriangleThreeBuckets(3, x, y)
        |FROM VALUES (0.0, 0.0), (1.0, 10.0), (2.0, 1.0), (3.0, 0.0) t(x, y)""".stripMargin)
    assert(pts == Seq((0.0, 0.0), (1.0, 10.0), (3.0, 0.0)))
  }

  test("lttb breaks area ties toward the earlier point") {
    // (1,2) and (3,2) form equal-area triangles with (0,0) and (4,0)
    val pts = lttbPoints(
      """SELECT lttb(3, x, y)
        |FROM VALUES (0.0, 0.0), (1.0, 2.0), (3.0, 2.0), (4.0, 0.0) t(x, y)""".stripMargin)
    assert(pts == Seq((0.0, 0.0), (1.0, 2.0), (4.0, 0.0)))
  }

  test("lttb skips null coordinates and is partitioning-independent") {
    CHFunctions.register(spark)
    def run(parts: Int): Seq[(Double, Double)] = {
      val df = spark.range(0, 500).repartition(parts).selectExpr(
        "CAST(id AS DOUBLE) AS x",
        // deterministic sawtooth with spikes; null every 97th point
        "CASE WHEN id % 97 = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE CAST(id % 17 AS DOUBLE) * CASE WHEN id % 50 = 0 THEN 40.0 ELSE 1.0 END END AS y")
      df.selectExpr("lttb(20, x, y) AS p").collect().head
        .getSeq[org.apache.spark.sql.Row](0).map(p => (p.getDouble(0), p.getDouble(1)))
    }
    val single = run(1)
    assert(single.length == 20)
    assert(single.head._1 == 1.0 && single.last._1 == 499.0) // 0 was null
    assert(run(13) == single) // merge order cannot change the selection
  }

  test("round 8 batch: string distances and soundex") {
    val r = one(
      """SELECT byteHammingDistance('karolin', 'kathrin'),
        |  byteHammingDistance('abc', 'abcde'),
        |  damerauLevenshteinDistance('abcd', 'acbd'),
        |  damerauLevenshteinDistance('kitten', 'sitting'),
        |  round(jaroSimilarity('martha', 'marhta'), 6),
        |  round(jaroWinklerSimilarity('martha', 'marhta'), 6),
        |  round(stringJaccardIndex('abc', 'bcd'), 6),
        |  soundex('Robert'),
        |  jaroSimilarity('', ''), jaroSimilarity('a', ''),
        |  mismatches('abc', 'abd')""".stripMargin)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2)
    assert(r.getInt(2) == 1) // one adjacent transposition
    assert(r.getInt(3) == 3) // plain Levenshtein case agrees
    assert(r.getDouble(4) == 0.944444)
    assert(r.getDouble(5) == 0.961111) // 3-byte prefix bonus
    assert(r.getDouble(6) == 0.5) // {a,b,c} vs {b,c,d}: 2/4
    assert(r.getString(7) == "R163")
    assert(r.getDouble(8) == 1.0 && r.getDouble(9) == 0.0)
    assert(r.getInt(10) == 1)
  }

  test("round 8 batch: shingle sketches and query normalization") {
    val r = one(
      """SELECT ngramSimHash('ClickHouse rocks'),
        |  wordShingleSimHash('one two three four', 2),
        |  tupleElement(ngramMinHash('ClickHouse'), 1),
        |  tupleElement(ngramMinHash('ClickHouse'), 2),
        |  tupleElement(wordShingleMinHash('a b c d e'), 1),
        |  normalizeQuery(
        |    'SELECT 1 AS x2, \'abc\' FROM t WHERE id IN (1, 2, 3)'),
        |  normalizeQueryKeepNames(
        |    'SELECT 1 AS x2, \'abc\' FROM t WHERE id IN (1, 2, 3)')""".stripMargin)
    assert(r.getLong(0) != 0L && r.getLong(1) != 0L)
    assert(r.getLong(2) <= r.getLong(3)) // (min, max) tuple ordering
    assert(r.getLong(4) != 0L)
    assert(r.getString(5) == "SELECT ? AS x?, ? FROM t WHERE id IN (?..)")
    assert(r.getString(6) == "SELECT ? AS x2, ? FROM t WHERE id IN (?..)")
    // equal strings sketch equal; different strings (generically) differ
    val eq = one(
      """SELECT ngramSimHash('same text here') = ngramSimHash('same text here'),
        |  ngramSimHash('same text here') = ngramSimHash('other words now')""".stripMargin)
    assert(eq.getBoolean(0) && !eq.getBoolean(1))
  }

  test("round 8 batch: snowflake ids, timeSlots, MAC bridges") {
    val r = one(
      """SELECT snowflakeToDateTime(dateTimeToSnowflake(
        |    CAST('2021-08-15 10:57:56' AS TIMESTAMP))),
        |  MACNumToString(123456789012),
        |  MACStringToNum('00:1C:BE:99:1A:14'),
        |  timeSlots(CAST('2012-01-01 12:20:00' AS TIMESTAMP), 600)""".stripMargin)
    assert(r.getTimestamp(0).toString == "2021-08-15 10:57:56.0")
    assert(r.getString(1) == "00:1C:BE:99:1A:14")
    assert(r.getLong(2) == 123456789012L)
    val slots = r.getSeq[java.sql.Timestamp](3).map(_.toString)
    assert(slots == Seq("2012-01-01 12:00:00.0", "2012-01-01 12:30:00.0"))
  }

  test("round 8 batch: quantile aliases, sumMapFiltered, geoDistance") {
    val r = one(
      """SELECT quantileDeterministic(x, x, 0.9) = quantileCH(x, 0.9),
        |  quantileBFloat16(x, 0.5) = quantileCH(x, 0.5),
        |  sumMapFiltered(array(2, 10), k, v),
        |  geoDistance(-1.0, 51.0, -1.0, 52.0) =
        |    greatCircleDistance(-1.0, 51.0, -1.0, 52.0)
        |FROM (SELECT CAST(id AS DOUBLE) AS x,
        |        array(10, 2, 99) AS k, array(1, 1, 7) AS v
        |      FROM range(100))""".stripMargin)
    assert(r.getBoolean(0) && r.getBoolean(1))
    val s = r.getStruct(2)
    assert(s.getSeq[Int](0) == Seq(2, 10))
    assert(s.getSeq[Long](1) == Seq(100L, 100L))
    assert(r.getBoolean(3))
  }

  test("-ForEach combinator aggregates element-wise over ragged arrays") {
    // rows: [1,2,3], [10,20], [100] — result spans the longest array
    val r = one(
      """SELECT sumForEach(a) AS s, minForEach(a) AS mn,
        |  maxForEach(a) AS mx, avgForEach(a) AS av
        |FROM VALUES (array(1L, 2L, 3L)), (array(10L, 20L)),
        |  (array(100L)) AS t(a)""".stripMargin)
    assert(r.getSeq[Long](0) == Seq(111L, 22L, 3L))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Long](2) == Seq(100L, 20L, 3L))
    assert(r.getSeq[Double](3) == Seq(111.0 / 3, 11.0, 3.0))
    // fractional inputs ride the double path; null elements skip
    val d = one(
      """SELECT sumForEach(a) AS s FROM VALUES
        |  (array(0.5D, CAST(NULL AS DOUBLE))), (array(1.5D, 2.0D)) AS t(a)"""
        .stripMargin)
    assert(d.getSeq[Double](0) == Seq(2.0, 2.0))
    // partitioning-independent: the merge path gives the same answer
    val big = one(
      """SELECT array_join(sumForEach(a), ',')
        |FROM (SELECT sequence(1, CAST(id % 5 + 1 AS INT)) AS a
        |      FROM range(1000) DISTRIBUTE BY id % 7)""".stripMargin)
    // pos i (1-based) sums i over rows with len >= i: count rows with
    // id%5+1 >= i = 1000*(5-i+1)/5 = 200*(6-i)
    val expect = (1 to 5).map(i => i.toLong * 200 * (6 - i)).mkString(",")
    assert(big.getString(0) == expect)
  }

  test("sequenceMatch/sequenceCount follow the CH pattern language") {
    // chain by time: v v p v p p
    val base = """FROM VALUES
      |  (1L, 'v'), (2L, 'v'), (3L, 'p'), (4L, 'v'), (5L, 'p'), (6L, 'p')
      |  AS t(ts, e)""".stripMargin
    val r = one(s"""SELECT
      |  sequenceMatch('(?1).*(?2)', ts, e = 'v', e = 'p') AS gap,
      |  sequenceMatch('(?1)(?2)', ts, e = 'p', e = 'v') AS adj_pv,
      |  sequenceCount('(?1).*(?2)', ts, e = 'v', e = 'p') AS n_gap,
      |  sequenceCount('(?1)(?2)', ts, e = 'v', e = 'p') AS n_adj
      |$base""".stripMargin)
    assert(r.getBoolean(0))      // v ... p exists
    assert(r.getBoolean(1))      // p directly followed by v (pos 3,4)
    // non-overlapping with EARLIEST completion: [v1..p3], [v4..p5] = 2
    // (a greedy .* would swallow everything after v1 and report 1)
    assert(r.getLong(2) == 2L)
    assert(r.getLong(3) == 2L)   // adjacent vp at (2,3) and (4,5)
    // an event can satisfy several conditions: masks, not labels
    val m = one("""SELECT
      |  sequenceMatch('(?1)(?2)', ts, e = 'v', e IN ('v', 'p')) AS ok,
      |  sequenceMatch('(?2)(?1)', ts, e = 'v', e IN ('v', 'p')) AS no
      |FROM VALUES (1L, 'v'), (2L, 'p') AS t(ts, e)""".stripMargin)
    assert(m.getBoolean(0) && !m.getBoolean(1))
    // time assertions are rejected, not approximated
    val e = intercept[Exception](one(
      """SELECT sequenceMatch('(?1)(?t>10)(?2)', ts, e = 'v', e = 'p')
        |FROM VALUES (1L, 'v') AS t(ts, e)""".stripMargin))
    assert(e.getMessage.contains("(?t"))
  }

  test("-Array and -Distinct combinator spellings") {
    val r = one(
      """SELECT sumArray(a) AS s, minArray(a) AS mn, maxArray(a) AS mx,
        |  countArray(a) AS c, avgArray(a) AS av,
        |  array_sort(groupArrayArray(a)) AS cat,
        |  uniqArray(a) AS u
        |FROM VALUES (array(1, 2)), (array(2, 3, 4)) AS t(a)""".stripMargin)
    assert(r.getDouble(0) == 12.0)     // 1+2+2+3+4
    assert(r.getInt(1) == 1 && r.getInt(2) == 4)
    assert(r.getLong(3) == 5L)
    assert(r.getDouble(4) == 2.4)
    assert(r.getSeq[Int](5) == Seq(1, 2, 2, 3, 4))
    assert(r.getLong(6) == 4L)         // {1,2,3,4}
    val d = one(
      """SELECT countDistinct(x) AS cd, sumDistinct(x) AS sd,
        |  avgDistinct(x) AS ad
        |FROM VALUES (1), (1), (2), (3), (3) AS t(x)""".stripMargin)
    assert(d.getLong(0) == 3L && d.getLong(1) == 6L)
    assert(d.getDouble(2) == 2.0)
  }

  test("today/yesterday/toWeek date helpers") {
    val r = one(
      """SELECT today() = current_date() AS t,
        |  yesterday() = date_sub(current_date(), 1) AS y,
        |  toWeek(DATE '2024-01-15') AS w,
        |  toWeek(DATE '2024-01-15', 3) AS wi,
        |  toWeek(DATE '2024-01-03') AS w0,
        |  toWeek(DATE '2023-01-01') AS ws""".stripMargin)
    assert(r.getBoolean(0) && r.getBoolean(1))
    // CH default mode 0: Sunday-anchored, week 0 before the year's
    // first Sunday. 2024-01-01 is a Monday → first Sunday Jan 7, so
    // Jan 3 is week 0 and Jan 15 week 2; mode 3 is ISO (= 3).
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 3)
    assert(r.getInt(4) == 0)
    assert(r.getInt(5) == 1) // 2023-01-01 is itself a Sunday → week 1
    // an unsupported mode is rejected, not silently ISO
    val e = intercept[Exception](one(
      "SELECT toWeek(DATE '2024-01-15', 5) AS w"))
    assert(e.getMessage.contains("unsupported mode"))
  }

  test("toYearWeek/toISOYear/toDate32/makeDate") {
    val r = one(
      """SELECT toYearWeek(DATE '2024-01-15') AS yw,
        |  toYearWeek(DATE '2024-01-03') AS yw0,
        |  toYearWeek(DATE '2024-01-15', 3) AS ywi,
        |  toISOYear(DATE '2024-01-01') AS iy,
        |  toISOYear(DATE '2023-01-01') AS iy2,
        |  toDate32('2024-02-29') AS d32,
        |  makeDate(2024, 2, 29) AS md""".stripMargin)
    // mode 0 never yields week 0: 2024-01-03 (before the first
    // Sunday, Jan 7) belongs to 2023's last Sunday-anchored week
    assert(r.getInt(0) == 202402)
    assert(r.getInt(1) == 202353)
    assert(r.getInt(2) == 202403) // ISO week 3
    assert(r.getInt(3) == 2024) // 2024-01-01 is ISO week 1 of 2024
    assert(r.getInt(4) == 2022) // 2023-01-01 (Sun) is ISO week 52/2022
    assert(r.getDate(5).toString == "2024-02-29")
    assert(r.getDate(6).toString == "2024-02-29")
  }

  test("registry has no duplicate keys — last-wins overrides are a build error") {
    // round 13 shipped five silent duplicate registrations (randNormal()
    // died, dateTimeToSnowflake lost ms precision); `all` now asserts
    // at init, and this row keeps the invariant visible
    val names = CHFunctions.all.map(_._1)
    val dups = names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    assert(dups.isEmpty, s"duplicates: ${dups.mkString(", ")}")
  }

  test("round: banker's for floats, half-away-from-zero for Decimal (CH's per-type tie rule)") {
    val r = one(
      """SELECT roundCH(2.5D) AS f1, roundCH(-2.5D) AS f2, roundCH(3.5D) AS f3,
        |  roundCH(CAST(2.5 AS DECIMAL(10,1))) AS d1,
        |  roundCH(CAST(-2.5 AS DECIMAL(10,1))) AS d2,
        |  roundCH(CAST(1.25 AS DECIMAL(10,2)), 1) AS d3""".stripMargin)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == -2.0 && r.getDouble(2) == 4.0)
    assert(r.getDecimal(3).longValue == 3L, s"decimal 2.5 -> ${r.getDecimal(3)}")
    assert(r.getDecimal(4).longValue == -3L, s"decimal -2.5 -> ${r.getDecimal(4)}")
    assert(r.getDecimal(5).toPlainString == "1.3", s"decimal 1.25,1 -> ${r.getDecimal(5)}")
  }

  test("formatDateTime %M is the full month name (modern CH default), %i the minute") {
    val r = one(
      """SELECT formatDateTime(toDateTime('2024-03-05 07:08:09'), '%M') AS mn,
        |  formatDateTime(toDateTime('2024-03-05 07:08:09'), '%i') AS mi""".stripMargin)
    assert(r.getString(0) == "March")
    assert(r.getString(1) == "08")
  }

  test("accurateCast: NULL propagates for unsigned targets too") {
    val r = one(
      """SELECT accurateCast(CAST(NULL AS INT), 'UInt8') AS a,
        |  accurateCastOrNull(CAST(NULL AS INT), 'UInt8') AS b,
        |  accurateCast(CAST(NULL AS INT), 'Int32') AS c""".stripMargin)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("reinterpretAs*: numeric inputs reinterpret their own LE bytes") {
    val r = one(
      """SELECT reinterpretAsUInt32(65) AS a, reinterpretAsUInt8(300) AS b,
        |  reinterpretAsString(65) AS s, reinterpretAsUInt16('AB') AS ab""".stripMargin)
    assert(r.getLong(0) == 65L)
    assert(r.getLong(1) == 44L) // 300 & 0xff — byte truncation, CH's rule
    assert(r.getString(2) == "A")
    assert(r.getLong(3) == 0x4241L) // little-endian: 'A'=0x41 low byte
  }

  test("randNormal arities: 0-arg and (mean, stddev) work, others fail loudly") {
    val r = one("SELECT randNormal() AS a, randNormal(100, 0.0001) AS b")
    assert(!r.isNullAt(0))
    assert(math.abs(r.getDouble(1) - 100.0) < 1.0)
    val e = intercept[Exception](one("SELECT randNormal(1, 2, 3)"))
    assert(e.getMessage.contains("randNormal"), e.getMessage)
    val e2 = intercept[Exception](one("SELECT randUniform(1)"))
    assert(e2.getMessage.contains("randUniform"), e2.getMessage)
  }

  test("wave-15 scalars: leftUTF8/rightUTF8, toBool, bit rotates, consistent hashes") {
    val r = one(
      """SELECT leftUTF8('héllo', 2) AS l, rightUTF8('héllo', 3) AS rr,
        |  toBool('true') AS bt, toBool(0) AS bf, toBoolOrNull('x') AS bn,
        |  bitRotateLeft(1, 3) AS rl, bitRotateRight(8, 3) AS rrot,
        |  bitRotateLeft(5, 0) AS r0,
        |  kostikConsistentHash(16045690984833335023, 2) AS kh,
        |  jumpConsistentHash(42, 128) AS jh""".stripMargin)
    assert(r.getString(0) == "hé" && r.getString(1) == "llo")
    assert(r.getBoolean(2) && !r.getBoolean(3) && r.isNullAt(4))
    assert(r.getLong(5) == 8L && r.getLong(6) == 1L && r.getLong(7) == 5L)
    assert(r.getInt(8) >= 0 && r.getInt(8) < 2)
    assert(r.getInt(9) >= 0 && r.getInt(9) < 128)
  }

  test("rand distribution family: sample means land on the distribution means") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT avg(p) AS pois, avg(b) AS binom, avg(nb) AS nb,
        |  avg(c) AS chi2, avg(st) AS st, avg(ln0) AS ln0,
        |  avg(ff) AS ff, min(p) AS pmin
        |FROM (SELECT randPoisson(10) AS p, randBinomial(100, 0.3) AS b,
        |  randNegativeBinomial(5, 0.5) AS nb, randChiSquared(4) AS c,
        |  randStudentT(10) AS st, randLogNormal(0.0, 0.5) AS ln0,
        |  randFisherF(10, 20) AS ff FROM numbers(8000))""".stripMargin)
    assert(math.abs(r.getDouble(0) - 10.0) < 0.3, s"poisson ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 30.0) < 0.5, s"binomial ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 5.0) < 0.5, s"negBinom ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 4.0) < 0.4, s"chi2 ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4)) < 0.2, s"studentT ${r.getDouble(4)}")
    // lognormal(0, 0.5) mean = exp(0.125) ~ 1.133
    assert(math.abs(r.getDouble(5) - 1.133) < 0.1, s"logNormal ${r.getDouble(5)}")
    // F(10, 20) mean = 20/18 ~ 1.111
    assert(math.abs(r.getDouble(6) - 1.111) < 0.3, s"fisherF ${r.getDouble(6)}")
    assert(r.getLong(7) >= 0L)
  }

  test("wave-16 scalars: simpleJSON typed, toYYYYMMDDhhmmss, CI multisearch, query hash") {
    val r = one(
      """SELECT simpleJSONExtractInt('{"n": 42}', 'n') AS i,
        |  simpleJSONExtractInt('{"n": 42}', 'missing') AS i0,
        |  simpleJSONExtractFloat('{"f": 1.5}', 'f') AS f,
        |  simpleJSONExtractBool('{"b": true}', 'b') AS b,
        |  simpleJSONExtractRaw('{"a": [1,2]}', 'a') AS raw,
        |  simpleJSONHas('{"a": 1}', 'a') AS has,
        |  simpleJSONHas('{"a": 1}', 'z') AS hasnt,
        |  toYYYYMMDDhhmmss(toDateTime('2024-03-05 07:08:09')) AS full,
        |  multiSearchAnyCaseInsensitive('Hello World', array('WORLD')) AS ci,
        |  multiSearchAnyCaseInsensitive('Hello', array('xyz')) AS ci0,
        |  normalizedQueryHash('SELECT 1 + 2') = normalizedQueryHash('SELECT 3 + 4') AS same""".stripMargin)
    assert(r.getLong(0) == 42L && r.getLong(1) == 0L)
    assert(r.getDouble(2) == 1.5)
    assert(r.getBoolean(3))
    assert(r.getString(4) == "[1,2]")
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getLong(7) == 20240305070809L)
    assert(r.getBoolean(8) && !r.getBoolean(9))
    // literal normalization makes the two statements hash-identical
    assert(r.getBoolean(10))
  }

  test("wave-17 scalars: relative nums, unbin, morton, query ids") {
    val r = one(
      """SELECT toRelativeMonthNum(toDate('2024-03-05')) -
        |    toRelativeMonthNum(toDate('2023-11-05')) AS md,
        |  toRelativeQuarterNum(toDate('2024-03-05')) -
        |    toRelativeQuarterNum(toDate('2023-03-05')) AS qd,
        |  toRelativeWeekNum(toDateTime('2024-01-08 00:00:00')) -
        |    toRelativeWeekNum(toDateTime('2024-01-01 00:00:00')) AS wd,
        |  unbin('0011000100110010') AS ub,
        |  unbin(bin(53)) AS rt,
        |  unbin('') AS empty,
        |  mortonEncode(3, 5) AS me,
        |  mortonDecode(2, mortonEncode(99, 1234)) AS mdk,
        |  queryID() != '' AS qid""".stripMargin)
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) == 1L)
    assert(r.getString(3) == "12")
    assert(r.getString(4) == "5")
    assert(r.getString(5) == "")
    // interleave(3=0b11, 5=0b101): x bits at even, y at odd positions
    // x=11 -> 0b_0101, y=101 -> 0b_10_00_10 << 1 -> combined 0b100111 = 39
    assert(r.getLong(6) == 39L, s"morton ${r.getLong(6)}")
    val mdk = r.getStruct(7)
    assert(mdk.getLong(0) == 99L && mdk.getLong(1) == 1234L)
    assert(r.getBoolean(8))
  }

  test("wave-18: deltaSum, splitByNonAlpha, UTF8 affixes, year-zero days, snowflake IDs, topKIf") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT deltaSum(v) AS d,
        |  splitByNonAlpha('ab cd,ef') AS sp,
        |  startsWithUTF8('héllo', 'hé') AS sw,
        |  fromDaysSinceYearZero(toDaysSinceYearZero(toDate('2024-02-29'))) AS rt,
        |  toDaysSinceYearZero(toDate('1970-01-01')) AS zero,
        |  snowflakeIDToDateTime(dateTimeToSnowflakeID(
        |    toDateTime('2024-06-01 10:00:00'))) AS sfrt
        |FROM (SELECT CAST(element_at(array(1, 3, 2, 5), CAST(id AS INT) + 1)
        |  AS DOUBLE) AS v FROM range(4))""".stripMargin)
    // deltas: +2 (1->3), -1 ignored (3->2), +3 (2->5) = 5
    assert(r.getDouble(0) == 5.0, s"deltaSum ${r.getDouble(0)}")
    assert(r.getSeq[String](1) == Seq("ab", "cd", "ef"))
    assert(r.getBoolean(2))
    assert(r.getDate(3).toString == "2024-02-29")
    assert(r.getInt(4) == 719528)
    assert(r.getTimestamp(5).toString.startsWith("2024-06-01 10:00:00"))
    // deltaSum partition-merge boundary rule: states (sum, first,
    // last) merge with max(b.first - a.last, 0)
    val m = one(
      """SELECT deltaSum(v) AS d FROM (
        |  SELECT CAST(id AS DOUBLE) AS v FROM range(0, 100, 1, 8))""".stripMargin)
    assert(m.getDouble(0) == 99.0, s"monotonic deltaSum ${m.getDouble(0)}")
    // topKIf: only matching rows feed the sketch
    val tk = one(
      """SELECT topKIf(2, o_orderpriority, o_orderkey % 2) AS t,
        |  topKIf(2, o_orderpriority, 0) AS none
        |FROM orders""".stripMargin)
    assert(tk.getSeq[String](0).size == 2)
    assert(tk.getSeq[String](1).isEmpty)
  }

  test("wave-19: empty over arrays, emptyArrayToSingle defaults, block ids, random sample") {
    val r = one(
      """SELECT empty(array(1, 2)) AS e, notEmpty(array()) AS ne,
        |  empty('') AS es, notEmpty('x') AS nes,
        |  empty(map('k', 1)) AS em,
        |  emptyArrayToSingle(emptyArrayInt32()) AS single,
        |  emptyArrayToSingle(array(7, 8)) AS keep,
        |  emptyArrayToSingle(emptyArrayString()) AS sdef,
        |  size(arrayRandomSample(array(1, 2, 3, 4), 2)) AS rs,
        |  emptyArrayDate() AS ed""".stripMargin)
    assert(!r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getSeq[Int](5) == Seq(0)) // type DEFAULT, not NULL
    assert(r.getSeq[Int](6) == Seq(7, 8))
    assert(r.getSeq[String](7) == Seq(""))
    assert(r.getInt(8) == 2)
    assert(r.getSeq[Any](9).isEmpty)
    // block coordinates and the deprecated-scan guidance
    graft.sql.TableEnv.register(spark, sf)
    val b = one(
      "SELECT min(r) AS mn, min(bn) AS b FROM (SELECT " +
        "rowNumberInAllBlocks() AS r, blockNumber() AS bn " +
        "FROM orders LIMIT 10)")
    assert(b.getLong(0) >= 0L && b.getInt(1) >= 0)
    val e = intercept[Exception](one("SELECT runningDifference(1)"))
    assert(e.getMessage.contains("lagInFrame"), e.getMessage)
  }

  test("wave-20: hasSubsequence, toMillisecond, type defaults, formatQuery, set ops, byteSize") {
    val r = one(
      """SELECT hasSubsequence('garbage', 'arg') AS hy,
        |  hasSubsequence('garbage', 'gbg') AS hy2,
        |  hasSubsequence('garbage', 'zzz') AS hn,
        |  hasSubsequence('abc', '') AS he,
        |  toMillisecond(toDateTime64('2024-01-01 10:20:30.789', 3)) AS ms,
        |  defaultValueOfTypeName('Int32') AS d32,
        |  defaultValueOfTypeName('String') AS ds,
        |  formatQuerySingleLine('SELECT  1  FROM t FORMAT CSV') AS fq,
        |  array_sort(arraySymmetricDifference(array(1, 2), array(2, 3))) AS sd,
        |  countSubstringsCaseInsensitive('Hello hello', 'HELLO') AS ci,
        |  byteSize(CAST(1 AS INT)) AS bi,
        |  byteSize('hello') AS bs""".stripMargin)
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 789)
    assert(r.getInt(5) == 0 && r.getString(6) == "")
    assert(r.getString(7) == "SELECT 1 FROM t", r.getString(7))
    assert(r.getSeq[Int](8) == Seq(1, 3))
    assert(r.getInt(9) == 2)
    assert(r.getInt(10) == 4 && r.getInt(11) == 14)
  }

  test("wave-21: URL hierarchy/encode parity, base32, timedelta, special functions") {
    val r = one(
      """SELECT URLHierarchy('https://example.com/browse/CONV-6788') AS h,
        |  URLPathHierarchy('https://example.com/browse/CONV-6788') AS p,
        |  cutURLParameter('http://x.com/p?a=1&b=2', 'a') AS ca,
        |  cutURLParameter('http://x.com/p?a=1&b=2', 'b') AS cb,
        |  encodeURLComponent('a b&c') AS e,
        |  decodeURLComponent('a%20b+c') AS d,
        |  encodeURLFormComponent('a b') AS ef,
        |  base32Encode('ab') AS b32,
        |  base32Decode(base32Encode('hello!')) AS rt,
        |  tryBase32Decode('!!!') AS bad,
        |  parseTimeDelta('1 hour 30 minutes') AS td,
        |  round(lgamma(5.0), 6) AS lg,
        |  round(tgamma(5.0), 6) AS tg,
        |  factorial(5) AS f5, factorial(0) AS f0, factorial(20) AS f20,
        |  max2(3, 7) AS mx,
        |  round(erf(1.0) + erfc(1.0), 9) AS unit""".stripMargin)
    assert(r.getSeq[String](0) == Seq("https://example.com/",
      "https://example.com/browse/", "https://example.com/browse/CONV-6788"),
      r.getSeq[String](0))
    assert(r.getSeq[String](1) == Seq("/browse/", "/browse/CONV-6788"))
    assert(r.getString(2) == "http://x.com/p?b=2")
    assert(r.getString(3) == "http://x.com/p?a=1")
    assert(r.getString(4) == "a%20b%26c")
    assert(r.getString(5) == "a b+c") // '+' survives component decoding
    assert(r.getString(6) == "a+b") // form variant: space -> '+'
    assert(r.getString(7) == "MFRA====")
    assert(r.getString(8) == "hello!")
    assert(r.isNullAt(9))
    assert(r.getDouble(10) == 5400.0)
    assert(math.abs(r.getDouble(11) - math.log(24.0)) < 1e-4)
    assert(math.abs(r.getDouble(12) - 24.0) < 1e-3)
    assert(r.getLong(13) == 120L && r.getLong(14) == 1L)
    assert(r.getLong(15) == 2432902008176640000L)
    assert(r.getDouble(16) == 7.0)
    assert(math.abs(r.getDouble(17) - 1.0) < 1e-6) // erf + erfc = 1
    // proportionsZTest: equal proportions -> z ~ 0, p ~ 1
    val z = one(
      """SELECT proportionsZTest(50, 50, 100, 100, 0.95, 'pooled') AS t,
        |  proportionsZTest(90, 10, 100, 100, 0.95, 'unpooled') AS sig""".stripMargin)
    val t = z.getStruct(0)
    assert(math.abs(t.getDouble(0)) < 1e-9 && t.getDouble(1) > 0.99)
    val sig = z.getStruct(1)
    assert(math.abs(sig.getDouble(0)) > 5 && sig.getDouble(1) < 0.001)
    assert(sig.getDouble(2) < 0.8 && sig.getDouble(3) > 0.8) // CI straddles 0.8
  }

  test("wave-22 aggregates: moving windows, insertAt, last-n, singleValue, ANOVA") {
    // fixture in deterministic single-partition arrival order
    val r = one(
      """SELECT groupArrayMovingSum(2, v) AS ms,
        |  groupArrayMovingAvg(2, v) AS ma,
        |  groupArrayLast(3, v) AS gl,
        |  singleValueOrNull(42) AS sv
        |FROM (SELECT CAST(element_at(array(1, 2, 3, 4), CAST(id AS INT) + 1)
        |  AS DOUBLE) AS v FROM range(0, 4, 1, 1))""".stripMargin)
    assert(r.getSeq[Double](0) == Seq(1.0, 3.0, 5.0, 7.0), r.getSeq[Double](0))
    // CH divides by the WINDOW width even for the first cell
    assert(r.getSeq[Double](1) == Seq(0.5, 1.5, 2.5, 3.5))
    assert(r.getSeq[Double](2) == Seq(2.0, 3.0, 4.0))
    assert(r.getInt(3) == 42)
    // several distinct values -> NULL
    val sv = one(
      "SELECT singleValueOrNull(v) AS s FROM (SELECT id AS v FROM range(3))")
    assert(sv.isNullAt(0))
    // insertAt places values at their 0-based slots, NULL-padding gaps
    val ia = one(
      """SELECT groupArrayInsertAt(toString(v * 10), CAST(v * 2 AS INT)) AS g
        |FROM (SELECT id AS v FROM range(2))""".stripMargin)
    assert(ia.getSeq[String](0) == Seq("0", null, "10"), ia.getSeq[String](0))
    // ANOVA: identical group means -> F ~ 0, p ~ 1; separated -> small p
    val a = one(
      """SELECT analysisOfVariance(v, g) AS same,
        |  analysisOfVariance(v + g * 100, g) AS sep
        |FROM (SELECT CAST(id % 7 AS DOUBLE) AS v, CAST(id % 3 AS INT) AS g
        |      FROM range(210))""".stripMargin)
    val same = a.getStruct(0)
    assert(same.getDouble(0) < 1.0 && same.getDouble(1) > 0.3,
      s"F=${same.getDouble(0)} p=${same.getDouble(1)}")
    val sep = a.getStruct(1)
    assert(sep.getDouble(0) > 100 && sep.getDouble(1) < 1e-6,
      s"F=${sep.getDouble(0)} p=${sep.getDouble(1)}")
  }

  test("wave-23: extractTextFromHTML, HTML entities, UUIDv7/ULID, clamp, IPv4 checks") {
    val r = one(
      """SELECT extractTextFromHTML('<html><head><style>p{color:red}</style>
        |</head><body><p>Hello <b>world</b>!</p><!-- note -->
        |<script>var x = 1;</script></body></html>') AS t,
        |  decodeHTMLComponent('a &amp; b &lt;c&gt; &#65; &#x42; &nbsp;z &unknown;') AS d,
        |  clamp(15, 0, 10) AS c1, clamp(-5, 0, 10) AS c2, clamp(7, 0, 10) AS c3,
        |  positiveModulo(-7, 3) AS pm,
        |  generateUUIDv7() AS u7,
        |  generateULID() AS ul,
        |  toIPv4OrNull('999.1.1.1') AS bad,
        |  toIPv4OrNull('10.0.0.1') AS ok,
        |  toLowCardinality('x') AS lc,
        |  isNullable(nullif(1, 2)) AS nn, isNullable(1) AS nf""".stripMargin)
    assert(r.getString(0) == "Hello world !", s"'${r.getString(0)}'")
    assert(r.getString(1) == "a & b <c> A B \u00a0z &unknown;",
      s"'${r.getString(1)}'")
    assert(r.getDouble(2) == 10.0 && r.getDouble(3) == 0.0 && r.getDouble(4) == 7.0)
    assert(r.getInt(5) == 2)
    // UUIDv7: version nibble 7, variant bits 10xx; timestamp recent
    val u7 = r.getString(6)
    assert(u7.charAt(14) == '7', u7)
    assert("89ab".contains(u7.charAt(19)), u7)
    assert(r.getString(7).length == 26)
    assert(r.isNullAt(8) && r.getString(9) == "10.0.0.1")
    assert(r.getString(10) == "x")
    assert(r.getBoolean(11) && !r.getBoolean(12))
    // the id time-bridges recover a recent timestamp
    val t = one(
      """SELECT UUIDv7ToDateTime(generateUUIDv7()) >=
        |    toDateTime('2026-01-01 00:00:00') AS a,
        |  ULIDStringToDateTime(generateULID()) >=
        |    toDateTime('2026-01-01 00:00:00') AS b""".stripMargin)
    assert(t.getBoolean(0) && t.getBoolean(1))
  }

  test("wave-24: XML entities, toTime, firstLine, tupleHammingDistance, elementOrNull") {
    val r = one(
      """SELECT encodeXMLComponent('a<b>&"c"') AS e,
        |  decodeXMLComponent('a&lt;b&gt;&amp;&quot;c&quot;&apos;') AS d,
        |  toString(toTime(toDateTime('2024-03-05 07:08:09'))) AS t,
        |  firstLine('line1\nline2\nline3') AS f,
        |  firstLine('single') AS f1,
        |  tupleHammingDistance(tuple(1, 2, 3), tuple(1, 9, 3)) AS h1,
        |  tupleHammingDistance(tuple(1, 2), tuple(1, 2)) AS h0,
        |  arrayElementOrNull(array(1, 2, 3), 5) AS oob,
        |  arrayElementOrNull(array(1, 2, 3), 2) AS ok,
        |  timeZoneOf(now()) AS tz""".stripMargin)
    assert(r.getString(0) == "a&lt;b&gt;&amp;&quot;c&quot;")
    assert(r.getString(1) == "a<b>&\"c\"'")
    assert(r.getString(2) == "1970-01-02 07:08:09")
    assert(r.getString(3) == "line1" && r.getString(4) == "single")
    assert(r.getInt(5) == 1 && r.getInt(6) == 0)
    assert(r.isNullAt(7) && r.getInt(8) == 2)
    assert(r.getString(9) == "UTC")
  }

  test("wave-25: toJSONString, capture-group matrices, mapSort, isZeroOrNull, catalog probe") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT toJSONString(array(1, 2, 3)) AS ja,
        |  toJSONString(map('k', 1)) AS jm,
        |  toJSONString('s"tr') AS js,
        |  toJSONString(42) AS jn,
        |  extractAllGroupsVertical('a=1,b=2', '([a-z])=([0-9])') AS v,
        |  extractAllGroupsHorizontal('a=1,b=2', '([a-z])=([0-9])') AS h,
        |  toString(mapSort(map('b', 2, 'a', 1))) AS ms,
        |  isZeroOrNull(0) AS z0, isZeroOrNull(5) AS z5,
        |  isZeroOrNull(nullif(1, 1)) AS zn,
        |  hasColumnInTable('default', 'orders', 'o_orderkey') AS hc,
        |  hasColumnInTable('default', 'orders', 'nope') AS hn,
        |  ngramDistanceCaseInsensitive('HELLO', 'hello') AS nd""".stripMargin)
    assert(r.getString(0) == "[1,2,3]")
    assert(r.getString(1) == """{"k":1}""")
    assert(r.getString(2) == "\"s\\\"tr\"")
    assert(r.getString(3) == "42")
    assert(r.getSeq[Seq[String]](4) == Seq(Seq("a", "1"), Seq("b", "2")))
    assert(r.getSeq[Seq[String]](5) == Seq(Seq("a", "b"), Seq("1", "2")))
    assert(r.getString(6).contains("a ->") &&
      r.getString(6).indexOf("a ->") < r.getString(6).indexOf("b ->"))
    assert(r.getBoolean(7) && !r.getBoolean(8) && r.getBoolean(9))
    assert(r.getBoolean(10) && !r.getBoolean(11))
    assert(r.getDouble(12) == 0.0) // case-folded: identical
  }

  test("wave-26: ranked enumerate, quantileDD stand-in, unaligned zip") {
    graft.sql.TableEnv.register(spark, sf)
    val r = one(
      """SELECT arrayEnumerateUniqRanked(array(10, 20, 10, 30, 10)) AS e,
        |  arrayZipUnaligned(array(1, 2, 3), array('a')) AS z,
        |  size(arrayZipUnaligned(array(1, 2, 3), array('a'))) AS n,
        |  quantileDD(0.01, 0.5, o_totalprice) > 0 AS q
        |FROM orders""".stripMargin)
    assert(r.getSeq[Int](0) == Seq(1, 1, 2, 1, 3))
    assert(r.getInt(2) == 3)
    val z = r.getSeq[org.apache.spark.sql.Row](1)
    assert(z(0).getInt(0) == 1 && z(0).getString(1) == "a")
    assert(z(2).getInt(0) == 3 && z(2).isNullAt(1)) // padded with NULL
    assert(r.getBoolean(3))
  }

  test("dateTimeToSnowflake keeps millisecond precision") {
    val r = one(
      """SELECT snowflakeToDateTime(dateTimeToSnowflake(
        |  toDateTime('2024-01-01 12:34:56'))) AS rt,
        |  dateTimeToSnowflake(toDateTime('2024-01-01 12:34:56')) -
        |    dateTimeToSnowflake(toDateTime('2024-01-01 12:34:55')) AS diff""".stripMargin)
    assert(r.getTimestamp(0).toString.startsWith("2024-01-01 12:34:56"))
    // 1 s apart = 1000 ms << 22 — second precision would give 1 << 22
    assert(r.getLong(1) == 1000L << 22, s"diff=${r.getLong(1)}")
  }
}
