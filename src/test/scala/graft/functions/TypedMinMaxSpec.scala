package graft.functions

import graft.SparkSpec
import graft.plans.Bridge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Max, MaxBy, Min, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.types._

/** [[TypedMinMax]] against the builtin Min/Max/MinBy/MaxBy it stands in
  * for, over the types that used to force SortAggregate. The input has
  * three partitions, so every comparison runs update, serialize,
  * deserialize and merge. Orderings are unique except where a tie is
  * planted, and every planted tie sits inside one partition, so the
  * in-partition tie rule is compared exactly; the merge tie rule has
  * its own test. */
class TypedMinMaxSpec extends SparkSpec {

  // 126 rows in three slices of 42; the last two rows of each slice
  // form group 9, where every value and ordering is NULL
  private case class In(i: Long, g: Int, o: Option[Int], d: Option[Double],
      s: Option[String], cs: Option[String], sv: Option[(Option[Int], String)],
      av: Option[Seq[Option[Int]]])

  private val rows: Seq[In] = (0 until 126).map { i =>
    val slice = i / 42
    val pos = i % 42
    if (pos >= 40) In(i, 9, None, None, None, None, None, None)
    else {
      val g = i % 4
      val base = (i * 37) % 126 // unique per row
      // planted ordering ties, slice 1 only: group 3's max and min
      val o =
        if (i % 9 == 0) None
        else if (slice == 1 && g == 3) Some(if (pos < 21) 1000 else -1000)
        else Some(base)
      // group 2: NaN ties (the max) in slice 2, ±0.0 ties (the min) in slice 0
      val d =
        if (i % 11 == 0) None
        else if (g == 2 && i % 3 == 0 && slice == 2) Some(Double.NaN)
        else if (g == 2 && i % 3 == 0 && slice == 0) Some(if (i % 2 == 0) -0.0 else 0.0)
        else Some(base + 1.0)
      // collation-equal spellings tie at the min (slice 1) and max (slice 2)
      val variant = Seq("aaa", "AAA", "aAa")((i / 4) % 3)
      val cs =
        if (pos == 20) None
        else if (pos < 12 && slice == 1) Some(variant)
        else if (pos < 12 && slice == 2) Some(variant.replace('a', 'z').replace('A', 'Z'))
        else Some(f"m$base%03d")
      In(i, g, o, d,
        s = if (i % 10 == 3) None else Some(f"s${(i * 5) % 126}%03d"),
        cs = cs,
        sv = if (i % 17 == 0) None
          else Some((if (i % 13 == 0) None else Some(i % 7), f"x$base%03d")),
        av = if (i % 19 == 0) None
          else if (i % 6 == 1) Some(Seq(Some(i % 3), Some(i)))
          else Some(Seq(Some(i % 3), if (i % 5 == 0) None else Some(i % 5), Some(i))))
    }
  }

  private lazy val data: DataFrame = {
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("g", IntegerType),
      StructField("o", IntegerType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("cs0", StringType),
      StructField("sv", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("av", ArrayType(IntegerType))))
    def n(o: Option[Any]): Any = o.getOrElse(null)
    val rdd = spark.sparkContext.parallelize(rows.map { r =>
      Row(r.i, r.g, n(r.o), n(r.d), n(r.s), n(r.cs),
        n(r.sv.map { case (a, b) => Row(n(a), b) }), n(r.av.map(_.map(n))))
    }, 3)
    spark.createDataFrame(rdd, schema)
      .selectExpr("*", "collate(cs0, 'UTF8_LCASE') AS cs")
  }

  private def plan(grouped: Boolean,
      f: Seq[Expression] => AggregateFunction, cols: String*): DataFrame = {
    val child = data.queryExecution.analyzed
    def attr(c: String) = child.output.find(_.name == c).get
    val keys = if (grouped) Seq(attr("g")) else Nil
    val agg = Alias(f(cols.map(attr)).toAggregateExpression(), "r")()
    Bridge.ofRows(spark, Aggregate(keys, keys :+ agg, child))
  }

  private def run(grouped: Boolean,
      f: Seq[Expression] => AggregateFunction, cols: String*): Seq[Row] =
    plan(grouped, f, cols: _*).collect().toSeq
      .sortBy(r => if (grouped) r.getInt(0) else 0)

  private def same(builtin: Seq[Expression] => AggregateFunction,
      isMax: Boolean, cols: String*): Unit =
    for (grouped <- Seq(true, false)) {
      val want = run(grouped, builtin, cols: _*)
      val got = run(grouped, TypedMinMax(_, isMax), cols: _*)
      assert(got == want, s"${cols.mkString(", ")} (grouped=$grouped, max=$isMax)")
    }

  test("min/max match the builtin over struct, array, string, collated string, double") {
    for (c <- Seq("sv", "av", "s", "cs", "d")) {
      same(es => Min(es.head), isMax = false, c)
      same(es => Max(es.head), isMax = true, c)
    }
  }

  test("min_by/max_by match the builtin, NULL values and orderings included") {
    val pairs = Seq("sv" -> "o", "av" -> "d", "s" -> "cs", "cs" -> "s",
      "av" -> "sv", "i" -> "o", "i" -> "d", "i" -> "cs", "i" -> "sv", "i" -> "av")
    for ((v, o) <- pairs) {
      same(es => MinBy(es(0), es(1)), isMax = false, v, o)
      same(es => MaxBy(es(0), es(1)), isMax = true, v, o)
    }
  }

  test("planted ties and the all-NULL group resolve as the builtin rules say") {
    def typed(isMax: Boolean, cols: String*): Map[Int, Any] =
      run(grouped = true, TypedMinMax(_, isMax), cols: _*)
        .map(r => r.getInt(0) -> r.get(1)).toMap
    val g3 = rows.filter(_.g == 3)
    // min_by/max_by: the LAST tied row of the partition wins
    assert(typed(isMax = true, "i", "o")(3) == g3.filter(_.o.contains(1000)).map(_.i).max)
    assert(typed(isMax = false, "i", "o")(3) == g3.filter(_.o.contains(-1000)).map(_.i).max)
    // min/max: the FIRST of equal values is kept (-0.0 vs 0.0, case variants)
    val zero = rows.find(r => r.g == 2 && r.d.exists(_ == 0.0)).get.d.get
    val gotZero = typed(isMax = false, "d")(2).asInstanceOf[Double]
    assert(java.lang.Double.compare(gotZero, zero) == 0, s"$gotZero vs $zero")
    assert(typed(isMax = true, "d")(2).asInstanceOf[Double].isNaN)
    val firstA = rows.filter(r => r.g == 1 && r.cs.exists(_.equalsIgnoreCase("aaa"))).head
    assert(typed(isMax = false, "cs")(1).toString == firstA.cs.get)
    for (c <- Seq("sv", "av", "s", "cs", "d")) assert(typed(isMax = true, c)(9) == null)
    assert(typed(isMax = false, "sv", "o")(9) == null)
  }

  test("merge: the left buffer wins ties for min/max, the right for min_by/max_by") {
    val x = AttributeReference("x", IntegerType)()
    val v = AttributeReference("v", StringType)()
    val mm = TypedMinMax(Seq(x), isMax = false)
    val by = TypedMinMax(Seq(v, x), isMax = false)
    def buf(o: Any, value: Any) = new TypedMinMax.Buf(o, value)
    val (l, r) = (buf(1, "l"), buf(1, "r"))
    assert(mm.merge(l, r) eq l)
    assert(by.merge(l, r) eq r)
    val unset = mm.createAggregationBuffer()
    assert(mm.merge(unset, l) eq l)
    assert(mm.merge(l, unset) eq l)
    // the serialized form round-trips set and unset buffers
    val back = by.deserialize(by.serialize(buf(7, null)))
    assert(back.ord == 7 && back.value == null)
    assert(by.deserialize(by.serialize(by.createAggregationBuffer())).ord == null)
  }

  test("variable-width inputs plan two ObjectHashAggregate phases") {
    val df = plan(grouped = true, TypedMinMax(_, isMax = false), "av", "sv")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("SQL-name dispatch keeps hash-aggregable builtins and routes the rest") {
    val str = Literal("a")
    val struct = org.apache.spark.sql.catalyst.expressions.CreateStruct(Seq(Literal(1)))
    assert(ChMinOrMax(Literal(1L), isMin = true).replacement.isInstanceOf[Min])
    assert(ChMinOrMax(Literal(1.5), isMin = false).replacement.isInstanceOf[Max])
    assert(ChMinOrMax(str, isMin = true).replacement.isInstanceOf[TypedMinMax])
    assert(ChMinOrMax(struct, isMin = false).replacement.isInstanceOf[TypedMinMax])
    assert(ChMaxMinBy(Literal(1L), Literal(2), isMax = true).replacement.isInstanceOf[MaxBy])
    assert(ChMaxMinBy(str, Literal(2), isMax = true).replacement.isInstanceOf[TypedMinMax])
    assert(ChMaxMinBy(Literal(1L), str, isMax = false).replacement.isInstanceOf[TypedMinMax])
  }
}
