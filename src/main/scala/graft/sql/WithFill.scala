package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ORDER BY ... WITH FILL [FROM f] [TO t] [STEP s]` for pasted
  * ClickHouse queries (reference accepts any CH SELECT,
  * mcp_server.py:421-459).
  *
  * The clause needs the result SCHEMA (filler rows carry each
  * column's type default, as in ClickHouse), so unlike the pure-text
  * shims in [[QueryGuard.normalizeDialect]] it splits into a text
  * half — [[extract]] cuts the clause and returns a [[FillSpec]] —
  * and a plan half — [[apply]] rebuilds the dense axis around the
  * planned core query with the bounds-broadcast + `sequence`/explode
  * shape proven by `q_with_fill` (operators/Relational.scala): one
  * row of min/max bounds explodes into the axis, grid points absent
  * from the result join anti against it (broadcast — the axis is
  * tiny), and the union re-sorts by the query's ORDER BY. No
  * collect, no per-row driver work: scale-safe at any axis length
  * that fits a result set.
  *
  * `INTERPOLATE [(cols)]` carries columns forward across filler rows
  * (bare INTERPOLATE carries every non-axis column, as in CH): filler
  * rows take the nearest preceding REAL row's value — for the plain
  * column form this equals CH's previous-output-row rule across any
  * run of fillers. The `col AS expr` cascade form re-evaluates expr
  * per filler row against the previous output row; it is inherently
  * sequential WITHIN a filler run, so the k-th filler after a real
  * row computes the k-fold self-application `expr^k(last_real)` via
  * Spark's `aggregate(sequence(1, k), init, acc -> expr)` HOF —
  * codegen'd, per-row bounded by the run length, no driver loop.
  * Scope: self-references of the interpolated column cascade exactly
  * as in CH; references to OTHER columns inside expr resolve against
  * the filler row itself (the fill axis carries its real grid value
  * there, other columns their type defaults), where CH would read
  * the previous output row.
  *
  * SEVERAL sort columns may each carry WITH FILL (`ORDER BY a WITH
  * FILL, b WITH FILL FROM 0 TO 10`): explicitly FROM+TO-bounded inner
  * axes expand as the CROSS PRODUCT of the per-column axes — the
  * dense time × category grid dashboards expect, equal to CH's
  * nested fill since explicit bounds pin every run's range. An inner
  * axis MISSING a bound matches CH's per-run semantics exactly: its
  * range derives per outer-axis group (the result is sorted by the
  * outer axes, so a group is a run), and an outer filler point with
  * no run keeps one row with the inner axis at its type default
  * (pinned by `q_with_fill_nested` against a DuckDB per-group
  * replay).
  *
  * A fill axis may be a named output column OR a computed sort
  * expression (`ORDER BY date_trunc('day', ts) WITH FILL STEP
  * INTERVAL 1 DAY`, the pasted dashboard form): computed axes
  * materialize as hidden helper columns that carry the grid value
  * through the union and the final sort (re-evaluating the
  * expression on a filler row would compute over type defaults),
  * then drop from the result.
  *
  * `TO` is exclusive, as in CH.
  */
object WithFill {

  /** One filled sort column: FROM/TO/STEP default to min / max /
    * 1-or-1-day over the result. */
  final case class FillAxis(
      column: String,
      from: Option[String],
      to: Option[String],
      step: Option[String])

  /** `interpolate`: None = no clause; Some(Nil) = bare INTERPOLATE
    * (carry every non-ORDER-BY column); Some(items) = the listed
    * columns, each with an optional cascade expression (`col AS
    * expr`). `orderText` is the CLEANED sort list (fill subclauses
    * removed). */
  final case class FillSpec(
      axes: Seq[FillAxis],
      orderText: String,
      interpolate: Option[Seq[(String, Option[String])]] = None)

  /** Cut every top-level `WITH FILL [FROM ..] [TO ..] [STEP ..]` out
    * of the ORDER BY list; the returned core keeps the cleaned ORDER
    * BY. */
  def extract(sql: String): (String, Option[FillSpec]) = {
    val ts = QueryGuard.normalizeScan(sql)
    val fillAt = ts.indices.find { i =>
      i + 1 < ts.size && ts(i)._2 == 0 && ts(i)._1.upper == "WITH" &&
        ts(i + 1)._1.upper == "FILL" &&
        // a CTE merely NAMED fill (`WITH fill AS (...)`) is not the
        // clause
        !(i + 2 < ts.size && ts(i + 2)._1.upper == "AS")
    }
    fillAt match {
      case None => (sql, None)
      case Some(i) =>
        val orderAt = (0 until i).reverse.find { j =>
          j + 1 < ts.size && ts(j)._2 == 0 && ts(j)._1.upper == "ORDER" &&
            ts(j + 1)._1.upper == "BY"
        }.getOrElse(throw new ReadOnlyViolation(
          "WITH FILL is only valid inside a top-level ORDER BY"))
        // the whole ORDER BY clause (fill subclauses included) runs to
        // the first depth-0 INTERPOLATE/LIMIT/SETTINGS/FORMAT token
        val clauseStops = Set("INTERPOLATE", "LIMIT", "SETTINGS", "FORMAT")
        val clauseEndTok = (orderAt + 2 until ts.size).find(j =>
          ts(j)._2 == 0 && clauseStops(ts(j)._1.upper))
        val clauseEnd = clauseEndTok.map(j => ts(j)._1.start)
          .getOrElse(sql.length)
        val rawBody = sql.substring(ts(orderAt + 1)._1.end, clauseEnd)
        val semi = rawBody.trim.endsWith(";")
        val body = rawBody.trim.stripSuffix(";").trim
        // per sort item: strip its WITH FILL tail into a FillAxis
        val axes = scala.collection.mutable.ArrayBuffer.empty[FillAxis]
        val cleaned = scala.collection.mutable.ArrayBuffer.empty[String]
        QueryGuard.splitTopLevel(body).foreach { item =>
          val its = QueryGuard.normalizeScan(item)
          val w = its.indices.find(k =>
            k + 1 < its.size && its(k)._2 == 0 &&
              its(k)._1.upper == "WITH" && its(k + 1)._1.upper == "FILL")
          w match {
            case None => cleaned += item
            case Some(k) =>
              val sortPart = item.substring(0, its(k)._1.start).trim
              val colName = stripSortSuffixes(sortPart)._1
                .stripPrefix("`").stripSuffix("`")
              // FROM/TO/STEP subclauses within THIS item: each value
              // runs to the item's next subclause keyword or its end
              var from: Option[String] = None
              var to: Option[String] = None
              var step: Option[String] = None
              val sub = Set("FROM", "TO", "STEP")
              var m: Option[Int] = (k + 2 until its.size).find(x =>
                its(x)._2 == 0 && sub(its(x)._1.upper))
              while (m.isDefined) {
                val x = m.get
                val next = (x + 1 until its.size).find(y =>
                  its(y)._2 == 0 && sub(its(y)._1.upper))
                val vEnd = next.map(y => its(y)._1.start)
                  .getOrElse(item.length)
                val v = item.substring(its(x)._1.end, vEnd).trim
                if (v.isEmpty) throw new ReadOnlyViolation(
                  "empty WITH FILL FROM/TO/STEP value")
                its(x)._1.upper match {
                  case "FROM" => from = Some(v)
                  case "TO" => to = Some(v)
                  case "STEP" => step = Some(v)
                }
                m = next
              }
              // tokens between FILL and the first subclause keyword
              // would be silently dropped — reject them instead
              val tailStart = its
                .drop(k + 2)
                .find(t => t._2 == 0 && sub(t._1.upper))
                .map(_._1.start).getOrElse(item.length)
              if (item.substring(its(k + 1)._1.end, tailStart).trim.nonEmpty)
                throw new ReadOnlyViolation(
                  s"cannot parse WITH FILL subclause in '$item'")
              axes += FillAxis(colName, from, to, step)
              cleaned += sortPart
          }
        }
        if (axes.isEmpty) return (sql, None)
        var endOfFill = clauseEnd
        // optional trailing INTERPOLATE [(col [AS expr], ...)]
        var interpolate: Option[Seq[(String, Option[String])]] = None
        val interpAt = clauseEndTok.filter(x =>
          ts(x)._1.upper == "INTERPOLATE")
        interpAt.foreach { x =>
          endOfFill = ts(x)._1.end
          val open = QueryGuard.callOpen(sql, ts(x)._1)
          if (open >= 0) {
            val close = QueryGuard.matchParenAt(sql, open)
            if (close < 0) throw new ReadOnlyViolation(
              "unbalanced INTERPOLATE parens")
            val items =
              QueryGuard.splitTopLevel(sql.substring(open + 1, close))
            // `col` carries forward; `col AS expr` cascades expr per
            // filler row (the first depth-0 AS splits the item)
            interpolate = Some(items.map { it =>
              QueryGuard.normalizeScan(it).find(t =>
                t._2 == 0 && t._1.upper == "AS") match {
                case Some((t, _)) =>
                  (it.substring(0, t.start).trim
                    .stripPrefix("`").stripSuffix("`"),
                    Some(it.substring(t.end).trim))
                case None =>
                  (it.stripPrefix("`").stripSuffix("`"), None)
              }
            })
            endOfFill = close + 1
          } else {
            interpolate = Some(Nil) // bare: all non-axis columns
          }
        }
        val orderClean = cleaned.mkString(", ")
        val core = (sql.substring(0, ts(orderAt + 1)._1.end) + " " +
          orderClean + (if (semi) ";" else "") + " " +
          sql.substring(endOfFill).stripLeading).stripTrailing
        (core, Some(FillSpec(axes.toSeq, orderClean, interpolate)))
    }
  }

  /** Densify `df` along the fill axes — the grid is the cross product
    * of each axis's FROM|min .. TO|max by STEP — appending missing
    * grid points as filler rows carrying type defaults, then the
    * whole union re-sorts by the query's ORDER BY. Off-grid rows
    * already in the result are kept, as in CH. The bounds of ALL axes
    * come from one aggregate row, each axis explodes off it in turn
    * (axes are tiny — broadcast), and one multi-key anti join finds
    * the missing points: no collect, no per-row driver work. */
  def apply(df: DataFrame, spec: FillSpec): DataFrame = {
    // an axis is an output column (canonical casing), or a COMPUTED
    // sort expression (`ORDER BY date_trunc('day', ts) WITH FILL`),
    // materialized as a hidden helper column that carries the grid
    // value through the union and final sort, then drops
    var base = df
    val axisHelpers = scala.collection.mutable.ArrayBuffer.empty[String]
    val axisByText = scala.collection.mutable.Map.empty[String, String]
    val resolved0 = spec.axes.zipWithIndex.map { case (ax, i) =>
      df.columns.find(_.equalsIgnoreCase(ax.column)) match {
        case Some(cn) => (ax, cn)
        case None =>
          val cn = s"__graft_fillax_$i"
          val e =
            try expr(ax.column)
            catch {
              case _: Exception => throw new ReadOnlyViolation(
                s"WITH FILL column '${ax.column}' is neither an output " +
                  "column nor a parsable sort expression (have: " +
                  s"${df.columns.mkString(", ")})")
            }
          base = base.withColumn(cn, e)
          axisHelpers += cn
          axisByText(ax.column.toLowerCase) = cn
          (ax, cn)
      }
    }
    val resolved = resolved0.map { case (ax, cn) =>
      (ax, cn, base.schema(cn).dataType)
    }
    // the final sort re-reads the ORDER BY — computed axis items must
    // sort by the HELPER value (re-evaluating the expression on a
    // filler row would compute over type defaults, misplacing it)
    val sortCols = sortItems(spec.orderText, axisByText.toMap)
    val boundAggs = resolved.zipWithIndex.flatMap { case ((_, cn, _), i) =>
      Seq(min(col(cn)).as(s"__graft_lo_$i"),
        max(col(cn)).as(s"__graft_hi_$i"))
    }
    val bounds = base.agg(boundAggs.head, boundAggs.tail: _*)
    // The first axis (and every later axis pinned by explicit FROM
    // AND TO) expands off the single global bounds row — the cross
    // product, which equals CH's nested fill whenever explicit bounds
    // pin the inner axes. An inner axis MISSING a bound instead
    // derives it PER OUTER GROUP (grouped by all preceding fill-axis
    // columns): CH re-derives the inner range per consecutive run of
    // the outer sort prefix, and since the result is sorted by the
    // outer axes a group IS a run. Outer grid points with no group in
    // the result (outer filler rows) keep ONE row with the inner axis
    // at its type default, as CH emits for an empty run.
    var perGroup = false
    var grid: DataFrame = null
    resolved.zipWithIndex.foreach { case ((ax, cn, dt), i) =>
      val defaultStep: Column = dt match {
        case DateType | TimestampType => expr("interval 1 day")
        case _ => lit(1)
      }
      // sequence() wants the step's integral width to match the axis
      val stepCol = ax.step.map(expr).getOrElse(defaultStep) match {
        case s if dt.isInstanceOf[NumericType] => s.cast(dt)
        case s => s
      }
      val grouped = i > 0 && (ax.from.isEmpty || ax.to.isEmpty)
      if (!grouped) {
        val loCol = ax.from.map(expr).getOrElse(col(s"__graft_lo_$i")).cast(dt)
        val hiCol = ax.to.map(expr).getOrElse(col(s"__graft_hi_$i")).cast(dt)
        var g = bounds.select(explode(sequence(loCol, hiCol, stepCol)).as(cn))
        // CH's TO bound is exclusive
        ax.to.foreach(t => g = g.filter(col(cn) < expr(t).cast(dt)))
        grid = if (grid == null) g else grid.crossJoin(broadcast(g))
      } else {
        perGroup = true
        val prefix = resolved.take(i).map(_._2)
        val gb = base.groupBy(prefix.map(col): _*)
          .agg(min(col(cn)).cast(dt).as("__graft_glo"),
            max(col(cn)).cast(dt).as("__graft_ghi"))
        val loCol = ax.from.map(e => expr(e).cast(dt))
          .getOrElse(col("__graft_glo"))
        val hiCol = ax.to.map(e => expr(e).cast(dt))
          .getOrElse(col("__graft_ghi"))
        // group absent (an outer filler point) ⇔ both aggregates null
        var g = grid.join(gb, prefix, "left")
          .withColumn(cn, explode(
            when(col("__graft_glo").isNull && col("__graft_ghi").isNull,
              array(typeDefault(dt)))
              .otherwise(sequence(loCol, hiCol, stepCol))))
        // exclusive TO applies only to real (group-derived) rows — the
        // default-valued outer-filler row must survive regardless
        ax.to.foreach(t => g = g.filter(
          col("__graft_glo").isNull || col(cn) < expr(t).cast(dt)))
        grid = g.drop("__graft_glo", "__graft_ghi")
      }
    }
    val axisCols = resolved.map(_._2)
    grid = grid.select(axisCols.map(col): _*)
    // bounded cross-product grids are tiny (axis lengths) → broadcast;
    // a per-group grid scales with the grouped result → let AQE pick
    val missing = (if (perGroup) grid else broadcast(grid))
      .join(base, axisCols, "left_anti")
    val interp: Seq[(String, Option[String])] = spec.interpolate match {
      case None => Nil
      case Some(Nil) =>
        // bare form: CH carries forward every column EXCEPT all ORDER
        // BY columns (not only the fill axis) — a secondary sort key
        // takes its type default on filler rows
        val orderCols = orderColNames(spec.orderText)
        df.columns.filterNot(c =>
          orderCols.exists(_.equalsIgnoreCase(c))).toSeq.map((_, None))
      case Some(cs) => cs.map { case (c, e) =>
        (df.columns.find(_.equalsIgnoreCase(c))
          .getOrElse(throw new ReadOnlyViolation(
            s"INTERPOLATE column '$c' must be an output column")), e)
      }
    }
    val interpNames = interp.map(_._1)
    val filler = missing.select(base.columns.map { c2 =>
      if (axisCols.contains(c2)) col(c2) // grid value
      else if (interpNames.contains(c2)) // filled below, from real rows
        lit(null).cast(base.schema(c2).dataType).as(c2)
      else typeDefault(base.schema(c2).dataType).as(c2)
    }.toIndexedSeq: _*)
    if (interp.isEmpty)
      base.unionByName(filler).sort(sortCols: _*)
        .drop(axisHelpers.toSeq: _*)
    else {
      // Carry each interpolated column forward from the nearest
      // preceding REAL row (struct-wrapped so a legitimate NULL in a
      // real row still propagates, as CH's previous-row rule does).
      // The single global window matches the operation's shape: a
      // WITH FILL result is already a globally sorted axis.
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      var out = base.withColumn("__graft_fill", lit(0))
        .unionByName(filler.withColumn("__graft_fill", lit(1)))
      val helperCols = scala.collection.mutable.ArrayBuffer(
        "__graft_fill")
      if (interp.exists(_._2.isDefined)) {
        // the cascade form needs k = the filler's position within its
        // run: group rows by the count of real rows at-or-before them,
        // then number within the group (the real row is row 0)
        out = out.withColumn("__graft_grp",
          sum(when(col("__graft_fill") === 0, 1).otherwise(0)).over(w))
        val wg = Window.partitionBy(col("__graft_grp"))
          .orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn("__graft_k",
          (count(lit(1)).over(wg) - 1).cast("int"))
        helperCols += "__graft_grp"
        helperCols += "__graft_k"
      }
      interp.zipWithIndex.foreach { case ((c, exprOpt), idx) =>
        val dt = base.schema(c).dataType
        val lastReal = last(
          when(col("__graft_fill") === 0, struct(col(c))), ignoreNulls = true)
          .over(w)
        exprOpt match {
          case None =>
            out = out.withColumn(c,
              when(col("__graft_fill") === 1,
                coalesce(lastReal.getField(c), typeDefault(dt)))
                .otherwise(col(c)))
          case Some(e) =>
            // expr^k(last_real): iterate the self-substituted
            // expression k times with aggregate() — one codegen'd
            // pass, cost bounded by the filler run length. The
            // lambda's accumulator stands in for the column; other
            // names in `e` resolve against the filler row.
            val accVar = "__graft_acc"
            val eSub = substituteName(e, c, accVar)
            val initCol = s"__graft_init_$idx"
            out = out.withColumn(initCol, lastReal.getField(c))
            helperCols += initCol
            val cascade = expr(
              s"aggregate(sequence(1, greatest(__graft_k, 1)), " +
                s"CAST($initCol AS ${dt.sql}), " +
                s"($accVar, __graft_i) -> CAST(($eSub) AS ${dt.sql}))")
            out = out.withColumn(c,
              when(col("__graft_fill") === 1,
                coalesce(cascade, typeDefault(dt)))
                .otherwise(col(c)))
        }
      }
      out.drop(helperCols.toSeq: _*).sort(sortCols: _*)
        .drop(axisHelpers.toSeq: _*)
    }
  }

  /** Token-aware substitution: standalone `name` tokens in `e` become
    * `repl` (backtick-quoted occurrences included); qualified uses
    * (`t.name`) stay. Without the quoted-span handling a cascade like
    * ``INTERPOLATE (v AS `v` + 1)`` would leave `` `v` `` resolving
    * against the filler row (NULL → type default): a silent wrong
    * answer. */
  private def substituteName(e: String, name: String,
      repl: String): String =
    QueryGuard.substituteIdent(e, name, repl, ignoreCase = true)

  /** ClickHouse fills non-axis columns with the column type's default
    * value, not NULL. */
  private def typeDefault(dt: DataType): Column = dt match {
    case _: NumericType => lit(0).cast(dt)
    case StringType => lit("")
    case BooleanType => lit(false)
    case DateType => lit("1970-01-01").cast(DateType)
    case TimestampType => lit("1970-01-01 00:00:00").cast(TimestampType)
    case other => lit(null).cast(other)
  }

  /** Strip a sort item's trailing NULLS FIRST/LAST and ASC/DESC:
    * (bare expression text, desc?, nullsFirst?). */
  private def stripSortSuffixes(item0: String)
      : (String, Boolean, Option[Boolean]) = {
    var item = item0.trim
    var up = item.toUpperCase
    var nullsFirst: Option[Boolean] = None
    if (up.endsWith(" NULLS FIRST")) {
      nullsFirst = Some(true); item = item.dropRight(12).trim
    } else if (up.endsWith(" NULLS LAST")) {
      nullsFirst = Some(false); item = item.dropRight(11).trim
    }
    up = item.toUpperCase
    var desc = false
    if (up.endsWith(" DESC")) { desc = true; item = item.dropRight(5).trim }
    else if (up.endsWith(" ASC")) item = item.dropRight(4).trim
    (item, desc, nullsFirst)
  }

  /** Parse an ORDER BY item list back into sort columns (aliases
    * resolve against the unioned result); items matching a computed
    * fill axis sort by its helper column instead of re-evaluating. */
  private def sortItems(orderText: String,
      axisByText: Map[String, String] = Map.empty): Seq[Column] =
    QueryGuard.splitTopLevel(orderText).map { item0 =>
      val (item, desc, nullsFirst) = stripSortSuffixes(item0)
      val base = axisByText.get(item.toLowerCase).map(col)
        .getOrElse(expr(item))
      (desc, nullsFirst) match {
        case (false, None) => base.asc
        case (false, Some(true)) => base.asc_nulls_first
        case (false, Some(false)) => base.asc_nulls_last
        case (true, None) => base.desc
        case (true, Some(true)) => base.desc_nulls_first
        case (true, Some(false)) => base.desc_nulls_last
      }
    }

  /** Bare column names of the ORDER BY items (direction and NULLS
    * ordering stripped), for the bare-INTERPOLATE exclusion set. */
  private def orderColNames(orderText: String): Seq[String] =
    QueryGuard.splitTopLevel(orderText).map(item0 =>
      stripSortSuffixes(item0)._1.stripPrefix("`").stripSuffix("`"))
}
