package graft.sql

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CH select-list modifiers that need the result SCHEMA — `COLUMNS
  * ('regex')` and the `APPLY(func)` chain (reference accepts any CH
  * SELECT, mcp_server.py:421-459) — handled like [[WithFill]]: a text
  * half cuts the construct down to `*` pre-parse, a plan half expands
  * it against the planned columns.
  *
  *   - `COLUMNS('re')` selects every column whose NAME matches the
  *     regex (partial match, as CH's RE2 find does)
  *   - `... APPLY(f)` maps each selected column through `f`, naming
  *     the result `f(col)` exactly as ClickHouse renders it
  *   - supported chains: `COLUMNS('re')`, `COLUMNS('re') APPLY(f)
  *     [APPLY(g) ...]`, `* APPLY(f) [APPLY(g) ...]`, `t.* APPLY(f)`,
  *     `* EXCEPT (...) APPLY(f)` (the EXCEPT stays in the core query
  *     — Spark expands it natively); several APPLYs chain left to
  *     right, `g(f(col))`, as CH transformer chains do
  *
  * A `COLUMNS('re') [APPLY(f)]` chain may also appear as ONE ITEM of a
  * larger select list (`SELECT id, COLUMNS('^l_') APPLY(sum) ... GROUP
  * BY id` — the form dashboards paste): [[expandItems]] probes the
  * FROM clause's schema with a trailing-clause-free `SELECT *` and
  * expands each chain item textually, so the full statement (GROUP
  * BY, HAVING, ORDER BY included) then plans natively.
  *
  * Scope (documented departures): the bare-star chains (`* APPLY`,
  * `t.* APPLY`, `* EXCEPT ... APPLY`) must still be the whole
  * top-level select list; APPLY takes a plain function name, a
  * parameterized-aggregate head (`APPLY(quantile(0.5))` — expands to
  * CH's `f(params)(col)` call form and flattens through the
  * param-agg shim), or a ONE-parameter lambda (`APPLY(x -> f(x))` —
  * the column substitutes for the parameter; the result is named by
  * the substituted expression text, where CH renders its internal
  * function names — `x -> x + 1` over `n` is `n + 1` here, `plus(n,
  * 1)` there); Java regex syntax stands in for RE2 (a near-superset
  * — backreferences work here that CH would reject; realistic
  * patterns behave identically). A column produced by APPLY over a
  * plain scan is a global aggregate when `f` aggregates, matching
  * CH.
  */
object StarPost {

  /** `fns` is the APPLY chain, applied left to right (CH transformer
    * chaining: `APPLY(f) APPLY(g)` yields `g(f(col))`); empty = no
    * APPLY. */
  final case class StarSpec(regex: Option[String], fns: Seq[String])

  // an APPLY payload: a plain function name, a parameterized
  // aggregate head `name(params)` (expands to CH's f(params)(col)
  // call form and flattens through the param-agg shim), or a
  // one-parameter lambda `x -> expr` — the regexes capture the
  // payload broadly and [[applyCall]] validates the form
  private val fnForm = "[A-Za-z_][A-Za-z0-9_]*(?:\\([^()]*\\))?"
  private val columnsForm =
    "(?is)^COLUMNS\\s*\\(\\s*'((?:[^']|'')*)'\\s*\\)\\s*(.*)$".r
  private val starHeadForm =
    ("(?is)^(\\*|[A-Za-z_][A-Za-z0-9_]*\\.\\*|\\*\\s+EXCEPT\\s*\\([^)]*\\))" +
      "\\s+(APPLY\\s*\\(.*)$").r
  private val lambdaForm =
    "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*->\\s*(.+)$".r

  /** Parse a chain of `APPLY(payload)` groups (paren-aware, so lambda
    * bodies with nested parens survive); None when the text is not a
    * pure APPLY chain. */
  private[sql] def parseApplyChain(tail0: String): Option[Seq[String]] = {
    var tail = tail0.trim
    val fs = scala.collection.mutable.ArrayBuffer.empty[String]
    while (tail.nonEmpty) {
      val m = "(?is)^APPLY\\s*\\(".r.findFirstMatchIn(tail)
        .getOrElse(return None)
      val open = m.end - 1
      val close = QueryGuard.matchParenAt(tail, open)
      if (close < 0) return None
      fs += tail.substring(open + 1, close).trim
      tail = tail.substring(close + 1).trim
    }
    Some(fs.toSeq)
  }

  /** One APPLY payload applied to an expression/name pair. Plain
    * names and param-agg heads render CH's `f(expr)` /
    * `f(params)(expr)` naming; a one-parameter lambda substitutes the
    * expression for the parameter and names the result by the
    * substituted text. Anything else is rejected with the supported
    * forms named. */
  private def applyCallOn(payload: String, e: String,
      n: String): (String, String) = {
    payload.trim match {
      case lambdaForm(param, body) =>
        (substituteParam(body.trim, param, e),
          substituteParam(body.trim, param, n))
      case p if p.matches(fnForm) =>
        (QueryGuard.rewriteParamAggs(s"$p($e)"), s"$p($n)")
      case p => throw new ReadOnlyViolation(
        s"APPLY payload '$p' is not supported — use a function name, " +
          "a parameterized head f(params), or a one-parameter lambda " +
          "x -> expr")
    }
  }

  /** A whole APPLY chain over column `c`, left to right: (expression
    * text, result name). */
  private[sql] def applyChain(payloads: Seq[String],
      c: String): (String, String) = {
    val (e, n) = payloads.foldLeft((s"`$c`", c)) { case ((e, n), p) =>
      applyCallOn(p, e, n)
    }
    // result names render the literal as the user SPELLED it — the
    // float-literal `D` suffix QueryGuard appends (CH Float64 lexing)
    // belongs in the expression, not the CH-style rendered name
    (e, n.replaceAll("(\\d\\.\\d+(?:[eE][+-]?\\d+)?)D\\b", "$1"))
  }

  /** Token-aware substitution of a lambda parameter: standalone
    * `param` tokens become `repl`; qualified uses (`t.param`) stay. */
  private def substituteParam(body: String, param: String,
      repl: String): String =
    // lambda params are case-sensitive; quoted occurrences (`x`)
    // substitute too — see QueryGuard.substituteIdent
    QueryGuard.substituteIdent(body, param, repl, ignoreCase = false)

  /** Cut a top-level COLUMNS/APPLY select list out of `sql`, replacing
    * it with `*` (or the surviving star head) for the core query. */
  def extract(sql: String): (String, Option[StarSpec]) = {
    val ts = QueryGuard.normalizeScan(sql)
    if (ts.isEmpty || ts.head._1.upper != "SELECT" || ts.head._2 != 0)
      return (sql, None)
    val fromAt = ts.find(t => t._2 == 0 && t._1.upper == "FROM")
    val listStart = ts.head._1.end
    val listEnd = fromAt.map(_._1.start).getOrElse(sql.length)
    val list = sql.substring(listStart, listEnd).trim

    def rebuilt(newList: String) =
      sql.substring(0, listStart) + " " + newList + " " +
        sql.substring(listEnd)

    list match {
      case columnsForm(re, rest) =>
        val rex = re.replace("''", "'")
        rest.trim match {
          case "" =>
            (rebuilt("*"), Some(StarSpec(Some(rex), Nil)))
          case tail => parseApplyChain(tail) match {
            case Some(fs) => (rebuilt("*"), Some(StarSpec(Some(rex), fs)))
            case None => (sql, None) // unsupported chain: parser speaks
          }
        }
      case starHeadForm(head, tail) =>
        parseApplyChain(tail) match {
          case Some(fs) => (rebuilt(head), Some(StarSpec(None, fs)))
          case None => (sql, None)
        }
      case _ => (sql, None)
    }
  }

  private val columnsItem =
    "(?is)^COLUMNS\\s*\\(\\s*'((?:[^']|'')*)'\\s*\\)(.*)$".r

  // optional trailing alias: CH's `untuple(t) AS v` names the result
  // columns v.1, v.2, ...
  private val untupleItem =
    "(?is)^untuple\\s*\\((.*)\\)\\s*(?:AS\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*)?$".r

  /** Expand `untuple(expr)` select items into one positional
    * `tupleElement(expr, k) AS name` item per struct field (CH
    * expands untuple to `x.1, x.2, ...` during analysis — reference
    * surface: any CH SELECT, mcp_server.py:433). The field set comes
    * from probing the expression's schema against the FROM clause
    * with trailing clauses cut, exactly like [[expandItems]]; output
    * columns of an UNNAMED tuple take CH's own `tupleElement(x, N)`
    * spellings (with the user's pasted expression text), while a
    * NAMED struct keeps its real field names — referenceable by a
    * tail clause, like CH's named-tuple elements. */
  def expandUntuple(sql: String,
      probe: String => DataFrame): Option[String] = {
    val ts = QueryGuard.normalizeScan(sql)
    val selAt = ts.find(t => t._2 == 0 && t._1.upper == "SELECT")
      .getOrElse(return None)
    if (ts.head._1.upper != "SELECT" && ts.head._1.upper != "WITH")
      return None
    val prefix = sql.substring(0, selAt._1.start)
    val stops = Set("GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW",
      "QUALIFY", "UNION", "INTERSECT", "EXCEPT")
    // FROM-less `SELECT untuple((1, 'a'))` (CH's quick-test idiom)
    // expands too: the select region runs to the first trailing
    // clause and the schema probe is itself FROM-less
    val fromAt = ts.find(t => t._2 == 0 && t._1.upper == "FROM" &&
      t._1.start > selAt._1.start)
    val itemsEnd = fromAt.map(_._1.start).getOrElse(
      ts.find(t => t._2 == 0 && t._1.start > selAt._1.start &&
        stops(t._1.upper)).map(_._1.start).getOrElse(sql.length))
    val items = QueryGuard.splitTopLevel(
      sql.substring(selAt._1.end, itemsEnd).stripSuffix(";"))
    if (!items.exists(it => untupleItem.findFirstIn(it.trim).isDefined))
      return None
    val tailCut = ts.find(t => t._2 == 0 &&
      t._1.start > itemsEnd && stops(t._1.upper))
      .map(_._1.start).getOrElse(sql.length)
    val fromSpan = fromAt.map(f =>
      sql.substring(f._1.start, tailCut).stripSuffix(";")).getOrElse("")
    val newItems = items.map { it =>
      it.trim match {
        case untupleItem(inner, alias) =>
          val probed = probe(
            s"${prefix}SELECT ($inner) AS __graft_ut $fromSpan")
          val fields = probed.schema("__graft_ut").dataType match {
            case st: org.apache.spark.sql.types.StructType => st.fields
            case other => throw new ReadOnlyViolation(
              s"untuple expects a tuple/struct argument, got $other")
          }
          // Spark names unnamed-struct fields col1/col2/... — those
          // get CH's tupleElement(<pasted text>, N) column names; an
          // explicit alias names them alias.1, alias.2, ... (CH)
          val unnamed = fields.zipWithIndex.forall {
            case (f, k) => f.name == s"col${k + 1}" || f.name == s"_${k + 1}"
          }
          fields.zipWithIndex.map { case (f, k) =>
            val name =
              if (alias != null) s"$alias.${k + 1}"
              else if (unnamed) s"tupleElement(${inner.trim}, ${k + 1})"
              else f.name
            s"tupleElement(($inner), ${k + 1}) AS `$name`"
          }.mkString(", ")
        case other => other
      }
    }
    Some(prefix + "SELECT " + newItems.mkString(", ") + " " +
      sql.substring(itemsEnd))
  }

  /** Expand `COLUMNS('re') [APPLY(f)]` ITEMS inside a larger select
    * list. The matching column set comes from probing the FROM
    * clause's schema (`SELECT *` with every trailing clause cut, so
    * GROUP BY/HAVING don't invalidate the probe); each chain item
    * then becomes plain column references / `f(col)` calls named as
    * CH renders them, and the whole statement plans natively. Returns
    * None when the list has no chain item among others (the
    * whole-list chains stay on the [[extract]] path). */
  def expandItems(sql: String,
      probe: String => DataFrame): Option[String] = {
    val ts = QueryGuard.normalizeScan(sql)
    // the MAIN select: the first depth-0 SELECT token — a leading
    // WITH prefix (CTE items are parenthesized, so their bodies sit
    // at depth > 0) is carried into the probe so FROM can reference
    // the CTEs
    val selAt = ts.find(t => t._2 == 0 && t._1.upper == "SELECT")
      .getOrElse(return None)
    if (ts.head._1.upper != "SELECT" && ts.head._1.upper != "WITH")
      return None
    val prefix = sql.substring(0, selAt._1.start)
    val fromAt = ts.find(t => t._2 == 0 && t._1.upper == "FROM" &&
      t._1.start > selAt._1.start).getOrElse(return None)
    val listStart = selAt._1.end
    val listEnd = fromAt._1.start
    val items = QueryGuard.splitTopLevel(sql.substring(listStart, listEnd))
    // fires on ANY list containing a chain item — including a
    // single-item list, where textual expansion (unlike the post-plan
    // whole-list path) lets the statement's own GROUP BY/HAVING apply
    val isChainItem: String => Boolean = it => it.trim match {
      case columnsItem(_, tail) =>
        tail.trim.isEmpty || parseApplyChain(tail).isDefined
      case _ => false
    }
    if (!items.exists(isChainItem))
      return None
    val stops = Set("GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW",
      "QUALIFY", "UNION", "INTERSECT", "EXCEPT")
    val tailCut = ts.find(t => t._2 == 0 &&
      t._1.start > fromAt._1.start && stops(t._1.upper))
      .map(_._1.start).getOrElse(sql.length)
    // expansion shifts select-list positions, so a bare ordinal
    // ANYWHERE in a GROUP BY/ORDER BY list after a multi-column
    // expansion would silently bind to a different column — reject
    // with guidance instead. Each BY-list runs to the next clause
    // keyword; items are split depth-0 so parenthesized expressions
    // containing digits don't false-positive.
    val tail = ts.filter(_._1.start >= tailCut)
    val byEnds = stops ++ Set("SETTINGS", "FORMAT", "WITH")
    val hasOrdinal = tail.indices.exists { k =>
      k + 1 < tail.size && Set("GROUP", "ORDER")(tail(k)._1.upper) &&
        tail(k + 1)._1.upper == "BY" &&
        sql.substring(tail(k)._1.end, tail(k + 1)._1.start).isBlank && {
          val end = tail.drop(k + 2).find(t => byEnds(t._1.upper))
            .map(_._1.start).getOrElse(sql.length)
          QueryGuard.splitTopLevel(sql.substring(tail(k + 1)._1.end, end))
            .exists(_.matches(
              "(?is)\\d+(\\s+(ASC|DESC))?(\\s+NULLS\\s+(FIRST|LAST))?;?"))
        }
    }
    val schema = probe(prefix + "SELECT * " +
      sql.substring(fromAt._1.start, tailCut).stripSuffix(";")).columns
    val newItems = items.map { it =>
      it.trim match {
        case columnsItem(re, tail)
            if tail.trim.isEmpty || parseApplyChain(tail).isDefined =>
          val rex = re.replace("''", "'")
          val p =
            try Pattern.compile(rex)
            catch {
              case e: Exception => throw new ReadOnlyViolation(
                s"COLUMNS regex '$rex' does not compile: ${e.getMessage}")
            }
          val m = schema.filter(c => p.matcher(c).find())
          if (m.isEmpty) throw new ReadOnlyViolation(
            s"COLUMNS('$rex') matched no columns " +
              s"(have: ${schema.mkString(", ")})")
          if (hasOrdinal && m.size != 1) throw new ReadOnlyViolation(
            "COLUMNS expansion changes select-list positions — name " +
              "the GROUP BY/ORDER BY columns instead of using ordinals")
          parseApplyChain(tail.trim).getOrElse(Nil) match {
            case Nil => m.map(c => s"`$c`").mkString(", ")
            case fs =>
              // name/param-head/lambda payloads expand per column
              // through [[applyChain]], left to right
              m.map { c =>
                val (call, name) = applyChain(fs, c)
                s"$call AS `$name`"
              }.mkString(", ")
          }
        case other => other
      }
    }
    Some(sql.substring(0, listStart) + " " + newItems.mkString(", ") +
      " " + sql.substring(listEnd))
  }

  /** Expand the recorded modifier chain against the planned columns. */
  def apply(df: DataFrame, spec: StarSpec): DataFrame = {
    val cols = spec.regex match {
      case Some(re) =>
        val p =
          try Pattern.compile(re)
          catch {
            case e: Exception => throw new ReadOnlyViolation(
              s"COLUMNS regex '$re' does not compile: ${e.getMessage}")
          }
        val m = df.columns.filter(c => p.matcher(c).find())
        if (m.isEmpty) throw new ReadOnlyViolation(
          s"COLUMNS('$re') matched no columns " +
            s"(have: ${df.columns.mkString(", ")})")
        m.toSeq
      case None => df.columns.toSeq
    }
    spec.fns match {
      case Nil => df.select(cols.map(col): _*)
      case fs =>
        // name/param-head/lambda payloads expand per column through
        // [[applyChain]], left to right
        df.select(cols.map { c =>
          val (call, name) = applyChain(fs, c)
          expr(call).as(name)
        }: _*)
    }
  }
}
