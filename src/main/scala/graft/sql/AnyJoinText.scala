package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import AsOfText.{idPart, splitAnd, stripTicks}

/** Pasted `ANY [LEFT|INNER] JOIN` (and `LEFT|INNER ANY JOIN`) — CH's
  * at-most-one-right-row-per-key multiplicity. Without this shim the
  * statement silently mis-parses (Spark reads `ANY` as a table alias
  * and runs a PLAIN join, duplicating left rows on duplicate right
  * keys — a wrong answer, not an error).
  *
  * Text half ([[extract]]): cut the ANY token and swap the right-side
  * item for a placeholder. Plan half ([[materialize]]): build the
  * right side, keep ONE row per join key (deterministically the
  * lexicographically smallest right row, where CH picks an arbitrary
  * one), bind it as a statement fragment in the placeholder's place
  * and plan the rewritten statement — the join itself
  * stays in the statement, so any select list, WHERE, or GROUP BY
  * composes unchanged. The dedup is a `min(struct(*))` aggregate,
  * NOT a per-key window. The registered `min` plans it as
  * ObjectHashAggregate (see [[graft.functions.TypedMinMax]]), which
  * partial-aggregates before the shuffle, so a hot join key sends at
  * most one candidate row per map task to its reducer. A task that
  * meets more than 128 keys sorts the rest of its input
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) but
  * still emits one partial row per key.
  *
  * Join keys come from the ON clause's equalities; every depth-0
  * conjunct MUST be a simple `a = b` column equality (anything else is
  * rejected — the right side is deduped per key BEFORE residual
  * predicates could apply, so silently carrying them would change
  * which rows match), and each equality must resolve to exactly one
  * right-side column (both-sides-resolve is rejected with a
  * qualify-your-columns message rather than silently keying on the
  * right). `USING (k, ...)` is also accepted: the using columns are
  * the dedup keys and the clause itself stays in the rewritten
  * statement — Spark plans USING (and its column coalescing)
  * natively.
  *
  * LEFT/INNER ANY dedupe the right side; RIGHT ANY (either token
  * order) keeps every right row and dedupes the LEFT side, exactly as
  * ClickHouse does — the FROM item is swapped for the deduped fragment
  * and the RIGHT JOIN itself plans natively. FULL ANY is rejected
  * (ClickHouse rejects it too).
  *
  * Sibling ANY/ASOF joins in one flat FROM compose:
  * [[QueryGuard.plan]] materializes the LEFTMOST join and rescans,
  * so [[extract]] processes only the FIRST top-level hit and leaves
  * the rest in the returned text. `ALL` multiplicity is the default
  * and strips in [[QueryGuard.normalizeDialect]]. */
object AnyJoinText {

  final case class Side(text: String, alias: String, isSubquery: Boolean)

  /** `side` is the side the shim DEDUPES: the right side for
    * LEFT/INNER ANY, the LEFT side for RIGHT ANY (CH keeps all right
    * rows there, at most one left row per key). */
  final case class AnySpec(side: Side, conds: Seq[(String, String)],
      usingCols: Seq[String] = Nil, dedupesLeft: Boolean = false)

  val Marker = "__graft_any_input"

  /** Is token `i` the ANY of an `ANY [kind] JOIN` / `kind ANY JOIN`?
    * (Any depth — callers filter; [[QueryGuard]] uses this to hoist
    * FROM-position subqueries containing one. FULL in either order is
    * excluded: that spelling belongs to the rejection path.) */
  private[sql] def joinShapeAt(
      ts: IndexedSeq[(QueryGuard.NormTok, Int)], i: Int): Boolean = {
    val kinds = Set("LEFT", "INNER", "RIGHT")
    ts(i)._1.upper == "ANY" && (
      (i + 1 < ts.size && ts(i + 1)._1.upper == "JOIN" &&
        (i == 0 || ts(i - 1)._1.upper != "FULL")) ||
        (i + 1 < ts.size && kinds(ts(i + 1)._1.upper) &&
          i + 2 < ts.size && ts(i + 2)._1.upper == "JOIN"))
  }

  def extract(sql: String): (String, Option[AnySpec]) = {
    val ts = QueryGuard.normalizeScan(sql)
    val kinds = Set("LEFT", "INNER", "RIGHT")
    // ANY [kind] JOIN | kind ANY JOIN, all at depth 0; a FULL
    // direction in either order belongs to the rejection below, not
    // the shim (ClickHouse itself rejects ANY FULL)
    def anyJoinAt(i: Int): Boolean = joinShapeAt(ts, i)
    // only the FIRST top-level hit extracts; later siblings stay in
    // the output text for [[QueryGuard.plan]]'s next iteration
    val hits = ts.indices.filter(i => ts(i)._2 == 0 && anyJoinAt(i))
    // FROM-position subqueries containing an ANY join were hoisted by
    // [[QueryGuard.plan]] before this point; anything left (scalar /
    // IN-list / correlated positions) cannot be pre-planned — name the
    // scope instead of dying in Spark's parser
    if (ts.indices.exists(i => ts(i)._2 > 0 && anyJoinAt(i)))
      throw new ReadOnlyViolation(
        "ANY JOIN in a non-FROM-position subquery is not supported — " +
          "hoist it to the top level or pre-deduplicate the side")
    val at = hits.headOption
    // ANY FULL JOIN / FULL ANY JOIN: not implemented in ClickHouse
    // either — reject rather than guess a multiplicity. AT ANY DEPTH:
    // the nested form isn't hoisted (joinShapeAt excludes FULL), and
    // without this it would silently misparse as a plain
    // row-multiplying FULL join
    val bad = ts.indices.find { i =>
      ts(i)._1.upper == "ANY" && (
        (i + 1 < ts.size && ts(i + 1)._1.upper == "FULL" &&
          i + 2 < ts.size && ts(i + 2)._1.upper == "JOIN") ||
          (i + 1 < ts.size && ts(i + 1)._1.upper == "JOIN" && i > 0 &&
            ts(i - 1)._1.upper == "FULL"))
    }
    if (bad.nonEmpty) throw new ReadOnlyViolation(
      "FULL ANY JOIN is not supported (ClickHouse rejects it too) — " +
        "use ANY LEFT or ANY RIGHT JOIN")
    at match {
      case None => (sql, None)
      case Some(i) =>
        val joinTok = (i + 1 to math.min(i + 2, ts.size - 1))
          .find(j => ts(j)._1.upper == "JOIN").get
        // RIGHT ANY (either token order) keeps all right rows and
        // dedupes the LEFT side instead
        val dedupesLeft =
          (i + 1 < ts.size && ts(i + 1)._1.upper == "RIGHT") ||
            (ts(i + 1)._1.upper == "JOIN" && i > 0 &&
              ts(i - 1)._1.upper == "RIGHT")
        val onAt = (joinTok + 1 until ts.size).find(j =>
          ts(j)._2 == 0 && Set("ON", "USING")(ts(j)._1.upper)).getOrElse(
          throw new ReadOnlyViolation(
            "ANY JOIN needs an ON or USING clause"))
        val isUsing = ts(onAt)._1.upper == "USING"
        val stops = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
          "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT",
          "WINDOW", "QUALIFY", "JOIN", "LEFT", "RIGHT", "INNER", "FULL",
          "CROSS", "ANY", "ASOF")
        val condEnd = (onAt + 1 until ts.size).find(j =>
          ts(j)._2 == 0 && stops(ts(j)._1.upper))
          .map(j => ts(j)._1.start).getOrElse(sql.length)
        // lazily parsed: in the dedupe-left (RIGHT ANY) case the right
        // side stays in the statement verbatim and may be any form
        // Spark accepts
        lazy val right = parseSide(
          sql.substring(ts(joinTok)._1.end, ts(onAt)._1.start).trim)
        val condText = sql.substring(ts(onAt)._1.end, condEnd)
          .trim.stripSuffix(";").trim
        // USING (k, ...): the using columns ARE the dedup keys, and
        // the clause itself stays in the rewritten statement — Spark
        // plans USING (and its column coalescing) natively
        val (conds, usingCols) =
          if (isUsing) {
            val inner = stripOuterParens(condText)
            val colsU = inner.split(",").map(_.trim).toSeq
            if (colsU.isEmpty || colsU.exists(!_.matches(idPart)))
              throw new ReadOnlyViolation(
                s"ANY JOIN USING expects a column list, got '$condText'")
            (Nil, colsU.map(stripTicks))
          } else {
            // every depth-0 conjunct must be a simple column equality —
            // silently dropping a residual predicate here would dedup
            // the right side before it applies (a silent wrong answer)
            (splitAnd(condText).map { c0 =>
              val c = stripOuterParens(c0.trim)
              eqRe.findFirstMatchIn(c).map(m => (m.group(1), m.group(2)))
                .getOrElse(throw new ReadOnlyViolation(
                  s"ANY JOIN: ON conjunct '${c0.trim}' is not a simple " +
                    "column equality — the shim dedupes the right side " +
                    "per key before other predicates apply; move the " +
                    "predicate to WHERE"))
            }, Nil)
          }
        if (dedupesLeft) {
          // dedupe the LEFT side: swap the FROM item for the
          // placeholder (the ANY drop comes first — it edits text
          // after the left span, so the span's offsets stay valid)
          val fromAt = (0 until i).reverse.find(j =>
            ts(j)._2 == 0 && ts(j)._1.upper == "FROM").getOrElse(
            throw new ReadOnlyViolation(
              "ANY RIGHT JOIN without a top-level FROM"))
          val leftEnd =
            if (ts(i + 1)._1.upper == "JOIN") ts(i - 1)._1.start // RIGHT ANY
            else ts(i)._1.start // ANY RIGHT
          val left = parseSide(
            sql.substring(ts(fromAt)._1.end, leftEnd).trim)
          // an earlier sibling ASOF/ANY join was already materialized
          // by [[QueryGuard.plan]]'s loop, so the FROM item here is a
          // plain (fragment) name and the dedup can pre-plan it
          var out = sql.substring(0, ts(i)._1.start) +
            sql.substring(ts(i)._1.end)
          out = out.substring(0, ts(fromAt)._1.end) +
            s" $Marker AS ${left.alias} " + out.substring(leftEnd)
          (out, Some(AnySpec(left, conds, usingCols, dedupesLeft = true)))
        } else {
          // drop the ANY token, swap the right item for the placeholder
          val rightSpan = (ts(joinTok)._1.end, ts(onAt)._1.start)
          var out = sql.substring(0, rightSpan._1) +
            s" $Marker AS ${right.alias} " + sql.substring(rightSpan._2)
          out = out.substring(0, ts(i)._1.start) +
            out.substring(ts(i)._1.end)
          (out, Some(AnySpec(right, conds, usingCols)))
        }
    }
  }

  /** Dedupe the keyed side as a fragment of statement `b` ([[Binding]]):
    * returns the statement with [[Marker]] replaced by the fragment's
    * name. Column references resolve case-insensitively, as Spark's
    * own analyzer does; the dedup keys keep the schema's canonical
    * casing. */
  private[sql] def materialize(b: Binding, spec: AnySpec,
      rewritten: String): String = {
    val sideName = if (spec.dedupesLeft) "deduped left" else "right"
    val sideDf: DataFrame =
      if (spec.side.isSubquery) b.sql(spec.side.text)
      else b.table(spec.side.text)
    // case-insensitive name → the schema's canonical casing
    def resolve(c: String): Option[String] =
      sideDf.columns.find(_.equalsIgnoreCase(c))
    // resolve each equality to EXACTLY ONE deduped-side column: an
    // operand qualified by that side's alias, or an unqualified name
    // in its schema. If BOTH operands resolve to the deduped side the
    // key is ambiguous (the other table may share the column name) —
    // reject rather than silently picking one.
    def sideCol(operand: String): Option[String] =
      splitQualified(operand) match {
        // alias match is case-insensitive, like Spark's own resolution
        case (Some(q), c) =>
          if (q.equalsIgnoreCase(spec.side.alias)) resolve(c) else None
        case (None, c) => resolve(c)
      }
    val keys: Seq[String] = if (spec.usingCols.nonEmpty) {
      spec.usingCols.map { c =>
        resolve(c).getOrElse(throw new ReadOnlyViolation(
          s"ANY JOIN USING column '$c' is not a $sideName-side column " +
            s"(have: ${sideDf.columns.mkString(", ")})"))
      }
    } else spec.conds.map { case (a, b) =>
      (sideCol(a), sideCol(b)) match {
        case (Some(k), None) => k
        case (None, Some(k)) => k
        case (Some(_), Some(_)) => throw new ReadOnlyViolation(
          s"ANY JOIN: both sides of '$a = $b' resolve to $sideName-side " +
            s"columns of '${spec.side.alias}' — qualify your columns " +
            s"(e.g. l.$a = ${spec.side.alias}.$b)")
        case (None, None) => throw new ReadOnlyViolation(
          s"ANY JOIN: neither side of '$a = $b' resolves to a " +
            s"$sideName-side column (have: " +
            s"${sideDf.columns.mkString(", ")})")
      }
    }.distinct
    // keep the lexicographically-smallest row per key (CH allows any
    // row; we pick a deterministic one so runs and oracles agree).
    // Struct ordering compares fields in column order, so this selects
    // the same survivor as a full-row sort. The registered `min` keeps
    // the struct aggregate hash-based and partial (see the scaladoc),
    // unlike a per-key row_number window or the builtin Min.
    val deduped = sideDf
      .groupBy(keys.map(col): _*)
      .agg(call_function("min", struct(sideDf.columns.toIndexedSeq.map(col): _*))
        .as("__graft_any_row"))
      .select(col("__graft_any_row.*"))
    rewritten.replace(Marker, b.add("any", deduped))
  }

  private val eqRe =
    (s"^($idPart(?:\\.$idPart)*)\\s*=\\s*" +
      s"($idPart(?:\\.$idPart)*)$$").r

  /** Split `qualifier.column` at the first dot OUTSIDE backticks;
    * both parts unquoted. */
  private def splitQualified(op: String): (Option[String], String) = {
    var i = 0
    var dot = -1
    while (i < op.length && dot < 0) {
      op.charAt(i) match {
        case '`' => i = QueryGuard.skipQuoted(op, i)
        case '.' => dot = i
        case _ => i += 1
      }
    }
    if (dot > 0)
      (Some(stripTicks(op.substring(0, dot))),
        stripTicks(op.substring(dot + 1)))
    else (None, stripTicks(op))
  }

  /** Peel balanced wrapping parens: `((a = b))` → `a = b`. */
  @annotation.tailrec
  private def stripOuterParens(s: String): String =
    if (s.startsWith("(") && QueryGuard.matchParenAt(s, 0) == s.length - 1)
      stripOuterParens(s.substring(1, s.length - 1).trim)
    else s

  private def parseSide(text: String): Side =
    if (text.startsWith("(")) {
      val close = QueryGuard.matchParenAt(text, 0)
      if (close < 0) throw new ReadOnlyViolation(
        "unbalanced parens in ANY JOIN side")
      val alias = text.substring(close + 1).trim match {
        case a if a.toUpperCase.startsWith("AS ") => a.substring(3).trim
        case a => a
      }
      if (!alias.matches("[A-Za-z_][A-Za-z0-9_]*"))
        throw new ReadOnlyViolation("an ANY JOIN subquery side needs an alias")
      Side(text.substring(1, close).trim, alias, isSubquery = true)
    } else {
      val parts = text.split("\\s+").filter(_.nonEmpty)
      val cleaned = parts.filterNot(_.equalsIgnoreCase("AS"))
      cleaned match {
        case Array(name) =>
          Side(name, name.substring(name.lastIndexOf('.') + 1),
            isSubquery = false)
        case Array(name, alias)
            if alias.matches("[A-Za-z_][A-Za-z0-9_]*") =>
          Side(name, alias, isSubquery = false)
        case _ => throw new ReadOnlyViolation(
          s"cannot parse ANY JOIN side '$text'")
      }
    }

}
