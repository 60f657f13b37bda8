package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pasted `ASOF [LEFT] JOIN` support (reference accepts any CH SELECT,
  * mcp_server.py:421-459) — the textual front door to the custom
  * sort-merge operator [[graft.plans.AsOfJoinExec]].
  *
  * Like [[WithFill]]/[[StarPost]], the clause splits into a text half
  * ([[extract]]: cut `FROM <l> ASOF [LEFT] JOIN <r> ON <conds>` down
  * to a placeholder and parse the spec) and a plan half
  * ([[materialize]]: build the AsOf join as a statement fragment, see
  * [[Binding]], and splice its name into the rewritten statement).
  * Join sides may be table names or parenthesized subqueries with an
  * alias. The ON clause carries one
  * or more equalities (several compose into one synthetic struct key)
  * and exactly one time inequality, all alias-qualified; the
  * inequality's direction and strictness select
  * the operator mode (`l.t >= r.t` backward/at-or-before — the CH
  * default — through `l.t < r.t` strict-forward). Right-side columns
  * surface as `r_<name>`, and qualified references in the rest of the
  * statement rewrite accordingly (`b.value` → `r_value`); plain ASOF
  * JOIN post-filters unmatched rows (CH inner semantics), ASOF LEFT
  * JOIN keeps them.
  *
  * `USING (k..., t)` is accepted with CH's reading — every column but
  * the last is an equality key, the last is the ASOF column with the
  * default at-or-before (`l.t >= r.t`) direction — and, as in CH, the
  * join columns surface ONCE (left values) while right-side columns
  * whose names don't clash with the left keep their bare names, so
  * unqualified references in the rest of the statement resolve the
  * way the pasted query expects.
  *
  * Several sibling ASOF/ANY joins in one flat FROM compose:
  * [[QueryGuard.plan]] materializes the LEFTMOST join into a
  * fragment and rescans, so each later sibling sees an ordinary table
  * name on its left. [[extract]] therefore processes only the FIRST
  * top-level hit and leaves the rest in the returned text. A PLAIN
  * join group on the left — keyword joins or a comma-FROM list
  * (`FROM a JOIN b ON ... ASOF JOIN c ...`, `FROM a, b ASOF JOIN
  * ...`) — materializes the same way before extraction (QueryGuard
  * .materializeJoinPrefix), so the left side seen here always
  * directly follows FROM; left shapes the prefix machinery cannot
  * parse (backtick-quoted side aliases) still get a scoped
  * rejection. The DataFrame API (`graft.plans.AsOf`) remains the
  * general surface. */
object AsOfText {

  final case class Side(text: String, alias: String, isSubquery: Boolean)

  final case class AsOfSpec(
      left: Side, right: Side,
      keys: Seq[(String, String)],
      leftTime: String, rightTime: String,
      forward: Boolean, strict: Boolean, leftJoin: Boolean,
      usingCols: Seq[String] = Nil)

  val Marker = "__graft_asof_input"

  /** Is token `i` the ASOF of an `ASOF [LEFT|INNER] JOIN`? (Any
    * depth — callers filter; [[QueryGuard]] uses this to hoist
    * FROM-position subqueries containing one.) */
  private[sql] def joinShapeAt(
      ts: IndexedSeq[(QueryGuard.NormTok, Int)], i: Int): Boolean =
    ts(i)._1.upper == "ASOF" && i + 1 < ts.size &&
      (ts(i + 1)._1.upper == "JOIN" ||
        (Set("LEFT", "INNER")(ts(i + 1)._1.upper) && i + 2 < ts.size &&
          ts(i + 2)._1.upper == "JOIN"))

  /** Cut a top-level ASOF join out of `sql`: returns the statement
    * with the whole join clause replaced by [[Marker]] and qualified
    * side references rewritten to the joined-view names. */
  def extract(sql: String): (String, Option[AsOfSpec]) = {
    val ts = QueryGuard.normalizeScan(sql)
    def asofJoinAt(i: Int): Boolean = joinShapeAt(ts, i)
    // ASOF RIGHT/FULL JOIN: ClickHouse rejects these (ASOF is
    // LEFT/INNER only). Reject AT ANY DEPTH — the shape misses
    // joinShapeAt, so without this Spark would silently read ASOF as
    // a table alias and plan a row-multiplying plain join matching
    // EVERY at-or-before row instead of the latest one
    val badDir = ts.indices.find { i =>
      ts(i)._1.upper == "ASOF" && i + 2 < ts.size &&
        Set("RIGHT", "FULL")(ts(i + 1)._1.upper) &&
        ts(i + 2)._1.upper == "JOIN"
    }
    if (badDir.nonEmpty) throw new ReadOnlyViolation(
      "ASOF RIGHT/FULL JOIN is not supported (ClickHouse rejects it " +
        "too) — swap the sides and use ASOF LEFT JOIN")
    // only the FIRST top-level hit extracts; later siblings stay in
    // the output text for [[QueryGuard.plan]]'s next iteration
    val hits = ts.indices.filter(i => ts(i)._2 == 0 && asofJoinAt(i))
    // FROM-position subqueries containing an ASOF join were hoisted
    // by [[QueryGuard.plan]] before this point; anything left (scalar
    // / IN-list / correlated positions) cannot be pre-planned — name
    // the scope instead of dying in Spark's parser
    if (ts.indices.exists(i => ts(i)._2 > 0 && asofJoinAt(i)))
      throw new ReadOnlyViolation(
        "ASOF JOIN in a non-FROM-position subquery is not supported — " +
          "hoist it to the top level or use the DataFrame AsOf API")
    hits.headOption match {
      case None => (sql, None)
      case Some(i) =>
        val leftJoin = ts(i + 1)._1.upper == "LEFT"
        val joinTok = if (ts(i + 1)._1.upper == "JOIN") i + 1 else i + 2
        val fromAt = (0 until i).reverse.find(j =>
          ts(j)._2 == 0 && ts(j)._1.upper == "FROM").getOrElse(
          throw new ReadOnlyViolation("ASOF JOIN without a top-level FROM"))
        val onAt = (joinTok + 1 until ts.size).find(j =>
          ts(j)._2 == 0 &&
            Set("ON", "USING")(ts(j)._1.upper)).getOrElse(
          throw new ReadOnlyViolation(
            "ASOF JOIN needs an ON or USING clause"))
        val isUsing = ts(onAt)._1.upper == "USING"
        // join keywords terminate the condition too: a further plain
        // join after the ASOF clause stays in the statement and plans
        // against the joined fragment
        val stops = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
          "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT",
          "WINDOW", "QUALIFY", "JOIN", "LEFT", "RIGHT", "INNER", "FULL",
          "CROSS", "ANY", "ASOF")
        val condEnd = (onAt + 1 until ts.size).find(j =>
          ts(j)._2 == 0 && stops(ts(j)._1.upper))
          .map(j => ts(j)._1.start).getOrElse(sql.length)

        val left = parseSide(
          sql.substring(ts(fromAt)._1.end, ts(i)._1.start).trim)
        val right = parseSide(
          sql.substring(ts(joinTok)._1.end, ts(onAt)._1.start).trim)
        val condText = sql.substring(ts(onAt)._1.end, condEnd)
          .trim.stripSuffix(";").trim

        if (isUsing) {
          // CH reading: USING (k..., t) — all but the last column are
          // equality keys, the last is the ASOF column, direction is
          // the default at-or-before (l.t >= r.t)
          val inner =
            if (condText.startsWith("(")) {
              val close = QueryGuard.matchParenAt(condText, 0)
              if (close < 0 || condText.substring(close + 1).trim.nonEmpty)
                throw new ReadOnlyViolation(
                  s"cannot parse ASOF JOIN USING list '$condText'")
              condText.substring(1, close)
            } else condText
          val colsU0 = inner.split(",").map(_.trim).toSeq
          if (colsU0.isEmpty || colsU0.exists(!_.matches(idPart)))
            throw new ReadOnlyViolation(
              s"ASOF JOIN USING expects a column list, got '$condText'")
          val colsU = colsU0.map(stripTicks)
          if (colsU.size < 2) throw new ReadOnlyViolation(
            "ASOF JOIN USING needs at least one equality column " +
              "before the ASOF column: USING (key..., time)")
          val out0 = sql.substring(0, ts(fromAt)._1.end) + " " + Marker +
            " " + sql.substring(condEnd)
          // left-alias refs stay marker-QUALIFIED (left columns keep
          // their names in the joined fragment), mirroring the ON path,
          // so a chained join after the ASOF clause still resolves
          // them unambiguously; right-alias refs are rewritten in
          // [[materialize]], where the schemas decide which right
          // columns keep bare names
          val out = rewriteQualifier(out0, left.alias, Marker + ".")
          return (out, Some(AsOfSpec(left, right,
            colsU.init.map(c => (c, c)),
            colsU.last, colsU.last,
            forward = false, strict = false, leftJoin = leftJoin,
            usingCols = colsU)))
        }

        val keys = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var time: Option[(String, String, Boolean, Boolean)] = None
        splitAnd(condText).foreach { c =>
          val m = condRe.findFirstMatchIn(c.trim).getOrElse(
            throw new ReadOnlyViolation(
              s"ASOF JOIN condition '$c' must be " +
                "<alias>.<col> <op> <alias>.<col>"))
          val (q1, c1, op, q2, c2) =
            (stripTicks(m.group(1)), stripTicks(m.group(2)), m.group(3),
              stripTicks(m.group(4)), stripTicks(m.group(5)))
          // normalize to left-operand-first; alias match is
          // case-insensitive, like Spark's own resolution
          def is(q: String, a: String) = q.equalsIgnoreCase(a)
          val (lc, rc, nop) =
            if (is(q1, left.alias) && is(q2, right.alias)) (c1, c2, op)
            else if (is(q1, right.alias) && is(q2, left.alias))
              (c2, c1, mirror(op))
            else throw new ReadOnlyViolation(
              s"ASOF JOIN condition '$c' must reference both sides " +
                s"('${left.alias}' and '${right.alias}')")
          nop match {
            case "=" =>
              keys += ((lc, rc))
            case _ =>
              if (time.nonEmpty) throw new ReadOnlyViolation(
                "ASOF JOIN needs exactly one time inequality")
              val forward = nop == "<=" || nop == "<"
              val strict = nop == ">" || nop == "<"
              time = Some((lc, rc, forward, strict))
          }
        }
        if (keys.isEmpty) throw new ReadOnlyViolation(
          "ASOF JOIN needs an equality key condition")
        val (ltm, rtm, fwd, strict) = time.getOrElse(
          throw new ReadOnlyViolation(
            "ASOF JOIN needs a time inequality condition"))

        var out = sql.substring(0, ts(fromAt)._1.end) + " " + Marker +
          " " + sql.substring(condEnd)
        // left refs stay QUALIFIED by the marker (it becomes the
        // fragment name), so a later join in the same statement —
        // plain or a sibling ASOF/ANY — can still resolve them
        // unambiguously;
        // right refs are rewritten in [[materialize]], where the
        // schemas decide the surfaced (collision-bumped) `r_*` names
        out = rewriteQualifier(out, left.alias, Marker + ".")
        (out, Some(AsOfSpec(left, right, keys.toSeq, ltm, rtm, fwd,
          strict, leftJoin)))
    }
  }

  /** Build the join as a fragment of statement `b`: returns the
    * statement with [[Marker]] replaced by the fragment's name.
    * Several equality keys compose into ONE synthetic struct key per
    * side — struct ordering makes it a valid shuffle/sort key for the
    * exec, and the helper columns are dropped before the fragment is
    * bound. Column references resolve case-insensitively, as Spark's
    * own analyzer does. */
  private[sql] def materialize(b: Binding, spec: AsOfSpec,
      rewritten: String): String = {
    var leftDf = sideDf(b, spec.left)
    var rightDf = sideDf(b, spec.right)
    def ci(set: Iterable[String], c: String) =
      set.exists(_.equalsIgnoreCase(c))
    // case-insensitive name → the right schema's canonical casing
    val rightCols0 = rightDf.columns.toSeq
    def canonRight(c: String): String =
      rightCols0.find(_.equalsIgnoreCase(c)).getOrElse(c)
    // the exec surfaces right columns as `r_<name>`; when the LEFT
    // side already carries that name (a previous sibling ASOF join's
    // r_* output, or a table with its own r_* columns) the clashing
    // right column bumps to a numbered suffix BEFORE the join, so the
    // fragment never holds duplicate names
    val leftLower = leftDf.columns.map(_.toLowerCase).toSet
    // a bumped candidate must be unique among the OTHER right columns
    // too (right may itself carry x and x_2), not just clear of left
    val taken = scala.collection.mutable.Set.empty[String]
    rightCols0.foreach(rc => taken += rc.toLowerCase)
    val bump: Map[String, String] = rightCols0.map { rc =>
      var cand = rc
      var n = 2
      while (leftLower("r_" + cand.toLowerCase) ||
        (cand != rc && taken(cand.toLowerCase))) {
        cand = rc + "_" + n; n += 1
      }
      if (cand != rc) taken += cand.toLowerCase
      rc -> cand
    }.toMap
    if (bump.exists(kv => kv._1 != kv._2))
      rightDf = rightDf.toDF(rightCols0.map(bump): _*)
    def rName(c: String): String = {
      val canon = canonRight(c)
      bump.getOrElse(canon, canon) // non-right-column refs pass through
    }
    // the exec's own resolve is exact-match — canonicalize left refs
    // to the left schema's casing too
    val leftCols0 = leftDf.columns.toSeq
    def lName(c: String): String =
      leftCols0.find(_.equalsIgnoreCase(c)).getOrElse(c)
    val composite = spec.keys.size > 1
    val (lk, rk) = spec.keys match {
      case Seq((a, b)) => (lName(a), rName(b))
      case many =>
        leftDf = leftDf.withColumn("__graft_asof_k",
          struct(many.map(p => col(lName(p._1))): _*))
        rightDf = rightDf.withColumn("__graft_asof_k",
          struct(many.map(p => col(rName(p._2))): _*))
        ("__graft_asof_k", "__graft_asof_k")
    }
    var joined = graft.plans.AsOf.join(
      leftDf, rightDf,
      key = (lk, rk),
      time = (lName(spec.leftTime), rName(spec.rightTime)),
      forward = spec.forward, strict = spec.strict)
    if (!spec.leftJoin) // CH plain ASOF JOIN is inner: drop unmatched
      joined = joined.filter(col("r_" + rk).isNotNull)
    if (composite)
      joined = joined.drop("__graft_asof_k", "r___graft_asof_k")
    var stmt = rewritten
    if (spec.usingCols.nonEmpty) {
      // CH USING semantics: the join columns surface once (left
      // values); right-side columns that don't clash with a left name
      // get their bare names back so unqualified references resolve
      val leftCols = leftDf.columns.toSeq
      joined = joined.drop(spec.usingCols.map(u => "r_" + rName(u)): _*)
      rightDf.columns
        .filterNot(rc => ci(spec.usingCols, rc))
        .filterNot(_ == "__graft_asof_k")
        .foreach { rc =>
          if (!ci(leftCols, rc))
            joined = joined.withColumnRenamed("r_" + rc, rc)
        }
      // qualified right-alias refs follow the final naming, and stay
      // marker-QUALIFIED (mirroring the ON path) so a chained join
      // after the ASOF clause still resolves them unambiguously.
      // Bare-vs-r_ is decided on the BUMPED name — the same name the
      // rename loop above used — so the two can never disagree.
      stmt = rewriteQualifierMapped(stmt, spec.right.alias, c =>
        if (ci(spec.usingCols, c)) Marker + "." + c
        else {
          val rn = rName(c)
          if (ci(leftCols, rn)) Marker + ".r_" + rn
          else Marker + "." + rn
        })
    } else {
      // ON path: qualified right-alias refs surface as the fragment's
      // (collision-bumped) r_* names
      stmt = rewriteQualifierMapped(stmt, spec.right.alias, c =>
        Marker + ".r_" + rName(c))
    }
    stmt.replace(Marker, b.add("asof", joined))
  }

  private def sideDf(b: Binding, s: Side): DataFrame =
    if (s.isSubquery) b.sql(s.text) else b.table(s.text)

  private val tableRe =
    "(?s)^([A-Za-z_][A-Za-z0-9_.]*)(?:\\s+(?:[Aa][Ss]\\s+)?([A-Za-z_][A-Za-z0-9_]*))?$".r
  // an identifier part: bare, or backtick-quoted (CH also writes
  // backticks; a quoted part may hold any character but a backtick)
  private[sql] val idPart = "(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
  private val condRe =
    (s"^($idPart)\\.($idPart)\\s*" +
      "(>=|<=|=|>|<)\\s*" +
      s"($idPart)\\.($idPart)$$").r

  private[sql] def stripTicks(s: String): String =
    if (s.startsWith("`") && s.endsWith("`") && s.length >= 2)
      s.substring(1, s.length - 1)
    else s

  private def mirror(op: String): String = op match {
    case ">=" => "<="
    case "<=" => ">="
    case ">" => "<"
    case "<" => ">"
    case other => other
  }

  private def parseSide(text: String): Side =
    if (text.startsWith("(")) {
      val close = QueryGuard.matchParenAt(text, 0)
      if (close < 0) throw new ReadOnlyViolation(
        "unbalanced parens in ASOF JOIN side")
      val alias = text.substring(close + 1).trim match {
        case a if a.toUpperCase.startsWith("AS ") => a.substring(3).trim
        case a => a
      }
      if (!alias.matches("[A-Za-z_][A-Za-z0-9_]*"))
        throw new ReadOnlyViolation(
          "an ASOF JOIN subquery side needs an alias")
      Side(text.substring(1, close).trim, alias, isSubquery = true)
    } else tableRe.findFirstMatchIn(text) match {
      case Some(m) =>
        val name = m.group(1)
        val alias = Option(m.group(2))
          .getOrElse(name.substring(name.lastIndexOf('.') + 1))
        Side(name, alias, isSubquery = false)
      case None => throw new ReadOnlyViolation(
        s"cannot parse ASOF JOIN side '$text' " +
          "(use a table name or an aliased subquery)")
    }

  /** Split on depth-0 AND tokens. */
  private[sql] def splitAnd(cond: String): Seq[String] = {
    val ts = QueryGuard.normalizeScan(cond)
    val cuts = ts.filter(t => t._2 == 0 && t._1.upper == "AND").map(_._1)
    if (cuts.isEmpty) Seq(cond)
    else {
      var prevEnd = 0
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      cuts.foreach { c =>
        parts += cond.substring(prevEnd, c.start)
        prevEnd = c.end
      }
      parts += cond.substring(prevEnd)
      parts.map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** Rewrite `alias.col` tokens to `<prefix>col` (right to left).
    * Shared with [[QueryGuard]]'s join-prefix materializer. */
  private[sql] def rewriteQualifier(sql: String, alias: String,
      prefix: String): String =
    rewriteQualifierMapped(sql, alias, c => prefix + c)

  /** Rewrite each `alias.col` token to `f(col)` (right to left, so
    * earlier token offsets stay valid as the text shifts). */
  private def rewriteQualifierMapped(sql: String, alias: String,
      f: String => String): String = {
    var out = sql
    val ts = QueryGuard.normalizeScan(out)
    ts.reverseIterator.zipWithIndex.foreach { case ((t, _), ri) =>
      val i = ts.size - 1 - ri
      // alias match is case-insensitive, like Spark's own resolution
      if (out.substring(t.start, t.end).equalsIgnoreCase(alias) &&
        i + 1 < ts.size) {
        val between = out.substring(t.end, ts(i + 1)._1.start)
        val prevCh = out.substring(0, t.start).reverse
          .dropWhile(_.isWhitespace).headOption
        if (between.trim == "." && !prevCh.contains('.')) {
          val colTok = ts(i + 1)._1
          out = out.substring(0, t.start) +
            f(out.substring(colTok.start, colTok.end)) +
            out.substring(colTok.end)
        }
      }
    }
    out
  }
}
