package graft.sql

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Result shape of the reference's `run_select_query`
  * (mcp_server.py:421-459): column names + row values. `truncated` is
  * set when the executor's row cap cut the result off — the reference
  * returns everything, but "everything" at 100 TB kills the driver, so
  * the cap (with an explicit flag, never a silent cut) is the safe
  * equivalent of its operational posture. */
final case class QueryResult(
    columns: Seq[String],
    rows: Seq[Seq[Any]],
    truncated: Boolean = false) {
  import QueryResult.{esc, jsonValue, chLiteral}

  /** `{"columns": [...], "rows": [[...]]}` — the reference's wire
    * shape (mcp_server.py:426 serializes `result_rows` through JSON, so
    * arrays/maps/tuples arrive as JSON lists/objects and decimals as
    * numbers). Non-finite floats have no JSON spelling — they render as
    * quoted strings ("NaN") here so the value survives round-trip. */
  def toJson: String =
    columns.map(c => "\"" + esc(c) + "\"")
      .mkString("{\"columns\": [", ", ", "], ") +
      rows.map(_.map(x => jsonValue(x, nonFiniteAsNull = false))
        .mkString("[", ", ", "]"))
        .mkString("\"rows\": [", ", ", "]") +
      (if (truncated) ", \"truncated\": true}" else "}")

  /** CSVWithNames rendering — chDB's default output format
    * (chdb_prompt.py): header row + RFC-4180 quoting (fields containing
    * comma/quote/newline wrap in double quotes, embedded quotes
    * double). Null renders empty, like ClickHouse CSV; arrays render
    * CH-style `[1,2,3]` (strings single-quoted inside), maps
    * `{'k':1}`, tuples `(a,b)` — the field-level RFC quoting then
    * wraps the whole literal because it contains commas. */
  def toCsv: String = {
    def cell(x: Any): String = x match {
      case null => ""
      case other =>
        val s = chLiteral(other, nested = false)
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
    }
    (columns.map(cell) +: rows.map(_.map(cell)))
      .map(_.mkString(",")).mkString("\n")
  }

  /** JSONEachRow rendering — ClickHouse's NDJSON format: one
    * `{"col": value, ...}` object per row, newline-delimited. Numeric
    * columns stay JSON numbers in every row: non-finite floats render
    * as `null` (CH's default `output_format_json_quote_denormals = 0`)
    * and decimals as plain unquoted numbers, so a parser never sees a
    * column's JSON type flip between rows. */
  def toJsonEachRow: String =
    rows.map(r =>
      columns.zip(r).map { case (c, x) =>
        "\"" + esc(c) + "\": " + jsonValue(x, nonFiniteAsNull = true)
      }.mkString("{", ", ", "}"))
      .mkString("\n")

  /** TabSeparated[WithNames] — ClickHouse's default interactive
    * format: one row per line, cells tab-separated, the in-cell
    * escapes CH documents (backslash, tab, newline), NULL as `\N`,
    * composite cells as CH literals. */
  def toTsv(withNames: Boolean): String = {
    def cell(x: Any): String = x match {
      case null => "\\N"
      case other => chLiteral(other, nested = false)
        .replace("\\", "\\\\").replace("\t", "\\t")
        .replace("\n", "\\n").replace("\r", "\\r")
    }
    val body = rows.map(_.map(cell).mkString("\t"))
    ((if (withNames) Seq(columns.map(cell).mkString("\t")) else Nil) ++ body)
      .mkString("\n")
  }

  /** PrettyCompact — CH's human table: the header rides the top
    * border, numeric cells right-align, NULL renders as CH's
    * superscript marker. Purely cosmetic width math (codepoints). */
  def toPretty: String = {
    def cell(x: Any): String = x match {
      case null => "\u1d3a\u1d41\u1d38\u1d38" // ᴺᵁᴸᴸ
      case other => chLiteral(other, nested = false)
    }
    def isNum(x: Any): Boolean = x match {
      case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
           _: java.math.BigDecimal | _: BigDecimal => true
      case _ => false
    }
    val cells = rows.map(_.map(cell))
    val numeric = columns.indices.map(i =>
      rows.exists(r => isNum(r(i))) && rows.forall(r =>
        r(i) == null || isNum(r(i))))
    val w = columns.indices.map(i =>
      (Seq(columns(i).length) ++ cells.map(c => c(i).length)).max)
    val top = columns.indices.map(i =>
      "\u2500" + columns(i) + "\u2500" * (w(i) - columns(i).length + 1))
      .mkString("\u250c", "\u252c", "\u2510")
    val body = cells.map(r => columns.indices.map { i =>
      val pad = " " * (w(i) - r(i).length)
      if (numeric(i)) " " + pad + r(i) + " " else " " + r(i) + pad + " "
    }.mkString("\u2502", "\u2502", "\u2502"))
    val bottom = columns.indices.map(i => "\u2500" * (w(i) + 2))
      .mkString("\u2514", "\u2534", "\u2518")
    (Seq(top) ++ body ++ Seq(bottom)).mkString("\n")
  }

  /** Vertical — CH's `FORMAT Vertical` / `\G` shape: one
    * `column: value` line per cell, a `Row N:` banner per row. */
  def toVertical: String = {
    val wName = if (columns.isEmpty) 0 else columns.map(_.length).max
    rows.zipWithIndex.map { case (r, i) =>
      val banner = s"Row ${i + 1}:\n" + "\u2500" * 10 + "\n"
      banner + columns.zip(r).map { case (c, x) =>
        c + ":" + " " * (wName - c.length + 1) +
          (if (x == null) "\u1d3a\u1d41\u1d38\u1d38"
           else chLiteral(x, nested = false))
      }.mkString("\n")
    }.mkString("\n\n")
  }

  /** Values — `(1,'a'),(2,'b')`: every cell in its nested CH literal
    * form (strings quoted), rows comma-joined on one line. */
  def toValues: String =
    rows.map(_.map(chLiteral(_, nested = true)).mkString("(", ",", ")"))
      .mkString(",")
}

object QueryResult {
  private[sql] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Recursive JSON rendering of a collected cell. Spark's
    * `Row.toSeq` yields `Seq` for ARRAY, `scala.collection.Map` for
    * MAP, nested `Row` for STRUCT, `java.math.BigDecimal` for DECIMAL
    * and `Array[Byte]` for BINARY — all of which must become JSON
    * values, never Scala `toString` (the round-13 wire-format leak:
    * `SELECT [1,2,3]` rendered `"ArraySeq(1, 2, 3)"`). Structs render
    * as JSON objects keyed by field name (falling back to an array
    * when the schema is absent); map keys stringify (JSON keys are
    * strings). */
  private[sql] def jsonValue(x: Any, nonFiniteAsNull: Boolean): String = {
    def render(x: Any): String = x match {
      case null => "null"
      // CH renders comparison results (UInt8) as 1/0 in every text
      // format — Spark can't tell a genuine Bool from a comparison,
      // so the wire policy follows the dominant UInt8 reading (the
      // same Bool-is-UInt8 rule sum/avg already apply)
      case b: Boolean => if (b) "1" else "0"
      case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) {
          if (nonFiniteAsNull) "null" else "\"" + esc(d.toString) + "\""
        } else d.toString
      case f: Float =>
        if (f.isNaN || f.isInfinite) {
          if (nonFiniteAsNull) "null" else "\"" + esc(f.toString) + "\""
        } else f.toString
      // decimals are numbers, not strings — plain form, no exponent,
      // so a column's JSON type never flips between rows
      case d: java.math.BigDecimal => d.toPlainString
      case d: BigDecimal => d.bigDecimal.toPlainString
      case b: Array[Byte] =>
        "\"" + esc(new String(b, java.nio.charset.StandardCharsets.UTF_8)) + "\""
      case s: scala.collection.Seq[_] =>
        s.map(render).mkString("[", ", ", "]")
      case a: Array[_] => a.map(render).mkString("[", ", ", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, v) => "\"" + esc(String.valueOf(k)) + "\": " + render(v) }
          .mkString("{", ", ", "}")
      case r: org.apache.spark.sql.Row =>
        if (r.schema != null)
          r.schema.fieldNames.zip(r.toSeq)
            .map { case (f, v) => "\"" + esc(f) + "\": " + render(v) }
            .mkString("{", ", ", "}")
        else r.toSeq.map(render).mkString("[", ", ", "]")
      // interval-typed cells must never leak a java object repr
      // ("PT24H"): the collected value has erased its declared unit,
      // so the stable rendering is the total count in the type's
      // finest wire-visible unit — seconds for day-time intervals,
      // months for year-month — matching CH's numeric interval
      // serialization. (Date−Date itself is rewritten upstream to
      // Int32 days by ChronoArith; this is the renderer backstop for
      // any interval that still reaches a cell.)
      case d: java.time.Duration => QueryResult.durationSeconds(d)
      case p: java.time.Period => p.toTotalMonths.toString
      case i: org.apache.spark.unsafe.types.CalendarInterval =>
        "\"" + esc(i.toString) + "\""
      case other => "\"" + esc(other.toString) + "\""
    }
    render(x)
  }

  /** Total seconds of a Duration as a plain decimal (fractional part
    * only when non-zero; negative durations normalize correctly —
    * `getSeconds` is the floor and `getNano` the non-negative
    * remainder, so the BigDecimal sum is exact). */
  private[sql] def durationSeconds(d: java.time.Duration): String =
    if (d.getNano == 0) d.getSeconds.toString
    else java.math.BigDecimal.valueOf(d.getSeconds)
      .add(java.math.BigDecimal.valueOf(d.getNano.toLong, 9))
      .stripTrailingZeros.toPlainString

  /** ClickHouse text-literal rendering of a cell for CSV: scalars
    * bare at the top level, strings single-quoted (backslash-escaped)
    * when nested inside a container, arrays `[..]`, maps `{'k':v}`,
    * tuples `(a,b)` — the shapes CH's CSV format emits for composite
    * columns. */
  private[sql] def chLiteral(x: Any, nested: Boolean): String = x match {
    case null => if (nested) "NULL" else ""
    // comparison results print 1/0, same policy as the JSON renderer
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case b: Array[Byte] =>
      chLiteral(new String(b, java.nio.charset.StandardCharsets.UTF_8), nested)
    case s: scala.collection.Seq[_] =>
      s.map(chLiteral(_, nested = true)).mkString("[", ",", "]")
    case a: Array[_] =>
      a.map(chLiteral(_, nested = true)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) =>
        chLiteral(k, nested = true) + ":" + chLiteral(v, nested = true)
      }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(chLiteral(_, nested = true)).mkString("(", ",", ")")
    case s: String if nested =>
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    // CH quotes dates/timestamps inside composite literals:
    // ['2024-01-01'], ('2024-01-01 00:00:00')
    case d @ (_: java.sql.Date | _: java.sql.Timestamp |
        _: java.time.LocalDate | _: java.time.Instant) if nested =>
      "'" + d.toString + "'"
    // interval cells: bare numeric counts (seconds / months), same
    // contract as the JSON renderer — never "PT24H"
    case d: java.time.Duration => durationSeconds(d)
    case p: java.time.Period => p.toTotalMonths.toString
    case i: org.apache.spark.unsafe.types.CalendarInterval =>
      if (nested) "'" + i.toString + "'" else i.toString
    // IEEE specials in CH's text spellings (Java would print
    // "Infinity"/"NaN" where CH writes inf/-inf/nan)
    case d: Double if d.isNaN => "nan"
    case d: Double if d.isInfinite => if (d > 0) "inf" else "-inf"
    case f: Float if f.isNaN => "nan"
    case f: Float if f.isInfinite => if (f > 0) "inf" else "-inf"
    case other => other.toString
  }
}

/** Read-only SQL executor with the reference's operational semantics
  * (mcp_server.py:66, 433-459): a bounded worker pool (10 threads) and a
  * per-query timeout that cancels the underlying Spark jobs — not just
  * the client wait — so a runaway query releases cluster resources.
  */
final class QueryExecutor(
    spark: SparkSession,
    timeoutSec: Int = 30,
    poolSize: Int = 10,
    maxRows: Int = QueryExecutor.DefaultMaxRows) extends AutoCloseable {

  require(maxRows > 0, "maxRows must be positive")

  private val pool = Executors.newFixedThreadPool(poolSize)

  /** Plan a guarded SELECT; lazy — no jobs run until an action.
    * ClickHouse-surface shims (PREWHERE, trailing SETTINGS/FORMAT,
    * LIMIT BY, WITH TOTALS, WITH FILL) normalize away first, so
    * pasted CH queries run unchanged. */
  def select(sql: String): DataFrame = QueryGuard.plan(spark, sql)

  /** Formatted physical plan of a guarded SELECT — planning only, no
    * jobs run. The "why is this slow" tool an operator (or LLM client)
    * asks for before paying for a 100 TB scan: shows pushed filters,
    * pruned schemas, join strategies and codegen spans. */
  def explain(sql: String): String =
    select(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** [[explain]] with the reference's error shaping. */
  def explainSafe(sql: String): Either[String, String] =
    try Right(explain(sql))
    catch {
      case e: ReadOnlyViolation => Left(e.getMessage)
      case NonFatal(e) => Left(s"Explain failed: ${e.getMessage}")
    }

  /** Error-shaped response, like the reference's
    * `{"status": "error", "message": ...}` (mcp_server.py:444-449):
    * guard violations, analysis errors (unknown table/column) and
    * runtime failures all surface as a structured error, never a
    * crash. */
  def runSafe(sql: String): Either[String, QueryResult] =
    try Right(run(sql))
    catch {
      case e: java.util.concurrent.TimeoutException => Left(e.getMessage)
      case e: ReadOnlyViolation => Left(e.getMessage)
      case NonFatal(e) => Left(s"Query execution failed: ${e.getMessage}")
    }

  /** Run a guarded SELECT to completion with timeout + job cancellation.
    * The result is capped at [[maxRows]] (overridable per call): the cap
    * is pushed into the plan as a `LIMIT maxRows+1`, so Spark stops
    * producing past it — an unbounded `SELECT *` never materializes on
    * the driver — and the one extra row only signals truncation. */
  def run(sql: String): QueryResult = run(sql, maxRows)

  def run(sql: String, capRows: Int): QueryResult = {
    val jobTag = s"graft-query-${java.util.UUID.randomUUID()}"
    // ops surface: the query registers as in-flight BEFORE planning,
    // and planning refreshes the live system.processes/query_log/
    // metrics tables when the statement reads them, so a pasted
    // `SELECT * FROM system.processes` sees itself, as on ClickHouse
    // (QueryLog scaladoc)
    QueryLog.installListener(spark)
    QueryLog.begin(jobTag, sql)
    var outcome = ""
    var rows = -1L
    try {
      val df = select(sql)
      val task = pool.submit { () =>
        spark.sparkContext.addJobTag(jobTag)
        try collect(df, capRows)
        finally spark.sparkContext.removeJobTag(jobTag)
      }
      try {
        val r = task.get(timeoutSec.toLong, TimeUnit.SECONDS)
        rows = r.rows.size.toLong
        r
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobsWithTag(jobTag)
          task.cancel(true)
          throw new TimeoutException(s"Query timed out after $timeoutSec seconds")
        case NonFatal(e) => throw e
      }
    } catch {
      case e: Throwable =>
        outcome = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(500)
        throw e
    } finally QueryLog.finish(jobTag, rows.max(0L), outcome)
  }

  private def collect(df: Dataset[org.apache.spark.sql.Row], capRows: Int): QueryResult = {
    val collected = df.limit(capRows + 1).collect()
    QueryResult(
      df.columns.toSeq,
      collected.take(capRows).toSeq.map(_.toSeq),
      truncated = collected.length > capRows)
  }

  override def close(): Unit = pool.shutdown()
}

object QueryExecutor {
  /** Default result cap, mirroring a sane client page size. */
  val DefaultMaxRows = 100000
}
