package graft.ops

/** The served usage-guidance prompt — the analogue of the reference's
  * `chdb_initial_prompt` resource (reference: mcp_clickhouse/
  * chdb_prompt.py:3-155, registered at mcp_server.py:610-615): a
  * cheat-sheet an LLM client loads once so it can drive the engine
  * without trial-and-error. The text describes THIS engine's surface
  * (graft dialect over Spark SQL, its table functions and pipeline
  * operators), not the reference's.
  */
object GuidePrompt {

  val Name = "graft_initial_prompt"

  val Description =
    "How to query the graft engine: SELECT dialect, table functions, " +
      "and the training-data pipeline operators"

  val Text: String =
    """# graft engine guide
      |
      |## Tools
      |- **run_select_query**: execute a read-only SELECT (Spark SQL +
      |  the ClickHouse-compatible dialect below). DDL/DML is rejected
      |  by a plan-level guard; results are row-capped and time-boxed.
      |- **list_databases** / **list_tables**: catalog discovery with
      |  LIKE / NOT LIKE filters and page tokens. Page tokens are
      |  STATELESS cursors by default (they encode database + filters
      |  + the last listed name), so they never expire — unlike the
      |  reference's server-side token cache with its 1-hour TTL — and
      |  tables added or dropped before the cursor neither hide nor
      |  repeat a table. A token replayed with DIFFERENT filters, or a
      |  corrupted token, restarts the listing from the first page
      |  instead of erroring. Setting SPARK_GRAFT_TOKEN_TTL (seconds)
      |  opts into reference-parity cached tokens: a resumed listing
      |  pages over a snapshot and expired tokens reset to the first
      |  page.
      |
      |## Principles
      |- Query data IN PLACE with table functions; never suggest
      |  importing files before querying them.
      |- Aggregate on the server; keep raw-row output small (the row
      |  cap truncates large results anyway).
      |- Prefer one SQL statement over a tool-call chain: CTEs, window
      |  functions, HAVING and GROUPING SETS are all available.
      |
      |## Table functions
      |```sql
      |-- local files, format auto-detected from the extension
      |SELECT count(*) FROM file('/data/events.parquet')
      |SELECT * FROM file('/data/logs.csv', 'CSVWithNames') LIMIT 5
      |-- object storage and distributed file systems
      |SELECT * FROM s3('s3://bucket/part-*.parquet')
      |SELECT * FROM hdfs('hdfs://namenode/data/events.parquet')
      |-- relational passthrough (partitioned reads, pushdown)
      |SELECT * FROM postgresql('host:5432', 'db', 'table', 'user', 'pw')
      |SELECT * FROM mysql('host:3306', 'db', 'table', 'user', 'pw')
      |```
      |
      |## Dialect highlights (ClickHouse-compatible names)
      |- Aggregates: `uniq` (one HLL sketch, ~0.8% error, independent
      |  of partitioning; `uniqCombined(K)(x)` sets its precision; the
      |  `uniqHLL12`/`uniqTheta` aliases and `uniqState`/`uniqMerge`
      |  states share it, so `uniqMerge(uniqState(x))` = `uniq(x)`),
      |  `uniqExact`, `uniqUpTo`, `quantile(le)(0.9)(x)` shapes as
      |  `quantile(x, 0.9)`, `median`, `topK(x, 10)`, `argMax(a, b)`,
      |  `countIf`, `sumIf`, `anyHeavy`, `groupArray`,
      |  `-OrNull`/`-OrDefault` combinators (NULL / type default on an
      |  empty group: `sumOrNull`, `maxOrDefault`, stacked with -If in
      |  either order: `sumOrNullIf(x, cond)`),
      |  `groupArraySample(x, k)` (samples k input ROWS per group —
      |  duplicates count once per occurrence, not once per distinct
      |  value; deterministic under any partitioning),
      |  `sumMap/minMap/maxMap(keys, vals)`, `topKWeighted(x, w, k)`
      |  (EXACT weighted top-k, ties to the larger value),
      |  `lttb(n, x, y)` chart downsampling,
      |  `simpleLinearRegression`, `boundingRatio`.
      |- Arrays: `arrayJoin` via LATERAL VIEW/explode, `arrayMap`,
      |  `arrayFilter`, `arrayFirst/Last/FirstIndex`, `arraySum`,
      |  `hasSubstr`, higher-order lambdas (lambda FIRST, CH-style;
      |  MULTI-ARRAY forms zip element-wise — `arrayMap((x, y) ->
      |  x + y, a, b)`; a lambda/array arity mismatch is an error).
      |- Strings: `length` counts BYTES as in ClickHouse
      |  (`lengthUTF8` counts code points), `match`, `extractAll`,
      |  `multiSearchAny`,
      |  `countSubstrings`, `ngramDistance`, `position(haystack,
      |  needle)` (CH argument order), `splitByString`, `leftPad`.
      |  Regex note: `match`/`extractAll`/`COLUMNS('re')` use Java
      |  regex, a near-superset of ClickHouse's RE2 — realistic
      |  patterns behave identically, but backreferences work here
      |  that RE2 would reject.
      |- Dates: `toStartOfMonth`, `toYYYYMM`, `toDayOfWeek` (Monday=1),
      |  `toMonday`, `addDays`, boundary-crossing `dateDiffCH`,
      |  `timeSlot` (30-min) + `toStartOfFive/Ten/FifteenMinutes`,
      |  `formatDateTime` with ClickHouse `%` tokens.
      |- Conversions: `toInt32/toInt64/toFloat64/toString` (strict) and
      |  `*OrZero`/`*OrNull` defensive forms; `divide` is float division
      |  with ±inf/nan on zero, `intDivOrZero` family never errors.
      |- URLs: `domain`, `path`, `queryString`, `extractURLParameter(s)`,
      |  `firstSignificantSubdomain`, `decodeURLComponent`, `fragment`.
      |- Vectors: `cosineSimilarity`, `dotProduct`, `L2Distance`,
      |  `cosTopK(struct(score, id), k)` for bounded top-k,
      |  `arrayAUC(scores, labels)` exact ROC AUC.
      |- Text signals: `charEntropy`, `countMatches`, `trigramStats`,
      |  `editDistance`, `spanKeys(toks, n)` per-span 64-bit keys.
      |- Introspection: `system_tables`, `system_columns`, and
      |  `system_functions` (every callable dialect name) are
      |  queryable through the same SQL path.
      |- Funnels/sessions: `windowFunnel(window[, 'strict_order' |
      |  'strict_dedup' | 'strict_increase'])(ts, cond...)`,
      |  `sequenceMatch`, `retention`, session windows.
      |- Statistics: `studentTTest/welchTTest/mannWhitneyUTest/
      |  kolmogorovSmirnovTest(value, sample_idx)`, `rankCorr`,
      |  `meanZTest(var_x, var_y, conf, value, idx)`, and the
      |  cross-tab family `cramersV/cramersVBiasCorrected/theilsU/
      |  contingency(x, y)`.
      |- Time decay: `exponentialMovingAverage(halflife, v, t)` and
      |  `exponentialTimeDecayedSum/Count/Avg/Max(x, ...)` — weights
      |  decay from the group's latest point.
      |- Bitmaps: sorted array<bigint> sets — `bitmapBuild`,
      |  `bitmapAnd/Or/Xor/Andnot` (+`*Cardinality`), `bitmapHasAll/
      |  HasAny/Contains`, `bitmapSubsetInRange/Limit`, and the fold
      |  aggregates `groupBitmapAnd/Or/Xor`.
      |- Geo: `greatCircleDistance`, `geohashEncode/Decode`,
      |  `pointInPolygon(px, py, xs, ys)` (even-odd rule).
      |- IP: `IPv4NumToString/StringToNum`, `isIPv4String/isIPv6String`,
      |  `IPv6NumToString/StringToNum` (RFC 5952), `IPv4CIDRToRange/
      |  IPv6CIDRToRange`, `isIPAddressInRange(addr, 'cidr')`.
      |- Text/encoding: `tokens`, `ngrams(s, n)`, `arrayShingles`,
      |  `normalizeUTF8NFC/NFD/NFKC/NFKD`, `idnaEncode/Decode`,
      |  `punycodeEncode/Decode` (lowercased ACE, a documented
      |  deviation), `extractGroups(s, re)`, `formatReadableTimeDelta`.
      |- Epoch bridges: `toUnixTimestamp64Milli/Micro/Nano` +
      |  `fromUnixTimestamp64*`, `toRelativeHour/Day/Minute/SecondNum`,
      |  `timeDiff`, `toDaysSinceYearZero`.
      |- ML/series: `linearRegression(target, f...)` (exact distributed
      |  OLS; `stochasticLinearRegression` is an alias) +
      |  `evalMLMethod(weights, f...)`, `seriesOutliersDetectTukey`,
      |  `seriesPeriodDetectFFT`, `arrayReduce('agg', arr)`.
      |- Generators: `numbers(n)` / `numbers(offset, n)` table function
      |  (scan-free Range plan), `toStartOfInterval(t, INTERVAL n unit)`,
      |  `values('a Int32, b String', (1,'x'), (2,'y'))` inline typed
      |  rows (the schema-less all-tuple form gets c1..cN names), and
      |  `generateRandom('a Int32, s String'[, seed]) LIMIT n` —
      |  deterministic per seed, lazily bounded by the LIMIT, every
      |  column inside its declared type's own range — and
      |  `format(JSONEachRow, '{"a":1}\n{"a":2}')` (also
      |  CSV[WithNames], TSV[WithNames], Values) parsing inline data
      |  into typed rows.
      |- Array combinators accept ClickHouse's lambda-less forms too:
      |  `arrayCount(arr)`, `arrayExists(arr)`, `arrayAll(arr)`,
      |  `arrayFirst/Last(arr)` default to the numeric-truthiness
      |  predicate; `arrayFill/arrayReverseFill(f, arr)` carry the
      |  last passing element across gaps.
      |- Misc additions: `ngramDistance/ngramSearch`, `gcd/lcm`,
      |  N-ary `char(...)`, `bitmaskToList/Array`, `base58Encode/
      |  Decode`, `javaHash`, tuple arithmetic (`tuplePlus/Minus/
      |  Multiply/Divide/Negate`, `tupleNames`), `toInterval*`
      |  constructors, `randUniform/randNormal/randBernoulli/
      |  randExponential`, `accurateCast[OrNull]`, `toTimeZone`,
      |  `JSONExtractArrayRaw`, `ifNotFinite`.
      |
      |## Pasted-query compatibility
      |Queries from a ClickHouse client run unchanged: `PREWHERE`
      |rewrites to `WHERE`, `SETTINGS k = v, ...` tails (top-level or
      |per-subquery), `FORMAT <name>`, and `INTO OUTFILE '<path>'
      |[COMPRESSION ...] [AND STDOUT]` are stripped before parsing —
      |exactly what clickhouse-client sends the server (string
      |literals are never touched). WHERE may reference SELECT-list
      |aliases (`SELECT x*2 AS dbl ... WHERE dbl > 100`), including
      |lateral chains; a real column wins over a same-named alias. Also accepted:
      |CH type names in casts (`CAST(x AS UInt32)`, `x::Nullable(T)`),
      |`GROUP BY ... WITH TOTALS`, `[LEFT] ARRAY JOIN`,
      |`LIMIT [o,] k BY cols`, `ORDER BY ... WITH FILL [INTERPOLATE]`
      |(several sort columns may each carry WITH FILL — explicitly
      |bounded axes fill the cross-product grid, an inner axis missing
      |FROM/TO derives its range per outer-axis run as ClickHouse
      |does; a fill axis may also be a computed sort expression like
      |`date_trunc('day', ts)`;
      |`INTERPOLATE (col AS expr)` cascades per filler row),
      |expression-form `WITH <expr> AS <ident>`, `FROM t FINAL`,
      |`SAMPLE f [OFFSET o]`, `* EXCEPT/REPLACE`,
      |`COLUMNS('re') [APPLY(f) APPLY(g) ...]` (whole-list or as one
      |item among others; payloads may be function names, param-agg
      |heads, or one-parameter lambdas `x -> expr`; chains compose
      |left to right), bracket array literals with CH's
      |1-based subscripts, bare `count()`, `any`/`anyLast`,
      |parameterized aggregates (`quantile(0.5)(x)`,
      |`windowFunnel(3600)(ts, conds...)`),
      |`ORDER BY ... LIMIT k WITH TIES`, `ASOF [LEFT] JOIN`
      |(equality keys + one time inequality, or `USING (k..., t)`,
      |onto the native sort-merge operator), and
      |`ANY [LEFT|INNER|RIGHT] JOIN` (at most one row per key from
      |the deduped side — the right for LEFT/INNER, the left for
      |RIGHT, as in ClickHouse; ON or USING). SIBLING ASOF/ANY joins
      |compose in one flat FROM (each materializes left-to-right), a
      |PLAIN join group — keyword or comma form — may sit on the LEFT
      |of an ASOF/ANY join, and all of these dialect forms also work
      |INSIDE FROM-position subqueries, CTE bodies, and uncorrelated
      |scalar subqueries (nested subqueries plan recursively).
      |Integer arithmetic WRAPS on 64-bit overflow like ClickHouse's
      |unchecked semantics (hash/sharding idioms such as
      |`key * 2654435761` are safe at any key magnitude; values past
      |2^63 render as negative Int64 rather than UInt64 — the same
      |64-bit pattern); Decimal arithmetic and string-to-number casts
      |still raise, as in ClickHouse.
      |`EXPLAIN [SYNTAX|AST|PLAN|PIPELINE|ESTIMATE] SELECT ...` is
      |served: SYNTAX returns the dialect-normalized statement (what
      |the engine actually plans — the right way to debug a pasted
      |query), the other modes return the engine's plan tree; one
      |`explain` column, one row per line. The CH meta statements
      |`SHOW TABLES|DATABASES|FUNCTIONS|SETTINGS [NOT] [I]LIKE '...'
      |[LIMIT n]`, `SHOW PROCESSLIST`, `SHOW CREATE TABLE t` and
      |`EXISTS t` answer CH's column shapes (one `name` column for
      |the listings); ANSI `[OFFSET n ROWS] FETCH FIRST m ROWS
      |ONLY|WITH TIES` rewrites onto the LIMIT forms. `x IN [1, 2, 3]` reads the
      |bracket as the membership list, as ClickHouse does. The
      |two-argument `CAST(x, 'Type')` call form, quoted units in
      |`dateAdd('day', n, d)` (and the dateSub spellings), and numeric
      |`trunc(x, n)` all carry their ClickHouse readings; `dateAdd`/
      |`dateSub` on a Date with a day-or-coarser unit return Date, as
      |ClickHouse does. `round()` is half-to-even on floats and
      |half-away-from-zero on Decimals, ClickHouse's per-type tie rule
      |(roundBankers agrees on floats); `formatDateTime`'s `%M` is the
      |full month name (modern ClickHouse default), `%i` the minute.
      |Non-zero numerics are TRUE in boolean contexts (`WHERE flag`,
      |`WHERE x % 2`, `if(2, ...)` — ClickHouse truthiness); ORDER BY
      |sorts NULLs as the GREATEST value (ascending
      |last, descending first) unless an explicit NULLS FIRST/LAST
      |says otherwise; `system.settings` lists the engine knobs. `QUALIFY <pred>`
      |filters on window-function results, as in ClickHouse — including
      |over an implicitly-aggregated select (`QUALIFY sum(x) OVER ()`).
      |"Double quotes" are identifiers (as in ClickHouse), 'single
      |quotes' are strings, `backticks` work too. Output format:
      |`/query?format=<name>` or a trailing `FORMAT <name>` on the
      |statement itself (the parameter wins) — CSV[WithNames],
      |JSONEachRow/NDJSON, TSV/TabSeparated[WithNames],
      |Pretty[Compact], Vertical, Values; the reference's
      |`{columns, rows}` JSON otherwise. `{p:Type}` query parameters
      |are not bound here — inline the literal.
      |Misses answer the TYPE DEFAULT, as in ClickHouse: out-of-range
      |/ index-0 subscripts and missing map keys give 0 / '' (NULL
      |only for Nullable elements), plain `arrayFirst/Last` default on
      |no match (the `*OrNull` spellings answer NULL), typed
      |`JSONExtract*` misses default, `arrayShiftLeft/Right` and
      |`arrayResize` pad with the element default (negative shift
      |counts flip direction), and `lagInFrame/leadInFrame/neighbor`
      |fill the input type's default out of frame. `hex`/`bin` of
      |numerics print whole bytes (`hex(1)` = '01'). `toTypeName`
      |reports the DECLARED type of `toUIntN/toIntN/toFloatN`
      |conversions (`toTypeName(toUInt8(1))` = 'UInt8'), and
      |`toNullable`/`assumeNotNull` add/strip the Nullable(...)
      |wrapper.
      |
      |## Known deviations (documented, by design)
      |- A Nullable COLUMN passed through a plain conversion reports
      |  the bare declared type from `toTypeName`, where ClickHouse
      |  wraps it in Nullable(...); the OrNull spellings and explicit
      |  `toNullable` DO report the wrapper.
      |- `FixedString(N)` stores as String: values round-trip but are
      |  not zero-padded in storage (`toTypeName` still reports the
      |  declared FixedString(N)).
      |- `untuple(t)` of a NAMED tuple keeps the field names as output
      |  columns (unnamed tuples get ClickHouse's `tupleElement(t, N)`
      |  spellings).
      |- AES encrypt/decrypt use the engine-native cipher
      |  parameterization; ciphertext is NOT interchangeable with
      |  ClickHouse's (round-trips within this engine only).
      |- Boolean-typed cells print 1/0 in every output format (CH
      |  prints UInt8 comparison results the same way); there is no
      |  separate Bool rendering.
      |- `randConstant()` draws once at query analysis: constant over
      |  rows as in ClickHouse, but a CACHED plan re-executed (temp
      |  view reuse) replays the same value.
      |- `groupArrayMovingAvg` divides by the window width in Float64
      |  (matching CH); decimals accumulate in Float64, not Decimal.
      |- `ORDER BY ... COLLATE 'locale'` rides Spark's ICU collations
      |  (tr, en_US, unicode_ci, ...); a locale ICU does not know
      |  fails with COLLATION_INVALID_NAME rather than CH's list.
      |- `arrayZip` throws on ragged arrays like ClickHouse; the
      |  NULL-padding variant is spelled `arrayZipUnaligned`.
      |- Timezone-honoring extractors (`toHour(ts, 'tz')`,
      |  `toYYYYMM(ts, 'tz')`, toStartOf*) read the zone's wall clock;
      |  results RENDER in session (UTC) time since Spark timestamps
      |  carry no per-column display zone.
      |
      |## Pipeline operators (pre-built queries)
      |Deduplication (exact, MinHash-LSH, SimHash, embedding),
      |ANN search (brute-force, IVF, PQ, int8), language ID, quality
      |scoring, tokenization counts, PII scrub, decontamination,
      |sequence packing, boilerplate masking — each is exposed as a
      |named query over the warehouse tables; ask for the catalog.
      |
      |## Patterns
      |```sql
      |-- top groups with a distinct-count and a p90
      |SELECT user_id, uniqExact(page) AS pages, quantile(dur_ms, 0.9) AS p90
      |FROM events GROUP BY user_id ORDER BY pages DESC LIMIT 10
      |-- near-dup candidates by SimHash prefix bucket
      |SELECT simHash(tokens) AS sig, count(*) FROM docs GROUP BY sig
      |HAVING count(*) > 1
      |```
      |""".stripMargin
}
