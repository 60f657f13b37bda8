package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expression for cosine similarity over two double
  * vectors: one fused loop computes the dot product and both norms,
  * compiled as a static call inside whole-stage codegen — no array HOF
  * allocation per row.
  *
  * This is the hot inner op of [[graft.operators.Ann]] and the
  * embedding near-dup (SURVEY §2 D5-D7): at 100 TB the O(pairs × dim)
  * multiply-adds dominate, so they must run as compiled scalar code,
  * not interpreted `zip_with`/`aggregate` trees.
  *
  * Mismatched vector lengths raise (ClickHouse errors too — a silent
  * min-length prefix would return quietly wrong distances); a null
  * array element raises likewise.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // covariant narrowing: AbstractDataType itself is private[sql]
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorOps.cosine($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Shared fused loops for the vector expressions. Static methods so
  * codegen emits one call that the JIT inlines; each validates equal
  * dimensionality and non-null elements up front (ClickHouse raises on
  * both; silently computing over a prefix hides data bugs). */
object VectorOps {

  private def check(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vector length mismatch: $n vs ${y.numElements()} " +
          "(cosineSimilarity/dotProduct/L2 require equal dimensions)")
    n
  }

  private def get(a: ArrayData, i: Int): Double = {
    if (a.isNullAt(i))
      throw new IllegalArgumentException(
        s"null element at index $i in vector argument")
    a.getDouble(i)
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = check(x, y)
    var dot = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val xi = get(x, i); val yi = get(y, i)
      dot += xi * yi; xx += xi * xi; yy += yi * yi
      i += 1
    }
    if (xx == 0.0 || yy == 0.0) 0.0 else dot / math.sqrt(xx * yy)
  }

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = check(x, y)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(x, i) * get(y, i); i += 1 }
    acc
  }

  def l2sq(x: ArrayData, y: ArrayData): Double = {
    val n = check(x, y)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = get(x, i) - get(y, i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** PQ ADC lookup sum; see [[AdcScore]]. j ascends so the double
    * accumulation order matches the HOF formulation it replaced. */
  def adcScore(codes: ArrayData, adc: ArrayData, k: Int): Double = {
    val m = codes.numElements()
    val total = adc.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      val idx = j * k + codes.getLong(j).toInt
      if (idx < 0 || idx >= total)
        throw new IllegalArgumentException(
          s"adcScore: code ${codes.getLong(j)} at subspace $j addresses " +
            s"slot $idx outside the $total-entry table (k=$k)")
      acc += adc.getDouble(idx)
      j += 1
    }
    acc
  }

  /** Mann-Whitney AUC with midranks for tied scores; see [[ArrayAUC]].
    * Midranks are exact half-integers, so the positive-rank sum is
    * order-independent and the SQL-oracle replay is bit-identical. */
  def auc(s: ArrayData, l: ArrayData): Double = {
    val n = s.numElements()
    if (l.numElements() != n)
      throw new IllegalArgumentException(
        s"arrayAUC length mismatch: $n scores vs ${l.numElements()} labels")
    val sc = new Array[Double](n)
    val lb = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (s.isNullAt(i) || l.isNullAt(i))
        throw new IllegalArgumentException(
          s"null element at index $i in arrayAUC argument")
      sc(i) = s.getDouble(i)
      lb(i) = l.getInt(i)
      i += 1
    }
    // indirect sort by score ascending (stability irrelevant: tied
    // scores share one midrank)
    val sorted = Array.range(0, n).sortBy(i => sc(i))
    var pos = 0L
    var neg = 0L
    var sp = 0.0
    var a = 0
    while (a < n) {
      var b = a
      while (b < n && sc(sorted(b)) == sc(sorted(a))) b += 1
      val mr = (a + b + 1) / 2.0 // average of 1-based ranks a+1..b
      var t = a
      while (t < b) {
        if (lb(sorted(t)) > 0) { pos += 1L; sp += mr } else neg += 1L
        t += 1
      }
      a = b
    }
    if (pos == 0L || neg == 0L) Double.NaN
    else (sp - pos * (pos + 1L) / 2.0) / (pos.toDouble * neg)
  }

  /** Precision-recall AUC by step integration: thresholds descend
    * through the DISTINCT scores (a tie group enters as one block,
    * like CH), each block adds ΔRecall × precision-after-block —
    * the step rule CH's arrayPrAUC documents (its doc example
    * answers 0.8333… here). No positives → NaN. */
  def prAuc(s: ArrayData, l: ArrayData): Double = {
    val n = s.numElements()
    if (l.numElements() != n)
      throw new IllegalArgumentException(
        s"arrayPrAUC length mismatch: $n scores vs ${l.numElements()} labels")
    val sc = new Array[Double](n)
    val lb = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (s.isNullAt(i) || l.isNullAt(i))
        throw new IllegalArgumentException(
          s"null element at index $i in arrayPrAUC argument")
      sc(i) = s.getDouble(i)
      lb(i) = l.getInt(i)
      i += 1
    }
    val sorted = Array.range(0, n).sortBy(i => -sc(i))
    var totalPos = 0L
    i = 0
    while (i < n) { if (lb(i) > 0) totalPos += 1L; i += 1 }
    if (totalPos == 0L) return Double.NaN
    var tp = 0L
    var fp = 0L
    var prevRecall = 0.0
    var area = 0.0
    var a = 0
    while (a < n) {
      var b = a
      while (b < n && sc(sorted(b)) == sc(sorted(a))) b += 1
      var t = a
      while (t < b) {
        if (lb(sorted(t)) > 0) tp += 1L else fp += 1L
        t += 1
      }
      val recall = tp.toDouble / totalPos
      val precision = tp.toDouble / (tp + fp)
      area += (recall - prevRecall) * precision
      prevRecall = recall
      a = b
    }
    area
  }
}

/** Native dot product over two double vectors (ClickHouse
  * `dotProduct`). Same fused-loop/codegen rationale as
  * [[CosineSimilarity]]; also the ADC building block in
  * [[graft.operators.Ann]]'s product quantization. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorOps.dot($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native squared euclidean distance over two double vectors
  * (ClickHouse `L2SquaredDistance`; `L2Distance` is its sqrt). The
  * k-means assignment metric in [[graft.operators.Ann]]'s product
  * quantization — the encode pass evaluates it corpus × subspaces ×
  * codewords times, so it must be compiled scalar code, not an
  * interpreted `aggregate(zip_with(...))` tree. */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorOps.l2sq($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredDistance =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash over a token array as a native expression: one pass
  * hashes each token (md5, top 60 bits) and accumulates ±1 votes per
  * bit, then packs the vote signs. Semantically identical to the
  * portable SQL formulation (15 hex chars of md5 → bit votes) that the
  * DuckDB oracle runs — but compiled, not an interpreted HOF tree.
  */
case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** MinHash signature over a shingle array: md5 hashes each shingle ONCE
  * (top 60 bits), then derives [[MinHashSig.NumHashes]] universal-hash
  * variants `(A_h * x30 + B_h) mod P` and keeps the min of each — one
  * pass, 12× fewer digests than a per-hash md5. The same arithmetic is
  * expressible in any engine with a hex cast, which is how the DuckDB
  * oracle verifies it bit-for-bit. */
case class MinHashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.{LongType, StringType}

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      MinHashSig.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinHashSig.compute($c))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  val NumHashes = 12
  val P = 2147483647L // 2^31 - 1
  /** 30-bit odd multipliers/offsets, fixed so oracles can replicate. */
  val A: Array[Long] = Array.tabulate(NumHashes)(h => 1000003L * (2 * h + 1) + 7)
  val B: Array[Long] = Array.tabulate(NumHashes)(h => 777767777L * (h + 1) % P)

  def compute(shingles: ArrayData): Array[Long] = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var t = 0
    val n = shingles.numElements()
    val md = SimHash60.md5()
    while (t < n) {
      val x30 = SimHash60.hash60(md, shingles.getUTF8String(t)) >>> 30
      var h = 0
      while (h < NumHashes) {
        val v = (A(h) * x30 + B(h)) % P
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      t += 1
    }
    if (n == 0) Array.fill(NumHashes)(0L) else mins
  }

  /** The identical computation in DuckDB SQL, for oracle construction. */
  def duckdbSigColumns(shinglesCol: String): Seq[String] =
    (0 until NumHashes).map { h =>
      s"list_min(list_transform($shinglesCol, x -> " +
        s"(${A(h)} * (('0x' || substr(md5(x), 1, 15))::BIGINT >> 30) + ${B(h)}) % $P)) AS h$h"
    }
}

/** Signed-random-projection (SRP) LSH band keys for an embedding vector:
  * [[SrpBandKeys.Bands]] keys of [[SrpBandKeys.Bits]] bits each, where
  * bit t of band j is the sign of the dot product with a deterministic
  * ±1 hyperplane derived from `md5("srp:j:t:d")` parity. Because the
  * planes are pure md5 arithmetic, any engine can reproduce the exact
  * same keys — [[SrpBandKeys.duckdbKeysSql]] is the DuckDB form the
  * oracle runs, so the blocked near-dup result verifies bit-for-bit.
  *
  * This is the blocking step that replaces the O(n²) cartesian in
  * embedding near-dup (SURVEY §2 D5): candidates come only from equal
  * (band, key) buckets, and oversized buckets are capped, so candidate
  * volume is ≤ Bands × n × cap/2 — linear in n.
  */
case class SrpBandKeys(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SrpBandKeys.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.SrpBandKeys.compute($c))")

  override protected def withNewChildInternal(newChild: Expression): SrpBandKeys =
    copy(child = newChild)
}

object SrpBandKeys {

  val Bands = 32
  val Bits = 6

  /** ±1 plane component for (band j, bit t, dim d): parity of the first
    * md5 byte of "srp:j:t:d". In hex-string terms that byte's low nibble
    * is the SECOND hex char, which is how the oracle derives it. */
  private def sign(j: Int, t: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"srp:$j:$t:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((h(0) & 1) == 1) 1.0 else -1.0
  }

  /** Planes cache keyed by vector dimension (plane values depend only on
    * (j, t, d), so one immutable table per dim serves all threads). */
  private val planesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def planesFor(dim: Int): Array[Array[Double]] =
    planesCache.computeIfAbsent(dim, d =>
      Array.tabulate(Bands * Bits)(i => Array.tabulate(d)(sign(i / Bits, i % Bits, _))))

  def compute(vec: ArrayData): Array[Int] = {
    val dim = vec.numElements()
    val planes = planesFor(dim)
    val keys = new Array[Int](Bands)
    var j = 0
    while (j < Bands) {
      var key = 0
      var t = 0
      while (t < Bits) {
        val p = planes(j * Bits + t)
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += p(d) * vec.getDouble(d); d += 1 }
        if (dot > 0) key |= 1 << t
        t += 1
      }
      keys(j) = key
      j += 1
    }
    keys
  }

  /** The identical key computation in DuckDB SQL: CTEs `planes` and
    * `keys(vec_id, band, bkey)` over a CTE `e(vec_id, v)`. */
  def duckdbKeysSql(dim: Int): String =
    s"""planes AS (
       |  SELECT j, t, list_transform(generate_series(0, ${dim - 1}), d ->
       |    CASE WHEN ('0x' || substr(md5('srp:' || j || ':' || t || ':' || d), 2, 1))::INT % 2 = 1
       |         THEN 1.0 ELSE -1.0 END) AS p
       |  FROM generate_series(0, ${Bands - 1}) gj(j), generate_series(0, ${Bits - 1}) gt(t)),
       |keys AS (
       |  SELECT e.vec_id, planes.j AS band,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, planes.p) > 0
       |                  THEN 1 << planes.t ELSE 0 END) AS INT) AS bkey
       |  FROM e CROSS JOIN planes GROUP BY 1, 2)""".stripMargin
}

object SimHash60 {

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private[functions] def md5(): java.security.MessageDigest = digest.get()

  /** Top 60 bits of md5(token) — equals parsing the first 15 hex chars.
    * Takes the UTF8String directly: its stored bytes ARE the UTF-8
    * encoding (and exactly what the oracle's md5(x) hashes), so the
    * former decode-to-String/re-encode round trip per token was two
    * allocations and two full copies of every token in the hottest
    * loop of the dedup family (r21). */
  private[functions] def hash60(md: java.security.MessageDigest,
      token: org.apache.spark.unsafe.types.UTF8String): Long = {
    md.reset()
    val b = md.digest(token.getBytes)
    val top8 =
      ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) | ((b(2) & 0xffL) << 40) |
        ((b(3) & 0xffL) << 32) | ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
        ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    top8 >>> 4
  }

  def compute(tokens: ArrayData): Long = {
    val md = digest.get()
    val votes = new Array[Int](60)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      val h = hash60(md, tokens.getUTF8String(t))
      var i = 0
      while (i < 60) {
        votes(i) += (((h >>> i) & 1L).toInt * 2) - 1
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }
}

/** ClickHouse `arrayAUC(scores, labels)`: ROC AUC over two ALIGNED
  * arrays, computed with the rank-statistic identity
  * `(Σ midrank(positives) - P(P+1)/2) / (P·N)` and average (mid) ranks
  * for tied scores — the textbook Mann-Whitney formulation, so ties
  * and the arithmetic replay exactly in a SQL oracle (midranks are
  * exact half-integers; every intermediate is exactly representable,
  * making the one final division bit-identical across engines).
  * Single-class input returns NaN (ClickHouse's contract). Order of
  * the pairs is irrelevant; the two arrays must be the same length
  * and null-free (raises otherwise, matching the vector family). */
case class ArrayAUC(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.auc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorOps.auc($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayAUC =
    copy(left = newLeft, right = newRight)
}

/** ClickHouse `arrayPrAUC(scores, labels)`: precision-recall AUC over
  * two aligned arrays (see [[VectorOps.prAuc]] for the step rule;
  * `arrayAUCPR` aliases). Same contracts as [[ArrayAUC]]: equal
  * lengths, null-free, NaN when a class is absent. */
case class ArrayPrAUC(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.prAuc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorOps.prAuc($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayPrAUC =
    copy(left = newLeft, right = newRight)
}

/** adcScore(codes, adc, k): the PQ asymmetric-distance lookup —
  * `Σ_j adc[j*k + codes[j]]` in one native loop, j ascending so the
  * double accumulation order matches (bit-for-bit) the HOF
  * `aggregate(sequence(...))` formulation it replaces, which paid
  * interpreted lambda dispatch per subspace per candidate pair — the
  * hot inner op of the ADC scan (one eval per query×vector pair). */
case class AdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(LongType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(c: Any, a: Any): Any =
    VectorOps.adcScore(c.asInstanceOf[ArrayData], a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, a) => s"graft.functions.VectorOps.adcScore($c, $a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

/** nearestCell(v, cents): the id of the centroid with the highest
  * cosine similarity to `v`, ties to the LOWEST cell id — exactly
  * `max_by(cell, struct(cosineSimilarity(v, cv), -cell))` over the
  * centroid table (r20). `cents` must be a FOLDABLE array of
  * struct(cell, cv) rows (the table is config-sized by contract: it is
  * trained on the driver and inlined as a literal), which turns the
  * old broadcast-join + explode×cells + argmax AGGREGATION — a
  * SortAggregate over cells× the corpus, since the struct ordering and
  * the carried vector disqualify hash aggregation — into a narrow
  * per-row projection with no shuffle at all. Scores via
  * [[VectorOps.cosine]], the same arithmetic the codegen'd
  * cosineSimilarity expression and the driver-side Lloyd passes use,
  * so assignments are bit-identical to the aggregate form. */
case class NearestCell(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(
      StructField("cell", LongType),
      StructField("cv", ArrayType(DoubleType))))))
  override def dataType: DataType = LongType
  override def prettyName: String = "nearestCell"

  @transient private lazy val table: (Array[Long], Array[Array[Double]]) = {
    require(right.foldable, "nearestCell expects a literal centroid table")
    val arr = right.eval().asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cells = new Array[Long](n)
    val cvs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      cells(i) = row.getLong(0)
      cvs(i) = row.getArray(1).toDoubleArray()
      i += 1
    }
    // ascending-cell scan order is what makes strict improvement
    // reproduce the max_by tie rule (ties keep the LOWEST cell)
    val order = cells.indices.sortBy(cells(_)).toArray
    (order.map(cells), order.map(cvs))
  }

  override def nullSafeEval(vec: Any, cents: Any): Any = {
    val (cells, cvs) = table
    NearestCell.pick(vec.asInstanceOf[ArrayData], cells, cvs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("ncCells", table._1, "long[]")
    val cvsRef = ctx.addReferenceObj("ncCvs", table._2, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.NearestCell.pick($v, $cellsRef, $cvsRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

/** pqEncode(v, books): all [[graft.operators.Ann]] product-quantization
  * codes of a vector in ONE projection — for each subspace j
  * (ascending), the code is the codebook cell minimizing the L2²
  * distance to v's j-th slice, ties to the LOWEST cell: exactly
  * `min_by(cell, struct(d2, cell))` per (vec, sub) over the exploded
  * subvector×codeword join it replaces (r21). `books` must be a
  * FOLDABLE array of struct(sub, cell, cv) rows — the codebook is
  * KB-scale by contract (trained on the driver) and inlines as a
  * literal, like [[NearestCell]]'s centroid table. The old shape
  * expanded the corpus ×(subspaces × codewords) through a broadcast
  * join into a struct-buffered min_by — an ObjectHashAggregate that
  * falls back to SORT-based aggregation past 128 groups, i.e. a sort
  * of corpus×256 rows — then regrouped per vector with a second
  * aggregate. Sub-slicing mirrors the `slice(v, j*int(n/m)+1,
  * int(n/m))` arithmetic (subLen = n/m integer division), and the L2²
  * loop is [[VectorOps.l2sq]]'s op order, so codes are bit-identical
  * to the aggregate form and to the oracle's replay. */
case class PqEncode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(StructType(Seq(
      StructField("sub", IntegerType),
      StructField("cell", LongType),
      StructField("cv", ArrayType(DoubleType))))))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pqEncode"

  /** (cells, codewords) per subspace, subs 0..m-1, cells ascending
    * within each — the ascending strict-improvement scan IS the
    * min_by(cell, struct(d2, cell)) tie rule. */
  @transient private lazy val table
      : Array[(Array[Long], Array[Array[Double]])] = {
    require(right.foldable, "pqEncode expects a literal codebook table")
    val arr = right.eval().asInstanceOf[ArrayData]
    val n = arr.numElements()
    val rows = (0 until n).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getInt(0), r.getLong(1), r.getArray(2).toDoubleArray())
    }
    val m = rows.map(_._1).max + 1
    require(rows.map(_._1).toSet == (0 until m).toSet,
      s"pqEncode codebook must cover subspaces 0..${m - 1}")
    Array.tabulate(m) { j =>
      val cells = rows.filter(_._1 == j).sortBy(_._2)
      (cells.map(_._2).toArray, cells.map(_._3).toArray)
    }
  }

  override def nullSafeEval(vec: Any, books: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqEncode.encode(vec.asInstanceOf[ArrayData], table))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("pqBooks", table,
      "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqEncode.encode($v, $tableRef));""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {

  /** L2² of v[base..base+len) vs y, [[VectorOps.l2sq]]'s checks and op
    * order (the old path sliced then l2sq'd; same arithmetic). */
  private def l2sqSub(v: ArrayData, base: Int, len: Int,
      y: Array[Double]): Double = {
    if (y.length != len)
      throw new IllegalArgumentException(
        s"vector length mismatch: $len vs ${y.length} " +
          "(cosineSimilarity/dotProduct/L2 require equal dimensions)")
    var acc = 0.0
    var i = 0
    while (i < len) {
      if (v.isNullAt(base + i))
        throw new IllegalArgumentException(
          s"null element at index ${base + i} in vector argument")
      val d = v.getDouble(base + i) - y(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def encode(v: ArrayData,
      books: Array[(Array[Long], Array[Array[Double]])]): Array[Long] = {
    val m = books.length
    val subLen = v.numElements() / m
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val (cells, cvs) = books(j)
      var best = 0L
      var bestD = 0.0
      var first = true
      var c = 0
      while (c < cells.length) {
        val d = l2sqSub(v, j * subLen, subLen, cvs(c))
        // a NaN distance ranks above every number, as in Spark's
        // struct ordering: any finite distance displaces a NaN best
        if (first || d < bestD || (bestD.isNaN && !d.isNaN)) {
          best = cells(c); bestD = d; first = false
        }
        c += 1
      }
      out(j) = best
      j += 1
    }
    out
  }
}

object NearestCell {

  /** Cosine with EXACTLY [[VectorOps.cosine]]'s checks and op order
    * (fused dot/xx/yy accumulation, left-associated). */
  private def cos(x: ArrayData, y: Array[Double]): Double = {
    val n = x.numElements()
    if (y.length != n)
      throw new IllegalArgumentException(
        s"vector length mismatch: $n vs ${y.length} " +
          "(cosineSimilarity/dotProduct/L2 require equal dimensions)")
    var dot = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i))
        throw new IllegalArgumentException(
          s"null element at index $i in vector argument")
      val xi = x.getDouble(i); val yi = y(i)
      dot += xi * yi; xx += xi * xi; yy += yi * yi
      i += 1
    }
    if (xx == 0.0 || yy == 0.0) 0.0 else dot / math.sqrt(xx * yy)
  }

  def pick(vec: ArrayData, cells: Array[Long], cvs: Array[Array[Double]]): Long = {
    var best = 0L
    var bestScore = 0.0
    var first = true
    var i = 0
    while (i < cells.length) {
      val s = cos(vec, cvs(i))
      if (first || s > bestScore) { best = cells(i); bestScore = s; first = false }
      i += 1
    }
    best
  }
}
