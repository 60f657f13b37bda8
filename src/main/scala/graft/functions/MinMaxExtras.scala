package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RuntimeReplaceableAggregate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Max, MaxBy, Min, MinBy, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.DataType

/** min/max/min_by/max_by that stay hash-aggregable for every type.
  *
  * Spark's declarative Min/Max/MinBy/MaxBy carry the running value in
  * the aggregation buffer row. HashAggregateExec only supports
  * fixed-width mutable buffer fields, so one `min` over a string,
  * struct or array demotes the whole aggregate — and every sibling
  * aggregate, including the two-phase exact-distinct expansion — to
  * SortAggregate: a full sort of the input per phase.
  *
  * The one dispatch rule, in [[ChMinOrMax]] and [[ChMaxMinBy]] (the
  * functions registered under the SQL names): use the builtin exactly
  * when `Aggregate.supportsHashAggregate` accepts its buffer (the
  * predicate the planner and `SplitDistinctAggregate.heavy` use), and
  * [[TypedMinMax]] otherwise. Fixed-width types keep the codegen'd
  * HashAggregate; variable-width ones plan ObjectHashAggregate, which
  * past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (128) keys in a task sorts the rest of that task's input — partial
  * aggregation still happens before the shuffle. */
case class TypedMinMax(
    children: Seq[Expression],
    isMax: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TypedMinMax.Buf] {

  import TypedMinMax.Buf

  // children: Seq(x) for min/max (x is ordering and value, evaluated
  // once), Seq(value, ordering) for min_by/max_by
  private def byValue: Boolean = children.size == 2
  private def ordExpr: Expression = children.last

  override def nullable: Boolean = true
  override def dataType: DataType = children.head.dataType
  override def prettyName: String =
    (if (isMax) "max" else "min") + (if (byValue) "_by" else "")

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)

  // Spark's interpreted ordering for the type, the one the builtins
  // compare with: NaN greatest, -0.0 == 0.0, struct/array ordering,
  // collations
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(ordExpr.dataType)

  /** Does `cand` replace `cur`? Ties follow the builtin each form
    * stands in for: Least/Greatest keep the earlier value, MinBy/MaxBy
    * take the later one. */
  private def replaces(cand: Any, cur: Any): Boolean = {
    val c = ordering.compare(cand, cur)
    if (c == 0) byValue else if (isMax) c > 0 else c < 0
  }

  override def createAggregationBuffer(): Buf = new Buf(null, null)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val o = ordExpr.eval(input)
    // rows with a NULL ordering are skipped; copies, because the input
    // values may point into a reused row buffer
    if (o != null && (buf.ord == null || replaces(o, buf.ord))) {
      buf.ord = InternalRow.copyValue(o)
      buf.value =
        if (byValue) InternalRow.copyValue(children.head.eval(input)) else buf.ord
    }
    buf
  }

  override def merge(a: Buf, b: Buf): Buf =
    if (b.ord != null && (a.ord == null || replaces(b.ord, a.ord))) b else a

  override def eval(buf: Buf): Any = buf.value

  // the buffer as one unsafe row of the children's values, in order
  @transient private lazy val toRow = UnsafeProjection.create(children.map(_.dataType).toArray)

  override def serialize(buf: Buf): Array[Byte] = {
    val fields: Array[Any] = if (byValue) Array(buf.value, buf.ord) else Array(buf.ord)
    toRow(new GenericInternalRow(fields)).copy().getBytes
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val row = new UnsafeRow(children.size)
    row.pointTo(bytes, bytes.length)
    val ord = row.get(children.size - 1, ordExpr.dataType)
    new Buf(ord, if (byValue) row.get(0, dataType) else ord)
  }

  override def withNewMutableAggBufferOffset(o: Int): TypedMinMax =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TypedMinMax =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TypedMinMax =
    copy(children = c)
}

object TypedMinMax {
  /** `ord == null` ⇔ no non-null ordering seen yet (value is then NULL). */
  final class Buf(var ord: Any, var value: Any)

  /** The builtin when its buffer is hash-aggregable, else [[TypedMinMax]]. */
  private[functions] def dispatch(
      builtin: DeclarativeAggregate, typed: => TypedMinMax): AggregateFunction =
    if (Aggregate.supportsHashAggregate(builtin.aggBufferAttributes, Nil)) builtin
    else typed
}

/** SQL-name dispatch for `max_by`/`min_by`, see [[TypedMinMax]]. */
case class ChMaxMinBy(valueExpr: Expression, ordExpr: Expression, isMax: Boolean)
  extends AggregateFunction with RuntimeReplaceableAggregate
  with BinaryLike[Expression] {

  override lazy val replacement: Expression = TypedMinMax.dispatch(
    if (isMax) MaxBy(valueExpr, ordExpr) else MinBy(valueExpr, ordExpr),
    TypedMinMax(Seq(valueExpr, ordExpr), isMax))

  override def left: Expression = valueExpr
  override def right: Expression = ordExpr
  override def nullable: Boolean = true
  override def dataType: DataType = valueExpr.dataType
  override def prettyName: String = if (isMax) "max_by" else "min_by"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ChMaxMinBy =
    copy(valueExpr = l, ordExpr = r)
}

/** SQL-name dispatch for `min`/`max`, see [[TypedMinMax]]: result
  * types and error behavior are the builtin's. */
case class ChMinOrMax(child: Expression, isMin: Boolean)
  extends AggregateFunction with RuntimeReplaceableAggregate
  with UnaryLike[Expression] {

  override lazy val replacement: Expression = TypedMinMax.dispatch(
    if (isMin) Min(child) else Max(child),
    TypedMinMax(Seq(child), isMax = !isMin))

  override def nullable: Boolean = true
  override def dataType: DataType = child.dataType
  override def prettyName: String = if (isMin) "min" else "max"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override protected def withNewChildInternal(c: Expression): ChMinOrMax =
    copy(child = c)
}
