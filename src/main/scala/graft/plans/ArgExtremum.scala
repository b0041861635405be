package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Deterministic arg-extremum aggregate with a PRIMITIVE two-slot buffer —
  * the codegen-able form of `max(struct(ord, value))...getField("v")`.
  *
  * Semantics (identical to the struct trick it replaces, T4 of the
  * reference's within-bucket combine, `/root/reference/src/main.cpp:127-131`):
  * among input rows where `valueExpr` AND `ordExpr` are non-null, return
  * the value of the lexicographically greatest (`isMax`) / least (`!isMax`)
  * `(ord, value)` pair. The value tie-break makes the result a pure
  * function of the input SET — deterministic under any partitioning and
  * any intra-bucket ordering-key tie — which Spark's own `max_by` is NOT
  * (its update keeps the first-seen extremum in partition order).
  *
  * Why not `max(struct(ts, v))`: struct-typed aggregation buffers are not
  * mutable in `UnsafeRow` terms, so `HashAggregateExec` falls out of
  * whole-stage codegen for the WHOLE aggregate at every width (round-9
  * verdict: a 129-column tumbling bucket spends ~5× the JIT'd decode's CPU
  * in the interpreted aggregate). This aggregate keeps two flat buffer
  * slots of the input's own primitive types, so the buffer stays mutable
  * and the aggregate codegens; comparisons are ordinary Catalyst binary
  * comparisons (NaN-consistent with struct field ordering).
  */
case class ArgExtremum(valueExpr: Expression, ordExpr: Expression, isMax: Boolean)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = valueExpr
  override def right: Expression = ordExpr

  override def dataType: DataType = valueExpr.dataType
  override def nullable: Boolean = true
  override def prettyName: String = if (isMax) "arg_last" else "arg_first"

  override def checkInputDataTypes(): TypeCheckResult = {
    val v = TypeUtils.checkForOrderingExpr(valueExpr.dataType, prettyName)
    if (v.isFailure) v
    else TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)
  }

  private lazy val value = AttributeReference("argExtValue", valueExpr.dataType)()
  private lazy val ord = AttributeReference("argExtOrd", ordExpr.dataType)()

  override def aggBufferAttributes: Seq[AttributeReference] = value :: ord :: Nil

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, valueExpr.dataType),
    Literal.create(null, ordExpr.dataType))

  override lazy val updateExpressions: Seq[Expression] = {
    val b = ArgImproves(valueExpr, ordExpr, value, ord, isMax)
    Seq(If(b, valueExpr, value), If(b, ordExpr, ord))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val b = ArgImproves(value.left, ord.left, value.right, ord.right, isMax)
    Seq(If(b, value.left, value.right), If(b, ord.left, ord.right))
  }

  override lazy val evaluateExpression: Expression = value

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgExtremum =
    copy(valueExpr = newLeft, ordExpr = newRight)
}

/** Strict lexicographic (ord, value) improvement test — the update/merge
  * predicate of [[ArgExtremum]], as ONE compact codegen expression.
  *
  * Semantics: `(newV, newO) non-null && (curV null || (newO, newV) beats
  * (curO, curV))` where "beats" is `>` lexicographic for `isMax`, `<` for
  * min. Null candidate ⇒ never an improvement (null-skipping, exactly like
  * the null struct the `when(v.isNotNull, ...)` wrapper used to produce);
  * empty buffer (null value slot) ⇒ any non-null candidate wins. Relies on
  * the ArgExtremum buffer invariant that the value and ord slots are null
  * together. Comparisons via `ctx.genComp` — NaN-consistent with struct
  * field ordering.
  *
  * Why not the equivalent And/Or/GreaterThan Catalyst tree: at fleet width
  * the aggregate emits this predicate once per signal per phase, and the
  * generic tree's null-tracking codegen is ~100 lines per instance — ~6 KB
  * × 129 columns × 2 phases pushed the generated class past Spark's 1 MB
  * nested-class spill threshold, and the spilled `doAggregateWithKeys`
  * cannot access `BufferedRowIterator.partitionIndex` across Janino's
  * nested-class boundary (IllegalAccessError at runtime). This hand-built
  * form is ~10 lines per instance.
  */
case class ArgImproves(newV: Expression, newO: Expression,
    curV: Expression, curO: Expression, isMax: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(newV, newO, curV, curO)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val ordOrdering =
    TypeUtils.getInterpretedOrdering(newO.dataType)
  @transient private lazy val valOrdering =
    TypeUtils.getInterpretedOrdering(newV.dataType)

  override def eval(input: InternalRow): Any = {
    val nv = newV.eval(input)
    if (nv == null) return false
    val no = newO.eval(input)
    if (no == null) return false
    val cv = curV.eval(input)
    if (cv == null) return true
    ArgImproves.beats(nv, no, cv, curO.eval(input), isMax, ordOrdering, valOrdering)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nv = newV.genCode(ctx)
    val no = newO.genCode(ctx)
    val cv = curV.genCode(ctx)
    val co = curO.genCode(ctx)
    val cmpO = ctx.genComp(newO.dataType, no.value.code, co.value.code)
    val cmpV = ctx.genComp(newV.dataType, nv.value.code, cv.value.code)
    val op = if (isMax) ">" else "<"
    val c = ctx.freshName("cmp")
    ev.copy(isNull = FalseLiteral, code =
      code"""
            |${nv.code}
            |${no.code}
            |${cv.code}
            |${co.code}
            |boolean ${ev.value} = false;
            |if (!${nv.isNull} && !${no.isNull}) {
            |  if (${cv.isNull}) {
            |    ${ev.value} = true;
            |  } else {
            |    int $c = $cmpO;
            |    ${ev.value} = $c $op 0 || ($c == 0 && $cmpV $op 0);
            |  }
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgImproves =
    copy(newV = newChildren(0), newO = newChildren(1),
      curV = newChildren(2), curO = newChildren(3))
}

object ArgImproves {
  /** The strict lexicographic test of [[ArgImproves.eval]] on non-null
    * values: `(newO, newV)` beats `(curO, curV)`. The orderings are
    * `TypeUtils.getInterpretedOrdering` of the two types, so NaN and ±0.0
    * compare as in the generated code. Shared with the split-order fold
    * ([[graft.can.SplitTumbling]]), which must pick the same winner.
    */
  def beats(newV: Any, newO: Any, curV: Any, curO: Any, isMax: Boolean,
      ordOrdering: Ordering[Any], valOrdering: Ordering[Any]): Boolean = {
    val c = ordOrdering.compare(newO, curO)
    if (isMax) c > 0 || (c == 0 && valOrdering.compare(newV, curV) > 0)
    else c < 0 || (c == 0 && valOrdering.compare(newV, curV) < 0)
  }
}

object ArgExtremum {
  /** `arg_last(value, ord)`: value at the greatest (ord, value); LastWins. */
  def argLast(value: Column, ord: Column): Column =
    Shims.column(ArgExtremum(Shims.expression(value), Shims.expression(ord),
      isMax = true).toAggregateExpression())

  /** `arg_first(value, ord)`: value at the least (ord, value); FirstWins. */
  def argFirst(value: Column, ord: Column): Column =
    Shims.column(ArgExtremum(Shims.expression(value), Shims.expression(ord),
      isMax = false).toAggregateExpression())
}
