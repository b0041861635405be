package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** `flt32_` IEEE-754 reinterpretation (reference P6,
  * `/root/reference/README.md:58`; intended helpers
  * `/root/reference/src/custom_types.cpp:42-110`): the low 32 bits of the
  * raw little-endian field are reinterpreted as float bits.
  *
  * Native Catalyst `Expression` with `doGenCode` so the decode path stays
  * inside whole-stage codegen — no UDF boxing (SURVEY §7.3: "custom codegen
  * Expression beats a Scala UDF").
  */
case class IntBitsToFloat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = FloatType

  override def nullSafeEval(input: Any): Any =
    java.lang.Float.intBitsToFloat(input.asInstanceOf[Long].toInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Float.intBitsToFloat((int)($c))")

  override protected def withNewChildInternal(newChild: Expression): IntBitsToFloat =
    copy(child = newChild)
}

/** 64-bit sibling of [[IntBitsToFloat]] for `SIG_VALTYPE_ ... : 2;`
  * (float64) signals: the raw 64-bit field reinterpreted as IEEE-754
  * double bits. Same native-codegen rationale.
  */
case class LongBitsToDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.longBitsToDouble(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.longBitsToDouble($c)")

  override protected def withNewChildInternal(newChild: Expression): LongBitsToDouble =
    copy(child = newChild)
}

object FloatReinterpret {
  /** Column wrapper: raw u32-in-long → IEEE float. */
  def intBitsToFloat(raw: Column): Column =
    Shims.column(IntBitsToFloat(Shims.expression(raw)))

  /** Column wrapper: raw u64 → IEEE double. */
  def longBitsToDouble(raw: Column): Column =
    Shims.column(LongBitsToDouble(Shims.expression(raw)))
}
