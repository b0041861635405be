package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so `spark.sql` users get the same
  * codegen-native operators as the Scala API:
  *
  *   - `can_payload_u64(data, littleEndian)`      → [[PayloadU64]]
  *   - `can_signal_extract(data, start, len, le, signed)` → [[CanSignalExtract]]
  *   - `int_bits_to_float(bits)`                  → [[IntBitsToFloat]]
  *   - `array_dot(a, b)`                          → [[ArrayDotProduct]]
  *   - `arg_last(v, ord)` / `arg_first(v, ord)`   → [[ArgExtremum]]
  *
  * Activate with `.withExtensions(new GraftExtensions)` on a session
  * builder or `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans", name), builder))
    }
}

object GraftExtensions {

  private def bool(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a boolean literal")
  }
  private def int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "can_payload_u64" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "can_payload_u64(data, littleEndian)")
      PayloadU64(exprs.head, bool(exprs(1), "littleEndian"))
    },
    "can_signal_extract" -> { exprs: Seq[Expression] =>
      require(exprs.length == 5, "can_signal_extract(data, start, len, le, signed)")
      CanSignalExtract(exprs.head, int(exprs(1), "start"), int(exprs(2), "len"),
        bool(exprs(3), "littleEndian"), bool(exprs(4), "signed"))
    },
    "int_bits_to_float" -> { exprs: Seq[Expression] =>
      require(exprs.length == 1, "int_bits_to_float(bits)")
      IntBitsToFloat(exprs.head)
    },
    "array_dot" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "array_dot(a, b)")
      ArrayDotProduct(exprs.head, exprs(1))
    },
    // return the bare AggregateFunction (NOT pre-wrapped in an
    // AggregateExpression): the analyzer's function resolution does the
    // wrapping and with it gets DISTINCT / FILTER (WHERE ...) handling —
    // a pre-wrapped expression made `arg_last(v, t) FILTER (...)` fail as
    // a 'non-aggregate function'
    "arg_last" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "arg_last(value, ord)")
      ArgExtremum(exprs.head, exprs(1), isMax = true)
    },
    "arg_first" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "arg_first(value, ord)")
      ArgExtremum(exprs.head, exprs(1), isMax = false)
    })

  /** Register on an already-built session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftshim.Shims.registerFunction(spark, name,
        new ExpressionInfo("graft.plans", name), builder)
    }
}
