package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `unscaled(cast(child AS DECIMAL(precision, scale)))` without the
  * per-row BigDecimal, for a DOUBLE child.
  *
  * Spark casts a double to a decimal through `Double.toString`, a
  * `BigDecimal` and a HALF_UP `changePrecision`; on the money aggregates
  * that cast was the hottest executor frame of the serving path. For
  * `d` with `|d| < min(10^(p−s), 2^50·10^−s)` this takes
  * `n = Math.round(d·10^s)` and keeps it when `n / 10^s == d` (compared
  * in double; the division is correctly rounded). Why that equals the
  * cast: below the bound ulp(d) ≤ ¼·10^−s, and `Double.toString(d)` and
  * `n·10^−s` both lie within half an ulp of `d` (the first round-trips to
  * `d`, the second rounds to it). They are within ¼·10^−s of each other,
  * so HALF_UP rounding of the string to `s` places gives exactly `n`, and
  * `|n| < 10^p` cannot overflow. Every double of at most `s` decimals
  * below the bound takes this path.
  *
  * Every other input — NaN, ±∞, values past the bound, values with more
  * than `s` decimals — evaluates `fallback`, the plain
  * `UnscaledValue(Cast(child, DECIMAL(p, s)))` built with the session's
  * eval mode, inside its branch: null, overflow and ANSI-error behaviour
  * are the cast's own. A NULL child gives NULL, as the cast does. A
  * non-DOUBLE child generates only `fallback`.
  *
  * A [[ConditionalExpression]] whose only always-evaluated input is
  * `child`: subexpression elimination never counts the fallback as
  * always evaluated, so it cannot hoist the cast out of its branch.
  */
case class DoubleUnscaled(child: Expression, fallback: Expression,
    precision: Int, scale: Int)
    extends Expression with ConditionalExpression {

  require(precision <= Decimal.MAX_LONG_DIGITS && scale >= 0 && scale <= precision,
    s"DoubleUnscaled needs a long-backed DECIMAL($precision, $scale)")

  override def children: Seq[Expression] = Seq(child, fallback)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable || fallback.nullable

  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(child)
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): DoubleUnscaled =
    copy(child = inputs.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  private def fast: Boolean = child.dataType == DoubleType
  private lazy val pow: Double = math.pow(10, scale)
  private lazy val bound: Double =
    math.min(math.pow(10, precision - scale), math.scalb(1.0, 50) / pow)

  override def eval(input: InternalRow): Any =
    if (!fast) fallback.eval(input)
    else {
      val v = child.eval(input)
      if (v == null) null
      else {
        val n = DoubleUnscaled.exact(v.asInstanceOf[Double], pow, bound)
        if (n != DoubleUnscaled.NotExact) n else fallback.eval(input)
      }
    }

  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    if (!fast) return fallback.genCode(ctx)
    val c = child.genCode(ctx)
    val fb = fallback.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.DoubleUnscaled$$.MODULE$$.exact(
          ${c.value}, ${pow}D, ${bound}D);
        if (${ev.value} == Long.MIN_VALUE) {
          ${fb.code}
          ${ev.isNull} = ${fb.isNull};
          ${ev.value} = ${fb.value};
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DoubleUnscaled =
    copy(child = newChildren(0), fallback = newChildren(1))
}

object DoubleUnscaled {
  /** Never a fast-path result: those are below 2^50 in magnitude. */
  final val NotExact = Long.MinValue

  /** `round(d·pow)` when it is provably the cast's unscaled value, else
    * [[NotExact]]. Static so generated code calls it directly.
    */
  def exact(d: Double, pow: Double, bound: Double): Long =
    if (!(math.abs(d) < bound)) NotExact
    else {
      val n = math.round(d * pow)
      if (n / pow == d) n else NotExact
    }

  /** The unscaled long of `c` cast to `t`, through the fast path. */
  def of(c: Column, t: DecimalType): Column =
    ColumnBridge.column(DoubleUnscaled(
      ColumnBridge.expression(c),
      UnscaledValue(ColumnBridge.expression(c.cast(t))),
      t.precision, t.scale))
}
