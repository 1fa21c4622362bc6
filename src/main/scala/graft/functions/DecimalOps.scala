package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

/** Fused kernels for the repo's exact-decimal determinism convention.
  *
  * The convention (`round(x, 9).cast("decimal(30,12)")` before every
  * cross-row float sum, and `cast("decimal(30,12)")` over already-
  * rounded doubles) is correct but expensive the way Catalyst executes
  * it: `Round(double, 9)` calls `BigDecimal.valueOf(x)` =
  * `new BigDecimal(Double.toString(x))`, and `Cast(double → decimal)`
  * does it AGAIN on the rounded value. `Double.toString` is the
  * shortest-representation dtoa — FloatingDecimal/FDBigInteger big-int
  * arithmetic per call. A JFR profile of `d_lang_id_learned` (sf0.1)
  * attributed ~35-40 % of ALL query CPU to exactly this
  * (FloatingDecimal.toJavaFormatString + BigDecimal(String) +
  * FDBigInteger.*), spread over every margin/gradient row of every
  * training iteration.
  *
  * [[DecimalKernels.round9dec]] / [[DecimalKernels.dec12]] compute the
  * IDENTICAL value arithmetically and fall back to the exact Catalyst
  * composition whenever the arithmetic answer could differ:
  *
  * Fast-path equivalence argument (round9dec, finite |x| < 1e6):
  *  - Catalyst rounds S_x = shortest-decimal-repr(x) (that is what
  *    `BigDecimal.valueOf` parses) at scale 9, HALF_UP → a 9-dp
  *    decimal D = k·1e-9 — then `toDouble` → x9 (nearest double to
  *    D), then the cast parses S_x9 = shortest-repr(x9) and HALF_UP-
  *    rescales to 12 dp. For |x9| < 4e6 the double gap around x9 is
  *    < 1e-9, so D is the ONLY decimal of scale ≤ 9 mapping to x9 —
  *    shortest-repr returns D (possibly with trailing zeros dropped,
  *    numerically equal), and the scale-12 cast is exactly D. So the
  *    whole chain is: D = HALF_UP-round(S_x, 9), emitted at scale 12.
  *  - The fast path computes k directly from f = |x|·1e9: |S_x − x| ≤
  *    ulp(x)/2 and |f − |x|·1e9| ≤ ulp(f)/2, so when the fractional
  *    part of f is farther than `err = ulp(x)·0.5e9 + ulp(f)·0.5` from
  *    the 0.5 boundary, S_x·1e9 and f land strictly on the same side
  *    of it and truncate-plus-carry reproduces k exactly. |x| < 1e6 ⇒
  *    f < 1e15 < 2^53 (floor exact as long) and |k·1000| ≤ 1e18 < 2^63
  *    (the scale-12 unscaled long cannot overflow).
  *  - Anything else — |x| ≥ 1e6, non-finite, or |frac − 0.5| ≤ err
  *    (includes every genuine HALF_UP tie) — takes the slow path,
  *    which IS the Catalyst composition, so it cannot disagree.
  *
  * dec12 is the same construction one scale down (cast only, no
  * round): guard |x| < 2e3 keeps f < 2e15 < 2^53 and err ≤ ~0.24.
  * Values the repo feeds it are overwhelmingly already 6-dp-rounded
  * (frac ≈ 0 ⇒ fast path even near the guard), and out-of-range
  * values just pay today's cost.
  *
  * DecimalOpsSpec fuzzes both kernels against the executed Catalyst
  * expressions (codegen path, adversarial boundary values + uniform
  * random) for bit-identity; every oracle-declared query downstream
  * re-verifies end to end. One deliberate divergence: non-finite
  * inputs throw ArithmeticException here vs Spark's
  * SparkArithmeticException subtype — both are query-fatal under ANSI,
  * and no declared query feeds a NaN/Inf into the convention.
  */
object DecimalKernels {

  private val HalfUp = scala.math.BigDecimal.RoundingMode.HALF_UP

  /** The exact Catalyst `Cast(double → decimal(30,12))`. */
  def dec12Slow(x: Double): Decimal = {
    // Decimal(BigDecimal.valueOf(x)) then changePrecision(30, 12),
    // HALF_UP — the Cast code path. Overflow (|x| >= 1e18) and
    // non-finite throw, as under ANSI.
    val d = Decimal(scala.math.BigDecimal(x))
    if (!d.changePrecision(30, 12))
      throw new ArithmeticException(s"cannot cast $x to decimal(30,12)")
    d
  }

  /** The exact Catalyst `Round(x, 9)` (double branch). */
  def round9Slow(x: Double): Double = roundHalfUp(x, 9)

  /** The exact Catalyst `Round(x, 6)` (double branch): the 6-dp emit
    * of the driver-local kernels.
    */
  def round6(x: Double): Double = roundHalfUp(x, 6)

  private def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else scala.math.BigDecimal(x).setScale(scale, HalfUp).toDouble

  /** round(x, 9).cast(decimal(30,12)), fused. */
  def round9dec(x: Double): Decimal = {
    if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
      val ax = math.abs(x)
      if (ax < 1e6) {
        val f = ax * 1e9
        val fl = math.floor(f)
        val frac = f - fl
        val err = Math.ulp(x) * 0.5e9 + Math.ulp(f) * 0.5
        if (math.abs(frac - 0.5) > err) {
          var k = fl.toLong
          if (frac > 0.5) k += 1L
          if (x < 0) k = -k
          return Decimal.createUnsafe(k * 1000L, 30, 12)
        }
      }
    }
    dec12Slow(round9Slow(x))
  }

  /** cast(x as decimal(30,12)) for double x, fused. */
  def dec12(x: Double): Decimal = {
    if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
      val ax = math.abs(x)
      if (ax < 2e3) {
        val f = ax * 1e12
        val fl = math.floor(f)
        val frac = f - fl
        val err = Math.ulp(x) * 0.5e12 + Math.ulp(f) * 0.5
        if (math.abs(frac - 0.5) > err) {
          var k = fl.toLong
          if (frac > 0.5) k += 1L
          if (x < 0) k = -k
          return Decimal.createUnsafe(k, 30, 12)
        }
      }
    }
    dec12Slow(x)
  }
}

/** `round(child, 9).cast(decimal(30,12))` as one codegen'd call. */
case class Round9Dec12(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(30, 12)

  override def nullSafeEval(input: Any): Any =
    DecimalKernels.round9dec(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DecimalKernels.round9dec($c)")

  override protected def withNewChildInternal(c: Expression): Round9Dec12 =
    copy(child = c)
}

/** `child.cast(decimal(30,12))` (double child) as one codegen'd call. */
case class DoubleDec12(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(30, 12)

  override def nullSafeEval(input: Any): Any =
    DecimalKernels.dec12(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DecimalKernels.dec12($c)")

  override protected def withNewChildInternal(c: Expression): DoubleDec12 =
    copy(child = c)
}

object DecimalOps {
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graftbridge.Bridge.{column => wrap, expression => expr}

  /** Drop-in for `round(c, 9).cast("decimal(30,12)")` over a DOUBLE
    * column — same value, one fused kernel call instead of two dtoa
    * round-trips per row.
    */
  def dec9(c: Column): Column = wrap(Round9Dec12(expr(c)))

  /** Drop-in for `c.cast("decimal(30,12)")` over a DOUBLE column. */
  def dec12(c: Column): Column = wrap(DoubleDec12(expr(c)))

  def dec9(name: String): Column = dec9(col(name))
  def dec12(name: String): Column = dec12(col(name))
}
