package graft.util

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.round

/** The engine's exact-decimal grid, in its two forms.
  *
  * Every cross-row float sum the oracle hashes is carried on one grid:
  * `round(x, 12).cast("decimal(28,12)")` — the 12-dp HALF_UP round of
  * the double, then the exact decimal of that rounded double. Decimal
  * sums are order-independent, so Spark and DuckDB agree bit-for-bit.
  *
  * [[t12]] is the column form. The driver replays below walk the
  * trajectory Spark codegen executes, call for call, so a recursion
  * collected to the driver ([[DriverLocal]]) produces the same doubles
  * as its relational twin:
  *
  *  - Round(double, s) is `BigDecimal.valueOf(x)` (the shortest-repr
  *    decimal of the double) re-scaled HALF_UP and read back as a
  *    double; NaN and ±Infinity pass through unchanged.
  *  - Cast(double → decimal(28,12)) re-parses the ROUNDED double the
  *    same way and re-scales it to 12. NaN and ±Infinity cast to NULL;
  *    a value with more than 16 integer digits raises
  *    `NUMERIC_VALUE_OUT_OF_RANGE` (ANSI mode, the engine's default;
  *    Spark's exception is an `ArithmeticException` too).
  *
  * Two steps, not one: the decimal → double → decimal round trip is
  * itself part of the trajectory both engines walk. */
object Exact {

  /** `round(c, 12).cast("decimal(28,12)")`. */
  def t12(c: Column): Column = round(c, 12).cast("decimal(28,12)")

  /** Spark's `round(x, 12)` on a double. */
  def round12(x: Double): Double = roundHalfUp(x, 12)

  /** Spark's `round(x, 6)` on a double. */
  def round6(x: Double): Double = roundHalfUp(x, 6)

  /** Spark's `round(x, 12).cast("decimal(28,12)")` on a double: null
    * for NaN and ±Infinity, `NUMERIC_VALUE_OUT_OF_RANGE` past
    * decimal(28,12). */
  def dec12(x: Double): JBigDecimal =
    if (x.isNaN || x.isInfinite) null
    else {
      val d = JBigDecimal.valueOf(round12(x)).setScale(12, RoundingMode.HALF_UP)
      if (d.precision <= 28) d
      else throw new ArithmeticException(
        "[NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION] " +
          s"${d.toPlainString} cannot be represented as Decimal(28, 12).")
    }

  private def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue()
}
