package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Weighted mean as a typed `Aggregator` — the PUBLIC UDAF surface
  * (`org.apache.spark.sql.expressions.Aggregator` + `udaf()`), the
  * user-facing complement to the engine's internal
  * `TypedImperativeAggregate` sketches (BottomK, FreqItems): encoders,
  * tuple buffer, full partial-aggregation support (`reduce` runs
  * map-side, `merge` combines partials across the exchange, so the
  * shuffle carries one (sum, weight) pair per group per task).
  *
  * Accumulation is DECIMAL(·,4), not double — the engine's moneySum
  * convention: each row contributes `value·weight` rounded to 4 dp, and
  * the decimal sum is exact and order-independent, so the result is
  * bit-stable under any partitioning (a double accumulator would drift
  * with summation order at warehouse row counts and could never
  * hash-match an external oracle).
  *
  * Null handling follows SQL aggregates: a row with a null value OR null
  * weight contributes nothing; an all-null / zero-weight group yields
  * null.
  */
object WeightedMean
    extends Aggregator[(java.lang.Double, java.lang.Double),
      (JBigDecimal, JBigDecimal), java.lang.Double] {

  private def dec4(v: Double): JBigDecimal =
    new JBigDecimal(java.lang.Double.toString(v))
      .setScale(4, RoundingMode.HALF_UP)

  override def zero: (JBigDecimal, JBigDecimal) =
    (JBigDecimal.ZERO, JBigDecimal.ZERO)

  override def reduce(b: (JBigDecimal, JBigDecimal),
      a: (java.lang.Double, java.lang.Double)): (JBigDecimal, JBigDecimal) =
    // non-finite contributions are skipped like nulls: NaN/Infinity have
    // no decimal form (BigDecimal("NaN") throws) and would otherwise
    // poison the exact sum — built-in aggregates never abort on them
    if (a._1 == null || a._2 == null ||
      java.lang.Double.isNaN(a._1 * a._2) ||
      java.lang.Double.isInfinite(a._1 * a._2) ||
      java.lang.Double.isNaN(a._2) || java.lang.Double.isInfinite(a._2)) b
    else (b._1.add(dec4(a._1 * a._2)), b._2.add(dec4(a._2)))

  override def merge(x: (JBigDecimal, JBigDecimal),
      y: (JBigDecimal, JBigDecimal)): (JBigDecimal, JBigDecimal) =
    (x._1.add(y._1), x._2.add(y._2))

  override def finish(b: (JBigDecimal, JBigDecimal)): java.lang.Double =
    if (b._2.signum() == 0) null
    else b._1.doubleValue() / b._2.doubleValue()

  override def bufferEncoder: Encoder[(JBigDecimal, JBigDecimal)] =
    Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)
  override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE

  // one UserDefinedFunction instance: udaf() runs encoder reflection,
  // no reason to repeat it per call site
  private lazy val fn = udaf(this)

  def weightedMean(value: Column, weight: Column): Column =
    fn.apply(value, weight)
}
