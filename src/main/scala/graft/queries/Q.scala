package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark query over the driver's
  * testdata tables plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Contract (driver's `Verify.scala` + `CORRECTNESS_r{N}.json`):
  *   - column names must match between the Spark result and the oracle SQL
  *   - results must be deterministic (explicit ORDER BY + tiebreakers)
  *   - aggregate floats are rounded so FP summation order can't flip a hash
  *   - result types must match (DuckDB `sum(BIGINT)` is HUGEINT → always
  *     `CAST(sum(..) AS BIGINT)` in oracles; `year()` is BIGINT → cast INT)
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Floating-point parity helpers.
  *
  * Spark (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB round
  * doubles differently when the value sits exactly on a half boundary
  * (e.g. x.xx5). Two rules keep the hash compare stable:
  *   - `r(c, n)`: nudge by +1e-7 before rounding (both sides use the same
  *     nudge, so engines agree whenever their FP inputs agree to <1e-7 —
  *     true for avgs/ratios/per-row divisions, whose operands are identical
  *     doubles in both engines).
  *   - `moneySum(c)`: large summations accumulate order-dependent FP error
  *     larger than any nudge, so sum as DECIMAL(18,4) (exact, order-
  *     independent) and only then round and cast back to double.
  */
object Fp {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.DecimalType
  val Eps = 1e-7
  def r(c: Column, n: Int): Column = round(c + lit(Eps), n)
  def moneySum(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 4))), 2).cast("double")
  /** SQL-side equivalents for oracle strings. */
  def rSql(x: String, n: Int): String = s"round(($x) + 1e-7, $n)"
  def moneySumSql(x: String): String =
    s"CAST(round(sum(CAST(($x) AS DECIMAL(18,4))), 2) AS DOUBLE)"
}

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(sql))
}
