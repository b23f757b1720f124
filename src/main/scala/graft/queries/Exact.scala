package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Exact, order-independent float aggregation shared by the Spark queries
  * and their DuckDB oracle SQL.
  *
  * Summing raw doubles is order-dependent (Spark's partial aggregation vs
  * DuckDB's sequential scan), which would break the driver's hash compare.
  * All money/rate columns in the testdata carry ≤ 2 decimal digits, so
  * casting to DECIMAL before aggregating is lossless; decimal sums are
  * exact and associative; the final cast-to-DOUBLE of identical decimal
  * values is the identical IEEE double in both engines.
  */
object Exact {
  /** Money columns (prices, balances): ≤ 10^10 with 2-decimal cents. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Small rates (discount, tax): 2-decimal fractions. */
  def rate(c: Column): Column = c.cast(DecimalType(6, 2))
  val one: Column = lit(1).cast(DecimalType(6, 2))
  /** Exact sum of a money column, returned as DOUBLE. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  // Matching DuckDB fragments.
  def sqlDec2(e: String): String = s"CAST($e AS DECIMAL(12,2))"
  def sqlRate(e: String): String = s"CAST($e AS DECIMAL(6,2))"
  val sqlOne: String = "CAST(1 AS DECIMAL(6,2))"
  def sqlDsum(e: String): String = s"CAST(sum(${sqlDec2(e)}) AS DOUBLE)"

  // ── BigQuery NUMERIC-faithful money mode (SURVEY §1.2) ────────────────
  // The engine's default money type is DoubleType because the driver
  // parquet stores doubles; BigQuery NUMERIC is exactly DecimalType(38,9).
  // MoneyMode gates which arithmetic a query runs — a query passes
  // NumericMode for decimal-exact money columns end to end, including the
  // OUTPUT type (dsum above is decimal-exact internally but returns DOUBLE).
  sealed trait MoneyMode
  case object DoubleMode extends MoneyMode
  case object NumericMode extends MoneyMode

  /** A money column in the configured representation. */
  def money(c: Column, mode: MoneyMode): Column = mode match {
    case DoubleMode  => c.cast(DoubleType)
    case NumericMode => c.cast(DecimalType(38, 9))
  }

  /** Exact money sum; NUMERIC mode keeps DECIMAL(38,9) in the output
    * (sum of decimal(38,9) stays decimal(38,9) — precision is already at
    * Spark's cap), DOUBLE mode matches [[dsum]].
    */
  def moneySum(c: Column, mode: MoneyMode): Column = mode match {
    case DoubleMode  => dsum(c)
    case NumericMode => sum(c.cast(DecimalType(38, 9)))
  }

  def sqlNumeric(e: String): String = s"CAST($e AS DECIMAL(38,9))"
  def sqlNumericSum(e: String): String = s"sum(${sqlNumeric(e)})"
}
