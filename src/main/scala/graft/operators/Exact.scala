package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic, engine-portable aggregates.
  *
  * Double sums are order-dependent (non-associative FP addition), so a
  * Spark shuffle-order sum and a DuckDB sequential sum of the same rows
  * can differ in the last ulps — enough to flip a rounded digit. We
  * instead cast the fully-evaluated per-row double expression to
  * DECIMAL(38,6) (a deterministic, engine-identical rounding of an
  * IEEE-754 value), sum exactly, and cast the final total back to
  * double. The result is bit-identical in any engine and any row order.
  *
  * Oracle-side SQL equivalent:
  *   CAST(SUM(CAST(<expr> AS DECIMAL(38,6))) AS DOUBLE)
  */
object Exact {
  /** The exact-money type every sum here folds in. */
  val D = DecimalType(38, 6)

  /** Exact order-independent sum of a double expression. */
  def dsum(e: Column): Column = sum(e.cast(D)).cast(DoubleType)

  /** Exact average: exact sum divided by count (double division is
    * IEEE-deterministic given identical operands). */
  def davg(e: Column): Column = dsum(e) / count(e)

  /** SQL text for the oracle side of [[dsum]]. */
  def sqlSum(expr: String): String = s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) AS DOUBLE)"

  /** SQL text for the oracle side of [[davg]]. */
  def sqlAvg(expr: String): String = s"(${sqlSum(expr)} / COUNT($expr))"

  /** Exact money in integer micros: DECIMAL(38,6) fold × 1e6. */
  def micros(e: Column): Column = (sum(e.cast(D)) * 1000000).cast("long")
  def sqlMicros(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) * 1000000 AS BIGINT)"

  /** Conditional micros: only rows matching `cond` contribute. */
  def microsIf(cond: Column, e: Column): Column =
    (sum(when(cond, e.cast(D)).otherwise(lit(0).cast(D))) * 1000000).cast("long")
  def sqlMicrosIf(cond: String, expr: String): String =
    s"CAST(SUM(CASE WHEN $cond THEN CAST(($expr) AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) * 1000000 AS BIGINT)"
}
