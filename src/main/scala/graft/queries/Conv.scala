package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine determinism helpers for oracle-checked aggregates.
  *
  * Floating-point sums are not associative: Spark's partial-aggregate
  * merge order varies with partitioning, and DuckDB sums in yet another
  * order, so `round(sum(double), 2)` can flip at a .xx5 boundary both
  * run-to-run and engine-to-engine. Fix: aggregate 2-decimal "money"
  * doubles as DECIMAL(18,2) (exact, associative), round in decimal,
  * and emit as double. Averages are emitted as an explicit
  * sum_decimal→double divided by count so both engines perform the
  * same single IEEE division (DuckDB's avg(DECIMAL) returns a double
  * computed differently from Spark's decimal average).
  *
  * Oracle-side mirror of moneySum:
  *   CAST(round(sum(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE)
  * and of moneyAvg(scale):
  *   round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(*), scale)
  */
object Conv {
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Spark's round(x, 6) on DoubleType, on the driver: the shortest
    * decimal repr of `x`, rounded HALF_UP. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Exact associative sum of 2-decimal doubles, emitted as double. */
  def moneySum(c: Column): Column = round(sum(dec2(c)), 2).cast("double")

  /** Deterministic rounded average for non-negative 2-decimal inputs.
    *
    * Even with exact decimal sums, `round(sum/count, s)` diverges
    * across engines when the quotient sits within an ulp of a .xx5
    * boundary (observed: 598.01/14 — DuckDB's round multiplies by 10^s
    * in floating point and lands on 4271.5; Spark rounds the decimal
    * string and lands on 42.71). So do half-up rounding in exact
    * integer arithmetic instead: with u = sum·10^s (exact integer) and
    * n = count, round(u/n) = (2u + n) div (2n) for u ≥ 0 — then a
    * single identical integer/10^s double division on both engines.
    *
    * Oracle mirror (DuckDB; `//` is floor division):
    *   CAST((2 * CAST(sum(CAST(x AS DECIMAL(18,2))) * P AS BIGINT)
    *         + count(*)) // (2 * count(*)) AS DOUBLE) / P.0
    */
  def moneyAvg(colName: String, scale: Int = 2): Column = {
    val p = BigInt(10).pow(scale)
    expr(
      s"CAST((2 * CAST(sum(CAST($colName AS DECIMAL(18,2))) * $p AS BIGINT) " +
      s"+ count(1)) div (2 * count(1)) AS DOUBLE) / $p.0")
  }
}
