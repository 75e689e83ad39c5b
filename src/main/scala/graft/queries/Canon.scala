package graft.queries

import java.math.BigDecimal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Cross-engine float canonicalization shared by every oracle-matched
  * query (SURVEY §7.4).
  *
  * The fixture's numeric columns are exact ≤4-decimal values, so casting
  * to DECIMAL(18,4) is lossless and decimal sums are order-independent —
  * identical in Spark and DuckDB regardless of partial-aggregation order.
  * Division is done afterwards in IEEE double on bit-identical inputs, so
  * the quotient is bit-identical too. No rounding or tolerance anywhere.
  * [[exactSum]] computes that decimal sum on BIGINT arithmetic, with no
  * per-row BigDecimal, at close to the cost of a double `avg`.
  *
  * Every helper here has a SQL twin generating the same arithmetic for
  * DuckDB; queries MUST use the pair together.
  */
object Canon {
  val InputDec: DecimalType = DecimalType(18, 4)

  /** Lossless exact container for a ≤4-decimal double column. */
  def dec(c: Column): Column = c.cast(InputDec)

  /** Exact sum, exported as double: exactly
    * `CAST(SUM(CAST(c AS target)) AS DOUBLE)`, but summed as BIGINTs.
    * Per row, `u` = the cast's unscaled value: `k = fl(c·10^s)` when that
    * is an integer with `|k| < 2^50`, else the cast itself (nulls stay
    * null; NaN, ±Inf and out-of-range values raise its ANSI errors). The
    * fast path is exact: the cast rounds `D = Double.toString(c)` (floats
    * widened first) HALF_UP, `|D - c| ≤ ½ulp(c)`, `|c·10^s - k| ≤ ½ulp(k)`
    * and `10^s·ulp(c) < 2·ulp(k)`, so `|D·10^s - k| < 1.5·ulp(k) ≤ 0.1875`.
    * Per group, `hi = Σ(u div 10^9)` and `lo = Σ(u % 10^9)` are rebuilt
    * once as the decimal `hi·10^(9-s) + lo·10^-s`: the decimal sum's scale
    * and unscaled value, so the same correctly rounded double. A BIGINT
    * sum overflows only past ~9.2·10^9 rows per group at the decimal's
    * maximum, and under ANSI (Spark 4's default, which
    * [[graft.GraftSession]] keeps) raises ARITHMETIC_OVERFLOW, never a
    * wrong sum. */
  def exactSum(c: Column, target: DecimalType = InputDec): Column = {
    val s = target.scale
    val k = c.cast(DoubleType) * lit(math.pow(10, s))
    val u = when(k === rint(k) && abs(k) < lit(math.pow(2, 50)), k.cast(LongType))
      .otherwise(column(UnscaledValue(expression(c.cast(target)))))
    val split = lit(1000000000L)
    val hi = sum(column(IntegralDivide(expression(u), expression(split))))
    val lo = sum(u % split)
    val whole = DecimalType(20, 0)
    (hi.cast(whole) * lit(BigDecimal.TEN.pow(9 - s)) +
      lo.cast(whole) * lit(BigDecimal.ONE.movePointLeft(s))).cast(DoubleType)
  }

  /** Exact mean: exact decimal sum ÷ non-null count, in double. */
  def exactAvg(c: Column): Column = exactSum(c) / count(c)

  /** Exact sum of the 8-decimal product a*b (each ≤4-decimal). */
  def exactSumProd(a: Column, b: Column): Column =
    sum(dec(a) * dec(b)).cast(DoubleType)

  // ------------------------------------------------------------ SQL twins

  def sqlDec(x: String): String = s"CAST($x AS DECIMAL(18,4))"

  /** DECIMAL → DOUBLE via VARCHAR: DuckDB's direct decimal→double cast is
    * doubly-rounded ((double)unscaled / 10^scale — observed 1-ulp drift
    * vs Java), while decimal→varchar→double is exact digits then a
    * correctly-rounded parse, matching Java BigDecimal.doubleValue. */
  def sqlToDouble(x: String): String = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  def sqlSum(x: String): String = sqlToDouble(s"SUM(${sqlDec(x)})")
  def sqlAvg(x: String): String = s"${sqlSum(x)} / COUNT($x)"
  def sqlSumProd(a: String, b: String): String =
    sqlToDouble(s"SUM(${sqlDec(a)} * ${sqlDec(b)})")
}
