package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Numerically-deterministic aggregate helpers.
  *
  * Double summation is order-dependent, and Spark's partial aggregation
  * order differs run-to-run and engine-to-engine — a plain `sum(double)`
  * can never hash-match a DuckDB oracle bit-for-bit. The fix: per-row
  * arithmetic stays in IEEE double (identical in any engine), but the
  * *fold* runs in exact decimal, then the final value is cast back to
  * double. Decimal addition is associative, so partial aggregation,
  * shuffle order, and AQE re-planning all produce the same bits — on
  * 32 local threads or 1000 executors.
  *
  * Every oracle-portable fold of the repo is spelled here, nowhere else:
  *  - [[quantize]]: double → DECIMAL(28,6) → double, the per-row round
  *    trip that makes an ln/exp/division result bit-portable;
  *  - [[sumFloor]]: Σ floor(x·10^d) as DECIMAL(38,0), then ÷ 10^d — the
  *    fold for magnitudes where the 1e-6 rounding cast would read digits
  *    the two engines expand differently (x² near 1e12);
  *  - [[sumExact]] / [[sumExactOver]] / [[avgExact]]: the DECIMAL(28,6)
  *    sum, grouped or over a window;
  *  - [[toExact]]: the DECIMAL(28,6) value itself, for a weight that is
  *    summed in decimal and read back as double by its consumer.
  *
  * Each Column form has its DuckDB SQL twin (`*Sql`) and, where a driver
  * computes the same value, its JVM mirror (`*Driver`); ExactNumSpec pins
  * all three bit-equal. A new fold goes here together with its twin.
  */
object ExactNum {
  /** 6-decimal fixed point; 32 integer digits headroom keeps the sum exact
    * far beyond 100 TB row counts (Spark widens sum(DECIMAL(38-10,6)) to
    * DECIMAL(38,6)). */
  val Exact: DecimalType = DecimalType(28, 6)

  /** The floor fold's integer accumulator. */
  private val Whole: DecimalType = DecimalType(38, 0)

  def toExact(c: Column): Column = c.cast(Exact)

  def toExactSql(e: String): String = s"CAST(($e) AS DECIMAL(28,6))"

  def quantize(c: Column): Column = toExact(c).cast("double")

  def quantizeSql(e: String): String = s"CAST(${toExactSql(e)} AS DOUBLE)"

  /** Driver mirror of [[quantize]]: Spark's Cast(double → DECIMAL(28,6))
    * goes through BigDecimal.valueOf(d).setScale(6, HALF_UP) (the
    * shortest-repr valueOf, NOT the exact binary constructor), then
    * Decimal.toDouble — reproduced operation-for-operation. */
  def quantizeDriver(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Order-insensitive, engine-portable sum of a double expression. */
  def sumExact(c: Column): Column = sum(toExact(c)).cast("double")

  def sumExactSql(e: String): String =
    s"CAST(sum(${toExactSql(e)}) AS DOUBLE)"

  /** [[sumExact]] as a window aggregate over `w`. */
  def sumExactOver(c: Column, w: WindowSpec): Column =
    sum(toExact(c)).over(w).cast("double")

  /** `w` is a window name or a parenthesized window definition. */
  def sumExactOverSql(e: String, w: String): String =
    s"CAST(sum(${toExactSql(e)}) OVER $w AS DOUBLE)"

  /** avg = exact sum / count, evaluated in double (deterministic given
    * deterministic operands). */
  def avgExact(c: Column): Column = sumExact(c) / count(c)

  def avgExactSql(e: String): String =
    s"(${sumExactSql(e)} / count($e))"

  /** Fixed-point floor fold at 10^-digits: floor of the SAME double is
    * bit-identical in both engines at any magnitude whose scaled value
    * fits a long (Spark's floor(double) is a long). */
  def sumFloor(c: Column, digits: Int = 6): Column = {
    val s = math.pow(10, digits)
    sum(floor(c * s).cast(Whole)).cast("double") / s
  }

  def sumFloorSql(e: String, digits: Int = 6): String =
    s"(CAST(sum(CAST(floor(($e) * 1e$digits) AS DECIMAL(38,0))) AS DOUBLE)" +
      s" / 1e$digits)"

  /** Driver mirror of [[sumFloor]] over the non-null values: Spark's
    * floor(double) is math.floor(d).toLong (saturating at the long
    * range, matched exactly); the DECIMAL(38,0) sum is an exact integer
    * fold (BigInt here), and Cast(decimal→double) and BigInt.doubleValue
    * are both correctly-rounded conversions. */
  def sumFloorDriver(vals: Iterator[Double], digits: Int = 6): Double = {
    val s = math.pow(10, digits)
    var acc = BigInt(0)
    vals.foreach(v => acc += BigInt(floorUnits(v, s)))
    acc.doubleValue / s
  }

  /** One value's term of the floor fold at scale `s` (10^digits): Spark's
    * floor(x·s) as a long, saturating at the long range. Executor-side
    * folds that merge their own partials (LrBase.train) and the
    * fixed-point vector kernels
    * ([[VectorKernels.dotFixed]], [[VectorKernels.outerTerms]]) call it
    * too. */
  def floorUnits(x: Double, s: Double): Long = math.floor(x * s).toLong

  /** The vector kernels' fixed-point scale (1e-12 resolution): the `s` of
    * their [[floorUnits]] terms, and [[graft.operators.Similarity.Scale]]. */
  val FixedScale: Double = 1e12
}
