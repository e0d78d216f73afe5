package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric helpers with engine-independent semantics. */
object NumFns {

  /** Round-half-up on the exact binary double: floor(x·10ⁿ + 0.5)/10ⁿ
    * (non-negative x). Unlike Spark's `round`, which rounds the *shortest
    * decimal representation* of the double (BigDecimal.valueOf), this is a
    * pure IEEE formula — any engine computing the same input double gets the
    * same output, which is what an external oracle needs.
    */
  def roundHalfUp(x: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    floor(x * p + 0.5) / p
  }

  /** Order-independent sum of a decimal-grained double column, as double.
    *
    * Double summation is order-dependent (±1 ulp per reorder), and shuffle
    * partials merge in fetch-completion order — so `sum(double)` is not even
    * deterministic run-to-run once a scan has >1 partition. That ulp is
    * invisible under a tolerance compare but fatal under this project's
    * EXACT oracle hash when a later `roundHalfUp` sits on a grain boundary
    * (observed: q08/q51 flipped their 4th decimal when the local fan-out
    * took the events scan from 1 partition to 32). Accumulating in decimal
    * is exact, hence order- and partitioning-independent; the single final
    * cast back to double is deterministic IEEE nearest. `scale` must cover
    * the column's decimal grain (2 for the .01-grained testdata measures;
    * products of two .01-grained values need 4+). Oracle twin:
    * `CAST(sum(CAST(x AS DECIMAL(28,s)) ) AS DOUBLE)`.
    *
    * r15 (judge-r14 item 5): the accumulator is the LONG fast path —
    * [[graft.plans.DoubleToScaledLong]] rounds each value to its scale-s
    * integer bit-identically to the decimal cast, and
    * [[graft.plans.Int128ProductSum]] sums the integers in a codegen'd
    * 128-bit long pair (no per-row BigDecimal). Same DECIMAL(38,s)-valued
    * result and null semantics as `sum(cast(x as decimal(28,s)))` —
    * equality and overflow posture proven in ExactSum128's doc and
    * spec-asserted (ExactSum128Spec) inside the domain: finite
    * |x| < 1e(18-s) is summed; anything else, NaN and ±Inf included, throws
    * ArithmeticException (the decimal cast summed finite values up to
    * 1e(28-s)).
    */
  def exactSum(x: Column, scale: Int): Column =
    graft.plans.ExactSum128.scaledSum(x.cast("double"), scale).cast("double")

  /** Order-independent mean of a decimal-grained double column: exact
    * decimal sum ÷ non-null count, both deterministic, so the division and
    * any later rounding are too. Oracle twin: `CAST(sum(CAST(x AS
    * DECIMAL(28,s))) AS DOUBLE) / count(x)`. NULL-group parity with `avg`:
    * empty group → NULL sum ÷ 0 → NULL in both engines.
    */
  def exactAvg(x: Column, scale: Int): Column =
    exactSum(x, scale) / count(x)
}
