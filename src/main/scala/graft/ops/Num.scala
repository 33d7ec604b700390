package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric output conventions shared by every oracle-checked query.
  *
  * Averages/ratios of 2-decimal source data frequently land EXACTLY on a
  * 4-decimal rounding tie (e.g. 4382.30/80 = 54.77875). Spark's `round`
  * goes through BigDecimal.valueOf (shortest decimal repr, HALF_UP ⇒ up)
  * while DuckDB multiplies by 10^4 and `std::round`s the scaled double
  * (547787.49999… ⇒ down), so the two engines disagree on the same bits.
  * Nudging by +1e-9 before rounding — in BOTH engines — moves every such
  * rational tie strictly above the boundary without affecting non-tie
  * values (whose distance to a boundary is ≫ the engines' summation-order
  * ulp differences).
  *
  * Sums of 2-decimal data are near-multiples of 0.01 with absolute error
  * orders of magnitude below the 0.005 tie distance, so `r2` needs no
  * nudge.
  */
object Num {
  /** round to 4 decimals, tie-safe across engines; SQL twin: `round(x + 1e-9, 4)` */
  def r4(c: Column): Column = round(c + lit(1e-9), 4)
  /** [[r4]] on a finite JVM double, for typed/stateful operators: Spark
    * rounds a double through `BigDecimal.valueOf` HALF_UP, so both give the
    * same bits */
  def r4(x: Double): Double =
    java.math.BigDecimal.valueOf(x + 1e-9).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  /** round to 2 decimals for exact-cent sums; SQL twin: `round(x, 2)` */
  def r2(c: Column): Column = round(c, 2)
}
