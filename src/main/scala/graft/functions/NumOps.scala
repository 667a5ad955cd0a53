package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism-stable numeric aggregates.
  *
  * Double `sum`/`avg` are order-dependent at the ulp level, so results
  * vary with partitioning — on a cluster, run to run. For metric columns
  * with fixed decimal scale (prices, rates), summing as DECIMAL is exact
  * and associative: the same answer at 32 partitions or 32,000, and the
  * same answer the DuckDB oracle computes. Final division/rounding
  * happens once, in double, identically everywhere.
  *
  * `bround` (HALF_EVEN) everywhere: pandas/numpy round is banker's
  * rounding (`app.py:231,294-312`), Spark's `round` is HALF_UP — the
  * parity trap flagged in SURVEY §7.
  */
object NumOps {

  private val SumType = "decimal(25,6)"

  /** Round half away from zero, spelled out as IEEE double ops
    * (`sign·floor(|x|·10^s + 0.5)/10^s`) so every engine computes the
    * identical bit pattern. Library-native `round`s disagree exactly at
    * half-way points: Spark `round` consults the decimal string, DuckDB
    * works on scaled doubles — for averages of 2-decimal inputs over
    * round group counts, half-way values are common, not rare.
    */
  def roundAway(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    signum(c) * (floor(abs(c) * p + 0.5) / p)
  }

  /** Driver-side twin of [[roundAway]] for values already collected
    * (observed metrics): the identical IEEE ops, bit-for-bit.
    */
  def roundAwayDouble(x: Double, scale: Int): Double = {
    val p = math.pow(10.0, scale)
    math.signum(x) * (math.floor(math.abs(x) * p + 0.5) / p)
  }

  /** Exact-sum average rounded to `scale`: sum(decimal)→double / count. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    roundAway(sum(c.cast(SumType)).cast("double") / count(c), scale)

  /** [[exactAvg]] for a column whose values all have at most `inScale`
    * decimals (e.g. `bround(_, inScale)` output), summed in a LONG of
    * units of 10^-inScale instead of per-row decimal casts into a
    * `decimal(35,6)` buffer.
    *
    * Bit-identical to `exactAvg(c, scale)` for `inScale` ≤ 6 while every
    * |x| < min(2^32, 2^50 / 10^inScale) and every group's
    * |Σx|·10^inScale < 2^53. Then each value's decimal cast and its
    * `floor(x·10^inScale + 0.5)` both recover its exact unit count k, the
    * long sum K = Σk is the decimal sum's unscaled value, and
    * `K.toDouble / 10^inScale` is the same correctly rounded double the
    * decimal→double cast yields. Values with more decimals are rounded
    * half up to `inScale` first, where `exactAvg` would not round them.
    */
  def fixedScaleAvg(c: Column, inScale: Int, scale: Int = 4): Column = {
    val p = math.pow(10.0, inScale)
    roundAway(sum(floor(c * p + 0.5)).cast("double") / p / count(c), scale)
  }

  /** Exact sum surfaced as a rounded double. */
  def exactSum(c: Column, scale: Int = 2): Column =
    roundAway(sum(c.cast(SumType)).cast("double"), scale)

  /** RBO tail weights quantized to integer nanos: tail(m) =
    * Σ_{d=m..k} (1−p)·p^{d−1}/d, evaluated ascending-d left-to-right.
    * Shared by the q264 engine query and its oracle builder so both
    * sides embed bit-identical literals.
    */
  def rboTailNanos(k: Int, p: Double): Seq[Long] = {
    val coeff = (1 to k).map(d => (1 - p) * math.pow(p, d - 1) / d)
    (1 to k).map(m => math.floor(coeff.drop(m - 1).reduceLeft(_ + _) * 1e9 + 0.5).toLong)
  }
}
