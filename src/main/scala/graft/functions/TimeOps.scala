package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Timestamp parsing, timedelta and calendar-part derivation — the
  * scalar-function surface of the reference (`app.py:275-346`).
  *
  * All of these are built-in Catalyst expressions (whole-stage
  * codegen'd); no UDFs, so the hot path at 100 TB stays inside codegen.
  */
object TimeOps {

  /** Socrata emits `2021-08-19T22:33:44.000` (millis). The reference
    * parses with `%Y-%m-%dT%H:%M:%S.%f` (`app.py:281`); `try_to_timestamp`
    * returns NULL on mismatch (even under ANSI mode) — the exact
    * analogue of pandas NaT propagation.
    */
  val SocrataFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS"

  def parseTimestamp(c: Column, fmt: String = SocrataFormat): Column =
    try_to_timestamp(c, lit(fmt))

  /** Parse every column whose name contains "time" — the reference
    * selects parse targets dynamically by name (`app.py:275-282`).
    */
  def parseTimeColumns(df: DataFrame, fmt: String = SocrataFormat): DataFrame = {
    val targets = df.columns.filter(_.toLowerCase.contains("time"))
    targets.foldLeft(df)((d, c) => d.withColumn(c, parseTimestamp(col(c), fmt)))
  }

  /** Decimal places the response-time deltas are rounded to: every
    * [[timedeltaMinutes]] value is a multiple of 10^-DeltaScale.
    */
  val DeltaScale = 2

  /** (t2 - t1) in minutes, rounded to [[DeltaScale]] decimals with HALF_EVEN
    * (`bround`) — pandas/numpy `round` is banker's rounding
    * (`app.py:290-312`); Spark's `round` is HALF_UP, a real parity trap
    * (SURVEY §7). Cast to double *before* subtraction keeps sub-second
    * precision, matching `.dt.total_seconds()`.
    */
  def timedeltaMinutes(t2: Column, t1: Column): Column = {
    // NTZ parquet timestamps can't cast to double directly; go through
    // timestamp_ltz (no-op shift under the engine's fixed UTC session tz).
    def secs(c: Column) = c.cast("timestamp_ltz").cast("double")
    bround((secs(t2) - secs(t1)) / 60.0, DeltaScale)
  }

  /** Cast-with-coerce: pandas `to_numeric(errors='coerce')`
    * (`app.py:284-286`) — NULL on unparseable, even under ANSI mode.
    */
  def tryCast(c: Column, to: String): Column = c.try_cast(to)

  /** Derive the four calendar parts the reference extracts with
    * per-partition `apply(lambda y: y.year)` loops (`app.py:320-346`) —
    * here single codegen'd expressions.
    */
  def withDateParts(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(s"${tsCol}_year", year(col(tsCol)))
      .withColumn(s"${tsCol}_month", month(col(tsCol)))
      .withColumn(s"${tsCol}_day", dayofmonth(col(tsCol)))
      .withColumn(s"${tsCol}_hour", hour(col(tsCol)))
}
