package graft.functions

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.plans.SocrataTimestamp

/** Timestamp parsing, timedelta and calendar-part derivation — the
  * scalar-function surface of the reference (`app.py:275-346`).
  *
  * No UDFs: everything here compiles into whole-stage codegen. The
  * timedelta and calendar parts are built-in Catalyst expressions; the
  * default-format parse is the custom [[SocrataTimestamp]] expression,
  * a byte-level fast path in front of the built-in `try_to_timestamp`
  * (see [[parseTimestamp]]). Each derive stage is one projection.
  */
object TimeOps {

  /** Socrata emits `2021-08-19T22:33:44.000` (millis). The reference
    * parses with `%Y-%m-%dT%H:%M:%S.%f` (`app.py:281`); `try_to_timestamp`
    * returns NULL on mismatch (even under ANSI mode) — the exact
    * analogue of pandas NaT propagation.
    */
  val SocrataFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS"

  /** `try_to_timestamp(c, fmt)`: its value and its type
    * (`spark.sql.timestampType`) for every input.
    *
    * With the default [[SocrataFormat]] it runs as [[SocrataTimestamp]]:
    * a string of exactly 23 ASCII bytes `dddd-dd-ddTdd:dd:dd.ddd` with
    * month 1–12, a day within that month's proleptic-Gregorian length,
    * hour ≤ 23, minute ≤ 59 and second ≤ 59 is converted by arithmetic,
    * when the session zone has a fixed offset (the engine's sessions use
    * UTC) and `spark.sql.legacy.timeParserPolicy` is not `LEGACY`. Every
    * other input — null, another shape (the strict parser also accepts
    * 1- and 2-digit fractions), an out-of-range field — and every row
    * under another zone or policy is answered by `try_to_timestamp`
    * itself.
    */
  def parseTimestamp(c: Column, fmt: String = SocrataFormat): Column = {
    val strict = try_to_timestamp(c, lit(fmt))
    if (fmt != SocrataFormat) strict
    else bridge.column(SocrataTimestamp(bridge.expression(c), bridge.expression(strict)))
  }

  /** Parse every column whose name contains "time" — the reference
    * selects parse targets dynamically by name (`app.py:275-282`).
    */
  def parseTimeColumns(df: DataFrame, fmt: String = SocrataFormat): DataFrame = {
    val targets = df.columns.filter(_.toLowerCase.contains("time"))
    df.withColumns(ListMap(targets.toSeq.map(c => c -> parseTimestamp(col(c), fmt)): _*))
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
  def withDateParts(df: DataFrame, tsCol: String): DataFrame = {
    val ts = col(tsCol)
    df.withColumns(
      ListMap(
        s"${tsCol}_year" -> year(ts),
        s"${tsCol}_month" -> month(ts),
        s"${tsCol}_day" -> dayofmonth(ts),
        s"${tsCol}_hour" -> hour(ts)
      )
    )
  }
}
