package graft.plans

import java.time.Instant

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** `try_to_timestamp(child, 'yyyy-MM-dd''T''HH:mm:ss.SSS')` with a
  * byte-level fast path for the one shape Socrata emits.
  *
  * `strict` is that built-in expression over the same input, resolved
  * by the analyzer; this expression returns its data type
  * (`spark.sql.timestampType`) and, for every input the fast path does
  * not accept, its value. The fast path ([[SocrataTimestamp.fastMicros]])
  * reads the UTF-8 bytes of a string input and accepts exactly 23 ASCII
  * bytes `dddd-dd-ddTdd:dd:dd.ddd` with month 1–12, a day within the
  * proleptic-Gregorian length of that month, hour ≤ 23, minute ≤ 59 and
  * second ≤ 59 — a subset of what java.time's strict resolver accepts
  * for that pattern — and computes epoch micros by arithmetic, without
  * allocating. Nulls, other shapes (1- or 2-digit fractions, which the
  * strict parser also accepts, `24:00`, `:60`, signs, whitespace,
  * non-ASCII digits) and out-of-range fields all go to `strict`, so the
  * result equals `strict`'s by construction.
  *
  * The fast path runs only when the session zone has a fixed offset and
  * the time-parser policy is not `LEGACY` (whose lenient parser accepts
  * more), and only for string inputs; otherwise every row is `strict`'s.
  * It replaces java.time's `DateTimeFormatter` walk per value inside
  * whole-stage codegen — the same "custom expression over generic
  * machinery" rung as [[VecDot]].
  */
case class SocrataTimestamp(child: Expression, strict: Expression, timeZoneId: Option[String] = None)
    extends Expression
    with TimeZoneAwareExpression {

  override def children: Seq[Expression] = Seq(child, strict)
  override def dataType: DataType = strict.dataType
  override def nullable: Boolean = strict.nullable
  override def foldable: Boolean = strict.foldable
  override def prettyName: String = "socrata_timestamp"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  /** Seconds to subtract from the parsed wall-clock time, when the fast
    * path may answer: 0 for TIMESTAMP_NTZ, the zone's fixed offset for
    * TIMESTAMP (LTZ). Read like the strict parser reads its policy, from
    * the conf in effect where the expression is compiled or evaluated.
    */
  @transient private[graft] lazy val fastOffsetSeconds: Option[Long] = {
    val rules = zoneId.getRules
    if (
      !child.dataType.isInstanceOf[StringType] || !rules.isFixedOffset ||
      SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.LEGACY
    ) None
    else
      dataType match {
        case TimestampNTZType => Some(0L)
        case TimestampType => Some(rules.getOffset(Instant.EPOCH).getTotalSeconds.toLong)
        case _ => None
      }
  }

  override def eval(input: InternalRow): Any = {
    val fast = fastOffsetSeconds match {
      case Some(offset) =>
        val s = child.eval(input)
        if (s == null) SocrataTimestamp.Miss else SocrataTimestamp.fastMicros(s.asInstanceOf[UTF8String], offset)
      case None => SocrataTimestamp.Miss
    }
    if (fast != SocrataTimestamp.Miss) fast else strict.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val strictEv = strict.genCode(ctx)
    fastOffsetSeconds match {
      case None => strictEv
      case Some(offset) =>
        val in = child.genCode(ctx)
        val parser = classOf[SocrataTimestamp].getName
        ev.copy(code = code"""
          |${in.code}
          |boolean ${ev.isNull} = false;
          |long ${ev.value} = ${in.isNull} ? Long.MIN_VALUE : $parser.fastMicros(${in.value}, ${offset}L);
          |if (${ev.value} == Long.MIN_VALUE) {
          |  ${strictEv.code}
          |  ${ev.isNull} = ${strictEv.isNull};
          |  ${ev.value} = ${strictEv.value};
          |}
          |""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SocrataTimestamp =
    copy(child = newChildren(0), strict = newChildren(1))
}

object SocrataTimestamp {

  /** [[fastMicros]]' answer for an input it does not accept; no
    * timestamp of years 0000–9999 is this far from the epoch.
    */
  final val Miss = Long.MinValue

  /** Epoch micros of `yyyy-MM-ddTHH:mm:ss.SSS` read as wall-clock time
    * `offsetSeconds` ahead of UTC, or [[Miss]] unless `s` has exactly
    * that shape with valid calendar fields (see the class doc).
    */
  def fastMicros(s: UTF8String, offsetSeconds: Long): Long =
    if (
      s.numBytes != 23 || s.getByte(4) != '-' || s.getByte(7) != '-' || s.getByte(10) != 'T' ||
      s.getByte(13) != ':' || s.getByte(16) != ':' || s.getByte(19) != '.'
    ) Miss
    else {
      val year = digits(s, 0, 4)
      val month = digits(s, 5, 7)
      val day = digits(s, 8, 10)
      val hour = digits(s, 11, 13)
      val minute = digits(s, 14, 16)
      val second = digits(s, 17, 19)
      val milli = digits(s, 20, 23)
      if (
        year < 0 || month < 1 || month > 12 || day < 1 || day > monthLength(year, month) ||
        hour < 0 || hour > 23 || minute < 0 || minute > 59 || second < 0 || second > 59 || milli < 0
      ) Miss
      else
        (epochDay(year, month, day) * 86400L + hour * 3600 + minute * 60 + second - offsetSeconds) * 1000000L +
          milli * 1000L
    }

  /** The ASCII decimal in bytes [from, to) of `s`, or -1 if any byte is
    * not an ASCII digit.
    */
  private def digits(s: UTF8String, from: Int, to: Int): Int = {
    var v = 0
    var i = from
    while (i < to) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) return -1
      v = v * 10 + d
      i += 1
    }
    v
  }

  private def monthLength(year: Int, month: Int): Int =
    if (month == 2) {
      if ((year % 4 == 0 && year % 100 != 0) || year % 400 == 0) 29 else 28
    } else if (month == 4 || month == 6 || month == 9 || month == 11) 30
    else 31

  /** Days from 1970-01-01 to a proleptic-Gregorian date with year ≥ 0
    * (Hinnant's days_from_civil: years counted from March, 400-year eras).
    */
  private def epochDay(year: Int, month: Int, day: Int): Long = {
    val y = if (month <= 2) year - 1 else year
    val era = (if (y >= 0) y else y - 399) / 400
    val yearOfEra = y - era * 400
    val dayOfYear = (153 * (if (month > 2) month - 3 else month + 9) + 2) / 5 + day - 1
    val dayOfEra = yearOfEra * 365 + yearOfEra / 4 - yearOfEra / 100 + dayOfYear
    era * 146097L + dayOfEra - 719468L
  }
}
