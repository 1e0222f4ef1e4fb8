package graft.functions

import java.time.ZoneOffset

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types.{DataType, DateType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native day-first date parse, garbage → NULL (reference
  * main.py:1239/1295, `to_datetime(dayfirst=True)`): the value of
  * `coalesce(to_date(s, 'dd/MM/yyyy'), to_date(s, 'd/M/yyyy'))` over `s`
  * stripped of chars <= U+0020 at both ends, in non-ANSI mode (ANSI
  * mode makes `to_date` throw on garbage; this returns NULL). The one
  * engine implementation of the parse: [[graft.norm.Coerce.parseDateDayFirst]]
  * returns it, and CoerceSpec keeps the `to_date` form as the oracle.
  *
  * Registered as SQL function `parse_date_day_first` via
  * [[GraftFunctions.register]].
  */
case class ParseDateDayFirst(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_date_day_first"

  @transient private lazy val fallback = new DayFirstFallback

  override protected def nullSafeEval(v: Any): Any = {
    val days = DayFirstImpl.parse(v.asInstanceOf[UTF8String], fallback)
    if (days == DayFirstImpl.NoDate) null else days.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fb = ctx.addReferenceObj("dayFirst", fallback)
    val days = ctx.freshName("days")
    nullSafeCodeGen(ctx, ev, s => s"""
      long $days = graft.functions.DayFirstImpl.parse($s, $fb);
      if ($days == Long.MIN_VALUE) ${ev.isNull} = true;
      else ${ev.value} = (int) $days;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseDateDayFirst =
    copy(child = newChild)
}

/** Row-level parse invoked from generated code. The canonical input —
  * `d/M/yyyy` with 1-2 digit day and month, a 4-digit year and a real
  * calendar date — is read from the `UTF8String` bytes: no String, no
  * exception. Every pattern accepts it and maps it to the same date.
  * Anything else goes to [[DayFirstFallback]], Spark's own formatters. */
object DayFirstImpl {

  /** No date: the input parses under neither pattern. */
  final val NoDate = Long.MinValue

  private val Days0000To1970 = 719528L // java.time.LocalDate's constant

  /** Days since 1970-01-01, or [[NoDate]]. */
  def parse(u: UTF8String, fallback: DayFirstFallback): Long = {
    val from = LenientNumImpl.trimStart(u)
    val until = LenientNumImpl.trimEnd(u, from)
    def slashAt(i: Int) = i < until && u.getByte(i) == '/'
    val dayEnd = digitsEnd(u, from, until)
    val monthEnd = digitsEnd(u, dayEnd + 1, until)
    val yearEnd = digitsEnd(u, monthEnd + 1, until)
    if (dayEnd - from >= 1 && dayEnd - from <= 2 && slashAt(dayEnd) &&
        monthEnd - dayEnd >= 2 && monthEnd - dayEnd <= 3 && slashAt(monthEnd) &&
        yearEnd - monthEnd == 5 && yearEnd == until) {
      val d = value(u, from, dayEnd)
      val m = value(u, dayEnd + 1, monthEnd)
      val y = value(u, monthEnd + 1, yearEnd)
      if (valid(y, m, d)) return epochDay(y, m, d)
    }
    fallback.parse(u.toString)
  }

  /** End of the run of ASCII digits starting at `i`. */
  private def digitsEnd(u: UTF8String, i: Int, until: Int): Int = {
    var j = i
    while (j < until && u.getByte(j) >= '0' && u.getByte(j) <= '9') j += 1
    j
  }

  private def value(u: UTF8String, from: Int, until: Int): Int = {
    var v = 0
    var i = from
    while (i < until) { v = v * 10 + (u.getByte(i) - '0'); i += 1 }
    v
  }

  private def leap(y: Int): Boolean = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)

  private def valid(y: Int, m: Int, d: Int): Boolean =
    m >= 1 && m <= 12 && d >= 1 && d <= (m match {
      case 2 => if (leap(y)) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    })

  /** `LocalDate.of(y, m, d).toEpochDay` for a valid date with y >= 0. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    total += (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap(y)) 1 else 2)
    total - Days0000To1970
  }
}

/** The exact parse for every non-canonical input: what `to_date(s, fmt)`
  * runs, for each of the two patterns — Spark's own timestamp parser
  * (the session's time-parser policy, `SimpleDateFormat` as the legacy
  * form), then the date of the parsed midnight — over the input
  * stripped as the combinator stripped it. UTC: a pattern without time
  * fields parses to the same date in every zone. A parse error is "no
  * date", as in non-ANSI `to_date`; so is a date past the timestamp
  * range (years beyond ±290308), on which `to_date` fails the query.
  * Any other error (the EXCEPTION policy's upgrade error) surfaces. */
final class DayFirstFallback extends Serializable {
  private val formatters = Seq("dd/MM/yyyy", "d/M/yyyy").map(p =>
    TimestampFormatter(p, ZoneOffset.UTC, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = true))
  private val MicrosPerDay = 86400L * 1000 * 1000

  def parse(raw: String): Long = {
    val s = raw.replaceAll("^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    formatters.iterator.map { f =>
      try Math.floorDiv(f.parse(s), MicrosPerDay)
      catch {
        case _: java.time.DateTimeException | _: java.text.ParseException |
            _: ArithmeticException => DayFirstImpl.NoDate
      }
    }.find(_ != DayFirstImpl.NoDate).getOrElse(DayFirstImpl.NoDate)
  }
}
