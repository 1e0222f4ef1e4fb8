package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst forms of [[graft.norm.Coerce.lenientDouble]] /
  * [[graft.norm.Coerce.lenientInt]] (reference main.py:501-528) —
  * one branch-free static Java call per row instead of the
  * combinator's ~4-regexp `when`-tree. Semantics are IDENTICAL
  * (asserted input-class-by-input-class in LenientNumSpec); never
  * null, never throws — garbage maps to the 0 default.
  *
  * Why they exist: the wide conform pipelines (q37: 22 columns, q38:
  * 32 columns) coerce every column in ONE whole-stage-codegen stage.
  * With the regexp combinators that stage carries 4-10 compiled
  * matchers PER COLUMN (~250 for q38), which blows Janino's 64 KB
  * method limit in `sort_addToSorter_0` and silently drops the whole
  * stage to interpreted execution — at 100 TB that is the entire
  * conform pass running de-vectorized. The native calls keep the
  * generated method a few lines per column.
  */
case class LenientDouble(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "lenient_double"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0.0
    else LenientNumImpl.toDouble(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        double ${ev.value} = ${childGen.isNull} ? 0.0 :
          graft.functions.LenientNumImpl.toDouble(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LenientDouble =
    copy(child = newChild)
}

case class LenientLong(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lenient_long"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else LenientNumImpl.toLong(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = ${childGen.isNull} ? 0L :
          graft.functions.LenientNumImpl.toLong(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LenientLong =
    copy(child = newChild)
}

/** Row-level implementation invoked from generated code. The grammar
  * constants are THE [[graft.norm.Coerce.NumRe]]/InfRe patterns —
  * shared with the Column combinators and the DuckDB oracle SQL, so
  * the three surfaces cannot drift.
  *
  * The canonical inputs — `[+-]digits[.digits]` with a mantissa below
  * 10^15 — take a byte-level fast path on the `UTF8String` ([[plainDecimal]]):
  * no String, no regex, no exception. Every other input goes through
  * the exact regex path ([[parse]]); both give the same double. */
object LenientNumImpl {
  private val NumPattern =
    java.util.regex.Pattern.compile(graft.norm.Coerce.NumRe)
  private val InfPattern =
    java.util.regex.Pattern.compile(graft.norm.Coerce.InfRe)

  private val MaxMantissa = 1000000000000000L // 10^15 < 2^53
  private val Pow10 = Iterator.iterate(1.0)(_ * 10).take(23).toArray // exact to 10^22

  /** First byte of `u` past leading chars <= U+0020 (Java `String.trim`'s
    * set; in UTF-8 those are single bytes, never part of a longer char). */
  private[functions] def trimStart(u: UTF8String): Int = {
    val n = u.numBytes
    var i = 0
    while (i < n && (u.getByte(i) & 0xFF) <= 0x20) i += 1
    i
  }

  /** End (exclusive) of `u` before trailing chars <= U+0020, not before `from`. */
  private[functions] def trimEnd(u: UTF8String, from: Int): Int = {
    var j = u.numBytes
    while (j > from && (u.getByte(j - 1) & 0xFF) <= 0x20) j -= 1
    j
  }

  /** Bytes `[from, until)` of `u` as `[+-]digits[.digits]` (a digit on
    * at least one side of the point) whose digits, leading zeros
    * dropped, make a mantissa below 10^15 with at most 22 of them after
    * the point; NaN for any other input. The mantissa and 10^k are then
    * exact doubles, so their one correctly rounded quotient is the
    * double nearest the decimal — what `Double.parseDouble` returns. */
  private[functions] def plainDecimal(u: UTF8String, from: Int, until: Int): Double = {
    var i = from
    val negative = i < until && u.getByte(i) == '-'
    if (i < until && (negative || u.getByte(i) == '+')) i += 1
    var mantissa = 0L
    var digits = 0
    var scale = -1 // digits after the point; -1 before it
    while (i < until) {
      val b = u.getByte(i)
      if (b >= '0' && b <= '9') {
        mantissa = mantissa * 10 + (b - '0')
        if (mantissa >= MaxMantissa) return Double.NaN
        digits += 1
        if (scale >= 0) scale += 1
      } else if (b == '.' && scale < 0) scale = 0
      else return Double.NaN
      i += 1
    }
    if (digits == 0 || scale >= Pow10.length) return Double.NaN
    val v = if (scale > 0) mantissa / Pow10(scale) else mantissa.toDouble
    if (negative) -v else v
  }

  /** Python-`float()`-compatible parse of an ALREADY-TRIMMED string;
    * null tokens and garbage → 0.0 (main.py:516-528). Shared by
    * [[toDouble]] and [[TimeToMinutesImpl.convert]]'s plain-number
    * branch. */
  private[functions] def parse(s: String): Double = {
    // null tokens, exact case (main.py:441-444)
    if (s.isEmpty || s == "-" || s == "nan" || s == "None") 0.0
    else if (InfPattern.matcher(s).matches()) {
      if (s.charAt(0) == '-') Double.NegativeInfinity
      else Double.PositiveInfinity
    } else if (NumPattern.matcher(s).matches()) {
      try s.replace("_", "").toDouble
      catch { case _: NumberFormatException => 0.0 }
    } else 0.0
  }

  def toDouble(u: UTF8String): Double = {
    val from = trimStart(u)
    val fast = plainDecimal(u, from, trimEnd(u, from))
    if (!java.lang.Double.isNaN(fast)) fast else parse(u.toString.trim)
  }

  /** main.py:501-513: parse as double, truncate toward zero; pandas
    * `astype(int)` raises on non-finite → default 0, like the
    * combinator ([[graft.norm.Coerce.lenientInt]]). `.toLong` clamps
    * out-of-range doubles exactly like Spark's non-ANSI double→long
    * cast (both are Java `(long)` conversion semantics). */
  def toLong(u: UTF8String): Long = {
    val d = toDouble(u)
    if (java.lang.Double.isInfinite(d)) 0L else d.toLong
  }
}
