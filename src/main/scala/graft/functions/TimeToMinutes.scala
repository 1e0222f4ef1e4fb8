package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's
  * `convertir_tiempo_a_minutos` (main.py:425-462) — the optional
  * codegen'd form of [[graft.norm.Coerce.timeToMinutes]] (SURVEY
  * §7.3). One branch-free Java call per row instead of the ~15-node
  * `when`-tree: smaller generated code, single string scan, no regex.
  * Semantics are IDENTICAL to the Column combinator (asserted in
  * TimeToMinutesSpec over every input class); never null, never
  * throws — errors map to 0.0.
  *
  * Registered as SQL function `time_to_minutes` via
  * [[GraftFunctions.register]].
  */
case class TimeToMinutes(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  // Analysis-time contract: a non-string argument is implicitly CAST
  // to string (a bare UnaryExpression would instead crash at runtime
  // with a UTF8String ClassCastException in the interpreted path).
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.StringType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "time_to_minutes"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0.0
    else TimeToMinutesImpl.convert(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        double ${ev.value} = ${childGen.isNull} ? 0.0 :
          graft.functions.TimeToMinutesImpl.convert(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TimeToMinutes =
    copy(child = newChild)
}

/** Row-level implementation invoked from generated code (static call
  * inside the whole-stage-codegen loop — no virtual dispatch, no
  * boxing). Total function, mirrors main.py:425-462 exactly.
  *
  * The canonical inputs — `H:M[:S]` with 1-15 unsigned ASCII digits per
  * piece, or a plain [[LenientNumImpl.plainDecimal]] number — are read
  * straight from the `UTF8String` bytes: no String, no split, no boxing.
  * Every other input takes the exact String path ([[parseText]]). */
object TimeToMinutesImpl {

  def convert(u: UTF8String): Double = {
    val from = LenientNumImpl.trimStart(u)
    val until = LenientNumImpl.trimEnd(u, from)
    var fast = clockMinutes(u, from, until)
    if (java.lang.Double.isNaN(fast)) fast = LenientNumImpl.plainDecimal(u, from, until)
    if (!java.lang.Double.isNaN(fast)) fast else parseText(u.toString.trim)
  }

  /** Bytes `[from, until)` as `H:M` or `H:M:S`, each piece 1-15 ASCII
    * digits (below 2^53, so exact as a double); NaN for any other input.
    * Same arithmetic, in the same order, as [[parseText]]. */
  private def clockMinutes(u: UTF8String, from: Int, until: Int): Double = {
    var h = 0L; var m = 0L; var cur = 0L
    var pieces = 0; var digits = 0
    var i = from
    while (i < until) {
      val b = u.getByte(i)
      if (b >= '0' && b <= '9') {
        if (digits == 15) return Double.NaN
        cur = cur * 10 + (b - '0'); digits += 1
      } else if (b == ':' && digits > 0 && pieces < 2) {
        if (pieces == 0) h = cur else m = cur
        pieces += 1; cur = 0L; digits = 0
      } else return Double.NaN
      i += 1
    }
    if (digits == 0 || pieces == 0) Double.NaN
    else if (pieces == 1) h.toDouble * 60 + cur.toDouble
    else h.toDouble * 60 + m.toDouble + cur.toDouble / 60
  }

  /** The whole grammar over an already-trimmed String. */
  private def parseText(s: String): Double = {
    // null tokens, exact case (main.py:441-444)
    if (s.isEmpty || s == "-" || s == "nan" || s == "None") return 0.0
    val colon = s.indexOf(':')
    if (colon >= 0) {
      val parts = s.split(":", -1)
      if (parts.length == 3) {
        val h = parseIntPiece(parts(0)); val m = parseIntPiece(parts(1))
        val sec = parseIntPiece(parts(2))
        if (h.isNaN || m.isNaN || sec.isNaN) 0.0
        else h * 60 + m + sec / 60
      } else if (parts.length == 2) {
        val h = parseIntPiece(parts(0)); val m = parseIntPiece(parts(1))
        if (h.isNaN || m.isNaN) 0.0
        else h * 60 + m
      } else 0.0
      // plain-number branch: the engine-common numeric grammar —
      // [[LenientNumImpl.parse]] compiles THE Coerce.NumRe/InfRe
      // constants, so the combinator, this expression, and the
      // lenient casts cannot drift.
    } else LenientNumImpl.parse(s)
  }

  /** Python int() semantics: optional sign, digits only, surrounding
    * whitespace OK (main.py:452-457). NaN on garbage. Digits are ASCII
    * only, the grammar of the combinator's `^[+-]?[0-9]+$`, and the
    * value is the double the combinator's cast gives, at any length. */
  private def parseIntPiece(raw: String): Double = {
    val p = raw.trim
    var i = if (p.nonEmpty && (p.charAt(0) == '+' || p.charAt(0) == '-')) 1 else 0
    if (i >= p.length) return Double.NaN
    while (i < p.length) {
      val c = p.charAt(i)
      if (c < '0' || c > '9') return Double.NaN
      i += 1
    }
    java.lang.Double.parseDouble(p)
  }
}

/** Session-level registration of graft's native SQL functions.
  * Registration is guarded (register-once) so repeated `prep` calls
  * don't spam replace-function warnings. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def ensure(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    ensure("time_to_minutes", exprs => TimeToMinutes(exprs.head))
    ensure("lenient_double", exprs => LenientDouble(exprs.head))
    ensure("lenient_long", exprs => LenientLong(exprs.head))
    ensure("parse_date_day_first", exprs => ParseDateDayFirst(exprs.head))
    ensure("array_dot", exprs => ArrayDot(exprs(0), exprs(1)))
    ensure("sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)))
    ensure("sorted_intersect_min",
      exprs => SortedIntersectMin(exprs(0), exprs(1)))
    ensure("bit_majority", exprs => BitMajority(exprs.head))
    ensure("rolling_min_hash", exprs => RollingMinHash(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
  }
}
