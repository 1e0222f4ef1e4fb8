package graft.norm

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Lenient, never-failing value coercions (`Column => Column`).
  *
  * These re-express the reference's scalar-function surface
  * (reference main.py:425-528) as Catalyst expression trees built
  * only from `org.apache.spark.sql.functions` — fully
  * whole-stage-codegen'd, no UDFs, so at 100 TB they run inside the
  * scan/project stage at vectorized-reader speed. The day-first date
  * parse is the exception: it is the native `parse_date_day_first`.
  *
  * NOTE: all of these assume non-ANSI cast semantics
  * (`spark.sql.ansi.enabled=false`): a failed string→number cast
  * yields NULL, which we then default. Sessions built via
  * [[graft.queries.Tables.prep]] pin this.
  */
object Coerce {

  /** Null-ish sentinel tokens, compared EXACTLY (case-sensitive) after
    * trim, matching the reference (main.py:441-444: `-`, ``, `nan`,
    * `None`). Other casings (`NONE`, `NaN`) fall through to the
    * numeric branch, where the failed cast yields 0.0 anyway — same
    * observable result for every input except literal `'NaN'`-style
    * floats, which the reference returns as NaN and we map to 0.0
    * (documented deviation: NaN is never a useful duration). */
  private val NullTokens: Seq[Any] = Seq("-", "", "nan", "None")

  /** The ENGINE-COMMON numeric grammar guarding every plain-number
    * branch: exactly what the reference's Python `float()`
    * (main.py:459) and the DuckDB oracle's `try_cast` BOTH accept
    * (verified case-by-case against both) —
    *   - decimal/scientific notation, with PEP-515 underscore groups
    *     between digits (`'1_000'` → 1000.0 in both engines);
    *   - infinity literals, any case, optional sign ([[InfRe]]).
    * Spark's non-ANSI cast alone would add Java-only forms — `'1d'`,
    * `'1f'`, hex floats like `'0x1p3'` — that Python and DuckDB
    * reject, and would MISS `'inf'`/underscores that they accept; the
    * guard + [[numParse]]'s explicit handling pin Spark to the common
    * subset. `'nan'` stays excluded: the reference would propagate
    * NaN, we coerce to the default (documented deviation — NaN
    * poisons digests). Python's `int('1_0')` underscore acceptance in
    * `H:M:S` PIECES is deliberately not mirrored (pieces stay
    * digits-only in both the engine and the oracle). Digits are ASCII
    * `[0-9]` only, in numbers and pieces, in every form (combinator,
    * native, oracle SQL): Python's `float()`/`int()` also take other
    * Unicode decimal digits (`'١:٣٠'` → 90.0 in the reference), which
    * the engine maps to 0.0 — documented deviation. */
  private val D = "[0-9]+(_[0-9]+)*"
  private[graft] val NumRe = s"^[+-]?($D\\.?($D)?|\\.$D)([eE][+-]?$D)?$$"
  private[graft] val InfRe = "^[+-]?[iI][nN][fF]([iI][nN][iI][tT][yY])?$"

  /** The same two grammars, anchor-free, for DuckDB
    * `regexp_full_match` in the oracle SQL — generated from ONE
    * definition so the engine and the oracle cannot drift. */
  private[graft] val NumReSql = NumRe.stripPrefix("^").stripSuffix("$")
  private[graft] val InfReSql = InfRe.stripPrefix("^").stripSuffix("$")

  /** Parse under the engine-common grammar; NULL when unparseable.
    * Infinity literals are mapped explicitly (Spark's cast cannot
    * parse 'inf') and underscores are stripped before the cast. */
  private def numParse(s: Column): Column =
    when(s.rlike(InfRe),
      when(s.startsWith("-"), lit(Double.NegativeInfinity))
        .otherwise(lit(Double.PositiveInfinity)))
      .when(s.rlike(NumRe), regexp_replace(s, "_", "").cast("double"))

  /** Strip ALL leading/trailing whitespace/control chars (<= U+0020),
    * not just spaces: Spark's `trim()` removes only ' ', but the
    * reference's Python `strip()` and the native expression's Java
    * `String.trim` both strip tabs/newlines too — `'7.5\t'` must
    * coerce to 7.5 in every implementation, and a trailing `'\n'`
    * must not sneak past NumRe via Java regex's before-final-newline
    * `$` match. */
  private def wsTrim(c: Column): Column =
    regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")

  /** A `H`/`M`/`S` piece is valid iff it parses as a Python `int()`
    * does in the reference (main.py:452-457: `map(int, parts)`) —
    * optional sign, digits only, surrounding whitespace tolerated.
    * `'1.5'` is NOT a valid piece (reference raises → 0.0). */
  private def intPiece(parts: Column, i: Int): Column = {
    val p = wsTrim(element_at(parts, i))
    when(p.rlike("^[+-]?[0-9]+$"), p.cast("double"))
  }

  /** `HH:MM:SS` / `HH:MM` / plain-number string → decimal minutes.
    * Total function, never errors (reference main.py:425-462):
    *   - NULL / `-` / `''` / `nan` / `None`  → 0.0
    *   - `H:M:S` (integer pieces)            → H*60 + M + S/60
    *   - `H:M` (integer pieces)              → H*60 + M
    *   - plain number                        → its double value
    *   - anything unparseable (any piece)    → 0.0
    */
  def timeToMinutes(c: Column): Column = {
    val s = wsTrim(c.cast("string"))
    val parts = split(s, ":")
    val p1 = intPiece(parts, 1)
    val p2 = intPiece(parts, 2)
    val p3 = intPiece(parts, 3)
    val plain = numParse(s)
    when(c.isNull || s.isin(NullTokens: _*), lit(0.0))
      .when(
        s.contains(":"),
        when(size(parts) === 3,
          when(p1.isNull || p2.isNull || p3.isNull, lit(0.0))
            .otherwise(p1 * 60 + p2 + p3 / 60))
          .when(size(parts) === 2,
            when(p1.isNull || p2.isNull, lit(0.0)).otherwise(p1 * 60 + p2))
          .otherwise(lit(0.0)))
      .otherwise(
        when(plain.isNull, lit(0.0)).otherwise(plain))
  }

  /** Lenient double: garbage/NULL/NaN → 0.0; infinity literals →
    * ±Infinity, like Python float()
    * (reference main.py:516-528, `to_numeric(errors='coerce').fillna(0.0)`). */
  def lenientDouble(c: Column): Column = {
    val s = wsTrim(c.cast("string"))
    val d = numParse(s)
    when(d.isNull, lit(0.0)).otherwise(d)
  }

  /** Lenient int: parse as double then truncate toward zero, garbage → 0
    * (reference main.py:501-513, `.fillna(0).astype(int)` truncates).
    * Non-finite values also → 0: pandas `astype(int)` RAISES on them
    * ("cannot convert non-finite values"), so like every other
    * unconvertible input they coerce to the default (DuckDB's
    * bigint try_cast of infinity is NULL — same family). Returns
    * LONG — the reference's `int` is int64; a 32-bit cast would
    * silently WRAP values beyond ±2^31 (e.g. '3000000000' →
    * -1294967296) where both the reference and the DuckDB oracle keep
    * the value. Callers conforming to an INT-typed target schema cast
    * down explicitly there, where the DDL makes the range contract
    * visible. */
  def lenientInt(c: Column): Column = {
    val d = lenientDouble(c)
    when(d === lit(Double.PositiveInfinity) ||
      d === lit(Double.NegativeInfinity), lit(0L))
      .otherwise(d.cast("long"))
  }

  /** Day-first date parse, garbage → NULL (then droppable)
    * (reference main.py:1239/1295, `to_datetime(dayfirst=True)`):
    * `dd/MM/yyyy`, else `d/M/yyyy`, after [[wsTrim]]. The native
    * `parse_date_day_first` ([[graft.functions.ParseDateDayFirst]]) is
    * the one implementation — the `to_date` pair it replaced threw a
    * java.time exception before every `d/M/yyyy` parse, and stays in
    * CoerceSpec as its oracle. Registers the function in the active
    * session. */
  def parseDateDayFirst(c: Column): Column = {
    graft.functions.GraftFunctions.register(SparkSession.active)
    call_function("parse_date_day_first", c.cast("string"))
  }

  // Native codegen'd forms of the other coercions exist as registered
  // SQL functions — `time_to_minutes`, `lenient_double`, `lenient_long`
  // ([[graft.functions.GraftFunctions.register]]) — with IDENTICAL
  // semantics (parity-asserted input-class-by-input-class and on random
  // strings in TimeToMinutesSpec / LenientNumSpec) but one static Java
  // call per row, reading the canonical forms straight from the string's
  // bytes, instead of a multi-regexp `when`-tree. The conform chains
  // ([[graft.conform.Pipeline]]) use those, all in one projection:
  // coercing 22-32 columns with the regexp combinators puts ~100-250
  // compiled matchers into ONE whole-stage-codegen method, which blows
  // Janino's 64 KB method limit and silently drops the entire conform
  // stage to interpreted execution.
}
