package graft.norm

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, regexp_replace, to_date}

/** X1/X3/X4/X5 edge-case tests, pinned to the reference's exact
  * semantics (main.py:425-462 time conversion, 501-528 coercions,
  * 1239/1295 day-first dates). */
class CoerceSpec extends SparkSpec {

  private def evalTime(inputs: Seq[String]): Seq[java.lang.Double] = {
    import spark.implicits._
    inputs.toDF("s")
      .select(Coerce.timeToMinutes(col("s")).as("m"))
      .collect().map(r => Double.box(r.getDouble(0))).toSeq
  }

  test("timeToMinutes: null tokens -> 0.0 (exact case, main.py:441-444)") {
    assert(evalTime(Seq("-", "", "  ", "nan", "None")) ===
      Seq(0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("timeToMinutes: null input -> 0.0") {
    import spark.implicits._
    val out = Seq[Option[String]](None).toDF("s")
      .select(Coerce.timeToMinutes(col("s"))).head.getDouble(0)
    assert(out === 0.0)
  }

  test("timeToMinutes: H:M and H:M:S (main.py:452-457)") {
    assert(evalTime(Seq("1:30", "01:30:30", "0:05", "10:00:00", "2:-30")) ===
      Seq(90.0, 90.5, 5.0, 600.0, 90.0)) // int() accepts signs
  }

  test("timeToMinutes: non-integer pieces -> 0.0 (int() semantics)") {
    assert(evalTime(Seq("1.5:30", "1:xx", "1:2:3:4", ":30", "1:")) ===
      Seq(0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("timeToMinutes: plain numbers pass through (main.py:460)") {
    assert(evalTime(Seq("90", "  7.5  ", "-3", "0")) ===
      Seq(90.0, 7.5, -3.0, 0.0))
  }

  test("timeToMinutes: tabs/newlines strip like Python strip(), not just spaces") {
    assert(evalTime(Seq("7.5\t", "\t7.5", "7.5\n", " 1:30\t")) ===
      Seq(7.5, 7.5, 7.5, 90.0))
  }

  test("timeToMinutes: garbage -> 0.0, total function never errors") {
    assert(evalTime(Seq("garbage", "NONE", "12abc", "∞")) ===
      Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("lenientInt: truncate-toward-zero, garbage -> 0 (main.py:501-513)") {
    import spark.implicits._
    val out = Seq("42", "  7  ", "3.9", "-5.2", "x9", "", "3000000000")
      .toDF("s").select(Coerce.lenientInt(col("s")).as("i"))
      .collect().map(_.getLong(0)).toSeq
    // int64 like the reference: 3000000000 survives (a 32-bit cast
    // would wrap it to -1294967296)
    assert(out === Seq(42L, 7L, 3L, -5L, 0L, 0L, 3000000000L))
  }

  test("lenientDouble: garbage -> 0.0 (main.py:516-528)") {
    import spark.implicits._
    val out = Seq("42", "3.9", "-5.2", "x9", "", "nan")
      .toDF("s").select(Coerce.lenientDouble(col("s")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(42.0, 3.9, -5.2, 0.0, 0.0, 0.0))
  }

  /** The `to_date` pair the native parse replaced: the oracle. */
  private def dayFirstOracle(c: Column): Column = {
    val s = regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    coalesce(to_date(s, "dd/MM/yyyy"), to_date(s, "d/M/yyyy"))
  }

  private def dayFirstDiff(in: Seq[String]): Seq[(String, String, String)] = {
    import spark.implicits._
    val out = in.toDF("s").select(Coerce.parseDateDayFirst(col("s")).cast("string"),
      dayFirstOracle(col("s")).cast("string")).collect()
    in.zip(out).collect {
      case (s, r) if r.getString(0) != r.getString(1) => (s, r.getString(0), r.getString(1))
    }
  }

  test("parseDateDayFirst == the to_date oracle on every input class") {
    val in = Seq("15/01/2024", "5/1/2024", "15/1/2024", "5/01/2024",
      "005/01/2024", "15/001/2024", "0/1/2024", "00/01/2024", "32/01/2024",
      "15/13/2024", "31/02/2024", "29/02/2023", "29/02/2024", "29/02/2000",
      "29/02/1900", "29/02/0000", "31/04/2024", "30/04/2024", "31/12/9999",
      "15/01/0000", "15/01/0001", "01/01/1970", "31/12/1969", "15/10/1582",
      "4/10/1582", "15/01/24", "15/01/02024", "15/01/10000", "1/1/99999",
      "15/01/+2024", "15/01/-2024", "15/01/+12345", "1/1/+294247",
      "22/12/-290308", "1/2/-290307",
      "15/1/+2024", " 15/01/2024 ", "\t5/1/2024\n", "15/01/2024\u2028",
      "15/01/2024 10:00", "15-01-2024", "2024-01-15", "15/01/2024x",
      "١٥/٠١/٢٠٢٤", "15//2024", "/01/2024", "15/01/", "", "  ", "junk", null)
    val diff = dayFirstDiff(in)
    assert(diff.isEmpty, diff)
  }

  test("parseDateDayFirst: NULL, not a failed query, past the timestamp " +
      "range where to_date throws") {
    import spark.implicits._
    val out = Seq("15/01/+999999999", "15/01/+294248", "1/1/-290309").toDF("s")
      .select(Coerce.parseDateDayFirst(col("s"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("parseDateDayFirst == the to_date oracle on random strings") {
    val r = new scala.util.Random(3)
    val alphabet = "0123456789012345//// +-"
    val diff = dayFirstDiff(Seq.fill(3000)(
      Seq.fill(r.nextInt(13))(alphabet(r.nextInt(alphabet.length))).mkString))
    assert(diff.isEmpty, diff.take(10))
  }

  test("parseDateDayFirst: DD/MM/YYYY and lenient variants; garbage -> null") {
    import spark.implicits._
    val out = Seq("15/01/2024", "5/1/2024", "31/12/1999", "2024-01-15", "junk")
      .toDF("s").select(Coerce.parseDateDayFirst(col("s")).as("d"))
      .collect().map(r => Option(r.getDate(0)).map(_.toString)).toSeq
    assert(out === Seq(Some("2024-01-15"), Some("2024-01-05"),
      Some("1999-12-31"), None, None))
  }
}
