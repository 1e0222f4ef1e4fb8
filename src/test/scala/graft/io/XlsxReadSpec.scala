package graft.io

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

/** S2 xlsx ingestion: JDK-only zip+XML reader (reference
  * main.py:1345-1346 pd.read_excel fallback). */
class XlsxReadSpec extends SparkSpec {

  private def tmp(name: String): String =
    tempDir("xlsx_spec").resolve(name).toString

  private def writeZip(path: String, parts: Seq[(String, String)]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(
      java.nio.file.Paths.get(path)))
    try parts.foreach { case (n, c) =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(c.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("A1-reference column index") {
    assert(XlsxRead.colIndex("A1") === 0)
    assert(XlsxRead.colIndex("Z9") === 25)
    assert(XlsxRead.colIndex("AA10") === 26)
    assert(XlsxRead.colIndex("BC42") === 54)
  }

  test("writeMinimal roundtrip: inline strings, gaps, accents") {
    val p = tmp("rt.xlsx")
    XlsxRead.writeMinimal(p, Seq(
      Seq("ID", "Campaña", "% In"),
      Seq("1", "Café & Niño", null),
      Seq("2", "a<b>c", "97.5")))
    val rows = XlsxRead.readRows(p)
    assert(rows === Seq(
      Seq("ID", "Campaña", "% In"),
      Seq("1", "Café & Niño"), // trailing omitted cell stays absent
      Seq("2", "a<b>c", "97.5")))
  }

  test("shared strings, rich-text runs, numbers, and skipped cells") {
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val p = tmp("ss.xlsx")
    writeZip(p, Seq(
      "xl/sharedStrings.xml" ->
        (s"""<sst xmlns="$ns"><si><t>hello</t></si>""" +
          "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"),
      "xl/worksheets/sheet1.xml" ->
        (s"""<worksheet xmlns="$ns"><sheetData>""" +
          """<row r="1"><c r="A1" t="s"><v>0</v></c>""" +
          """<c r="C1"><v>3.25</v></c></row>""" + // B1 omitted -> null gap
          """<row r="2"><c r="A2" t="s"><v>1</v></c></row>""" +
          "</sheetData></worksheet>")))
    val rows = XlsxRead.readRows(p)
    assert(rows === Seq(Seq("hello", null, "3.25"), Seq("rich")))
  }

  test("readTyped: numeric, double, date, bool, string columns land typed") {
    import org.apache.spark.sql.types._
    val ts = java.sql.Timestamp.from(java.time.LocalDate.of(2024, 3, 15)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
    val p = tmp("typed.xlsx")
    XlsxRead.writeMinimal(p, Seq(
      Seq[Any]("id", "valor", "fecha", "ok", "nombre"),
      Seq[Any](7L, 1.25, ts, java.lang.Boolean.TRUE, "Ana"),
      Seq[Any](8L, 2.5, ts, java.lang.Boolean.FALSE, "Luz")))
    val df = XlsxRead.readTyped(spark, p)
    assert(df.schema.map(_.dataType) ===
      Seq(LongType, DoubleType, TimestampType, BooleanType, StringType))
    val r = df.orderBy("id").collect()
    assert(r(0).getLong(0) === 7L)
    assert(r(0).getDouble(1) === 1.25)
    assert(r(0).getTimestamp(2) === ts)
    assert(r(0).getBoolean(3) === true)
    assert(r(1).getString(4) === "Luz")
  }

  test("readTyped: a mixed-type column degrades to string (object dtype)") {
    import org.apache.spark.sql.types._
    val p = tmp("mixed.xlsx")
    XlsxRead.writeMinimal(p, Seq(
      Seq[Any]("mix"),
      Seq[Any](7L),
      Seq[Any]("texto")))
    val df = XlsxRead.readTyped(spark, p)
    assert(df.schema.head.dataType === StringType)
    assert(df.collect().map(_.getString(0)).toSet === Set("7", "texto"))
  }

  test("custom date format codes: openpyxl-style heuristic") {
    assert(XlsxRead.isDateFormatCode("dd/mm/yyyy"))
    assert(XlsxRead.isDateFormatCode("[$-409]d\\-mmm\\-yy"))
    assert(!XlsxRead.isDateFormatCode("0.00%"))
    // 'd' only inside a quoted literal is NOT a date token
    assert(!XlsxRead.isDateFormatCode("0.0\"dB\""))
  }

  test("driver-parse size guard: over-cap workbook fails with an " +
      "actionable error") {
    val p = tmp("big.xlsx")
    XlsxRead.writeMinimal(p, Seq(Seq("a"), Seq("1")))
    val e = intercept[IllegalArgumentException] {
      XlsxRead.read(spark, p, maxBytes = 10L)
    }
    assert(e.getMessage.contains("driver-parse"))
    assert(e.getMessage.contains("10-byte"))
    assert(e.getMessage.contains("raise the cap"))
    // the same file passes under the default cap
    assert(XlsxRead.readRows(p).length === 2)
  }

  test("read(): header row becomes the schema, data rows padded") {
    val p = tmp("df.xlsx")
    XlsxRead.writeMinimal(p, Seq(
      Seq("ID", "Nombre"),
      Seq("7", "Ana"),
      Seq("8"))) // short row -> padded with null
    val df = XlsxRead.read(spark, p)
    assert(df.columns.toSeq === Seq("ID", "Nombre"))
    val data = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(data.toSeq === Seq(("7", "Ana"), ("8", null)))
  }
}
