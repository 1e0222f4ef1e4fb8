package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unified arrival-file reader — the reference's read dispatch
  * (main.py:1334-1349): every drop is first attempted as CSV (charset
  * fallback + separator sniffing, [[CsvProbe]]); when the bytes cannot
  * be CSV under any charset, the `.xls`/`.xlsx` extension routes the
  * file to the spreadsheet reader ([[XlsxRead]]), and anything else is
  * the reference's "No se pudo leer" error.
  *
  * The CSV-failure signal needs care: pandas raises on all three
  * encodings and falls through; latin-1 maps EVERY byte, so a decode
  * failure alone can never be the signal here (nor is it for pandas —
  * its python engine chokes on the NUL bytes of a zip, not on the
  * decode). The engine's analogue is [[looksBinary]]: a head carrying
  * a known container magic (zip = xlsx, OLE = legacy BIFF .xls) or
  * NUL bytes is not CSV text under any charset. A TEXT file with a
  * spreadsheet extension (mis-labeled export) therefore still reads
  * as CSV — exactly what `pd.read_csv` does with it.
  */
object ArrivalRead {

  private val ZipMagic = Array[Byte]('P', 'K', 0x03, 0x04)
  private val BiffMagic =
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)

  /** True when the file head can never be CSV text: zip / OLE magic or
    * NUL bytes in its first 4 KB. */
  private def looksBinary(head: Array[Byte]): Boolean =
    head.startsWith(ZipMagic) || head.startsWith(BiffMagic) ||
      head.iterator.take(4096).contains(0.toByte)

  /** Try CSV, fall back to xlsx; error out otherwise. Binary content
    * dispatches on the DETECTED container magic before the claimed
    * extension: a legacy BIFF workbook renamed `.xlsx` (a common
    * mislabeled export) gets the actionable re-export error, not a
    * raw ZipException from the xlsx reader. The CSV branch surfaces
    * all-string columns; the xlsx branch goes through
    * [[XlsxRead.readTyped]] (the `pd.read_excel` shape — numeric /
    * date / boolean cells arrive TYPED). The downstream conform
    * pipeline is identical either way: its casts are no-ops on
    * already-typed columns and do the coercion work on strings. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    // one head read serves the binary sniff, the CSV probe and the header
    val head = CsvProbe.readHead(path)
    if (!looksBinary(head)) CsvProbe.read(spark, path, head)
    else if (head.startsWith(BiffMagic))
      throw new IllegalArgumentException(
        s"'$path' is a legacy binary .xls (BIFF/OLE) workbook; re-export " +
          "it as .xlsx — the xlsx fallback reads only zip-based workbooks " +
          "(openpyxl, the reference's engine, has the same limit)")
    else if (head.startsWith(ZipMagic) &&
        (lower.endsWith(".xlsx") || lower.endsWith(".xls")))
      XlsxRead.readTyped(spark, path)
    else throw new IllegalArgumentException(
      s"could not read '$path': binary content and the extension is not " +
        ".xls/.xlsx (reference main.py:1347-1349, 'No se pudo leer')")
  }
}
