package graft.io

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** Messy-CSV ingestion: charset fallback + delimiter sniffing.
  *
  * Re-expresses the reference's read path (S1, reference
  * main.py:1337-1342): pandas tries utf-8 → latin-1 → cp1252 and
  * sniffs the separator (`sep=None, engine='python'`). Spark's CSV
  * reader takes one fixed charset/sep, so we decide both driver-side,
  * then launch the distributed `spark.read` with the detected options:
  *
  *   - separator: sniffed from the file head — O(1) in file size;
  *   - charset: UTF-8 when the WHOLE file is well-formed UTF-8 (a
  *     streaming byte check: O(n) sequential read, O(1) memory), else
  *     latin-1. A head-only probe would silently corrupt a latin-1
  *     file whose first non-ASCII byte sits past the window (UTF-8
  *     "passes" on the head, then the bad byte decodes to U+FFFD
  *     mid-file); the reference decodes the whole file too, so the
  *     cost is the same work pandas does.
  *
  * latin-1 maps every byte, so it never fails and needs no pass of
  * its own; cp1252, after it in the reference's chain, is unreachable
  * there too (pandas' latin-1 attempt never raises either).
  *
  * The same head gives the header: [[read]] hands Spark the all-string
  * schema its header inference would build, so no job runs to read
  * the first line of the file.
  */
object CsvProbe {

  private val CandidateSeps = Seq(',', ';', '\t', '|')
  private val HeadBytes = 65536

  /** The first `n` bytes of the file (fewer when it is shorter). */
  private[io] def readHead(path: String, n: Int = HeadBytes): Array[Byte] = {
    val in = Files.newInputStream(Paths.get(path))
    try in.readNBytes(n) finally in.close()
  }

  /** Detect (charset, separator): charset by streaming full-file
    * UTF-8 validation, separator from the first `probeBytes` only. */
  def probe(path: String, probeBytes: Int = HeadBytes): (Charset, Char) =
    probe(path, readHead(path, probeBytes), probeBytes)

  private def probe(path: String, head: Array[Byte],
      probeBytes: Int): (Charset, Char) = {
    val in = Files.newInputStream(Paths.get(path))
    val cs =
      try if (isUtf8(in)) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1
      finally in.close()
    val text = new String(completeLines(head, probeBytes).getOrElse(head), cs)
    val firstLine = text.linesIterator.nextOption().getOrElse("")
    val sep = CandidateSeps.maxBy(s => countOutsideQuotes(firstLine, s))
    (cs, sep)
  }

  /** The head cut back to its last complete line: a read of `limit`
    * bytes may end inside a line or a multibyte character. None when
    * the head was cut and holds no line break. */
  private def completeLines(head: Array[Byte],
      limit: Int): Option[Array[Byte]] =
    if (head.length < limit) Some(head) // whole file fit: nothing was split
    else {
      val lastNl = head.lastIndexWhere(_ == '\n'.toByte)
      if (lastNl > 0) Some(java.util.Arrays.copyOf(head, lastNl)) else None
    }

  /** True iff the stream is well-formed UTF-8 — Unicode Table 3-7, the
    * acceptance of the JDK decoder with `CodingErrorAction.REPORT`: no
    * overlong forms (C0, C1, E0 80-9F, F0 80-8F), no surrogates
    * (ED A0-BF), nothing above U+10FFFF (F4 90-BF, F5-FF), no stray
    * continuation byte and no sequence cut off by the end. Checked on
    * the bytes with a 64 KB rolling buffer: no chars are decoded,
    * memory stays O(1) at any file size, a sequence split across reads
    * carries its state over, and runs of ASCII are skipped 8 bytes at
    * a time. */
  private[io] def isUtf8(in: java.io.InputStream): Boolean = {
    val buf = new Array[Byte](HeadBytes)
    var need = 0 // continuation bytes still expected
    var lo = 0x80; var hi = 0xBF // range of the next continuation byte
    var n = in.read(buf)
    while (n > 0) {
      var i = 0
      while (i < n) {
        if (need == 0) {
          while (i + 8 <= n && (Platform.getLong(buf, Platform.BYTE_ARRAY_OFFSET + i) &
              0x8080808080808080L) == 0) i += 8
          if (i < n) {
            val b = buf(i) & 0xFF
            lo = 0x80; hi = 0xBF
            if (b < 0x80) need = 0
            else if (b >= 0xC2 && b <= 0xDF) need = 1
            else if (b == 0xE0) { need = 2; lo = 0xA0 }
            else if (b == 0xED) { need = 2; hi = 0x9F }
            else if (b >= 0xE1 && b <= 0xEF) need = 2
            else if (b == 0xF0) { need = 3; lo = 0x90 }
            else if (b >= 0xF1 && b <= 0xF3) need = 3
            else if (b == 0xF4) { need = 3; hi = 0x8F }
            else return false
            i += 1
          }
        } else {
          val b = buf(i) & 0xFF
          if (b < lo || b > hi) return false
          need -= 1; lo = 0x80; hi = 0xBF
          i += 1
        }
      }
      n = in.read(buf)
    }
    need == 0
  }

  private def countOutsideQuotes(line: String, sep: Char): Int = {
    var inQuote = false; var n = 0
    line.foreach {
      case '"'            => inQuote = !inQuote
      case c if c == sep  => if (!inQuote) n += 1
      case _              =>
    }
    n
  }

  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  /** The schema `spark.read.option("header", "true").csv` infers, by
    * Spark's own rule: Hadoop's line reader drops a leading UTF-8
    * byte-order mark (whatever the charset) and breaks lines at LF,
    * CR or CRLF; the first line left by `filterCommentAndEmpty` is
    * parsed with the read's own options and named by `makeSafeHeader`.
    * None when the head holds no complete such line: Spark infers. */
  private def headerSchema(spark: SparkSession, head: Array[Byte],
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    completeLines(head, HeadBytes).flatMap { bytes =>
      val from = if (bytes.startsWith(Bom)) Bom.length else 0
      val text = new String(bytes, from, bytes.length - from, parsed.charset)
      CSVUtils.filterCommentAndEmpty(text.lines().iterator().asScala, parsed)
        .nextOption()
    }.flatMap { line =>
      Option(new com.univocity.parsers.csv.CsvParser(parsed.asParserSettings)
        .parseLine(line))
    }.map { row =>
      StructType(CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, parsed)
        .map(StructField(_, StringType)))
    }
  }

  /** Probe then read. All values arrive as strings; downstream
    * conformance ([[graft.conform.Conform]]) does the typed casts —
    * matching the reference, where pandas infers and the transform
    * re-coerces anyway. */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, readHead(path))

  /** [[read]] from a head already read ([[ArrivalRead]]). */
  private[io] def read(spark: SparkSession, path: String,
      head: Array[Byte]): DataFrame = {
    val (cs, sep) = probe(path, head, HeadBytes)
    val options = Map(
      "header" -> "true",
      "sep" -> sep.toString,
      "encoding" -> cs.name(),
      "mode" -> "PERMISSIVE") // bad rows → nulls, like errors='coerce'
    val reader = spark.read.options(options)
    headerSchema(spark, head, options).fold(reader)(reader.schema).csv(path)
  }

  /** File-type router by filename substring (S4, reference
    * main.py:1188-1204): `conducta` | `estados`/`operativo`. */
  def routeByName(fileName: String): Option[String] = {
    val n = fileName.toLowerCase
    if (n.contains("conducta")) Some("conducta")
    else if (n.contains("estados") || n.contains("operativo")) Some("estados_operativos")
    else None
  }

  /** Column-expression form of [[routeByName]] — same rule applied to
    * a filename COLUMN (e.g. `input_file_name()` on a multi-file scan,
    * or an arrival manifest), so routing runs distributed inside the
    * scan projection instead of driver-side. NULL = unroutable.
    * Parity with [[routeByName]] is asserted in CsvProbeSpec. */
  def routeCol(fileName: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, lower, when}
    val n = lower(fileName)
    when(n.contains("conducta"), lit("conducta"))
      .when(n.contains("estados") || n.contains("operativo"),
        lit("estados_operativos"))
      .otherwise(lit(null).cast("string"))
  }
}
