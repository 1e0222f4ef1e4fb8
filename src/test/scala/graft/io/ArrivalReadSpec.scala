package graft.io

import java.nio.file.Files

import graft.SparkSpec

/** S1→S2 read dispatch (reference main.py:1334-1349): CSV first,
  * xlsx fallback by extension when the bytes are binary, actionable
  * errors for legacy .xls and unreadable drops. */
class ArrivalReadSpec extends SparkSpec {

  private def tmp(name: String, bytes: Array[Byte]): String = {
    val dir = tempDir("arrival_spec")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  test("real xlsx routes to the spreadsheet reader") {
    val dir = tempDir("arrival_spec")
    val p = dir.resolve("drop.xlsx").toString
    XlsxRead.writeMinimal(p, Seq(Seq("a", "b"), Seq("1", "x"), Seq("2", "y")))
    val df = ArrivalRead.read(spark, p)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.count() === 2)
  }

  test("xlsx arrivals surface TYPED columns (readTyped is the default path)") {
    val dir = tempDir("arrival_spec")
    val p = dir.resolve("typed.xlsx").toString
    XlsxRead.writeMinimal(p, Seq(
      Seq("n", "d", "s", "cuando"),
      Seq(1.0, 1.5, "x", java.time.LocalDate.of(2024, 3, 1)),
      Seq(2.0, 2.5, "y", java.time.LocalDate.of(2024, 3, 2))))
    val df = ArrivalRead.read(spark, p)
    import org.apache.spark.sql.types._
    assert(df.schema("n").dataType === LongType)
    assert(df.schema("d").dataType === DoubleType)
    assert(df.schema("s").dataType === StringType)
    assert(df.schema("cuando").dataType === TimestampType)
  }

  test("text mis-labeled .xlsx still parses as CSV (CSV is tried first)") {
    val p = tmp("export.xlsx", "a;b\n1;x\n2;y\n".getBytes("UTF-8"))
    val df = ArrivalRead.read(spark, p)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.collect().map(_.getString(1)).sorted.toSeq === Seq("x", "y"))
  }

  test("legacy .xls (OLE magic) gets an actionable error") {
    val ole = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte) ++ Array.fill(64)(0.toByte)
    val p = tmp("viejo.xls", ole)
    val e = intercept[IllegalArgumentException](ArrivalRead.read(spark, p))
    assert(e.getMessage.contains(".xlsx"))
  }

  test("legacy BIFF workbook RENAMED .xlsx still gets the actionable " +
      "error (magic wins over extension), not a ZipException") {
    val ole = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte) ++ Array.fill(64)(0.toByte)
    val p = tmp("mislabeled.xlsx", ole)
    val e = intercept[IllegalArgumentException](ArrivalRead.read(spark, p))
    assert(e.getMessage.contains("re-export"))
  }

  test("binary bytes with a non-spreadsheet extension cannot be read") {
    val p = tmp("blob.bin", Array[Byte](0, 1, 2, 3, 0, 5))
    val e = intercept[IllegalArgumentException](ArrivalRead.read(spark, p))
    assert(e.getMessage.contains("could not read"))
  }
}
