package graft.io

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins PERMISSIVE-quarantine semantics: which line classes are clean
  * vs quarantined, raw-line preservation, and missing-field null fill
  * — so a Spark parse-policy change breaks HERE, not at the driver's
  * oracle gate (q92 bakes these splits into literal expected values). */
class JsonlReadSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("meta", StructType(Seq(
      StructField("score", DoubleType))))))

  private def readLines(lines: String*) = {
    val f = tempFile("jsonl_spec", ".jsonl")
    Files.writeString(f, lines.mkString("\n"))
    JsonlRead.read(spark, f.toString, schema)
  }

  test("valid lines are clean; missing fields fill as typed nulls, not corruption") {
    val rows = readLines(
      """{"doc_id":1,"text":"a","meta":{"score":0.5}}""",
      """{"doc_id":2}""").collect()
    assert(rows.forall(_.getAs[String](JsonlRead.CorruptCol) == null))
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.isNullAt(r2.fieldIndex("text")))
    assert(r2.isNullAt(r2.fieldIndex("meta")))
  }

  test("broken JSON and type-mismatched fields quarantine with the raw line preserved") {
    val badSyntax = """not json"""
    val badType = """{"doc_id":"seven","text":"x","meta":{"score":0.1}}"""
    val rows = readLines(
      """{"doc_id":1,"text":"a","meta":{"score":0.5}}""",
      badSyntax, badType).collect()
    val bad = rows.filter(_.getAs[String](JsonlRead.CorruptCol) != null)
    assert(bad.map(_.getAs[String](JsonlRead.CorruptCol)).toSet
      === Set(badSyntax, badType))
    // the type-mismatch row must NOT half-survive as a clean row
    assert(rows.count(_.getAs[String](JsonlRead.CorruptCol) == null) === 1)
  }
}
