package graft.io

import graft.SparkSpec

/** R2 structured run-audit trail: per-phase rows/outcome/duration
  * records, error capture with rethrow, parquet append. */
class RunAuditSpec extends SparkSpec {

  test("phases record rows in/out, ok outcome, and nonneg duration") {
    val audit = new RunAudit("r1")
    val x = audit.phase[Int]("ds", "extract") { (41, 10L) }
    audit.phase[Unit]("ds", "load", rowsIn = Some(10L)) { ((), 9L) }
    assert(x === 41)
    val rows = audit.toDF(spark).orderBy("seq").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "r1")
    assert(rows(0).getInt(1) === 1)
    assert(rows(0).getString(3) === "extract")
    assert(rows(0).isNullAt(4)) // rows_in unknown at extract
    assert(rows(0).getLong(5) === 10L)
    assert(rows(0).getString(6) === "ok")
    assert(rows(0).isNullAt(7)) // no error
    assert(rows(0).getLong(8) >= 0L) // duration_ms
    assert(rows(1).getLong(4) === 10L)
    assert(rows(1).getLong(5) === 9L)
  }

  test("a failing phase records outcome=error with the message and rethrows") {
    val audit = new RunAudit("r2")
    val e = intercept[IllegalStateException] {
      audit.phase[Unit]("ds", "transform", Some(5L)) {
        throw new IllegalStateException("boom: bad fecha")
      }
    }
    assert(e.getMessage.contains("boom"))
    val row = audit.toDF(spark).collect().head
    assert(row.getString(6) === "error")
    assert(row.getString(7).contains("boom: bad fecha"))
    assert(row.isNullAt(5)) // no rows_out on failure
  }

  test("write appends runs to one parquet audit table") {
    val tbl = tempDir("audit_spec").resolve("audit").toString
    val a1 = new RunAudit("run-a"); a1.phase[Unit]("d", "p") { ((), 1L) }
    val a2 = new RunAudit("run-b"); a2.phase[Unit]("d", "p") { ((), 2L) }
    a1.write(spark, tbl)
    a2.write(spark, tbl)
    val df = spark.read.parquet(tbl)
    assert(df.count() === 2)
    assert(df.select("run_id").collect().map(_.getString(0)).toSet ===
      Set("run-a", "run-b"))
  }
}
