package graft.io

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** R2 structured run-audit trail (reference main.py:186-194 logging
  * setup; the per-phase record counts and outcomes it logs at
  * main.py:1260 "Conducta: N registros listos", main.py:1307
  * "Estados: N registros listos", main.py:1577 "N registros
  * insertados"). The reference's operational-correctness strategy is
  * exactly this trail — counts in, counts out, phase outcome — but as
  * free-text log lines; here it is a STRUCTURED table (one row per
  * executed phase: dataset, phase, rows in/out, duration, outcome,
  * error) that can be written as parquet and queried like any other
  * fact table, which is what a 100 TB pipeline needs for run
  * forensics (log-line grepping does not survive a 1000-executor
  * fleet).
  *
  * Records accumulate driver-side — one row per PHASE, not per data
  * row, so the table is bounded by pipeline width, never data size.
  * A failing phase records outcome='error' with the exception message
  * and rethrows: continue-on-failure policy belongs to
  * [[Orchestrate]], which composes with this (audit the attempt,
  * orchestrate the response).
  */
final class RunAudit(val runId: String) {

  private final case class Rec(seq: Int, dataset: String, phase: String,
    rowsIn: Option[Long], rowsOut: Option[Long], outcome: String,
    error: Option[String], durationMs: Long)

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private var seq = 0

  /** Run `body` as an audited phase: `body` returns (result, rowsOut).
    * Success records outcome='ok'; an exception records
    * outcome='error' with the message, then RETHROWS.
    *
    * The BODY runs OUTSIDE the instance lock — phases are whole Spark
    * jobs, and a pipeline auditing N datasets concurrently through one
    * trail must not serialize them (nor let a hung phase block toDF
    * from a monitoring thread). Only the seq draw and the record
    * append synchronize; seq therefore orders phase STARTS, which is
    * the honest ordering for concurrent phases. */
  def phase[A](dataset: String, name: String, rowsIn: Option[Long] = None)(
      body: => (A, Long)): A = {
    val mySeq = synchronized { seq += 1; seq }
    val t0 = System.nanoTime()
    def durMs = (System.nanoTime() - t0) / 1000000L
    try {
      val (a, rowsOut) = body
      synchronized {
        recs += Rec(mySeq, dataset, name, rowsIn, Some(rowsOut), "ok", None,
          durMs)
      }
      a
    } catch {
      case e: Throwable =>
        synchronized {
          recs += Rec(mySeq, dataset, name, rowsIn, None, "error",
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)), durMs)
        }
        throw e
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("seq", IntegerType),
    StructField("dataset", StringType),
    StructField("phase", StringType),
    StructField("rows_in", LongType),
    StructField("rows_out", LongType),
    StructField("outcome", StringType),
    StructField("error", StringType),
    StructField("duration_ms", LongType)))

  /** The audit trail as a DataFrame (driver-local rows — bounded by
    * phase count). */
  def toDF(spark: SparkSession): DataFrame = synchronized {
    val rows = recs.map(r => Row(runId, r.seq, r.dataset, r.phase,
      r.rowsIn.map(java.lang.Long.valueOf).orNull,
      r.rowsOut.map(java.lang.Long.valueOf).orNull,
      r.outcome, r.error.orNull, java.lang.Long.valueOf(r.durationMs)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
  }

  /** Append the trail to a parquet audit table — runs accumulate,
    * queryable by run_id. */
  def write(spark: SparkSession, path: String): Unit =
    LocalFs.write(toDF(spark)).mode("append").parquet(path)
}
