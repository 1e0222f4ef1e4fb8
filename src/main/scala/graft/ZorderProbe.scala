package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Physical-pruning probe for the q192 written layouts: reads a
  * layout back under a single-dimension range predicate and reports
  * what the parquet footer stats actually bought — the scan's
  * POST-row-group-skip output rows vs the table's total — plus the
  * exact matched-row count. `graft.Dev zorder` prints BENCH_NOTES'
  * skip-ratio table with it; ZorderWriteSpec asserts the same numbers
  * at sf0.001.
  *
  * Measurement note: with filter pushdown, Spark's vectorized parquet
  * reader skips whole row groups whose min/max exclude the predicate
  * and emits every row of the surviving groups (exact re-filtering
  * happens in the downstream Filter node) — so the scan node's
  * `numOutputRows` IS the rows-read-after-skipping number, the
  * physical cost a layout decision controls.
  */
object ZorderProbe {

  /** (rowsScannedAfterSkip, rowsMatched, filesRead, rowsTotal). */
  def measure(spark: SparkSession, path: String, dim: String)
      : (Long, Long, Long, Long) = {
    val t = spark.read.parquet(path)
    val mxRow = t.agg(max(col("ok")), max(col("pk"))).head // 1-row, bounded
    val (m, quart) =
      if (dim == "ok") (mxRow.getLong(0), 3L) else (mxRow.getLong(1), 4L)
    val lo = m / quart
    val hi = m / quart + m / 10
    val df = t.filter(col(dim).between(lo, hi))
    // execute THIS DataFrame's own plan: write/count/foreach all plan
    // a SEPARATE QueryExecution (foreach via rddQueryExecution) and
    // leave these metrics untouched — toRdd is the same-instance path
    df.queryExecution.toRdd.foreach(_ => ())
    val scan = scanOf(df)
    (scan.metrics("numOutputRows").value,
      df.count(),
      scan.metrics("numFiles").value,
      t.count())
  }

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    plan.collect { case s: FileSourceScanExec => s }.head
  }
}
