package graft

/** Standalone runner for ONE streamed-maintenance cell — the process
  * the kill-and-resume proofs murder mid-stream (round-13 verdict,
  * missing #3 generalized the additive-rollup-only proof to every
  * streamed sink). ColdRestartSpec launches this JVM against an
  * arrival directory; the `crash-after` arm halts the JVM inside
  * foreachBatch AFTER the sink published its artifact, BEFORE
  * Structured Streaming wrote the batch's commit-log entry. A second
  * launch resuming the SAME checkpointLocation re-delivers that batch
  * with its original id (the WAL replay contract), and the sink's
  * replay protection must absorb it:
  *
  *   - `additive` (q222): batch-id high-water mark + lineage guard —
  *     the replayed id <= hwm, so the batch publishes NOTHING;
  *   - `rollup` (q220): fecha-keyed replace — the replayed batch
  *     replaces its own rows with themselves (a content no-op that
  *     DOES mint a version; content equality is the contract);
  *   - `postings` (q216): term-key merge through
  *     sort_array(array_distinct(...)) — re-merging an already-merged
  *     batch is bit-identical;
  *   - `bm25` (q217): doc-keyed artifacts merged by dropDuplicates on
  *     their keys — replayed rows are equal, so which duplicate
  *     survives is immaterial;
  *   - `labels` (q200): the label repair re-finds the replayed docs'
  *     pairs inside the clusters they already joined (a no-op), and
  *     the doc-keyed signatures dedup on doc_id.
  *
  * Usage: `StreamCellRun <cell> <arrivalDir> <checkpoint> <storeRoot>
  * [crashAfterBatch]`. One file per trigger, so the spec controls
  * batch boundaries by writing one file per slice. */
object StreamCellRun {
  def main(args: Array[String]): Unit = {
    val cell = args(0)
    val arrival = args(1)
    val ckpt = args(2)
    val root = args(3)
    val crashAfter = if (args.length >= 5) args(4).toLong else -1L
    val spark = Session.local(4)
    // the arrival files all share one schema; the static read is the
    // standard way to hand it to the streaming file source
    val schema = spark.read.parquet(arrival).schema
    val apply: (org.apache.spark.sql.DataFrame, Long) => Unit =
      cell match {
        case "additive" => (batch, id) =>
          queries.WarehouseIvm.applyRollupBatchAdditive(
            spark, batch, id, ckpt, root)
        case "rollup" => (batch, _) =>
          queries.WarehouseIvm.applyRollupBatch(spark, batch, root)
        case "postings" => (batch, _) =>
          queries.TextAnalysis.applyPostingsBatch(spark, batch, root)
        case "bm25" => (batch, _) =>
          queries.TextAnalysis.applyBm25Batch(spark, batch, root)
        case "labels" => (batch, _) =>
          queries.Curation.applyArrivalBatch(spark, batch, root)
        case other => sys.error(s"unknown stream cell '$other' " +
          "(additive | rollup | postings | bm25 | labels)")
      }
    val arrivals = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(arrival)
    streaming.Streams.drain(arrivals, Some(ckpt))(_.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        apply(batch, id)
        println(s"committed batch $id")
        if (crashAfter >= 0 && id >= crashAfter) {
          // die like a crash, not an exit: no shutdown hooks, no
          // streaming commit-log write for this batch — the resume
          // JVM must see the batch as in-flight and re-deliver it
          System.out.flush()
          Runtime.getRuntime.halt(137)
        }
    })
    spark.stop()
  }
}
