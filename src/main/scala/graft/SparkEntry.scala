package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{ColdRestart, Curation, Dedup, MultimodalQ, Query, Reference, Relational, Similarity, StreamingQ, Tables, Temporal, TextAnalysis, WarehouseIvm}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Tables.prep(spark)
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")
  }
  /** Every registered query, each once with its oracle. */
  private val registry: Map[String, Query] =
    Relational.all ++ Reference.all ++ TextAnalysis.all ++
      Dedup.all ++ Similarity.all ++ StreamingQ.all ++ MultimodalQ.all ++
      Temporal.all ++ Curation.all ++ ColdRestart.all ++ WarehouseIvm.all
  /** One entry per implemented operator from SURVEY.md §2. Each runner
    * preps the session it is given first: the external driver and the
    * perfbench harness hand in sessions the engine did not build. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        Tables.prep(spark)
        q.run(spark, dir)
      }
    }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }
  /** Queries timed by [[Bench]]: everything except side-effecting /
    * driver-local-fixture probes (q35 writes a temp table per call,
    * q36 writes+reads a local CSV fixture — valid correctness probes,
    * meaningless timings). */
  def benchQueries: Seq[String] =
    queries.keys.toSeq.filterNot(Set(
      "q23_bucketed_join",    // re-writes the bucketed layout per call
      "q35_idempotent_load",  // writes a scratch table per call
      "q36_csv_pipeline",     // driver-local CSV fixture probe
      "q208_schema_drift",    // driver-local CSV fixture, metadata-only
      "q37_conducta_pipeline", // driver-local fixture + write
      "q38_estados_pipeline",  // driver-local fixture
      "q42_jdbc_roundtrip",    // embedded-Derby load per call
      "q170_jdbc_pushdown_read", // embedded-Derby load per call
      "q76_empty_write_guard", // writes a scratch table per call
      "q78_xlsx_roundtrip",    // writes a local xlsx fixture per call
      "q79_read_fallback",     // writes local xlsx+csv fixtures per call
      "q80_retry_load",        // writes scratch parquet + simulated failure
      "q92_jsonl_quarantine",  // writes a local jsonl fixture per call
      "q94_compact",           // rewrites a scratch dataset per call
      "q96_stream_load",       // writes scratch partitioned output per call
      "q101_run_audit",        // driver-local fixture + audited write per call
      "q103_stream_dedup_corpus", // writes scratch corpus output per call
      "q105_merge_upsert",     // writes + merges a scratch table per call
      "q108_stream_ivf_index", // writes a scratch index per call
      "q147_stream_scd2",      // seeds + twice-merges a scratch dim per call
      "q153_stream_late_data", // writes scratch arrivals + windowed sink per call
      "q162_daily_run",        // composed daily run: fixtures + audited writes per call
      "q197_incremental_daily", // composed incremental run: audited scratch writes per call
      "q221_cold_daily",       // composed cold run: audited writes + 7 republished versions per call
      "q200_stream_label_repair", // streamed store + versioned label snapshots per call
      "q216_stream_postings_merge", // streamed store + versioned index per call
      "q217_stream_bm25_merge", // streamed store + versioned stats per call
      "q220_stream_rollup_maintain", // streamed store + versioned rollup per call
      "q222_stream_rollup_additive" // streamed store + versioned rollup per call
    )).sorted
}
