package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.LocalFs
import graft.streaming.Streams

/** Streaming queries: each runs a Structured Streaming job to
  * completion (Trigger.AvailableNow over the events file source) and
  * digests the sink — so the DuckDB oracle checks that STREAMING
  * execution reproduces the batch answer exactly (stream/batch
  * unification is the operator contract being tested). */
object StreamingQ {
  import Tables.prep

  /** Memory-sink names must be unique per invocation (verify + bench
    * share one session), and the PREVIOUS invocation's sink table is
    * dropped when a new one starts — MemorySink retains its full row
    * copy in driver memory, so without the drop every bench/verify
    * pass would permanently accumulate another copy of its output. */
  private val runId = new AtomicLong(0)
  private val lastSink =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def sink(spark: SparkSession, base: String): String = {
    val name = s"${base}_${runId.incrementAndGet()}"
    lastSink.put(base, name).foreach(spark.catalog.dropTempView)
    name
  }

  /** Streaming tumbling window == batch q19 (same expression). */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val out = Streams.runToMemory(
      Streams.tumblingCounts(Streams.eventsStream(spark, dir)),
      sink(spark, "s_tumbling"), OutputMode.Complete())
    out.orderBy("w_start", "event_type")
  }

  val streamTumblingSql: String =
    """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Watermarked dedup: the input stream is the events file source
    * UNIONED with itself (every event arrives twice); exactly-once
    * state dedup must collapse it back to the batch distinct set. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val doubled = Streams.eventsStream(spark, dir)
      .union(Streams.eventsStream(spark, dir))
    val out = Streams.runToMemory(
      Streams.dedupEvents(doubled), sink(spark, "s_dedup"), OutputMode.Append())
    out.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  val streamDedupSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** flatMapGroupsWithState sessionization (gap > 5 min) with
    * event-time-timeout flushing, digested per user bucket. The stream
    * emits exactly the sessions the FINAL watermark seals (boundary =
    * session end + gap strictly below max(ts) at ms resolution minus
    * the 30-minute delay; later sessions are still legitimately open
    * when the bounded replay ends) — the oracle is gaps-and-islands
    * SQL over the same µs-truncated timestamps with that exact
    * sealing predicate, so stream == batch INCLUDING the open-session
    * boundary. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val out = Streams.runToMemory(
      Streams.sessionize(Streams.eventsStream(spark, dir)).toDF(),
      sink(spark, "s_sessions"), OutputMode.Append(),
      finalizeWatermark = true)
    out.groupBy((col("user_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        round(sum(col("sum_value")), 4).as("sum_v"))
      .orderBy("bucket")
  }

  val streamSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsus,
      |         value
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_id, tsus, value,
      |    CASE WHEN tsus - lag(tsus) OVER (PARTITION BY user_id
      |           ORDER BY tsus, event_id) > 300000000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s AS (
      |  SELECT user_id, tsus, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o),
      |sess AS (
      |  SELECT user_id, sid, count(*) AS n, sum(value) AS sv,
      |         max(tsus) AS s_end
      |  FROM s GROUP BY 1, 2),
      |-- the stream's final watermark: max event time at ms resolution
      |-- minus the 30-minute delay; a session is emitted iff its
      |-- extension boundary (end + 5-minute gap, ms resolution) is
      |-- strictly below it.
      |sealed AS (
      |  SELECT * FROM sess
      |  WHERE (s_end + 300000000) // 1000
      |        < (SELECT max(tsus) // 1000 - 1800000 FROM e))
      |SELECT user_id % 8 AS bucket, count(*) AS n_sessions,
      |  CAST(sum(n) AS BIGINT) AS n_events, round(sum(sv), 4) AS sum_v
      |FROM sealed GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming sliding window == batch q66 (same digest, same oracle). */
  def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val out = Streams.runToMemory(
      Streams.slidingCounts(Streams.eventsStream(spark, dir)),
      sink(spark, "s_sliding"), OutputMode.Complete())
    out.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n")).as("n_events"),
        round(sum(col("sv")), 4).as("sum_value"),
        sum(unix_timestamp(col("w_start"))).as("sum_starts"))
      .orderBy("event_type")
  }

  val streamSlidingSql: String = Relational.slidingWindowSql

  /** Stream-stream interval join (click -> purchase attribution),
    * digested per user bucket; the oracle is the equivalent batch
    * self-join over µs-truncated timestamps. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val out = Streams.runToMemory(
      Streams.clickPurchaseJoin(Streams.eventsStream(spark, dir)),
      sink(spark, "s_join"), OutputMode.Append())
    out.groupBy((col("c_user") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("p_value")), 4).as("sum_purchase"))
      .orderBy("bucket")
  }

  val streamJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS tsus
      |  FROM events)
      |SELECT c.user_id % 8 AS bucket, count(*) AS n_pairs,
      |  round(sum(p.value), 4) AS sum_purchase
      |FROM e c JOIN e p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.tsus >= c.tsus AND p.tsus <= c.tsus + 600000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stream-static enrichment: the events stream broadcast-joined to
    * the static `nation` dimension per micro-batch (user_id % 25 →
    * nation key), aggregated per nation — stateless (no state store),
    * the streaming form of the batch dimension join (q06). The oracle
    * is the identical batch join, so stream == batch again. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val dim = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val enriched = Streams.enrichWithDim(
      Streams.eventsStream(spark, dir), dim,
      col("user_id") % 25 === col("n_nationkey"))
    val out = Streams.runToMemory(
      enriched.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
      sink(spark, "s_enrich"), OutputMode.Complete())
    out.orderBy("n_name")
  }

  val streamEnrichSql: String =
    """SELECT n.n_name, count(*) AS n, round(sum(e.value), 4) AS sum_value
      |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The incremental daily load end-to-end: the events stream,
    * projected to a date-partitioned fact shape, lands through
    * foreachBatch + idempotent partition overwrite and is read back
    * for the digest — run TWICE, so the digest also proves the
    * re-run-replaces-not-duplicates contract (the reference's
    * delete-then-insert, README.md:111). The oracle is the same
    * digest straight off the events table. */
  def streamLoad(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val scratch = Reference.newScratch("graft_stream_load")
    val out = scratch.resolve("fact").toString
    def runOnce(tag: String): Unit = Streams.incrementalLoad(
      Streams.eventsStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("fecha")),
      out, "fecha", scratch.resolve(s"ckpt_$tag").toString)
    runOnce("a")
    runOnce("b") // fresh checkpoint -> full replay -> must REPLACE
    spark.read.parquet(out)
      .groupBy(col("fecha"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("fecha")
  }

  val streamLoadSql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS fecha,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q55 canonical token-set fingerprint as a Column — ONE
    * definition shared with the streaming dedup load so batch and
    * stream cannot disagree on document identity. */
  private[graft] val docFingerprint =
    md5(expr(
      "array_join(array_sort(array_distinct(split(lower(trim(text)), '\\\\s+'))), ' ')"))

  /** Incremental corpus dedup end-to-end (q96's incremental-load shape
    * composed with q55's exact dedup): the documents arrival stream
    * lands through [[Streams.dedupCorpusLoad]] — within-batch keeper
    * collapse, anti-join against the corpus table's seen-fingerprint
    * set, append survivors — run TWICE (second run = fresh checkpoint
    * full replay) so the digest also proves the all-seen re-run
    * appends NOTHING. The oracle is the batch q55 keeper set digested
    * per language: here the corpus arrives as ONE batch (single-file
    * source), where the stream's first-seen keeper contract
    * provably coincides with batch min-doc_id — see the
    * [[Streams.dedupCorpusLoad]] contract note for the multi-batch
    * semantics, which StreamsSpec pins. */
  def streamDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val scratch = Reference.newScratch("graft_stream_dedup")
    val out = scratch.resolve("corpus").toString
    def runOnce(tag: String): Unit = Streams.dedupCorpusLoad(
      Streams.documentsStream(spark, dir), docFingerprint,
      out, scratch.resolve(s"ckpt_$tag").toString)
    runOnce("a")
    runOnce("b") // full replay -> all fingerprints seen -> no appends
    spark.read.parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang")
  }

  val streamDedupCorpusSql: String =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
      |  FROM documents),
      |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
      |s AS (SELECT f.lang, k.doc_id FROM k JOIN f ON f.doc_id = k.doc_id)
      |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** q108: incremental ANN index maintenance — the embeddings arrival
    * stream is assigned to the TRAINED IVF codebook
    * ([[Similarity.ivfAssign]]: broadcast codebook, map-side argmax)
    * and appended CELL-PARTITIONED via foreachBatch. This is how an
    * IVF index stays fresh at 100 TB: the codebook is a fixed trained
    * artifact, each arriving batch quantizes in its scan stage (no
    * shuffle — one broadcast join + map-side combine per batch), and
    * appends land in the inverted lists' partition layout so q64-style
    * cell-local probes read only their directory. Retraining the
    * codebook is a separate offline event, exactly as in a production
    * IVF deployment. The digest (per-cell counts + id sums) equals
    * the batch assignment of the whole corpus: stream == batch for
    * the index build too. */
  def streamIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val scratch = Reference.newScratch("graft_ivf_index")
    val out = scratch.resolve("index").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.embeddingsStream(spark, dir).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          LocalFs.write(Similarity.ivfAssign(spark, dir, batch))
            .mode("append").partitionBy("cell").parquet(out)
        }
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.read.parquet(out)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
      .orderBy("cell")
  }

  /** q200: the q191 incremental dedup pipeline under STREAMING
    * arrival — the family's last composition gap: q191/q195–q197
    * prove the daily-batch cadence, q103 streams EXACT dedup, but the
    * NEAR-DUP label repair itself never ran from a stream. Each
    * arriving file batch runs [[Curation.applyArrivalBatch]]: sign
    * the batch, band-collide it against the persisted signature
    * store, verify shingle Jaccard, repair the persisted labels
    * (contracted CC — delta-pair-sized), publish the next versioned
    * label snapshot, append the batch's signatures. Any near-dup
    * pair is discovered at the arrival of its later endpoint, so by
    * the chained-repair law the final snapshot equals the FULL
    * rebuild for ANY batching of the arrivals (StreamsSpec pins the
    * multi-file case; here the corpus arrives as one batch). Output
    * is q88's cluster-size histogram read from the final snapshot;
    * oracle = q88's full-rebuild SQL — stream == batch for the
    * maintained artifact, the q103/q108 contract extended to the
    * incremental family. */
  def streamLabelRepair(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val store = Reference.newScratch("graft_label_repair")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.documentsStream(spark, dir).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Curation.applyArrivalBatch(spark, batch, store)
        }
        .option("checkpointLocation", store.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.read.parquet(Curation.latestLabels(store).get.toString)
      .groupBy(col("root")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("root")).as("sum_roots"))
      .orderBy("csize")
  }

  /** q216: the inverted index maintained under STREAMING arrival —
    * the postings row's streamed cell, completing what q194 (batch
    * append), q201 (retraction), and q206 (cold restart) left: the
    * index as a foreachBatch consumer maintains it. Each arriving
    * file batch runs [[TextAnalysis.applyPostingsBatch]]: tokenize
    * the batch alone, term-key merge against the newest committed
    * store version, publish the merged index as the next
    * manifest-committed version, prune to serving+grace. The merge is
    * idempotent (a crash-replayed batch re-merges to bit-identical
    * content) and order-insensitive (sort_array on merge), so stream
    * == batch for ANY batching and any replay of the arrivals —
    * StreamsSpec pins the multi-file and replay cases. Output is
    * q127's df-bucketed content digest read from the final store
    * version; oracle = q127's full-rebuild SQL verbatim. */
  def streamPostingsMerge(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val store = Reference.newScratch("graft_postings_stream")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.documentsStream(spark, dir).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          TextAnalysis.applyPostingsBatch(spark, batch, store.toString)
        }
        .option("checkpointLocation", store.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    TextAnalysis.postingsDigestOf(graft.io.ArtifactStore.read(
      spark, store.toString, TextAnalysis.StreamPostingsArtifact))
  }

  /** q217: BM25's ranking stats maintained under STREAMING arrival —
    * the ranking-stats row's streamed cell (q199 batch merge, q210
    * cold restart, this). Each arriving file batch publishes two
    * DOC-KEYED artifacts ([[TextAnalysis.applyBm25Batch]]): per-doc
    * lengths and per-(doc, term) probe tf rows, merged by
    * dropDuplicates on their keys — replay-idempotent by
    * construction, where q199's additive scalar merge would
    * double-count a replayed batch (the reason the STREAMED arm
    * stores the doc grain and derives scalars at read). Output is
    * q129's ranking served from the final store versions through the
    * shared [[TextAnalysis.bm25Rank]] tail; oracle = q129's
    * full-rebuild SQL verbatim — stream == batch at the level a user
    * sees, the ranks. */
  def streamBm25Merge(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val store = Reference.newScratch("graft_bm25_stream")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.documentsStream(spark, dir).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          TextAnalysis.applyBm25Batch(spark, batch, store.toString)
        }
        .option("checkpointLocation", store.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    TextAnalysis.bm25FromStreamStore(spark, store.toString)
  }

  /** q220: the warehouse daily rollup maintained under STREAMING
    * arrival — the warehouse-aggregate row's streamed cell (q218
    * batch append, q219 reload retraction, this). Each arriving
    * events file batch runs [[WarehouseIvm.applyRollupBatch]]:
    * aggregate the slice alone, fecha-keyed REPLACE into the
    * versioned ArtifactStore, publish as the next manifest-committed
    * version with retention riding along. Replace-by-key makes a
    * crash-replayed batch a content no-op and an out-of-order fecha
    * land correctly (both spec-pinned in WarehouseIvmSpec), under the
    * fecha-atomic arrival cadence the reference itself runs (one
    * report file per day). Output is the q218 surface read from the
    * final store version; oracle = q218's full re-aggregation
    * verbatim — stream == batch == incremental for the served
    * rollup. */
  def streamRollupMaintain(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val store = Reference.newScratch("graft_rollup_stream")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.eventsStream(spark, dir).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          WarehouseIvm.applyRollupBatch(spark, batch, store.toString)
        }
        .option("checkpointLocation", store.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    WarehouseIvm.rollupOut(graft.io.ArtifactStore.read(
      spark, store.toString, WarehouseIvm.StreamRollupArtifact))
  }

  /** q222: the ADDITIVE streamed rollup — the general-arrival-cadence
    * arm of q220 (round-11 verdict ask #5). q220's fecha-keyed replace
    * assumes fecha-atomic arrival files (one report per day, the
    * reference's own cadence); a crawl-scale feed splits one fecha
    * across many files, so each batch carries a PARTIAL slice and the
    * merge must be ⊕ with a batch-id high-water mark for replay
    * dedup ([[WarehouseIvm.applyRollupBatchAdditive]], laws
    * spec-pinned: split-fecha == one-batch, replay no-op, any order).
    * Output is the q218 surface read from the final store version;
    * oracle = q218's full re-aggregation verbatim — so the additive
    * stream, the replace stream, and the batch IVM all serve the same
    * rollup. */
  def streamRollupAdditive(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val store = Reference.newScratch("graft_rollup_addstream")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = Streams.eventsStream(spark, dir).writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            // lineage = the checkpoint location: batch ids are only
            // monotone within it, and the artifact's replay guard
            // must refuse ids from any other lineage
            WarehouseIvm.applyRollupBatchAdditive(
              spark, batch, id, store.resolve("ckpt").toString,
              store.toString)
        }
        .option("checkpointLocation", store.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    WarehouseIvm.rollupOut(graft.io.ArtifactStore.read(
      spark, store.toString, WarehouseIvm.AdditiveRollupArtifact))
  }

  /** q188: event-time-correct VERSIONED dimension enrichment — the
    * temporal upgrade of q71's stateless enrich: q71 joins every
    * event to the dimension's CURRENT row, which silently rewrites
    * history whenever the dimension changes mid-stream (the classic
    * slowly-changing-dimension bug); here each event joins the
    * version whose validity interval contains the EVENT TIME
    * (`key match AND vf <= ts < vt` riding the broadcast join), so a
    * replayed or late event enriches identically no matter when it
    * arrives — the as-of join semantics (Temporal q26) in streaming
    * form. The dimension is the nation table split into two versions
    * at 2024-01-16 (month fixture midpoint).
    *
    * Scale shape: stateless per-micro-batch broadcast join — the
    * validity predicate adds zero state; versions-per-key multiplies
    * the broadcast, not the stream. Stream == batch: the oracle
    * derives each event's version arithmetically. */
  def streamVersionedEnrich(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val base = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val dim = base
      .select(col("n_nationkey"), col("n_name"), lit(1L).as("version"),
        lit("1970-01-01 00:00:00").cast("timestamp").as("vf"),
        cut.as("vt"))
      .unionByName(base
        .select(col("n_nationkey"), col("n_name"), lit(2L).as("version"),
          cut.as("vf"),
          lit("2999-01-01 00:00:00").cast("timestamp").as("vt")))
    val enriched = Streams.enrichWithDim(
      Streams.eventsStream(spark, dir), dim,
      col("user_id") % 25 === col("n_nationkey") &&
        col("ts") >= col("vf") && col("ts") < col("vt"))
    val out = Streams.runToMemory(
      enriched.groupBy(col("n_name"), col("version"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
      sink(spark, "s_venrich"), OutputMode.Complete())
    out.orderBy("n_name", "version")
  }

  val streamVersionedEnrichSql: String =
    """SELECT n.n_name,
      |  CASE WHEN e.ts < TIMESTAMP '2024-01-16 00:00:00'
      |    THEN 1 ELSE 2 END AS version,
      |  count(*) AS n, round(sum(e.value), 4) AS sum_value
      |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q183: streaming distribution-drift monitor (PSI) — the
    * data-quality alarm complementary to q121's SHARE monitor: q121
    * flags a source sending too MUCH; this flags a window whose value
    * DISTRIBUTION changed shape (payment amounts suddenly bimodal,
    * sensor values clipped, a upstream unit change), which share
    * accounting cannot see. Per 1-hour event-time window: the value
    * histogram over 8 fixed bins (floor(value/5) clamped — fixed
    * integer edges, never data-dependent quantiles, so the binning is
    * deterministic and mergeable), compared to the whole-run
    * reference histogram by Population Stability Index with +1
    * smoothing: PSI_w = Σ_b (p_wb − q_b)·ln(p_wb/q_b), rounded 6dp
    * (p, q are exact integer ratios → both engines feed ln identical
    * doubles; 1-ulp ln drift dies at 6dp).
    *
    * Scale shape: the STREAM side is one watermarked windowed count
    * per (window, bin) — 8 bins of bounded state per open window,
    * Complete-mode over the fixture like q39. Everything after the
    * stream is batch arithmetic on the windows×8 table: the bin
    * densification (missing bins still contribute their smoothed
    * mass) is a windows-sized crossJoin with a literal 8-row bin
    * table, and the reference is derived from the streamed result
    * itself — one source of truth, no second scan. Stream == batch:
    * the oracle computes identical PSI straight off events. */
  def streamPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val binned = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"),
        expr("cast(greatest(least(floor(value / 5), 7), 0) as bigint)")
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("bin"), col("cnt"))
    val t = Streams.runToMemory(
      binned, sink(spark, "s_psi"), OutputMode.Complete())
    val bins = spark.range(8).select(col("id").as("bin"))
    val nW = t.groupBy(col("w_start")).agg(sum(col("cnt")).as("nw"))
    // fresh-aliased projection of the sink table: nW/ref/nTot derive
    // from the same memory sink, so an un-renamed self-join would
    // carry duplicate exprIds into the analyzer
    val tR = t.select(col("w_start").as("tw"), col("bin").as("tb"),
      col("cnt").as("tc"))
    val ref = t.groupBy(col("bin")).agg(sum(col("cnt")).as("cb"))
      .select(col("bin").as("rb"), col("cb"))
    val nTot = t.agg(sum(col("cnt")).as("n"))
    nW.crossJoin(broadcast(bins))
      .join(tR, col("w_start") === col("tw") && col("bin") === col("tb"),
        "left")
      .withColumn("c", coalesce(col("tc"), lit(0L)))
      .join(broadcast(ref), col("bin") === col("rb"), "left")
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .crossJoin(broadcast(nTot))
      .withColumn("p", (col("c") + lit(1.0)) / (col("nw") + lit(8.0)))
      .withColumn("q", (col("cb") + lit(1.0)) / (col("n") + lit(8.0)))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy(col("w_start"), col("nw").as("n_events"))
      .agg(round(sum(col("term")), 6).as("psi"))
      .orderBy("w_start")
  }

  val streamPsiDriftSql: String =
    """WITH e AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
      |    CAST(greatest(least(floor(value / 5), 7), 0) AS BIGINT) AS bin
      |  FROM events),
      |t AS (SELECT w_start, bin, count(*) AS cnt FROM e GROUP BY 1, 2),
      |nw AS (SELECT w_start, CAST(sum(cnt) AS BIGINT) AS nw
      |       FROM t GROUP BY 1),
      |rf AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS cb
      |       FROM t GROUP BY 1),
      |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM t),
      |dense AS (
      |  SELECT nw.w_start, nw.nw, b.range AS bin,
      |    coalesce(t.cnt, 0) AS c, coalesce(rf.cb, 0) AS cb
      |  FROM nw CROSS JOIN range(0, 8) b
      |  LEFT JOIN t ON t.w_start = nw.w_start AND t.bin = b.range
      |  LEFT JOIN rf ON rf.bin = b.range),
      |terms AS (
      |  SELECT w_start, nw,
      |    ((c + 1.0) / (nw + 8.0) - (cb + 1.0) / (n + 8.0)) *
      |      ln(((c + 1.0) / (nw + 8.0)) / ((cb + 1.0) / (n + 8.0)))
      |      AS term
      |  FROM dense, nt)
      |SELECT w_start, nw AS n_events, round(sum(term), 6) AS psi
      |FROM terms GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** q121: streaming mixture monitor — the drift alarm a daily corpus
    * build runs while data lands: the documents ARRIVAL stream
    * aggregates per-source token counts (streaming Complete-mode
    * agg), and the tiny streamed result is compared against the q115
    * class-weight targets to flag which sources are running over
    * their share. The comparison is the exact integer cross-multiply
    * `streamed * 10 * class_size >= total * weight` — no float share
    * arithmetic — and everything after the stream is batch work on a
    * sources-sized table. Stream == batch: the oracle computes the
    * identical flags straight off the documents table. */
  def streamMixtureMonitor(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val agg = Streams.documentsStream(spark, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
    val out = Streams.runToMemory(
      agg, sink(spark, "s_mix"), OutputMode.Complete())
      .withColumn("cls", expr("cast(substr(source, 4) as int) % 4"))
      .withColumn("cw",
        when(col("cls") === 0, 4L).when(col("cls") === 1, 3L)
          .when(col("cls") === 2, 2L).otherwise(1L))
    val clsSize = out.groupBy(col("cls")).agg(count(lit(1)).as("n_cls"))
    val tot = out.agg(sum(col("sum_tokens")).as("total"))
    out.join(broadcast(clsSize), Seq("cls"))
      .crossJoin(broadcast(tot))
      .withColumn("over_target",
        col("sum_tokens") * 10 * col("n_cls") >= col("total") * col("cw"))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        col("cls").cast("long").as("cls"), col("over_target"))
      .orderBy("source")
  }

  val streamMixtureMonitorSql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS sum_tokens,
      |    CAST(substr(source, 4) AS INT) % 4 AS cls
      |  FROM documents GROUP BY source),
      |w AS (SELECT *, CASE cls WHEN 0 THEN 4 WHEN 1 THEN 3
      |                         WHEN 2 THEN 2 ELSE 1 END AS cw
      |      FROM s),
      |cs AS (SELECT cls, count(*) AS n_cls FROM w GROUP BY 1),
      |t AS (SELECT sum(sum_tokens) AS total FROM w)
      |SELECT source, n_docs, sum_tokens, CAST(w.cls AS BIGINT) AS cls,
      |  sum_tokens * 10 * n_cls >= total * cw AS over_target
      |FROM w JOIN cs ON w.cls = cs.cls CROSS JOIN t
      |ORDER BY source""".stripMargin

  /** Misra–Gries capacity of the q126 trending-terms sketch: any term
    * with frequency above 1/(K+1) of its language's token stream is
    * GUARANTEED to survive (order-independently), so the exact top-5
    * emerges deterministically from the recount as long as the real
    * top-5 clear that bar — on the fixtures the 5th term carries
    * ~3–4% of its language's tokens vs a 1/65 ≈ 1.5% bar, and a
    * production deployment sizes K to its own head/tail split. */
  val TrendingSketchK = 64

  /** q126: streaming trending terms — the live "what is the crawl
    * bringing in" monitor, in the bounded-state sketch→verify shape a
    * web-crawl stream actually needs. A per-(lang, word) streaming
    * count (the naive form) keeps VOCABULARY-sized state and re-emits
    * it every trigger — unbounded on a real crawl (URLs, typos, IDs).
    * Instead:
    *
    *   1. STREAM pass: per language, a [[graft.functions
    *      .MisraGriesAgg]] heavy-hitter sketch aggregates the token
    *      stream. State = one ≤[[TrendingSketchK]]-counter buffer per
    *      language — bounded regardless of vocabulary; the memory
    *      sink receives languages×1 rows per trigger, never the
    *      vocabulary.
    *   2. VERIFY pass: the ≤K surviving candidate terms per language
    *      are recounted EXACTLY over the landed corpus (broadcast
    *      semi-join on the candidate set — candidate-sized, not
    *      vocab-sized) and ranked through the bounded-heap
    *      [[graft.functions.TopTermsAgg]] — no window sort, the q112
    *      discipline.
    *
    * The MG guarantee (every term above N/(K+1) survives, for EVERY
    * arrival order and merge tree) is what makes the final top-5
    * deterministic even though the sketch's borderline content is
    * not: the true top-5 are always candidates, and exact recounted
    * counts rank them identically to the batch answer — any extra
    * borderline candidates rank strictly below by the same (cnt DESC,
    * term ASC) order. Stream == batch: the oracle computes the
    * identical top-5 straight off the documents table. */
  def streamTopTerms(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val sketch = Streams.documentsStream(spark, dir)
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"))
      .agg(graft.functions.MisraGries.sketch(TrendingSketchK)(col("w"))
        .as("sk"))
    val cand = Streams.runToMemory(
      sketch, sink(spark, "s_topterms"), OutputMode.Complete())
      .select(col("lang"), explode(col("sk.term")).as("w"))
    val words = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    words.join(broadcast(cand), Seq("lang", "w"), "left_semi")
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopK.topTerms(5)(
        col("cnt").cast("double"), col("w")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.term").as("term"), col("col.score").cast("long").as("cnt"))
      .orderBy("lang", "rnk")
  }

  val streamTopTermsSql: String =
    """WITH w AS (
      |  SELECT lang, tok AS w
      |  FROM (SELECT lang,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok <> ''),
      |c AS (SELECT lang, w, count(*) AS cnt FROM w GROUP BY 1, 2),
      |r AS (SELECT lang, w, cnt,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY cnt DESC, w ASC) AS rnk
      |      FROM c)
      |SELECT lang, rnk, w AS term, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q147 streaming SCD2 dimension maintenance
  // ---------------------------------------------------------------

  /** q147: the SCD2 dimension load as a STREAMING pipeline — q131's
    * merge geometry applied per micro-batch by
    * [[Streams.scd2Load]]: the dimension is seeded with the customer
    * snapshot, the arrival stream delivers the same deterministic
    * change-set q131 derives (%7 balance changes, %11 no-op copies,
    * %13 fresh members), and each batch full-outer-merges against the
    * CURRENT slice with rename-aside swaps. The stream runs TWICE
    * (second run = fresh checkpoint, full replay), so the digest also
    * proves the replay is a VALUE no-op — re-merging an already-
    * applied change-set closes nothing and versions nothing twice,
    * the streaming analogue of q96's idempotent re-run.
    *
    * The oracle derives the expected final dimension state (closed
    * %7 originals + their new versions + carried rest + inserted
    * fresh keys) straight from the customer table. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    val scratch = Reference.newScratch("graft_stream_scd2")
    val dim = scratch.resolve("dim").toString
    // seed: the current snapshot, every member one open version
    LocalFs.write(Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
        lit(true).as("cur")))
      .parquet(dim)
    // the arrival stream carries the q131 change-set
    val schema = spark.read
      .parquet(s"$dir/customer.parquet").schema
    def incoming = spark.readStream.schema(schema)
      .option("pathGlobFilter", "customer.parquet").parquet(dir)
      .select(col("c_custkey").as("k"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("c0"))
      .select(explode(expr(
        """filter(array(
          |  CASE WHEN k % 7 = 0
          |    THEN named_struct('k', k, 'cents', c0 + 10000) END,
          |  CASE WHEN k % 11 = 0 AND k % 7 != 0
          |    THEN named_struct('k', k, 'cents', c0) END,
          |  CASE WHEN k % 13 = 0
          |    THEN named_struct('k', k + 10000000, 'cents', 0L) END),
          |x -> x IS NOT NULL)""".stripMargin)).as("r"))
      .select(col("r.k").as("k"), col("r.cents").as("cents"))
    Streams.scd2Load(incoming, dim,
      scratch.resolve("ckpt_a").toString)
    Streams.scd2Load(incoming, dim, // fresh ckpt: replay must no-op
      scratch.resolve("ckpt_b").toString)
    spark.read.parquet(dim)
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(k as string), ':', cast(cents as string), ':', " +
          "cast(cur as string))")))
      .groupBy(col("cur"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("sum_cents"),
        expr("bit_xor(h)").as("member_digest"))
      .orderBy("cur")
  }

  val streamScd2Sql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |rows AS (
      |  SELECT k, cents, FALSE AS cur FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, cents + 10000, TRUE FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, cents, TRUE FROM base WHERE k % 7 <> 0
      |  UNION ALL
      |  SELECT k + 10000000, 0, TRUE FROM base WHERE k % 13 = 0)
      |SELECT cur, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' ||
      |    CAST(cents AS VARCHAR) || ':' ||
      |    CASE WHEN cur THEN 'true' ELSE 'false' END), 1, 15))::BIGINT)
      |    AS member_digest
      |FROM rows GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q153 watermark late-data discipline
  // ---------------------------------------------------------------

  /** q153: late-data accounting under a watermark — the contract that
    * makes streaming aggregates TRUSTABLE: rows that arrive after
    * their window was finalized must be DROPPED, not double-counted.
    * The event log lands in two sequential arrivals sharing one
    * checkpoint: days 1–15, then days 16–30 PLUS verbatim straggler
    * copies of day 3 (shifted event ids, ~13 days late). By arrival
    * 2 the watermark sits near day 15, so every straggler's hour
    * window is long finalized — the windowed parquet sink must equal
    * the batch answer over the ORIGINAL events, which is exactly what
    * the oracle computes (windows up to the final watermark;
    * value sums in integer cents so no float accumulation order).
    *
    * A failure mode this pins: without the watermark the stragglers
    * would re-open day-3 windows and double their counts — the digest
    * diverges loudly.
    *
    * Scale shape: the state store holds only windows newer than the
    * watermark (bounded by delay x window grain x types), the
    * too-late filter runs in the scan stage, and each arrival is one
    * incremental micro-batch — the q96 arrival discipline with
    * event-time state instead of partition overwrite. */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    prep(spark)
    import org.apache.spark.sql.streaming.Trigger
    val scratch = Reference.newScratch("graft_stream_late")
    val arrivals = java.nio.file.Files
      .createDirectory(scratch.resolve("arrivals"))
    val sinkDir = scratch.resolve("win").toString
    val ckpt = scratch.resolve("ckpt").toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val cut = lit("2024-01-16").cast("timestamp")
    def writeArrival(name: String, rows: DataFrame): Unit = {
      val staging = scratch.resolve(s"staging_$name")
      LocalFs.write(rows.coalesce(1)).mode("overwrite").parquet(staging.toString)
      val part = java.nio.file.Files.list(staging).iterator()
      val it = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
      val src = it.find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(src, arrivals.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))))
          .option("pathGlobFilter", "*.parquet")
          .parquet(arrivals.toString)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("sum_cents"))
          .writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    writeArrival("a", ev.filter(col("ts") < cut))
    runOnce()
    writeArrival("b", ev.filter(col("ts") >= cut).unionByName(
      ev.filter(to_date(col("ts")) === lit("2024-01-03"))
        .withColumn("event_id", col("event_id") + 1000000000L)))
    runOnce()
    spark.read.parquet(sinkDir)
      .withColumn("h", expr(Exprs.hash60(
        "concat(cast(unix_micros(w_start) as string), ':', event_type, " +
          "':', cast(n as string))")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"), sum(col("n")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        expr("bit_xor(h)").as("window_digest"))
      .orderBy("event_type")
  }

  val streamLateDataSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |wm AS (
      |  SELECT (max(us) // 1000) * 1000 - 600000000 AS wm_us FROM e),
      |w AS (
      |  SELECT (us // 3600000000) * 3600000000 AS w_us, event_type,
      |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM e GROUP BY 1, 2),
      |f AS (
      |  SELECT w.* FROM w, wm WHERE w.w_us + 3600000000 <= wm.wm_us)
      |SELECT event_type, count(*) AS n_windows,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
      |  bit_xor(('0x' || substr(md5(CAST(w_us AS VARCHAR) || ':' ||
      |    event_type || ':' || CAST(n AS VARCHAR)), 1, 15))::BIGINT)
      |    AS window_digest
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_stream_tumbling" -> streamTumbling,
    "q121_stream_mixture_monitor" -> streamMixtureMonitor,
    "q126_stream_top_terms" -> streamTopTerms,
    "q183_stream_psi_drift" -> streamPsiDrift,
    "q188_stream_versioned_enrich" -> streamVersionedEnrich,
    "q40_stream_dedup" -> streamDedup,
    "q41_stream_sessions" -> streamSessions,
    "q71_stream_sliding" -> streamSliding,
    "q72_stream_join" -> streamJoin,
    "q91_stream_enrich" -> streamEnrich,
    "q96_stream_load" -> streamLoad,
    "q103_stream_dedup_corpus" -> streamDedupCorpus,
    "q200_stream_label_repair" -> streamLabelRepair,
    "q216_stream_postings_merge" -> streamPostingsMerge,
    "q217_stream_bm25_merge" -> streamBm25Merge,
    "q220_stream_rollup_maintain" -> streamRollupMaintain,
    "q222_stream_rollup_additive" -> streamRollupAdditive,
    "q108_stream_ivf_index" -> streamIvfIndex,
    "q147_stream_scd2" -> streamScd2,
    "q153_stream_late_data" -> streamLateData
  )

  val oracle: Map[String, String] = Map(
    "q121_stream_mixture_monitor" -> streamMixtureMonitorSql,
    "q126_stream_top_terms" -> streamTopTermsSql,
    "q183_stream_psi_drift" -> streamPsiDriftSql,
    "q188_stream_versioned_enrich" -> streamVersionedEnrichSql,
    "q39_stream_tumbling" -> streamTumblingSql,
    "q40_stream_dedup" -> streamDedupSql,
    "q41_stream_sessions" -> streamSessionsSql,
    "q71_stream_sliding" -> streamSlidingSql,
    "q72_stream_join" -> streamJoinSql,
    "q91_stream_enrich" -> streamEnrichSql,
    "q96_stream_load" -> streamLoadSql,
    "q103_stream_dedup_corpus" -> streamDedupCorpusSql,
    // q88's full-rebuild histogram IS the q200 oracle: hash match ==
    // stream-maintained labels equal the batch rebuild
    "q200_stream_label_repair" -> Curation.dedupClustersSql,
    // q127's full-rebuild digest IS the q216 oracle: hash match ==
    // stream == batch for the maintained index
    "q216_stream_postings_merge" -> TextAnalysis.invertedIndexSql,
    // q129's full-rebuild ranking IS the q217 oracle: stream == batch
    // at the level a user sees, the ranks
    "q217_stream_bm25_merge" -> TextAnalysis.bm25Sql,
    // q218's full re-aggregation IS the q220 oracle: the streamed
    // fecha-keyed replace serves the same rollup the batch IVM does
    "q220_stream_rollup_maintain" -> WarehouseIvm.rollupIvmAppendSql,
    // ...and of the q222 additive arm: same serve surface, general
    // (split-fecha) arrival cadence
    "q222_stream_rollup_additive" -> WarehouseIvm.rollupIvmAppendSql,
    "q108_stream_ivf_index" -> Similarity.ivfAssignDigestSql,
    "q147_stream_scd2" -> streamScd2Sql,
    "q153_stream_late_data" -> streamLateDataSql
  )
}
