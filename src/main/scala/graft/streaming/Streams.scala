package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.io.LocalFs

/** Structured Streaming surface over the harness `events` stream
  * (SURVEY §2.10). The reference itself is a scheduled daily batch
  * (main.py:201-209; README.md:113) whose Spark-native form is an
  * INCREMENTAL run: a file-source stream processed with
  * `Trigger.AvailableNow` — new files are discovered by listing
  * (replacing the reference's download-dir polling loop,
  * main.py:295-347), processed, and the query stops. The same code
  * keeps running as a live continuous stream unchanged.
  *
  * Scale notes: all three shapes are the standard scalable streaming
  * patterns — windowed two-phase aggregation (state keyed by
  * (window, type): bounded), watermarked dedup (state = ids within
  * the watermark horizon, pruned continuously), and per-key
  * sessionization via flatMapGroupsWithState (state sharded by
  * user_id across executors).
  */
object Streams {

  /** events.parquet has carried ts in two encodings across data
    * generations (INT64 TIMESTAMP(NANOS) surfacing as a Long, and a
    * native TIMESTAMP(MICROS)); a streaming read needs an explicit
    * schema, so build it per the type the batch reader surfaces —
    * declaring Long against a µs file silently yields garbage epochs,
    * not an error. Mirrors [[graft.queries.Tables.events]]. */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Streaming source over the events parquet (file source — the
    * directory-listing replacement for the reference's polling). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Probe the encoding with a footer-only batch read (no data scan),
    // then declare the matching stream schema.
    val tsType = spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType
    // The file source wants a DIRECTORY to list (that's the whole
    // point — it replaces the reference's arrival polling); the
    // harness table is a single file, so list its parent filtered.
    val src = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    tsType match {
      case LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case TimestampNTZType =>
        // Watermarks require TIMESTAMP (ltz); session TZ is pinned
        // UTC, so the cast preserves wall-clock.
        src.withColumn("ts", col("ts").cast(TimestampType))
      case _ => src
    }
  }

  /** Tumbling event-time window aggregation — the STREAMING form of
    * the identical batch expression (Relational.tumblingWindow / q19).
    * Watermark bounds state; 10-minute windows keyed by event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding event-time windows (10-minute windows every 5 minutes) —
    * the streaming form of the batch sliding window (q66). Each event
    * expands to duration/slide = 2 window states; watermark bounds
    * how long each stays open. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sv"))

  /** Stream-static dimension enrichment: every micro-batch joins the
    * (small) static dimension table with an explicit broadcast — the
    * standard stateless enrichment shape. No state store is involved
    * at all (unlike any stream-stream join), and the static side is
    * re-planned per micro-batch, so a slowly-changing dimension
    * refreshed in place is picked up on the next batch — at 100 TB/day
    * the stream side only ever flows through a broadcast hash join in
    * its scan stage. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      joinExpr: org.apache.spark.sql.Column): DataFrame =
    events.join(broadcast(dim), joinExpr)

  /** Stream-stream interval join: purchases attributed to a same-user
    * click within the preceding 10 minutes. Both sides carry
    * watermarks and the join predicate bounds event time in BOTH
    * directions, so each side's buffered state is provably prunable —
    * the only stream-stream join shape that runs bounded-state at
    * 100 TB/day rates. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"""))
  }

  /** Exactly-once dedup within the watermark horizon: state keeps one
    * entry per event_id seen inside the watermark and is pruned as it
    * advances — bounded state at any rate. This MUST be
    * `dropDuplicatesWithinWatermark`: plain `dropDuplicates` on a
    * non-event-time key never builds a state-eviction predicate, so
    * its state grows forever on a live stream. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** `ts` duplicates `tsUs` as a timestamp: the watermarked column
    * must survive the projection into the typed operator for
    * event-time timeouts to be allowed. */
  case class Ev(event_id: Long, user_id: Long, tsUs: Long, value: Double,
      ts: java.sql.Timestamp)
  case class Session(user_id: Long, start_us: Long, n_events: Int,
      sum_value: Double)

  /** Sessionization gap; watermark delay of the sessionize stream. */
  val SessionGapUs: Long = 5L * 60 * 1000 * 1000
  val SessionWatermark = "30 minutes"

  /** Per-user sessionization (gap > 5 min starts a new session) via
    * flatMapGroupsWithState with an EVENT-TIME TIMEOUT — the
    * custom-state operator the built-in session_window generalizes
    * from, in its live-stream-correct form:
    *
    *   - State buffers only the events of sessions the watermark has
    *     not yet sealed. A session is emitted exactly when it becomes
    *     PROVABLY CLOSED — its extension window [start - gap,
    *     end + gap] has fallen below the watermark, so no admissible
    *     event can modify or merge it — whether that happens while the
    *     group receives data or, for idle groups, via the event-time
    *     timeout set at the earliest unsealed boundary. Each session
    *     is emitted exactly once; open sessions at the head of the
    *     stream stay in state until the watermark seals them.
    *   - Late events (below the watermark) are dropped by the
    *     watermark filter before reaching the operator, which is what
    *     makes "provably closed" sound.
    *
    * On a bounded replay the trailing no-data micro-batch advances the
    * watermark to max(ts) - delay and flushes every session sealed by
    * it ([[runToMemory]] finalizeWatermark=true); the q41 oracle
    * mirrors that exact boundary. */
  def sessionize(events: DataFrame): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", SessionWatermark)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsUs"), col("value"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[List[Ev]]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val all = (state.getOption.getOrElse(Nil) ++ it)
            .sortBy(e => (e.tsUs, e.event_id))
          // Split the buffer into gap-delimited sessions.
          var sessions = List.empty[List[Ev]]
          var cur = List.empty[Ev]
          for (e <- all) {
            if (cur.nonEmpty && e.tsUs - cur.head.tsUs > SessionGapUs) {
              sessions = cur.reverse :: sessions
              cur = Nil
            }
            cur = e :: cur
          }
          if (cur.nonEmpty) sessions = cur.reverse :: sessions
          // Sealed iff the extension boundary (last event + gap, at
          // the watermark's ms resolution) is strictly below the
          // watermark — matching Spark's strict timeout-firing rule so
          // data-path and timeout-path emissions agree.
          def boundaryMs(s: List[Ev]): Long = (s.last.tsUs + SessionGapUs) / 1000
          val (closed, open) = sessions.reverse.partition(boundaryMs(_) < wmMs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open.flatten)
            // Wake this group when the earliest unsealed boundary
            // falls below the watermark (must be set strictly above
            // the current watermark).
            state.setTimeoutTimestamp(
              math.max(open.map(boundaryMs).min, wmMs + 1))
          }
          closed.map { s =>
            Session(uid, s.head.tsUs, s.length, s.map(_.value).sum)
          }.iterator
      }
  }

  /** The reference's daily load in INCREMENTAL form (SURVEY §2.10):
    * run the stream to completion (AvailableNow) and land each
    * micro-batch through [[graft.io.IdempotentWriter
    * .overwritePartitions]] via foreachBatch — the S9 arrival stream
    * composed with the S7 idempotent partition overwrite. Re-running
    * the whole job replaces the same partitions with the same rows
    * (the reference's delete-then-insert semantics, README.md:111);
    * within one run, each partition value must arrive in a single
    * micro-batch (true for date-partitioned daily loads — one day per
    * arrival file), because a later batch REPLACES any partition it
    * touches. Checkpointing makes the replay restartable; the file
    * commit protocol makes each batch's overwrite atomic. */
  def incrementalLoad(df: DataFrame, path: String, partitionCol: String,
      checkpoint: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = df.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.io.IdempotentWriter.overwritePartitions(
            batch, path, partitionCol, addLoadDate = false)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Streaming SCD2 dimension maintenance: each arriving batch of
    * (k, cents) member versions merges into the dimension at
    * `dimPath` with type-2 history semantics —
    *
    *   - matched, same cents:   current row carried untouched
    *   - matched, new cents:    current row CLOSED (cur=false), new
    *                            version opened (cur=true)
    *   - unmatched batch key:   inserted as a new current member
    *   - untouched dim keys and all closed history: carried verbatim
    *
    * The merge is ONE full-outer join of the batch against the
    * CURRENT slice only (history never joins — it appends through),
    * the q131 geometry per micro-batch. The rewritten dimension is
    * staged to a sibling directory and swapped in with the
    * rename-aside discipline ([[graft.io.Compact]]): a crash at any
    * point leaves a complete dimension on disk. Within a batch,
    * duplicate keys collapse to min cents (deterministic; feed
    * per-key-deduped batches if order matters). Idempotence contract:
    * resuming from the SAME checkpoint is exactly-once (processed
    * files are skipped); a FRESH-checkpoint replay is additionally a
    * VALUE no-op whenever each key's versions fit one batch (q147's
    * shape — every replayed version then matches its current row, so
    * nothing closes or versions twice). A MULTI-batch version history
    * relies on the checkpoint for ordering — a fresh replay collapses
    * the history into one batch and would re-version; that boundary
    * is pinned in StreamsSpec. At 100 TB the
    * dimension is partitioned and the join prunes to touched
    * partitions (the q105 scope discipline); dimensions are dwarfed
    * by facts, so the full-outer stays cheap. */
  def scd2Load(incoming: DataFrame, dimPath: String,
      checkpoint: String): Unit = {
    val spark = incoming.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = incoming.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          scd2Merge(batch, dimPath)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def scd2Merge(batchRaw: DataFrame, dimPath: String): Unit = {
    if (batchRaw.isEmpty) return
    val spark = batchRaw.sparkSession
    val batch = batchRaw.groupBy(col("k"))
      .agg(min(col("cents")).as("cents"))
    val staging = dimPath + ".scd2_stg"
    val retired = dimPath + ".scd2_old"
    val dimP = new org.apache.hadoop.fs.Path(dimPath)
    val stgP = new org.apache.hadoop.fs.Path(staging)
    val retP = new org.apache.hadoop.fs.Path(retired)
    val fs = dimP.getFileSystem(spark.sessionState.newHadoopConf())
    // Crash recovery FIRST: a retired copy with no live dimension
    // means a previous run died between the two swap renames — the
    // retired copy is the only complete dimension; restore it before
    // reading or deleting anything. (Existence probes go through the
    // Hadoop FileSystem, never java.io.File: the dimension lives on
    // whatever scheme the path names, and a local-File probe on
    // hdfs:// or s3a:// is always false — which would silently
    // replace the whole dimension with the current batch.)
    if (!fs.exists(dimP) && fs.exists(retP))
      require(fs.rename(retP, dimP),
        s"scd2 recovery failed: could not restore $retired to $dimPath")
    val merged: DataFrame =
      if (!fs.exists(dimP)) {
        batch.select(col("k"), col("cents"), lit(true).as("cur"))
      } else {
        val dim = spark.read.parquet(dimPath)
        val history = dim.filter(!col("cur"))
        val current = dim.filter(col("cur"))
          .select(col("k"), col("cents").as("d_cents"))
        val j = current.withColumn("in_dim", lit(1))
          .join(batch.withColumn("in_b", lit(1)), Seq("k"), "full_outer")
        val rows = j.select(col("k"), explode(expr(
          """filter(array(
            |  CASE WHEN in_dim IS NOT NULL AND in_b IS NOT NULL
            |         AND d_cents = cents
            |       THEN named_struct('cents', d_cents, 'cur', true) END,
            |  CASE WHEN in_dim IS NOT NULL AND in_b IS NOT NULL
            |         AND d_cents != cents
            |       THEN named_struct('cents', d_cents, 'cur', false) END,
            |  CASE WHEN in_dim IS NOT NULL AND in_b IS NOT NULL
            |         AND d_cents != cents
            |       THEN named_struct('cents', cents, 'cur', true) END,
            |  CASE WHEN in_b IS NULL
            |       THEN named_struct('cents', d_cents, 'cur', true) END,
            |  CASE WHEN in_dim IS NULL
            |       THEN named_struct('cents', cents, 'cur', true) END),
            |x -> x IS NOT NULL)""".stripMargin)).as("r"))
          .select(col("k"), col("r.cents").as("cents"), col("r.cur").as("cur"))
        history.select(col("k"), col("cents"), col("cur"))
          .unionByName(rows)
      }
    // rename-aside swap (Compact discipline): stage, retire, move
    // in, and only then drop the retired copy — combined with the
    // entry recovery above, a crash at ANY point leaves a complete
    // dimension reachable (at dimPath or at .scd2_old).
    fs.delete(stgP, true)
    LocalFs.write(merged).mode("overwrite").parquet(staging)
    fs.delete(retP, true)
    if (fs.exists(dimP))
      require(fs.rename(dimP, retP),
        s"scd2 swap failed: could not retire $dimPath")
    require(fs.rename(stgP, dimP),
      s"scd2 swap failed: could not move $staging into place")
    fs.delete(retP, true)
  }

  private val DocsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents parquet — the corpus-arrival
    * stream (new crawl/dump drops discovered by listing, the S9 shape
    * over documents instead of events). */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(DocsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  private val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over the embeddings parquet — the
    * embedding-arrival stream (freshly embedded batches discovered by
    * listing). */
  def embeddingsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(EmbSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)

  /** Incremental corpus dedup — how the 100 TB pipeline actually runs
    * daily: arriving documents are deduped against the SEEN fingerprint
    * set and only first-seen documents land in the corpus table. Each
    * micro-batch (via foreachBatch, so the batch is a plain DataFrame):
    *
    *   1. fingerprints its documents (`fpExpr` — the q55 canonical
    *      token-set fingerprint),
    *   2. collapses within-batch duplicates keeping the smallest
    *      doc_id (the q55 keeper rule),
    *   3. anti-joins against the corpus table's fingerprint column
    *      (the seen set), and
    *   4. APPENDS the survivors.
    *
    * KEEPER CONTRACT: across batches the keeper is FIRST-SEEN — an
    * already-landed document is never retracted when a later arrival
    * carries a duplicate with a smaller doc_id (a published corpus
    * row is immutable; retraction would need the mergeUpsert/
    * delete-vector machinery, not an append stream). Within one
    * batch, ties resolve to min doc_id. The stream therefore equals
    * the batch q55 keeper set exactly when arrival order respects
    * doc_id order across batches — trivially including the
    * whole-corpus-in-one-batch replay the q103 probe runs — and may
    * keep a LARGER id than batch q55 when a smaller-id duplicate
    * arrives in a later batch (first-seen is the semantics production
    * pipelines actually want there).
    *
    * The seen set is the corpus TABLE itself, not stream state: corpus
    * identity is unbounded by design, and a state store is the wrong
    * home for it (state is for horizons a watermark can seal — q40's
    * event dedup; a corpus fingerprint never expires). At 100 TB the
    * corpus table is BUCKETED by fingerprint, so step 3 is a
    * co-partitioned anti-join that reads only the fingerprint column
    * and step 4 appends bucket-aligned files — no shuffle of history,
    * ever. Re-running the whole job (fresh checkpoint) replays the
    * same arrivals into an all-seen anti-join and appends NOTHING —
    * the idempotent re-run contract, dedup-flavored. */
  def dedupCorpusLoad(docs: DataFrame, fpExpr: org.apache.spark.sql.Column,
      path: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = docs.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cols = batch.columns.map(col).toIndexedSeq
          val keepers = batch.withColumn("fp", fpExpr)
            .groupBy(col("fp"))
            .agg(min_by(struct(cols: _*), col("doc_id")).as("d"))
            .select(col("fp") +: cols.map(c => col(s"d.$c")): _*)
          val fresh =
            if (graft.io.IdempotentWriter.pathExists(
                batch.sparkSession, path))
              keepers.join(
                batch.sparkSession.read.parquet(path).select("fp"),
                Seq("fp"), "left_anti")
            else keepers
          LocalFs.write(fresh).mode("append").parquet(path)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a
    * memory sink and return the sink table.
    *
    * Stateful operators create one state store PER shuffle partition;
    * for these bounded replays 32 partitions means 32 stores of
    * per-micro-batch setup/commit overhead dwarfing the data. Pin a
    * small partition count for the stream's lifetime (a live
    * deployment sizes this to state volume, not CPU count). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode,
      finalizeWatermark: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // Skip the trailing no-data micro-batch unless the stream NEEDS
    // the final watermark advance (event-time timeouts — sessionize):
    // it exists to advance the watermark for Append-mode state, and
    // for Complete-mode aggs / immediate-emit operators (dedup, inner
    // interval join) it is pure state-store churn on a bounded replay.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      finalizeWatermark.toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        prevNoData)
    }
    spark.table(name)
  }
}
