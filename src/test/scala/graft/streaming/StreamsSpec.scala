package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-micro-batch behavior of the sessionizer's event-time timeout:
  * a session left open at the end of one batch must be flushed by a
  * LATER batch's watermark advance — exactly once — without its group
  * receiving any further data. */
class StreamsSpec extends SparkSpec {

  test("dedup corpus load: cross-arrival dedup, keeper rule, idempotent replay") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val arrivals = tempDir("dedup_arrivals")
    val scratch = tempDir("dedup_corpus")
    // Each arrival is ONE flat parquet file in the listed directory
    // (written to staging, then moved in — exactly how drops land).
    def writeArrival(name: String, docs: Seq[(Long, String, String)]): Unit =
      writeArrivalFile(docs.map { case (id, text, lang) =>
          (id, text, lang, "src", text.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars"),
        scratch.resolve(s"staging_$name"), arrivals.resolve(s"$name.parquet"))
    val out = scratch.resolve("corpus").toString
    val fp = graft.queries.StreamingQ.docFingerprint
    def stream() = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(arrivals.toString)
    // Arrival 1: docs 10 and 11 duplicate each other (same token set,
    // order/case differences) -> keeper = 10; doc 20 unique.
    writeArrival("a1", Seq(
      (10L, "alpha beta gamma", "en"),
      (11L, "Gamma  ALPHA beta", "en"),
      (20L, "uno dos", "es")))
    Streams.dedupCorpusLoad(stream(), fp, out,
      scratch.resolve("ck1").toString)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      === Array(10L, 20L))
    // Arrival 2, CONTINUING the same checkpoint (the true incremental
    // path — only the new file is processed): doc 30 duplicates the
    // ALREADY-LANDED doc 10, so it must be dropped by the anti-join
    // against the corpus fingerprint set; doc 40 is new.
    writeArrival("a2", Seq(
      (30L, "beta gamma alpha", "en"),
      (40L, "tres cuatro", "es")))
    Streams.dedupCorpusLoad(stream(), fp, out,
      scratch.resolve("ck1").toString)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      === Array(10L, 20L, 40L))
    // Arrival 3: doc 5 duplicates landed doc 10 with a SMALLER id —
    // the FIRST-SEEN keeper contract keeps 10 and drops 5 (batch q55
    // would have kept 5; an append stream never retracts a published
    // row — the documented divergence case).
    writeArrival("a3", Seq((5L, "gamma beta alpha", "en")))
    Streams.dedupCorpusLoad(stream(), fp, out,
      scratch.resolve("ck1").toString)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      === Array(10L, 20L, 40L))
    // Full replay with a fresh checkpoint: every fingerprint seen ->
    // appends nothing (idempotent re-run).
    Streams.dedupCorpusLoad(stream(), fp, out,
      scratch.resolve("ck3").toString)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("open session flushes via event-time timeout, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF()
      .toDF("event_id", "user_id", "tsSec", "value")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .drop("tsSec")
    val q = Streams.sessionize(events).toDF().writeStream
      .format("memory").queryName("sess_spec").outputMode("append").start()
    try {
      // Batch 1: user 1's two-event session, plus a user-2 event far
      // enough ahead that the NEXT batch's watermark (max ts - 30 min)
      // passes user 1's session boundary (last event + 5 min gap).
      mem.addData((1L, 1L, 1000L, 1.0), (2L, 1L, 1060L, 2.0),
        (3L, 2L, 9000L, 5.0))
      q.processAllAvailable()
      // Batch 2: only user 2 receives data; user 1's idle group must
      // flush via its event-time timeout (watermark 7200s > 1360s).
      mem.addData((4L, 2L, 9100L, 6.0))
      q.processAllAvailable()
      val emitted = spark.table("sess_spec").collect()
      assert(emitted.count(_.getLong(0) == 1L) === 1,
        s"user 1 session not emitted exactly once: ${emitted.mkString(";")}")
      val s = emitted.find(_.getLong(0) == 1L).get
      assert(s.getLong(1) === 1000L * 1000000L) // session start (us)
      assert(s.getInt(2) === 2) // both events in one session
      assert(s.getDouble(3) === 3.0)
      // user 2's session is still open — must NOT be emitted yet.
      assert(!emitted.exists(_.getLong(0) == 2L))
      // Batch 3: watermark advances further; user 1 must not re-emit.
      mem.addData((5L, 2L, 20000L, 7.0))
      q.processAllAvailable()
      val after = spark.table("sess_spec").collect()
      assert(after.count(_.getLong(0) == 1L) === 1)
      // user 2's first session (9000..9100) is now sealed too
      // (watermark 20000s - 30min = 18200s > 9100s + 300s).
      assert(after.count(r => r.getLong(0) == 2L && r.getInt(2) == 2) === 1)
    } finally {
      q.stop()
      spark.catalog.dropTempView("sess_spec")
    }
  }

  test("watermark drops a straggler into a finalized window; trailing " +
      "window stays unflushed") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    val arrivals = tempDir("late_arrivals")
    val scratch = tempDir("late_scratch")
    def writeArrival(name: String, hours: Seq[Double]): Unit =
      writeArrivalFile(hours.zipWithIndex
        .map { case (h, i) =>
          (name.hashCode.toLong * 100 + i,
            new java.sql.Timestamp(1704067200000L + (h * 3600000).toLong)) }
        .toDF("event_id", "ts"),
        scratch.resolve(s"staging_$name"), arrivals.resolve(s"$name.parquet"))
    val sinkDir = scratch.resolve("win").toString
    val ckpt = scratch.resolve("ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(arrivals.toString)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // arrival 1: events at 01:30 and 03:30 -> watermark 03:20, the
    // [01:00, 02:00) window finalizes with n = 1
    writeArrival("a1", Seq(1.5, 3.5))
    run()
    // arrival 2: 06:30 (advances watermark to 06:20) and a 01:45
    // straggler whose window closed in run 1 -> MUST be dropped;
    // [06:00, 07:00) stays open past the final watermark
    writeArrival("a2", Seq(6.5, 1.75))
    run()
    val out = spark.read.parquet(sinkDir).collect()
      .map(r => (r.getTimestamp(0).getTime - 1704067200000L) / 3600000 ->
        r.getLong(1)).toMap
    assert(out(1L) === 1L)      // straggler did NOT reopen/double it
    assert(out(3L) === 1L)
    assert(!out.contains(6L))   // trailing window unflushed
    assert(out.size === 2)
  }

  test("scd2 load: versions accrue across arrivals; same-checkpoint " +
      "resume is exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType)))
    val arrivals = tempDir("scd2_arrivals")
    val scratch = tempDir("scd2_scratch")
    def writeArrival(name: String, rows: Seq[(Long, Long)]): Unit =
      writeArrivalFile(rows.toDF("k", "cents"),
        scratch.resolve(s"staging_$name"), arrivals.resolve(s"$name.parquet"))
    val dim = scratch.resolve("dim").toString
    val ckpt = scratch.resolve("ckpt").toString
    def run(): Unit = Streams.scd2Load(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(arrivals.toString),
      dim, ckpt)
    def state(): Set[(Long, Long, Boolean)] =
      spark.read.parquet(dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // arrival 1: k1@100, k2@200 -> both inserted current
    writeArrival("a1", Seq((1L, 100L), (2L, 200L)))
    run()
    assert(state() === Set((1L, 100L, true), (2L, 200L, true)))
    // arrival 2: k1 changes to 150 (old version must CLOSE), k2
    // re-arrives unchanged (must NOT version), k3 inserts
    writeArrival("a2", Seq((1L, 150L), (2L, 200L), (3L, 300L)))
    run()
    val expected = Set(
      (1L, 100L, false), (1L, 150L, true),
      (2L, 200L, true), (3L, 300L, true))
    assert(state() === expected)
    // same-checkpoint resume with no new arrivals: exactly-once, so
    // the dimension is untouched (no batch even fires)
    run()
    assert(state() === expected)
  }

  test("versioned enrich: an event joins the dimension version valid at " +
      "its EVENT time, not the current one") {
    import spark.implicits._
    val dir = tempDir("venrich_spec")
      .toString
    // same user (key 3): one event just before the 2024-01-16 cut,
    // one just after — they must land in different dimension versions
    val rows = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-15 23:59:59"),
        3L, "view", 1.0, "{}"),
      (1L, java.sql.Timestamp.valueOf("2024-01-16 00:00:01"),
        3L, "view", 2.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"),
        3L, "view", 4.0, "{}"))
    writeArrivalFile(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      java.nio.file.Paths.get(dir, "staging"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // nation fixture: one key (3) suffices
    Seq((3L, "KEY3", 0L, "x"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val out = graft.queries.StreamingQ
      .streamVersionedEnrich(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq(
      ("KEY3", 1L, 2L, 5.0),  // two pre-cut events: 1.0 + 4.0
      ("KEY3", 2L, 1L, 2.0))) // one post-cut event
  }

  test("psi drift: a shape-shifted window scores high, a reference-shaped " +
      "window scores low, symmetry is exact, psi is never negative") {
    import spark.implicits._
    val dir = tempDir("psi_spec").toString
    // W1 (10:00): 20 events in bin 0; W2 (11:00): 20 in bin 7;
    // W3 (12:00): 10 + 10 -> matches the global 50/50 reference
    def ev(i: Long, hour: Int, v: Double) =
      (i, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:30:00"),
        i % 8, "view", v, "{}")
    val rows =
      (0L until 20L).map(ev(_, 10, 2.0)) ++
      (20L until 40L).map(ev(_, 11, 37.0)) ++
      (40L until 50L).map(ev(_, 12, 2.0)) ++
      (50L until 60L).map(ev(_, 12, 37.0))
    // the stream source lists the parent dir for a FILE named
    // events.parquet — write to staging, move the single part in
    writeArrivalFile(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      java.nio.file.Paths.get(dir, "staging"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val out = graft.queries.StreamingQ.streamPsiDrift(spark, dir).collect()
    assert(out.length === 3)
    val Array(w1, w2, w3) = out
    assert(out.forall(_.getLong(1) === 20L))
    val psis = out.map(_.getDouble(2))
    assert(psis.forall(_ >= 0.0), s"PSI must be non-negative: ${psis.toSeq}")
    // bin0<->bin7 symmetry: identical smoothed ratios -> identical psi
    assert(w1.getDouble(2) === w2.getDouble(2))
    // the reference-shaped window drifts least
    assert(w3.getDouble(2) < w1.getDouble(2))
  }

  test("stateful streaming results are provider-independent: RocksDB " +
      "state store == default in-memory store (the 100 TB config)") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.queries.StreamingQ.all("q126_stream_top_terms").run
    val defaultRows = q(spark, dir).collect().toSeq
    assert(defaultRows.nonEmpty)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocksRows = q(spark, dir).collect().toSeq
      assert(rocksRows === defaultRows)
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  /** Shared arrival-stream harness for the streamed-store tests
    * (q200/q216/q217): a scratch dir, single-file parquet arrivals (the
    * production file-source shape — pathGlobFilter needs FLAT
    * *.parquet files), and an AvailableNow file-source stream driving
    * `applyBatch(batch, store)` per batch. One copy, so a fix to the
    * arrival/checkpoint mechanics can never leave the two streamed
    * merges exercising different shapes (reviewer find, r11). */
  private class ArrivalFixture(prefix: String,
      applyBatch: (org.apache.spark.sql.DataFrame, String) => Unit) {
    val scratch = tempDir(prefix)
    private val arrivals = scratch.resolve("arrivals")
    java.nio.file.Files.createDirectories(arrivals)
    val store = scratch.resolve("store").toString
    private val docsSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
    }
    def docsDF(docs: Seq[(Long, String)]) = {
      import spark.implicits._
      docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    def writeArrival(name: String, docs: Seq[(Long, String)]): Unit =
      writeArrivalFile(docsDF(docs), scratch.resolve(s"staging_$name"),
        arrivals.resolve(s"$name.parquet"))
    def runStream(): Unit = {
      val q = spark.readStream.schema(docsSchema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(arrivals.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          applyBatch(b, store)
        }
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  test("q216 streamed postings merge: cross-batch terms merge, the final " +
      "index equals the one-batch build, and replays + out-of-order " +
      "arrivals are bit-identical no-ops / sorted merges") {
    val fx = new ArrivalFixture("q216_spec",
      (b, s) => graft.queries.TextAnalysis.applyPostingsBatch(spark, b, s))
    import fx.{docsDF, runStream, store, writeArrival}
    def indexOf(root: String): Map[String, Seq[Long]] =
      graft.io.ArtifactStore.read(spark, root,
          graft.queries.TextAnalysis.StreamPostingsArtifact)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    writeArrival("a1", Seq((1L, "a b"), (2L, "b c")))
    runStream()
    assert(indexOf(store) === Map("a" -> Seq(1L), "b" -> Seq(1L, 2L),
      "c" -> Seq(2L)))
    // arrival 2, same checkpoint: term b grows CROSS-batch, d is new
    writeArrival("a2", Seq((3L, "b d")))
    runStream()
    val streamed = indexOf(store)
    assert(streamed === Map("a" -> Seq(1L), "b" -> Seq(1L, 2L, 3L),
      "c" -> Seq(2L), "d" -> Seq(3L)))
    // any-batching law: equals the whole corpus applied as ONE batch
    val fresh = fx.scratch.resolve("fresh").toString
    graft.queries.TextAnalysis.applyPostingsBatch(spark,
      docsDF(Seq((1L, "a b"), (2L, "b c"), (3L, "b d"))), fresh)
    assert(indexOf(fresh) === streamed)
    // crash-replay: re-merging an already-merged batch is a
    // bit-identical no-op (concat alone would append duplicate ids)
    graft.queries.TextAnalysis.applyPostingsBatch(spark,
      docsDF(Seq((3L, "b d"))), store)
    assert(indexOf(store) === streamed, "batch replay must be a no-op")
    // out-of-order arrival: a LOWER id landing late still merges into
    // sorted position (sort_array on merge, not blind concat)
    graft.queries.TextAnalysis.applyPostingsBatch(spark,
      docsDF(Seq((0L, "b"))), store)
    assert(indexOf(store)("b") === Seq(0L, 1L, 2L, 3L))
    // retention rode along: one committed version per merge, pruned
    // to serving+grace
    assert(graft.io.ArtifactStore.latestVersion(spark, store,
      graft.queries.TextAnalysis.StreamPostingsArtifact) === Some(4))
  }

  test("q217 streamed BM25 stats: the served ranking equals the " +
      "one-batch build and a crash-replayed batch cannot double-count " +
      "the doc-keyed artifacts") {
    val fx = new ArrivalFixture("q217_spec",
      (b, s) => graft.queries.TextAnalysis.applyBm25Batch(spark, b, s))
    import fx.{docsDF, runStream, store, writeArrival}
    def ranking(root: String): Seq[Seq[Any]] =
      graft.queries.TextAnalysis.bm25FromStreamStore(spark, root)
        .collect().toSeq.map(_.toSeq)
    def nDocs(root: String): Long =
      graft.io.ArtifactStore.read(spark, root,
        graft.queries.TextAnalysis.StreamDoclensArtifact).count()
    // tf, dl, and df all differ across docs and batches
    val d1 = Seq((1L, "join hash join scan other words here"),
      (2L, "hash filter and some padding tokens"))
    val d2 = Seq((3L, "join scan scan filter"), (4L, "nothing relevant"))
    writeArrival("a1", d1)
    runStream()
    writeArrival("a2", d2)
    runStream()
    val streamed = ranking(store)
    assert(streamed.nonEmpty && nDocs(store) === 4L)
    // any-batching law: equals the whole corpus as ONE batch
    val fresh = fx.scratch.resolve("fresh").toString
    graft.queries.TextAnalysis.applyBm25Batch(spark,
      docsDF(d1 ++ d2), fresh)
    assert(ranking(fresh) === streamed)
    // crash-replay: re-merging batch 2 must not double-count — the
    // doc-keyed artifacts dedup on their keys where an additive
    // scalar merge would have inflated n_total to 6 and shifted
    // every idf
    graft.queries.TextAnalysis.applyBm25Batch(spark, docsDF(d2), store)
    assert(nDocs(store) === 4L, "replay must not double-count docs")
    assert(ranking(store) === streamed, "replay must not move the ranks")
  }

  test("q200 streamed label repair: cross-batch near-dups merge and the " +
      "final snapshot equals the single-batch build (any-batching law)") {
    import graft.queries.Curation
    val fx = new ArrivalFixture("q200_spec",
      (b, s) => Curation.applyArrivalBatch(spark, b, s))
    import fx.{docsDF, runStream, store, writeArrival}
    def labelRows(root: String) = graft.io.ArtifactStore.read(spark, root,
      Curation.StreamLabelsArtifact).collect()
    def labelsOf(root: String): Map[Long, Long] =
      labelRows(root).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "uno dos tres cuatro cinco seis siete ocho nueve"
    val tC = "red green blue yellow purple orange cyan magenta"
    // arrival 1: docs 1/2 duplicate each other, doc 3 unique
    writeArrival("a1", Seq((1L, tA), (2L, tA), (3L, tB)))
    runStream()
    assert(labelsOf(store) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // arrival 2, same checkpoint (only the new file is processed):
    // doc 4 near-dups doc 1 — a CROSS-batch pair, discoverable only
    // because arrival 1's signatures persist in the store
    writeArrival("a2", Seq((4L, tA + " extra"), (5L, tC)))
    runStream()
    // arrival 3: doc 6 near-dups doc 5 (cross-batch again)
    writeArrival("a3", Seq((6L, tC + " more")))
    runStream()
    val streamed = labelsOf(store)
    assert(streamed(4L) === 1L, "cross-batch near-dup must join cluster 1")
    assert(streamed(6L) === 5L, "arrival-3 dup must join arrival-2's doc")
    // any-batching law: the 3-arrival stream's final labels equal
    // the same corpus applied as ONE batch to a fresh store
    val fresh = fx.scratch.resolve("fresh").toString
    Curation.applyArrivalBatch(spark,
      docsDF(Seq((1L, tA), (2L, tA), (3L, tB), (4L, tA + " extra"),
        (5L, tC), (6L, tC + " more"))), fresh)
    assert(streamed === labelsOf(fresh))
    // one labels version published per arrival
    assert(graft.io.ArtifactStore.latestVersion(spark, store,
      Curation.StreamLabelsArtifact) === Some(3))
    // crash-replay: the checkpoint commit can die AFTER the signature
    // publish, re-running the batch against a store that already holds
    // its signatures — the dedup-on-read + repair idempotence must
    // make the replay a label no-op
    Curation.applyArrivalBatch(spark, docsDF(Seq((6L, tC + " more"))), store)
    assert(labelsOf(store) === streamed, "batch replay must be a no-op")
    // row-level check the map comparison above would mask: the
    // replayed doc must not appear TWICE in the published labels
    // (it sits in both the store and the delta during the replay)
    val rows = labelRows(store)
    assert(rows.length === rows.map(_.getLong(0)).distinct.length,
      s"duplicate doc rows in the replayed labels: ${rows.length}")
  }

  // ---------------------------------------------------------------
  // Streams.drain / runToMemory
  // ---------------------------------------------------------------

  private val Partitions = "spark.sql.shuffle.partitions"

  /** A listed arrival dir holding `files` parquet files of ids. */
  private def arrivals(prefix: String, files: Int): String = {
    val dir = tempDir(prefix).resolve("in").toString
    for (i <- 0 until files)
      spark.range(i * 10L, i * 10L + 10).coalesce(1)
        .write.mode("append").parquet(dir)
    dir
  }

  private def idStream(dir: String, maxFiles: Int = 1000) =
    spark.readStream.schema("id BIGINT")
      .option("maxFilesPerTrigger", maxFiles).parquet(dir)

  test("drain: micro-batches plan on 4 shuffle partitions while the " +
      "caller's session keeps its own count for the whole run") {
    val dir = arrivals("drain_outer", 2)
    val ckpt = tempDir("drain_outer_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    graft.Session.withConf(spark, Partitions -> "7") {
      Streams.drain(idStream(dir, maxFiles = 1), Some(ckpt))(_.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.add((spark.conf.get(Partitions),
            batch.sparkSession.conf.get(Partitions)))
          ()
      })
      assert(spark.conf.get(Partitions) === "7")
    }
    assert(seen.asScala.toSeq === Seq(("7", "4"), ("7", "4")),
      "one (outer, batch) reading per arrival file")
  }

  test("drain: a stateful run keeps 4 state-store partitions on a " +
      "session holding another count") {
    val dir = arrivals("drain_state", 2)
    val ckpt = tempDir("drain_state_ckpt")
    graft.Session.withConf(spark, Partitions -> "7") {
      Streams.drain(idStream(dir).groupBy((col("id") % 3).as("k")).count(),
        Some(ckpt.toString))(_.format("noop").outputMode("complete"))
    }
    val s = java.nio.file.Files.list(ckpt.resolve("state").resolve("0"))
    val parts = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).toSeq.sorted finally s.close()
    assert(parts === Seq("0", "1", "2", "3"))
  }

  test("runToMemory: a new run of a base drops the previous sink of that " +
      "base only") {
    val dir = arrivals("rtm_drop", 2)
    def sinks(base: String): Set[String] = spark.catalog.listTables()
      .collect().map(_.name).filter(_.startsWith(base + "_")).toSet
    val other = Streams.runToMemory(idStream(dir), "rtm_other",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val first = Streams.runToMemory(idStream(dir), "rtm_probe",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val firstName = sinks("rtm_probe")
    assert(firstName.size === 1)
    assert(first.count() === 20)
    val second = Streams.runToMemory(idStream(dir), "rtm_probe",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val secondName = sinks("rtm_probe")
    assert(secondName.size === 1 && secondName != firstName,
      s"previous sink kept: $firstName -> $secondName")
    assert(second.count() === 20)
    assert(sinks("rtm_other").size === 1 && other.count() === 20)
  }
}
