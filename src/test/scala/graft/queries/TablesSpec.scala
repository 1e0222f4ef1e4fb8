package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.TimestampType

/** The ts-encoding canary: the harness has regenerated testdata with
  * `events.ts` as parquet INT64 TIMESTAMP(NANOS) in some rounds and
  * native timestamp[us] in others, and a reader pinned to the wrong
  * one either refuses to read (batch) or silently yields garbage
  * epochs (a streaming schema reading µs through a Long column).
  * Both encodings are CHECKED IN as fixtures here, so the adaptive
  * readers ([[Tables.events]], [[graft.streaming.Streams
  * .eventsStream]]) are pinned by a test, not a memory note — if a
  * future data generation ships yet another encoding, this suite is
  * the first thing that goes red. */
class TablesSpec extends SparkSpec {

  /** Copy a checked-in fixture into a scratch dir under the name the
    * table readers expect (`<dir>/events.parquet`). */
  private def fixtureDir(name: String): String = {
    val dir = tempDir("ts_canary")
    val src = getClass.getResourceAsStream(s"/fixtures/$name.parquet")
    try Files.copy(src, dir.resolve("events.parquet"))
    finally src.close()
    dir.toString
  }

  private val expectedFirstUs = // 2024-03-01T12:00:00Z
    java.time.Instant.parse("2024-03-01T12:00:00Z").toEpochMilli * 1000L

  private def digest(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("batch events reader surfaces identical timestamps from both " +
      "shipped ts encodings") {
    val us = Tables.events(spark, fixtureDir("events_ts_micros"))
    val ns = Tables.events(spark, fixtureDir("events_ts_nanos"))
    assert(us.schema("ts").dataType === TimestampType)
    assert(ns.schema("ts").dataType === TimestampType)
    val du = digest(us)
    val dn = digest(ns)
    assert(du === dn, "encodings disagree after adaptation")
    assert(du.head === (0L, expectedFirstUs))
    assert(du.size === 12)
  }

  test("spread inserts the parallelizing exchange ONLY for scans that " +
      "cannot feed the session (round-16 verdict ask #2)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = tempDir("spread_gate")
    val rows = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"))
    rows.coalesce(1).write.parquet(s"$dir/one.parquet")
    rows.repartition(8).write.parquet(s"$dir/many.parquet")
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }
    // single-file single-row-group scan: 1 split < the session's 4
    // shuffle partitions -> spread repartitions (the harness shape)
    val one = spark.read.parquet(s"$dir/one.parquet")
    assert(Tables.scanParallelism(one) < 4)
    assert(exchanges(Tables.spread(one, "doc_id")).size === 1,
      "unsplittable scan must gain the spread exchange")
    // multi-file scan that already splits to >= the session's
    // parallelism: spread must NO-OP — same frame, no added Exchange
    // (the 100 TB shape: splittable input, exchange would be waste)
    val many = spark.read.parquet(s"$dir/many.parquet")
    assert(Tables.scanParallelism(many) >= 4)
    val spread = Tables.spread(many, "doc_id")
    assert(spread eq many, "gated spread must return the frame unchanged")
    assert(exchanges(spread).isEmpty,
      "splittable scan must NOT pay a spread exchange")
  }

  test("memoKeyed leaf KEEPS its hash partitioning: keyed join and " +
      "aggregate plan no exchange on the artifact side") {
    val rows = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    // the plain-memo shape this exists to fix: under AQE a
    // repartition(n, k).localCheckpoint() leaf degrades to
    // UnknownPartitioning and every keyed consumer re-shuffles it
    val plain = rows.repartition(4, col("k")).localCheckpoint()
    // the AQE-wrapped executedPlan is a leaf node, so count exchanges
    // in the formatted explain of the (initial) adaptive plan instead
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.count(l =>
          l.contains("Exchange (") && !l.contains("BroadcastExchange"))
    assert(exchanges(plain.groupBy("k").count()) === 1,
      "precondition: AQE checkpoint loses partitioning (if this " +
        "starts failing, memoKeyed's AQE-off workaround is obsolete)")
    val dir = tempDir("memo_keyed").toString
    val keyed = Tables.memoKeyed(spark, dir, "mk_probe", Seq("k"))(rows)
    assert(keyed.rdd.getNumPartitions === 4)
    assert(exchanges(keyed.groupBy("k").count()) === 0,
      "keyed aggregate over the memoKeyed leaf must not re-shuffle")
    assert(exchanges(keyed.as("a").hint("shuffle_hash")
        .join(keyed.as("b").hint("shuffle_hash"), "k")) === 0,
      "keyed self-join over the memoKeyed leaf must not re-shuffle")
    // and the AQE pin is restored afterwards
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("streaming events reader surfaces identical timestamps from " +
      "both shipped ts encodings") {
    def streamed(name: String, sink: String): Seq[(Long, Long)] = {
      val dir = fixtureDir(name)
      val out = graft.streaming.Streams.runToMemory(
        graft.streaming.Streams.eventsStream(spark, dir)
          .select(col("event_id"), col("ts")),
        sink, OutputMode.Append())
      digest(out)
    }
    val du = streamed("events_ts_micros", "ts_canary_us")
    val dn = streamed("events_ts_nanos", "ts_canary_ns")
    assert(du === dn, "stream encodings disagree after adaptation")
    assert(du.head === (0L, expectedFirstUs))
    assert(du.size === 12)
  }
}
