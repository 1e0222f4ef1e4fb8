package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws for the warehouse-side incremental maintenance (q218/q219):
  * the daily-rollup append must only scan the appended fecha, and the
  * per-user totals merge must be exact group algebra — corrections
  * compose, inverses cancel, vanished users drop. */
class WarehouseIvmSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q218: the delta side of the maintained rollup PARTITION-prunes " +
      "the warehouse to exactly the appended fecha (refresh cost = one " +
      "day's slice, never a corpus re-aggregation)") {
    val df = WarehouseIvm.rollupIvmAppend(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // two parquet scans: the stored base artifact + the warehouse delta
    val whScans = scans.filter(_.partitionFilters.nonEmpty)
    assert(whScans.size === 1,
      s"expected exactly one partition-filtered warehouse scan:\n$plan")
    assert(whScans.head.selectedPartitions.partitionCount === 1,
      s"selected ${whScans.head.selectedPartitions.partitionCount}")
    // and the base side comes from the artifact store, not the warehouse
    assert(scans.exists(s => s.partitionFilters.isEmpty &&
      s.relation.location.rootPaths.exists(
        _.toString.contains("graft_whstore"))), plan.toString)
  }

  test("q219 fixture: a corrected re-delivery propagates by retraction " +
      "algebra — retracted rows subtract, added rows insert (full_outer " +
      "direction), a fully-retracted user vanishes") {
    import spark.implicits._
    // base totals over a 3-user history
    val base = Seq(
      (1L, 3L, 30.0),  // keeps some rows of the slice
      (2L, 2L, 20.0),  // ALL rows retracted -> must vanish
      (3L, 1L, 5.0))   // untouched by the slice
      .toDF("user_id", "n", "sum_raw")
    // the slice as originally delivered
    val oldSlice = Seq(
      (1L, 10.0), (1L, 4.0), // user 1 delivered two rows that day
      (2L, 12.0), (2L, 8.0)) // user 2's entire history was that day
      .toDF("user_id", "value")
    // the corrected re-delivery: user 1 keeps one row, user 2 drops
    // out entirely, and a NEW user 9 appears in the corrected file
    val newSlice = Seq((1L, 4.0), (9L, 2.5))
      .toDF("user_id", "value")
    val got = WarehouseIvm.applyTotalsDiff(base, oldSlice, newSlice)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (1L, 2L, 20.0), // 3-2+1 rows, 30-14+4
      (3L, 1L, 5.0),  // untouched
      (9L, 1L, 2.5))) // inserted by the correction
  }

  test("q219 randomized law: incremental totals == full rebuild for " +
      "random histories and random corrections (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(11, 47, 93)) {
      val rnd = new scala.util.Random(seed)
      // 2-dp values keep the shared 4dp output rounding boundary-safe
      def v() = rnd.nextInt(10000) / 100.0
      val history = Seq.fill(200)(
        (rnd.nextInt(20).toLong, rnd.nextInt(5), v()))
        .toDF("user_id", "day", "value")
      val slice = history.filter(col("day") === 0)
        .select(col("user_id"), col("value"))
      val keep = rnd.nextInt(9000) / 100.0
      val corrected = slice.filter(col("value") < keep)
        .unionByName(Seq((99L, v()), (98L, v()))
          .toDF("user_id", "value")) // correction also ADDS rows
      val base = history.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_raw"))
      val incr = WarehouseIvm.applyTotalsDiff(base, slice, corrected)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val rebuilt = history.filter(col("day") =!= 0)
        .select(col("user_id"), col("value"))
        .unionByName(corrected)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(incr.toSeq === rebuilt.toSeq, s"seed $seed")
    }
  }

  test("q220 laws: the streamed rollup's fecha-keyed replace grows " +
      "cross-batch, makes a crash replay a content no-op, lands an " +
      "out-of-order fecha by key, and equals the one-batch build") {
    import spark.implicits._
    def batch(rows: (Int, String, Double)*) =
      rows.toSeq.map { case (day, typ, v) =>
        (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), typ, v)
      }.toDF("ts", "event_type", "value")
    def content(root: String): Seq[(java.sql.Date, String, Long, Double)] =
      WarehouseIvm.rollupOut(graft.io.ArtifactStore.read(spark, root,
          WarehouseIvm.StreamRollupArtifact))
        .collect().map(r => (r.getDate(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSeq
    val b1 = batch((1, "view", 1.5), (1, "view", 2.5), (2, "click", 4.0))
    val b2 = batch((3, "view", 3.0))
    val late = batch((1, "click", 9.0)) // fecha 1 RE-arrives, corrected
    val store = tempDir("graft_q220_spec").toString
    WarehouseIvm.applyRollupBatch(spark, b1, store)
    WarehouseIvm.applyRollupBatch(spark, b2, store)
    val afterTwo = content(store)
    assert(afterTwo.map(r => (r._1.toString, r._2, r._3, r._4)) === Seq(
      ("2024-01-01", "view", 2L, 4.0), ("2024-01-02", "click", 1L, 4.0),
      ("2024-01-03", "view", 1L, 3.0))) // cross-batch growth
    // crash replay: re-delivering b2 must not change the content
    WarehouseIvm.applyRollupBatch(spark, b2, store)
    assert(content(store) === afterTwo, "replayed batch must be a no-op")
    // out-of-order: fecha 1 re-arrives corrected — replaced by KEY
    // (its old grain rows drop; an additive merge would keep both)
    WarehouseIvm.applyRollupBatch(spark, late, store)
    val afterLate = content(store)
    assert(afterLate.map(r => (r._1.toString, r._2, r._3, r._4)) === Seq(
      ("2024-01-01", "click", 1L, 9.0), ("2024-01-02", "click", 1L, 4.0),
      ("2024-01-03", "view", 1L, 3.0)))
    // any-fecha-batching law: the same arrivals as ONE batch build the
    // same store content
    val one = tempDir("graft_q220_one").toString
    WarehouseIvm.applyRollupBatch(spark,
      batch((1, "click", 9.0), (2, "click", 4.0), (3, "view", 3.0)), one)
    assert(content(one) === afterLate)
    // the replay-no-op law holds for the NULL-fecha grain too
    // (malformed ts): the replace match is null-safe, so re-delivery
    // cannot duplicate the NULL group
    val nullTs = Seq((Option.empty[java.sql.Timestamp], "view", 1.0))
      .toDF("ts", "event_type", "value")
    WarehouseIvm.applyRollupBatch(spark, nullTs, store)
    val withNull = content(store)
    assert(withNull.count(_._1 == null) === 1)
    WarehouseIvm.applyRollupBatch(spark, nullTs, store)
    assert(content(store) === withNull,
      "NULL-fecha replay must be a no-op")
  }

  test("q222 laws: the ADDITIVE streamed rollup accumulates a fecha " +
      "split across three arrival files to the one-batch build, skips " +
      "replayed batch ids, is order-insensitive, and keeps the " +
      "NULL-fecha grain exact") {
    import spark.implicits._
    def batch(rows: (Option[Int], String, Double)*) =
      rows.toSeq.map { case (day, typ, v) =>
        (day.map(d => java.sql.Timestamp.valueOf(
          f"2024-01-$d%02d 10:00:00")).orNull, typ, v)
      }.toDF("ts", "event_type", "value")
    def content(root: String): Seq[(String, String, Long, Double)] =
      WarehouseIvm.rollupOut(graft.io.ArtifactStore.read(spark, root,
          WarehouseIvm.AdditiveRollupArtifact))
        .collect().map(r => (String.valueOf(r.getDate(0)), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSeq
    // ONE fecha split across three arrival files — q220's replace arm
    // would keep only the last file's contribution; ⊕ accumulates
    val f1 = batch((Some(1), "view", 1.5), (Some(1), "click", 2.0))
    val f2 = batch((Some(1), "view", 2.5), (None, "view", 7.0))
    val f3 = batch((Some(1), "view", 4.0), (Some(2), "click", 9.0))
    val split = tempDir("graft_q222_split").toString
    WarehouseIvm.applyRollupBatchAdditive(spark, f1, 0L, "L", split)
    WarehouseIvm.applyRollupBatchAdditive(spark, f2, 1L, "L", split)
    WarehouseIvm.applyRollupBatchAdditive(spark, f3, 2L, "L", split)
    val afterSplit = content(split)
    // == the one-batch build of the same rows
    val one = tempDir("graft_q222_one").toString
    WarehouseIvm.applyRollupBatchAdditive(spark,
      f1.unionByName(f2).unionByName(f3), 0L, "L", one)
    assert(afterSplit === content(one),
      "split-fecha arrival diverged from the one-batch build")
    // Spark ORDER BY ASC is NULLS FIRST: the malformed-ts grain leads
    assert(afterSplit === Seq(
      ("null", "view", 1L, 7.0),
      ("2024-01-01", "click", 1L, 2.0), ("2024-01-01", "view", 3L, 8.0),
      ("2024-01-02", "click", 1L, 9.0)))
    // crash replay: batches re-deliver with their ORIGINAL ids — both
    // a mid-stream id and the newest id must be exact no-ops (an
    // additive re-merge would double-count; the hwm skips it),
    // including the NULL-fecha contribution in f2
    WarehouseIvm.applyRollupBatchAdditive(spark, f2, 1L, "L", split)
    WarehouseIvm.applyRollupBatchAdditive(spark, f3, 2L, "L", split)
    assert(content(split) === afterSplit, "replayed batch double-counted")
    // order-insensitivity: the same files as (f3, f1, f2) build the
    // same content — ⊕ is commutative/associative
    val perm = tempDir("graft_q222_perm").toString
    WarehouseIvm.applyRollupBatchAdditive(spark, f3, 0L, "L", perm)
    WarehouseIvm.applyRollupBatchAdditive(spark, f1, 1L, "L", perm)
    WarehouseIvm.applyRollupBatchAdditive(spark, f2, 2L, "L", perm)
    assert(content(perm) === afterSplit,
      "arrival order changed the served rollup")
    // a genuinely NEW batch id with new rows still lands after replays
    WarehouseIvm.applyRollupBatchAdditive(spark,
      batch((Some(2), "click", 1.0)), 3L, "L", split)
    assert(content(split).find(r => r._1 == "2024-01-02")
      .exists(r => r._3 == 2L && r._4 == 10.0))
    // LINEAGE GUARD: a stream restarted against a NEW checkpoint
    // restarts ids at 0 — without the guard, batch 0 from the new
    // lineage would be silently SKIPPED as a replay (hwm is 3). It
    // must fail loudly instead, and change nothing.
    val beforeGuard = content(split)
    val err = intercept[IllegalStateException] {
      WarehouseIvm.applyRollupBatchAdditive(spark,
        batch((Some(3), "view", 5.0)), 0L, "A-DIFFERENT-CKPT", split)
    }
    assert(err.getMessage.contains("lineage"), err.getMessage)
    assert(content(split) === beforeGuard,
      "a foreign-lineage batch changed the artifact")
  }

  test("q219 inverse law: applying a correction and then its inverse " +
      "returns the base totals (the ⊖ really is the group inverse)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val history = Seq.fill(120)(
      (rnd.nextInt(12).toLong, rnd.nextInt(3), rnd.nextInt(10000) / 100.0))
      .toDF("user_id", "day", "value")
    val slice = history.filter(col("day") === 0)
      .select(col("user_id"), col("value"))
    val corrected = slice.filter(col("value") < 50.0)
    val base = history.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_raw"))
    val once = WarehouseIvm.applyTotalsDiff(base, slice, corrected)
      .select(col("user_id"), col("n_events").as("n"),
        col("sum_value").as("sum_raw"))
    // inverse correction: old and new slices swap roles
    val back = WarehouseIvm.applyTotalsDiff(once, corrected, slice)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = base
      .select(col("user_id"), col("n"), round(col("sum_raw"), 4))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(back.toSeq === expected.toSeq)
  }
}
