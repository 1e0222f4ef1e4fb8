package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the physical plans the 100 TB posture
  * depends on, checked at sf0.001 (plans don't change with volume
  * for these shapes). */
class RelationalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed layout join has no shuffle exchange on either side") {
    // test run must not leak layouts into the unswept ./spark-warehouse
    val loc = tempDir("graft_spec_b")
    graft.io.BucketedLayout.writeBucketed(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      "spec_orders_b", "o_orderkey", 4,
      Some(loc.resolve("orders").toString))
    graft.io.BucketedLayout.writeBucketed(
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity")),
      "spec_lineitem_b", "l_orderkey", 4,
      Some(loc.resolve("lineitem").toString))
    val o = spark.table("spec_orders_b")
    val l = spark.table("spec_lineitem_b")
    // sf0.001 is small enough that broadcast would win; disable it so
    // the plan shows what a 100 TB fact-fact join would do.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
      joined.collect() // force execution so AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q212: a fresh session plans the bucketed SMJ shuffle-free and " +
      "bucket-prunes a point lookup from catalog metadata alone") {
    val (ot, lt) = Relational.bucketedWritten(spark, dir)
    // the reading session did none of the layout work — catalog
    // metadata (the bucket spec) is all it has
    val s = ColdRestart.fresh(spark)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = s.table(ot)
      val l = s.table(lt)
      val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
      joined.collect() // force execution so AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"catalog bucketed join must not shuffle:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a point predicate on the bucket key opens 1 of 8 buckets —
    // pruned from the catalog's bucket spec before any file opens.
    // DisableUnnecessaryBucketedScan turns the bucketed scan off for
    // a bare filter (no join/agg wants the partitioning) and with it
    // forfeits the pruning — scope it off to pin the pruning fact.
    val prevAuto =
      s.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      val probe = s.table(lt).filter(col("l_orderkey") === lit(1L))
      probe.collect()
      val pplan = probe.queryExecution.executedPlan.toString
      assert(pplan.contains("SelectedBucketsCount: 1 out of 8"),
        s"point lookup must prune to one bucket:\n$pplan")
    } finally s.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
  }

  test("q93 injects a runtime bloom filter that prunes the fact side pre-shuffle") {
    val withBloom = graft.Session.withConf(spark, Relational.bloomConfs: _*) {
      val df = Relational.bloomPruneJoinPlan(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter must inject under the scoped confs:\n$plan")
      assert(plan.contains("bloom_filter_agg"), plan)
      df.collect().map(_.toSeq).toSet
    }
    // pruning is semantics-preserving: same rows without the bloom
    val without = {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      try Relational.bloomPruneJoinPlan(spark, dir).collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
    assert(withBloom === without)
  }

  test("plain fact-fact join DOES shuffle (the contrast q23 removes)") {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val joined = o.join(l, o("o_orderkey") === l("l_orderkey"))
    assert(joined.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("filter pushdown reaches the parquet scan with pruned schema") {
    val df = Relational.filterPushdown(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["), scan)
    assert(scan.contains("l_shipdate"), scan)
    // 4-of-11 column pruning: ReadSchema must not include untouched cols
    assert(!scan.contains("l_comment"), "column pruning failed:\n" + scan)
  }

  test("dimension join broadcasts the small sides") {
    val df = Relational.joinDims(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = Relational.topK(spark, dir)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("word count plans as TakeOrderedAndProject after two-phase agg") {
    val df = TextAnalysis.wordCount(spark, dir)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("approx percentile stays within the sketch's rank-error bound") {
    // tolerance via a generous relative band (the harness prices are
    // smoothly distributed, so rank error ~ value error here). The
    // query itself emits the band check as `approx_within_5pct` so the
    // DuckDB oracle can hash-verify it; here we assert it holds.
    val rows = Relational.approxPercentile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"sketch out of band for ${r.getString(0)}")
    }
  }

  test("q28 exact percentiles are distributed (no value-buffering aggregate) and match quantile_cont") {
    val df = Relational.percentiles(spark, dir)
    // The scale guarantee: no Percentile aggregate (which buffers every
    // group value in executor memory) anywhere in the plan — ranks come
    // from a sort-based window, the aggregate is a constant-memory SUM.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      s"q28 must not use a value-buffering percentile aggregate:\n$plan")
    // Value check against a driver-computed quantile_cont on sf0.001.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"),
        col("l_quantity").cast("double"))
      .collect().groupBy(_.getString(0))
    def qcont(vs: Array[Double], q: Double): Double = {
      val s = vs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      val v = s(lo) + (h - lo) * (s(hi) - s(lo))
      math.rint(v * 10000) / 10000
    }
    df.collect().foreach { r =>
      val g = li(r.getString(0))
      val price = g.map(_.getDouble(1)); val qty = g.map(_.getDouble(2))
      assert(math.abs(r.getDouble(1) - qcont(price, 0.5)) < 1e-9, r)
      assert(math.abs(r.getDouble(2) - qcont(price, 0.95)) < 1e-9, r)
      assert(math.abs(r.getDouble(3) - qcont(qty, 0.5)) < 1e-9, r)
    }
  }

  test("exactQuantiles ignores NULL measures like the aggregate it replaces") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", null), ("a", 3.0), ("a", null), ("a", 5.0),
      ("b", null), ("b", 10.0)).toDF("g", "m")
    val out = Relational.exactQuantiles(df, "g", "m",
      Seq(0.5 -> "med")).collect().map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    // quantile_cont over the NON-NULL values only: a={1,3,5} -> 3,
    // b={10} -> 10; NULLs ranked first would have shifted both
    assert(out === Map("a" -> 3.0, "b" -> 10.0))
  }

  test("exactQuantiles law: matches the naive interpolated quantile on " +
      "random duplicate-heavy groups at every q incl. the endpoints") {
    import spark.implicits._
    def qcont(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted
      val h = q * (s.length - 1) + 1
      val lo = s(math.floor(h).toInt - 1)
      val hi = s(math.ceil(h).toInt - 1)
      lo + (h - math.floor(h)) * (hi - lo)
    }
    val rnd = new scala.util.Random(428)
    for (trial <- 1 to 20) {
      val groups = 1 + rnd.nextInt(4)
      val rows = (0 until groups).flatMap { g =>
        val n = 1 + rnd.nextInt(30)
        // small value domain -> heavy duplicates, the rank-candidate
        // edge case (floor == ceil collisions)
        Seq.fill(n)((s"g$g", rnd.nextInt(6).toDouble))
      }
      val qs = Seq(0.0 -> "q0", 0.25 -> "q25", 0.37 -> "q37",
        0.5 -> "q50", 0.9 -> "q90", 1.0 -> "q100")
      val out = Relational.exactQuantiles(
        rows.toDF("g", "m"), "g", "m", qs).collect()
        .map(r => r.getString(0) -> r).toMap
      val byG = rows.groupBy(_._1)
      assert(out.keySet === byG.keySet, s"trial $trial")
      for ((g, grows) <- byG; ((q, _), i) <- qs.zipWithIndex) {
        val expect = qcont(grows.map(_._2), q)
        val got = out(g).getDouble(i + 1)
        assert(math.abs(got - expect) < 1e-9,
          s"trial $trial group $g q=$q: $got != $expect")
      }
    }
  }

  test("exactQuantilesMulti law: equals per-measure exactQuantiles " +
      "joined on the group key, on random duplicate-heavy frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(1137)
    for (trial <- 1 to 10) {
      val groups = 1 + rnd.nextInt(3)
      val rows = (0 until groups).flatMap { g =>
        val n = 1 + rnd.nextInt(25)
        Seq.fill(n)((s"g$g", rnd.nextInt(5).toDouble,
          (rnd.nextInt(90) + 10).toDouble))
      }
      val df = rows.toDF("g", "m1", "m2")
      val spec = Seq(
        "m1" -> Seq(0.5 -> "m1_med", 0.9 -> "m1_p90"),
        "m2" -> Seq(0.25 -> "m2_q25", 1.0 -> "m2_max"))
      val multi = Relational.exactQuantilesMulti(df, "g", spec)
        .collect().map(r => r.getString(0) -> r).toMap
      val single = spec.map { case (c, qs) =>
        Relational.exactQuantiles(df, "g", c, qs) }
        .reduce(_.join(_, Seq("g")))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(multi.keySet === single.keySet, s"trial $trial")
      for (g <- single.keySet; i <- 1 to 4)
        assert(math.abs(multi(g).getDouble(i) - single(g).getDouble(i)) < 1e-9,
          s"trial $trial group $g col $i")
    }
  }

  test("approx distinct (HLL) stays within 5% of the exact count") {
    val rows = Relational.approxDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"HLL out of band for ${r.getString(0)}")
    }
  }

  test("sliding window fans each event into exactly duration/slide windows") {
    val digest = Relational.slidingWindow(spark, dir).collect()
    val nEvents = Tables.events(spark, dir).count()
    assert(digest.map(_.getLong(2)).sum === 2 * nEvents)
  }

  test("funnel: stages match in ts order only, later stages need all " +
      "earlier ones — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("funnel_spec").toString
    def ns(s: Double): Long = (s * 1e9).toLong
    // u1: clean view@1 click@2 purchase@3 (full funnel, delays 1s/2s)
    // u2: click@1 BEFORE its first view@2 -> view only
    // u3: view@1 purchase@2 but no click -> purchase must NOT count
    // u4: click@4 precedes view@5; click@6 counts; purchase@5.5
    //     precedes that click; purchase@7 counts (delays 1s/2s)
    // u5: purchase only, no view -> no stage at all
    Seq(
      (0L, ns(1.0), 1L, "view", 1.0), (1L, ns(2.0), 1L, "click", 1.0),
      (2L, ns(3.0), 1L, "purchase", 1.0),
      (3L, ns(1.0), 2L, "click", 1.0), (4L, ns(2.0), 2L, "view", 1.0),
      (5L, ns(1.0), 3L, "view", 1.0), (6L, ns(2.0), 3L, "purchase", 1.0),
      (7L, ns(4.0), 4L, "click", 1.0), (8L, ns(5.0), 4L, "view", 1.0),
      (9L, ns(5.5), 4L, "purchase", 1.0), (10L, ns(6.0), 4L, "click", 1.0),
      (11L, ns(7.0), 4L, "purchase", 1.0),
      (12L, ns(1.0), 5L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.funnel(spark, fdir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("1_view") === ((4L, 0L)))
    assert(out("2_click") === ((2L, 2_000_000L)))
    assert(out("3_purchase") === ((2L, 4_000_000L)))
  }

  test("rolling anomaly: only the spike day flags; warm-up days never do") {
    import spark.implicits._
    val fdir = tempDir("anom_spec").toString
    // 9 days of alternating 9/11 events, then a 30-event day 9.
    // Trailing-7 baseline for day 9: mu = 71/7, sigma ~ 0.9897 ->
    // z ~ 20, flags. Every alternating day stays within |z| < 1.6,
    // and days 1-3 are warm-up (< 3 prior days) regardless.
    val day0 = 1704067200L // 2024-01-01 UTC
    val counts = Seq(9, 11, 9, 11, 9, 11, 9, 11, 30)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      (0 until c).map(j => (i * 1000L + j,
        (day0 + i * 86400L + j) * 1000000000L, 1L, "a", 1.0))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val r = Relational.rollingAnomaly(spark, fdir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 9L)    // n_days
    assert(r(0).getLong(2) === 110L)  // n_events
    assert(r(0).getLong(3) === 1L)    // only the spike day
  }

  test("record linkage: disjoint-token catalog links every dirty record " +
      "to its true entity at distance 1") {
    import spark.implicits._
    val fdir = tempDir("link_spec").toString
    // Token-disjoint 4-token names: one deletion corrupts at most 2
    // ADJACENT tokens, so at least one intact token PAIR survives on
    // the dirty side and matches the entity's pair keys — blocking
    // reaches the true entity by construction, and levenshtein scores
    // the 1-char deletion as distance 1.
    Seq(
      (1L, "alpha zulu", "bravo", "zz1", 1, 1.0),
      (2L, "charlie zippo", "delta", "zz2", 1, 1.0),
      (3L, "echo zorro", "foxtrot", "zz3", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$fdir/part.parquet")
    val out = Relational.recordLinkage(spark, fdir).collect()
    assert(out.length === 1)
    assert(out(0).getInt(0) === 1)      // every link at edit distance 1
    assert(out(0).getLong(1) === 3L)    // all records linked
    assert(out(0).getLong(2) === 3L)    // all to their true entity
  }

  test("attribution: latest qualifying touch wins; stale and missing " +
      "touches fall to none — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("attr_spec").toString
    def ns(s: Long): Long = s * 1000000000L
    val day = 86400L
    Seq(
      // u1: view@1 click@2 purchase@3 -> click, 1s latency
      (0L, ns(1), 1L, "view", 1.0), (1L, ns(2), 1L, "click", 1.0),
      (2L, ns(3), 1L, "purchase", 2.0),
      // u2: view@1 purchase@2 -> view
      (3L, ns(1), 2L, "view", 1.0), (4L, ns(2), 2L, "purchase", 2.0),
      // u3: purchase with no touch at all -> none
      (5L, ns(1), 3L, "purchase", 2.0),
      // u4: view 8 days before the purchase -> outside lookback, none
      (6L, ns(1), 4L, "view", 1.0),
      (7L, ns(1 + 8 * day), 4L, "purchase", 2.0),
      // u5: click then view -> the LATER view wins
      (8L, ns(1), 5L, "click", 1.0), (9L, ns(2), 5L, "view", 1.0),
      (10L, ns(3), 5L, "purchase", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.attribution(spark, fdir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out("click") === ((1L, 2.0, 1000000L)))
    assert(out("view") === ((2L, 4.0, 2000000L)))
    assert(out("none") === ((2L, 4.0, 0L)))
  }

  test("activity streaks: islands split on gaps; per-user best streak " +
      "histogram — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("streak_spec").toString
    val day0 = 1704067200L // 2024-01-01 UTC
    def dayTs(d: Int): Long = (day0 + d * 86400L + 3600L) * 1000000000L
    // u1: days 1,2,3 then 5,6 -> best 3; u2: one day -> 1;
    // u3: 1,2 then 4,5,6,7 -> best 4. Two events on one day must not
    // double-count (u2 gets a duplicate-day event).
    val rows =
      Seq(1, 2, 3, 5, 6).map(d => (1L, dayTs(d))) ++
      Seq((2L, dayTs(10)), (2L, dayTs(10) + 1000000000L)) ++
      Seq(1, 2, 4, 5, 6, 7).map(d => (3L, dayTs(d)))
    rows.zipWithIndex
      .map { case ((u, t), i) => (i.toLong, t, u, "view", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.activityStreaks(spark, fdir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("transition matrix: lag pairs with start state, probabilities " +
      "normalize per source — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("trans_spec").toString
    def ns(s: Long): Long = s * 1000000000L
    // u1: a b a ; u2: a a  ->  (^,a):2 p 1.0 ; (a,a):1 and (a,b):1
    // p 0.5 each ; (b,a):1 p 1.0
    Seq(
      (0L, ns(1), 1L, "a", 1.0), (1L, ns(2), 1L, "b", 1.0),
      (2L, ns(3), 1L, "a", 1.0),
      (3L, ns(1), 2L, "a", 1.0), (4L, ns(2), 2L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.transitionMatrix(spark, fdir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("^", "a")) === ((2L, 1.0)))
    assert(out(("a", "a")) === ((1L, 0.5)))
    assert(out(("a", "b")) === ((1L, 0.5)))
    assert(out(("b", "a")) === ((1L, 1.0)))
    assert(out.size === 4)
  }

  test("volume trend: perfect ramp gives slope 2 r2 1; flat series " +
      "gives slope 0 with null r2") {
    import spark.implicits._
    val fdir = tempDir("trend_spec").toString
    val day0 = 1704067200L
    def dayTs(d: Int, j: Int): Long = (day0 + d * 86400L + j) * 1000000000L
    // type a: 10,12,14,16,18 events on days 0..4 (exact line, slope 2)
    // type b: 5,5,5 on days 0..2 (zero variance in y -> r2 undefined)
    val rows =
      (0 until 5).flatMap(d => (0 until 10 + 2 * d).map(j =>
        ("a", dayTs(d, j)))) ++
      (0 until 3).flatMap(d => (0 until 5).map(j => ("b", dayTs(d, j))))
    rows.zipWithIndex
      .map { case ((ty, t), i) => (i.toLong, t, 1L, ty, 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.volumeTrend(spark, fdir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 5L)
    assert(out("a").getLong(2) === 70L)
    assert(out("a").getDouble(3) === 2.0)
    assert(out("a").getDouble(4) === 1.0)
    assert(out("b").getDouble(3) === 0.0)
    assert(out("b").isNullAt(4))
  }

  test("funnel plan: the three stage windows share ONE user-keyed " +
      "exchange over the event scan") {
    val plan = Relational.funnel(spark, dir)
      .queryExecution.executedPlan.toString
    // exchanges: one hashpartitioning(user_id) for the windows + the
    // final single-partition sort of the 3-row stage rollup; the
    // chained stage mins must NOT re-shuffle the log per stage
    val hashEx = "hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(hashEx >= 1, plan)
    val winEx = "Exchange hashpartitioning\\(user_id[^)]*\\)"
      .r.findAllIn(plan).toSeq
    assert(winEx.distinct.length <= 1,
      s"stage windows must reuse one user exchange:\n$plan")
  }

  test("length-batches plan: every window is partitioned — no " +
      "single-partition corpus sort") {
    val plan = Curation.lengthBatches(spark, dir)
      .queryExecution.executedPlan.toString
    // the per-(bucket, length) rank and the bucket-level offset
    // window both carry a partition spec; an empty partitionBy on
    // corpus-sized input would appear as SinglePartition before a
    // Window over the full data
    val rowNumWindows = plan.linesIterator
      .filter(l => l.contains("row_number()") && l.contains("Window"))
      .toSeq
    assert(rowNumWindows.nonEmpty, plan)
    assert(rowNumWindows.forall(_.contains("windowspecdefinition(lb")),
      s"rank window must be (lb, n)-partitioned:\n$plan")
  }

  test("rfm: five users spanning the metric range land on the quintile " +
      "diagonal — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("rfm_spec").toString
    val day0 = 1704067200L
    // user i buys on days 1..i at i dollars each: r = 5-i, f = i,
    // m = 100*i*i cents. Against the 5-user quintile boundaries each
    // user scores (i, i, i) on all three axes.
    val rows = for { i <- 1 to 5; j <- 1 to i } yield
      (i.toLong * 100 + j, (day0 + j * 86400L) * 1000000000L,
        i.toLong, "purchase", i.toDouble)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.rfmSegments(spark, fdir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out.size === 5)
    for (i <- 1 to 5)
      assert(out((i, i, i)) === ((1L, 100L * i * i)))
  }

  test("skew profile: one hot key among uniform keys is the only salt " +
      "candidate — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("skew_spec").toString
    // events: user 0 fires 80 events, users 1..20 fire 2 each ->
    // 120 rows / 21 keys, mean 5.71; heavy iff cnt*21 > 240, so only
    // the hot key qualifies; skew = 80*21/120 = 14.0
    val ev = (0 until 80).map(i => (i.toLong, i * 1000000000L, 0L)) ++
      (1 to 20).flatMap(u => Seq(
        (1000L + u * 2, u * 1000000000L, u.toLong),
        (1001L + u * 2, u * 1000000000L + 1, u.toLong)))
    ev.map { case (e, t, u) => (e, t, u, "view", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    Seq((1L, 1L, 1, 1.0, "d", "i", "s", "1995-01-01", "N", "O"))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "c5", "c6", "c7", "c8", "c9", "c10")
      .select(col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$fdir/lineitem.parquet")
    Seq((1L, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$fdir/documents.parquet")
    val r = Relational.skewProfile(spark, fdir).collect()
      .map(x => x.getString(0) -> x).toMap
    val e = r("events.user_id")
    assert(e.getLong(1) === 120L)
    assert(e.getLong(2) === 21L)
    assert(e.getLong(3) === 80L)
    assert(e.getDouble(5) === 14.0)
    assert(e.getLong(6) === 1L)
  }

  test("session paths: 3-prefix truncation, gap splits, short sessions " +
      "render fully — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("path_spec").toString
    def ns(s: Long): Long = s * 1000000000L
    // u1: a,b,c,d within one session -> path 'a->b->c' (truncated);
    // u2: 'x' alone, then a 400s gap, then 'y','z' -> paths 'x', 'y->z'
    Seq(
      (0L, ns(0), 1L, "a", 1.0), (1L, ns(10), 1L, "b", 1.0),
      (2L, ns(20), 1L, "c", 1.0), (3L, ns(30), 1L, "d", 1.0),
      (4L, ns(0), 2L, "x", 1.0),
      (5L, ns(400), 2L, "y", 1.0), (6L, ns(410), 2L, "z", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.sessionPaths(spark, fdir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a->b->c" -> 1L, "x" -> 1L, "y->z" -> 1L))
  }

  test("dau/wau: trailing week counts distinct users across activity " +
      "gaps — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("dau_spec").toString
    val day0 = 1704067200L
    def dayTs(d: Int, j: Int): Long = (day0 + d * 86400L + j) * 1000000000L
    // u1 active days 0 and 3 (twice on day 0 — must not double-count),
    // u2 day 0 only, u3 day 5. Report days {0,3,5}: DAU 2/1/1;
    // WAU(0)={u1,u2}; WAU(3) spans [-3,3]={u1,u2}; WAU(5) spans
    // [-1,5] which still REACHES day 0 -> {u1,u2,u3}=3.
    Seq((0L, dayTs(0, 0), 1L), (1L, dayTs(0, 60), 1L),
      (2L, dayTs(3, 0), 1L), (3L, dayTs(0, 0), 2L), (4L, dayTs(5, 0), 3L))
      .map { case (e, t, u) => (e, t, u, "view", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val base = 19723L - 19723L + (day0 / 86400L)
    val out = Relational.dauWau(spark, fdir).collect()
      .map(r => (r.getInt(0).toLong - base) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(0L) === ((2L, 2L, 1.0)))
    assert(out(3L) === ((1L, 2L, 0.5)))
    assert(out(5L) === ((1L, 3L, 0.333333)))
  }

  test("gap spectrum: power-of-two second buckets, per-user lag, " +
      "sub-second clamp — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("gap_spec").toString
    def us(v: Long): Long = v * 1000L // microseconds -> ns column
    // u1: gaps 0.5s (bucket 0 via clamp), 3s (bucket 1), 300s
    // (bucket 8: 256..511); u2 single event -> no gap
    Seq(
      (0L, us(0), 1L, "a", 1.0),
      (1L, us(500000), 1L, "a", 1.0),          // +0.5 s
      (2L, us(3500000), 1L, "a", 1.0),         // +3 s
      (3L, us(303500000), 1L, "a", 1.0),       // +300 s
      (4L, us(0), 2L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.gapSpectrum(spark, fdir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(0L -> ((1L, 0L)), 1L -> ((1L, 3L)),
      8L -> ((1L, 300L))))
  }

  test("pareto: cumulative shares descend from the richest bucket and " +
      "the 80% line flags once — hand-computed") {
    import spark.implicits._
    val fdir = tempDir("pareto_spec").toString
    def ns(s: Long): Long = s * 1000000000L
    // user 1: 2x$4.00 = 800c (bucket 9), user 2: $1.50 = 150c
    // (bucket 7), user 3: $0.50 = 50c (bucket 5); total 1000c.
    // Richest-first shares: 0.8 (crosses exactly), 0.95, 1.0.
    Seq((0L, ns(1), 1L, "purchase", 4.0), (1L, ns(2), 1L, "purchase", 4.0),
      (2L, ns(1), 2L, "purchase", 1.5), (3L, ns(1), 3L, "purchase", 0.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.paretoRevenue(spark, fdir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getBoolean(6)))).toMap
    assert(out(9L) === ((1L, 800L, 0.8, true)))
    assert(out(7L) === ((2L, 950L, 0.95, false)))
    assert(out(5L) === ((3L, 1000L, 1.0, false)))
  }

  test("ri audit: one planted orphan per relationship is found — " +
      "hand-computed") {
    import spark.implicits._
    val fdir = tempDir("ri_spec").toString
    Seq((1L, "c1", 0L, 1.0, "S"), (2L, "c2", 5L, 1.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$fdir/customer.parquet")
    Seq((0L, "ALG", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$fdir/nation.parquet")
    Seq((10L, 1L, "O", 1.0), (11L, 99L, "O", 1.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$fdir/orders.parquet")
    Seq((10L, 1L, 1.0), (99L, 1L, 1.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$fdir/lineitem.parquet")
    Seq((0L, 1000000000L, 1L, "view", 1.0), (1L, 2000000000L, 42L,
      "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$fdir/events.parquet")
    val out = Relational.riAudit(spark, fdir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("lineitem.l_orderkey -> orders") === ((2L, 1L)))
    assert(out("orders.o_custkey -> customer") === ((2L, 1L)))
    assert(out("customer.c_nationkey -> nation") === ((2L, 1L)))
    assert(out("events.user_id -> customer") === ((2L, 1L)))
  }

  test("scd2: changed keys version, no-ops carry, new keys insert — " +
      "hand-computed state table") {
    import spark.implicits._
    val fdir = tempDir("scd2_spec").toString
    // k=7,77,91 change (%7); k=11 arrives as a no-op copy; k=13 stays
    // AND re-arrives as the shifted fresh key; k=3 untouched; k=91 is
    // both changed (%7) and the source of a fresh insert (%13).
    Seq(
      (3L, "c3", 1, 10.00, "SEG"), (7L, "c7", 1, 20.00, "SEG"),
      (11L, "c11", 1, 30.00, "SEG"), (13L, "c13", 1, 40.00, "SEG"),
      (77L, "c77", 1, 50.00, "SEG"), (91L, "c91", 1, 60.00, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$fdir/customer.parquet")
    val out = Relational.scd2Load(spark, fdir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // (n_rows, n_current, sum_cents)
    assert(out("carried") === ((3L, 3L, 8000L)))      // k=3,11,13
    assert(out("closed") === ((3L, 0L, 13000L)))      // k=7,77,91 old
    assert(out("changed_new") === ((3L, 3L, 43000L))) // +100.00 each
    assert(out("inserted") === ((2L, 2L, 0L)))        // 10000013/10000091
  }

  test("z-order layout trades a little single-key pruning for " +
      "multi-key pruning the linear layout cannot do at all") {
    val out = Relational.all("q184_zorder_layout").run(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val lin = out("linear"); val zo = out("zorder")
    // l_partkey is uncorrelated with the linear sort key, so EVERY
    // linear file spans the partkey query range — zero pruning
    assert(lin.getLong(4) === lin.getLong(1),
      "linear layout unexpectedly pruned the partkey query")
    // the z-order layout prunes the partkey query to a fraction
    assert(zo.getLong(4) * 2 < zo.getLong(1),
      s"z-order pruned only ${zo.getLong(4)}/${zo.getLong(1)} files")
    // ...at the price of a wider orderkey query footprint
    assert(zo.getLong(2) >= lin.getLong(2))
    // row accounting: scanned rows never exceed the table
    val total = Tables.lineitem(spark, dir).count()
    assert(zo.getLong(5) <= total && lin.getLong(5) === total)
  }

  test("q190: the money path is DECIMAL end-to-end (schema-asserted) " +
      "and the rendered strings carry exact scale") {
    import org.apache.spark.sql.types.DecimalType
    val typed = Relational.decimalPricingTyped(spark, dir)
    val byName = typed.schema.fields.map(f => f.name -> f.dataType).toMap
    // sums: decimal with the EXACT scales the arithmetic produces —
    // 2 for the cent-grain sum, 4 for the (2×2)-scale discount product
    assert(byName("sum_price_d").asInstanceOf[DecimalType].scale === 2)
    assert(byName("sum_disc_price_d").asInstanceOf[DecimalType].scale === 4)
    assert(byName("max_price_d").asInstanceOf[DecimalType].scale === 2)
    // rendering preserves the scale: every value has exactly 2 / 4
    // decimal digits, including trailing zeros a double would drop
    val rows = Relational.all("q190_decimal_pricing").run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(2).matches("""\d+\.\d{2}"""), r.getString(2))
      assert(r.getString(3).matches("""\d+\.\d{4}"""), r.getString(3))
    }
  }
}
