package graft.queries

import graft.SparkSpec

/** q192: the PHYSICAL effect of the written z-order layout, measured
  * through the parquet scan's post-row-group-skip output rows (see
  * [[graft.ZorderProbe]] for the measurement mechanics and
  * BENCH_NOTES "r10 z-order write" for the sf0.1 skip-ratio table). */
class ZorderWriteSpec extends SparkSpec {

  test("the written z-order layout prunes the pk-range scan the " +
      "linear layout cannot prune at all") {
    val dir = "/root/testdata/sf0.001"
    val (lin, zo) = Relational.zorderWritten(spark, dir)
    val (linOkScan, linOkMatch, _, linTotal) =
      graft.ZorderProbe.measure(spark, lin, "ok")
    val (linPkScan, linPkMatch, _, _) =
      graft.ZorderProbe.measure(spark, lin, "pk")
    val (zoOkScan, zoOkMatch, _, zoTotal) =
      graft.ZorderProbe.measure(spark, zo, "ok")
    val (zoPkScan, zoPkMatch, _, _) =
      graft.ZorderProbe.measure(spark, zo, "pk")
    // both layouts hold the same table and agree on every answer
    assert(linTotal === zoTotal && linTotal > 0)
    assert(linOkMatch === zoOkMatch && linPkMatch === zoPkMatch)
    // linear: pk is uncorrelated with the sort key, so footer stats
    // buy NOTHING — the pk query physically reads the whole table
    assert(linPkScan === linTotal,
      s"linear pk scan unexpectedly pruned: $linPkScan/$linTotal")
    // z-order: the same pk query is pruned to a strict fraction —
    // the multi-dimensional clustering the layout exists to buy
    assert(zoPkScan * 2 < linPkScan,
      s"zorder pk scan $zoPkScan vs linear $linPkScan")
    // and the ok query still prunes on both layouts (z pays a premium
    // over the perfect linear clustering but never degenerates)
    assert(linOkScan < linTotal)
    assert(zoOkScan < zoTotal)
  }

  test("q203's premise PHYSICALLY: arrival-ordered delta files appended " +
      "to a written z-order layout surrender pruning for the delta's rows") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val lay = tempDir("q203_phys")
      .resolve("t").toString
    val b = Relational.zorderBuckets(spark, dir).localCheckpoint(false)
    val thr = b.agg(max(col("ok"))).head.getLong(0) * 7 / 8
    // fixture premise: ZorderProbe derives its probe window from the
    // table's CURRENT max(pk), so the before/after comparison is only
    // a same-predicate comparison when the base slice already holds
    // the global pk max — assert it, don't assume it
    val mxFull = b.agg(max(col("pk"))).head.getLong(0)
    val mxBase = b.filter(col("ok") <= thr)
      .agg(max(col("pk"))).head.getLong(0)
    assert(mxBase === mxFull,
      s"probe window would shift: base max pk $mxBase vs global $mxFull")
    // yesterday's table: the base z-ordered into range-partitioned files
    b.filter(col("ok") <= thr).repartitionByRange(64, col("zorder_f"))
      .select(col("ok"), col("pk")).write.parquet(lay)
    val (scanB, matchB, _, totalB) =
      graft.ZorderProbe.measure(spark, lay, "pk")
    assert(scanB < totalB, "base z-order layout must prune the pk probe")
    // today's append: delta rows land in arrival (ok) order — each new
    // file spans the pk domain, exactly what q203's simulation models
    b.filter(col("ok") > thr).repartitionByRange(8, col("ok"))
      .select(col("ok"), col("pk")).write.mode("append").parquet(lay)
    val (scanA, matchA, _, totalA) =
      graft.ZorderProbe.measure(spark, lay, "pk")
    val deltaRows = totalA - totalB
    assert(deltaRows > 0)
    // the appended files' footer stats exclude nothing: the probe now
    // physically reads (essentially) every delta row on top of the
    // base's still-pruned scan — the measured degradation the q203
    // recluster decision exists to cap
    assert(scanA - scanB >= deltaRows * 9 / 10,
      s"expected ~$deltaRows un-prunable delta rows, got ${scanA - scanB}")
    // the base portion keeps its clustering: still no full-table read
    assert(scanA < totalA)
    assert(matchA >= matchB)
  }

  test("q211: executing the OPTIMIZE restores the pruning the appended " +
      "delta surrendered — physically, and without changing any answer") {
    val dir = "/root/testdata/sf0.001"
    val (app, opt) = Relational.zoptWritten(spark, dir)
    val (scanApp, matchApp, _, totalApp) =
      graft.ZorderProbe.measure(spark, app, "pk")
    val (scanOpt, matchOpt, _, totalOpt) =
      graft.ZorderProbe.measure(spark, opt, "pk")
    // the rewrite lost nothing: same table, same probe answer
    assert(totalApp === totalOpt && totalApp > 0)
    assert(matchApp === matchOpt)
    // premise-linked restoration bar: the appended layout's excess is
    // the delta's rows (its arrival-ordered files prune nothing — the
    // q203-premise test above measures exactly that); the OPTIMIZE
    // must reclaim at least half of that delta-attributable scan. A
    // fixed ratio bar would mis-scale: at sf0.001 the delta is only
    // 1/8 of a small table, so total-scan ratios stay modest even
    // when the reclaim is near-complete.
    val b = Relational.zorderBuckets(spark, dir)
    import org.apache.spark.sql.functions.{col, max}
    val thr = b.agg(max(col("ok"))).head.getLong(0) * 7 / 8
    val deltaRows = b.filter(col("ok") > thr).count()
    assert(deltaRows > 0)
    assert(scanApp - scanOpt >= deltaRows / 2,
      s"optimize reclaimed ${scanApp - scanOpt} of ~$deltaRows " +
        s"delta-surrendered rows (appended $scanApp, optimized $scanOpt)")
    // the optimized layout prunes, full stop (never a full-table read)
    assert(scanOpt < totalOpt)
  }

  test("q203: a pk-clustered delta keeps the layout; a scattered delta " +
      "fires the recluster decision") {
    import spark.implicits._
    // ok ids 0..159 -> thr = 139, delta = 140..159 in 8 appended files
    def write(deltaPk: Long => Long): String = {
      val dir = tempDir("q203_spec").toString
      (0L to 159L).map { ok =>
        val pk = if (ok <= 139L) (ok * 37) % 101 else deltaPk(ok)
        (ok, pk)
      }.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    // [pkm/4, pkm/4 + pkm/10] = [25, 35] -> no delta file is touched,
    // delta waste 0 -> keep the layout
    val keep = Relational.zorderMaintenance(spark, write(_ => 60L))
      .collect().map(r => r.getString(0) -> r.getLong(6)).toMap
    assert(keep === Map("base_zorder" -> 0L, "delta_append" -> 0L))
    // scattered delta: arrival-ordered pk spans the domain, every
    // appended file overlaps the probe at ~10% useful rows -> recluster
    val opt = Relational.zorderMaintenance(spark,
      write(ok => (ok * 37) % 101))
      .collect().map(r => r.getString(0) -> r.getLong(6)).toMap
    assert(opt === Map("base_zorder" -> 1L, "delta_append" -> 1L))
  }
}
