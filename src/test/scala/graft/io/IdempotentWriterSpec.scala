package graft.io

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S5-S8 idempotent date-partitioned load
  * (reference main.py:1500-1578; dedup rationale README.md:111). */
class IdempotentWriterSpec extends SparkSpec {

  test("whitelist guard (S8, main.py:1481-1497)") {
    IdempotentWriter.requireAllowed("t1", Set("t1", "t2"))
    intercept[IllegalArgumentException] {
      IdempotentWriter.requireAllowed("evil", Set("t1", "t2"))
    }
  }

  test("GRAFT_LEASE_MS: floor + loud parse failure (r15 advisory)") {
    // unset -> the 10 min default
    assert(IdempotentWriter.parseLeaseMs(None) === 10L * 60 * 1000)
    // a valid production-scale override passes through
    assert(IdempotentWriter.parseLeaseMs(Some("2000")) === 2000L)
    assert(IdempotentWriter.parseLeaseMs(Some(" 60000 ")) === 60000L)
    // malformed -> IllegalArgumentException naming the var, never an
    // opaque NumberFormatException-in-initializer
    val bad = intercept[IllegalArgumentException] {
      IdempotentWriter.parseLeaseMs(Some("ten minutes"))
    }
    assert(bad.getMessage.contains("GRAFT_LEASE_MS"))
    // sub-floor values (including the heartbeat-degenerate <= 2 ms
    // class: leaseMs/3 == 0 crashes Timer.scheduleAtFixedRate) are
    // rejected rather than arming near-instant lease breaking
    for (v <- Seq("0", "2", "999", "-5")) {
      val e = intercept[IllegalArgumentException] {
        IdempotentWriter.parseLeaseMs(Some(v))
      }
      assert(e.getMessage.contains("floor"))
    }
  }

  test("quarantine splits rows missing keys explicitly (F2)") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("2024-01-01"), "a"),
      (None, Some("2024-01-01"), "b"),
      (Some(3), None, "c")).toDF("id", "fecha", "v")
    val (ok, bad) = IdempotentWriter.quarantine(df, Seq("id", "fecha"))
    assert(ok.count() === 1)
    assert(bad.count() === 2)
    assert(ok.head.getString(2) === "a")
  }

  test("idempotency: writing the same date twice equals writing it once") {
    import spark.implicits._
    val dir = tempDir("idem_spec").toString
    val day1 = Seq((1, "2024-01-01"), (2, "2024-01-01")).toDF("id", "fecha")
    val day2 = Seq((3, "2024-01-02")).toDF("id", "fecha")
    IdempotentWriter.overwritePartitions(day1.union(day2), dir)
    // re-run of day1 (the reference's daily re-run): must replace, not append
    IdempotentWriter.overwritePartitions(day1, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(back.filter(col("fecha") === "2024-01-01").count() === 2)
    assert(back.filter(col("fecha") === "2024-01-02").count() === 1)
  }

  test("untouched partitions survive a partial overwrite (dynamic mode)") {
    import spark.implicits._
    val dir = tempDir("idem_spec2").toString
    IdempotentWriter.overwritePartitions(
      Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "fecha"), dir)
    IdempotentWriter.overwritePartitions(
      Seq((9, "2024-01-02")).toDF("id", "fecha"), dir)
    val back = spark.read.parquet(dir)
    assert(back.filter(col("fecha") === "2024-01-01").count() === 1) // kept
    assert(back.filter(col("fecha") === "2024-01-02")
      .select("id").head.getInt(0) === 9) // replaced
  }

  test("load_date audit column is appended (DDL default, main.py:1400)") {
    import spark.implicits._
    val dir = tempDir("idem_spec3").toString
    IdempotentWriter.overwritePartitions(
      Seq((1, "2024-01-01")).toDF("id", "fecha"), dir)
    assert(spark.read.parquet(dir).columns.contains("load_date"))
  }

  test("property: writing any date-partitioned row set twice equals once") {
    import spark.implicits._
    val genRows = org.scalacheck.Gen.nonEmptyListOf(for {
      id <- org.scalacheck.Gen.choose(0, 50)
      d <- org.scalacheck.Gen.oneOf(
        "2024-01-01", "2024-01-02", "2024-01-03")
    } yield (id, d))
    val samples = Iterator.continually(genRows.sample).flatten.take(8).toSeq
    for (rows <- samples) {
      val dir = tempDir("idem_prop").toString
      val df = rows.toDF("id", "fecha")
      IdempotentWriter.overwritePartitions(df, dir, addLoadDate = false)
      // the daily re-run: replace, never append
      IdempotentWriter.overwritePartitions(df, dir, addLoadDate = false)
      val back = spark.read.parquet(dir)
        .select(col("id"), col("fecha").cast("string"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
      assert(back === rows.sorted, s"rows $rows")
    }
  }

  test("mergeUpsert: update + insert + survivors; untouched partitions " +
      "keep their exact files; re-apply is a no-op") {
    import spark.implicits._
    val dir = tempDir("merge_spec").resolve("t").toString
    def files(part: String): Set[String] = {
      val d = java.nio.file.Paths.get(dir, s"fecha=$part")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    val base = Seq((1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01"),
      (3, 30.0, "2024-01-02")).toDF("id", "amount", "fecha")
    IdempotentWriter.overwritePartitions(base, dir, addLoadDate = false)
    val day2Files = files("2024-01-02")
    // batch: update id=1, insert id=4 — touches ONLY 2024-01-01
    val batch = Seq((1, 11.0, "2024-01-01"), (4, 40.0, "2024-01-01"))
      .toDF("id", "amount", "fecha")
    IdempotentWriter.mergeUpsert(batch, dir, "id")
    def state() = spark.read.parquet(dir)
      .select(col("id"), col("amount"), col("fecha").cast("string"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
      .toSeq.sorted
    assert(state() === Seq(
      (1, 11.0, "2024-01-01"), // updated
      (2, 20.0, "2024-01-01"), // survivor in the touched partition
      (3, 30.0, "2024-01-02"), // untouched partition intact
      (4, 40.0, "2024-01-01"))) // inserted
    // the untouched partition was NOT rewritten: same physical files
    assert(files("2024-01-02") === day2Files,
      "merge must rewrite only touched partitions")
    // idempotency: re-applying the identical batch changes nothing
    IdempotentWriter.mergeUpsert(batch, dir, "id")
    assert(state() === Seq((1, 11.0, "2024-01-01"), (2, 20.0, "2024-01-01"),
      (3, 30.0, "2024-01-02"), (4, 40.0, "2024-01-01")))
  }

  test("mergeUpsert on a fresh path creates the table") {
    import spark.implicits._
    val dir = tempDir("merge_fresh").resolve("t").toString
    val batch = Seq((7, 70.0, "2024-02-01")).toDF("id", "amount", "fecha")
    IdempotentWriter.mergeUpsert(batch, dir, "id")
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("q189: a single-date read PARTITION-prunes the fecha warehouse " +
      "to exactly one partition (main.py:1535's hot predicate)") {
    val dir = "/root/testdata/sf0.001"
    val wh = graft.queries.Reference.fechaWarehouse(spark, dir)
    val df = graft.queries.Reference.dailyEventsRead(spark, wh, "2024-01-05")
    // AQE wraps the physical plan; collect() does not descend into it
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1, plan.toString)
    val scan = scans.head
    // The fecha predicate must land in partitionFilters (directory
    // pruning before any file is opened), not merely dataFilters.
    assert(scan.partitionFilters.exists(_.toString.contains("fecha")),
      s"partitionFilters: ${scan.partitionFilters}")
    // and the listing must prune to the ONE matching fecha directory
    assert(scan.selectedPartitions.partitionCount === 1,
      s"selected ${scan.selectedPartitions.partitionCount} partitions")
    // correctness of the pruned read: same totals as the source filter
    val n = df.agg(sum(col("n"))).head.getLong(0)
    val expected = graft.queries.Tables.events(spark, dir)
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date")).count()
    assert(n === expected && expected > 0)
  }

  test("q209: the CATALOG read path (spark.table on the registered " +
      "warehouse) partition-prunes from catalog metadata to exactly " +
      "one partition — the named-table surface BI tools use") {
    val dir = "/root/testdata/sf0.001"
    val name = graft.queries.Reference.fechaCatalogTable(spark, dir)
    // the catalog owns the partition metadata: one entry per fecha
    val parts = spark.sql(s"SHOW PARTITIONS `$name`").count()
    assert(parts > 1, s"expected multiple fecha partitions, got $parts")
    val df = spark.table(name)
      .filter(col("fecha") === lit("2024-01-05").cast("date"))
      .groupBy(col("fecha"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1, plan.toString)
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("fecha")),
      s"partitionFilters: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"selected ${scan.selectedPartitions.partitionCount} partitions")
    // correctness through the catalog path: totals equal the source
    val n = df.agg(sum(col("n"))).head.getLong(0)
    val expected = graft.queries.Tables.events(spark, dir)
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date")).count()
    assert(n === expected && expected > 0)
  }

  test("registerFechaTable: a BI tool binds to a STABLE caller-chosen " +
      "name — serves, prunes from catalog metadata, and re-registering " +
      "at deploy time is idempotent") {
    val dir = "/root/testdata/sf0.001"
    val name = "t_diario_events_spec" // the stable dashboard binding
    try {
      assert(graft.queries.Reference
        .registerFechaTable(spark, dir, name) === name)
      val read = spark.table(name)
        .filter(col("fecha") === lit("2024-01-05").cast("date"))
      val expected = graft.queries.Tables.events(spark, dir)
        .filter(to_date(col("ts")) === lit("2024-01-05").cast("date"))
        .count()
      assert(read.count() === expected && expected > 0)
      // the stable name prunes exactly like the isolation-named table
      val plan = read.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.selectedPartitions.partitionCount === 1,
        s"selected ${scan.selectedPartitions.partitionCount} partitions")
      // deploy-time re-registration: same name, same answer, no error
      graft.queries.Reference.registerFechaTable(spark, dir, name)
      assert(spark.table(name)
        .filter(col("fecha") === lit("2024-01-05").cast("date"))
        .count() === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("daily cadence on the catalog table: a newly landed fecha is " +
      "invisible until recoverPartitions (the MSCK step), then serves " +
      "and prunes") {
    import spark.implicits._
    val whRoot = tempDir("cat_refresh").toString
    val wh = whRoot + "/wh"
    def day(d: String, n: Int) =
      (1 to n).map(i => (i.toLong, d, i * 1.0)).toDF("event_id", "fecha", "value")
        .withColumn("fecha", col("fecha").cast("date"))
    IdempotentWriter.overwritePartitions(day("2024-01-01", 3), wh,
      addLoadDate = false)
    val name = "graft_cat_refresh_spec"
    try {
    graft.queries.Reference.registerFechaTableAt(spark, wh, name)
    assert(spark.sql(s"SHOW PARTITIONS `$name`").count() === 1)
    // the daily load lands a NEW date
    IdempotentWriter.overwritePartitions(day("2024-01-02", 5), wh,
      addLoadDate = false)
    // catalog metadata intentionally does not re-list storage:
    // yesterday's partition list still serves
    assert(spark.sql(s"SHOW PARTITIONS `$name`").count() === 1)
    assert(spark.table(name)
      .filter(col("fecha") === lit("2024-01-02").cast("date")).count() === 0)
    // the MSCK step of the daily cadence refreshes it
    spark.catalog.recoverPartitions(name)
    assert(spark.sql(s"SHOW PARTITIONS `$name`").count() === 2)
    val read = spark.table(name)
      .filter(col("fecha") === lit("2024-01-02").cast("date"))
    assert(read.count() === 5)
    // and the new-date read still partition-prunes to one directory
    val plan = read.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.selectedPartitions.partitionCount === 1)
    } finally {
      // cleanup must run even on assertion failure: a leftover table
      // in the SHARED session catalog (pointing at a deleted tmp dir)
      // would poison every later catalog-touching test (reviewer
      // find, round 11)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val p = new org.apache.hadoop.fs.Path(whRoot)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("q223 re-registration path: the evolved catalog DDL serves " +
      "history files (no channel column on disk) with typed NULLs and " +
      "the new fecha with values — metadata-only evolution, history " +
      "never rewritten, pruning intact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val whRoot = tempDir("evo_spec").toString
    val wh = whRoot + "/wh"
    val name = "graft_evo_respec"
    try {
      // history lands under the OLD schema
      IdempotentWriter.overwritePartitions(
        Seq((1L, "2024-01-01", 2.0), (2L, "2024-01-01", 3.0))
          .toDF("event_id", "fecha", "value")
          .withColumn("fecha", col("fecha").cast("date")),
        wh, addLoadDate = false)
      graft.queries.Reference.registerFechaTableAt(spark, wh, name)
      // the pre-evolution binding has no channel column
      assert(!spark.table(name).schema.fieldNames.contains("channel"))
      val historyFiles = new java.io.File(s"$wh/fecha=2024-01-01")
        .listFiles().map(f => f.getName -> f.lastModified()).toSet
      // the evolution day arrives WITH the column
      IdempotentWriter.overwritePartitions(
        Seq((3L, "2024-01-02", 5.0, "web"), (4L, "2024-01-02", 7.0, "app"))
          .toDF("event_id", "fecha", "value", "channel")
          .withColumn("fecha", col("fecha").cast("date")),
        wh, addLoadDate = false)
      // re-register the SAME name with the EXPLICIT evolved schema
      val evolved = StructType(Seq(
        StructField("event_id", LongType), StructField("value", DoubleType),
        StructField("channel", StringType), StructField("fecha", DateType)))
      graft.queries.Reference.registerFechaTableAt(spark, wh, name,
        Some(evolved))
      val t = spark.table(name)
      assert(t.schema.fieldNames.contains("channel"))
      // history serves typed NULLs; the new day serves values — one scan
      val rows = t.select(col("event_id"), col("channel"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(rows === Map(1L -> null, 2L -> null,
        3L -> "web", 4L -> "app"), rows.toString)
      // metadata-only: the history files were NOT rewritten
      assert(new java.io.File(s"$wh/fecha=2024-01-01")
        .listFiles().map(f => f.getName -> f.lastModified()).toSet
        === historyFiles, "history was rewritten by the evolution")
      // and the evolved binding still partition-prunes
      val read = t.filter(col("fecha") === lit("2024-01-01").cast("date"))
      val plan = read.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.selectedPartitions.partitionCount === 1)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val p = new org.apache.hadoop.fs.Path(whRoot)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("q224/q225/q226 drift cells: history files genuinely carry the " +
      "OLD shape on disk, the arrival lands the drift, and the catalog/" +
      "conform layer absorbs it — widening is metadata-only, the rename " +
      "folds to the stable name, the dropped column is a LOUD typed NULL") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val R = graft.queries.Reference
    val evoDir = "fecha=" + R.EvolutionDay

    // --- q224 widen: history is INT32 parquet; the widened catalog
    // serves 64-bit ids from the evolution day without rewriting it
    R.schemaWiden(spark, dir).collect()
    val (widenWh, widenName) = R.driftWarehouse(spark, dir, "widen",
      R.PreWidenTarget, R.WidenedTarget, Map.empty,
      Some(R.WidenedTarget))(identity)
    val historyPart = new java.io.File(widenWh).listFiles()
      .filter(f => f.getName.startsWith("fecha=") && f.getName != evoDir)
      .head.toString
    // the bytes on disk: a history file's footer says INT, the
    // evolution day's says LONG — two vintages, one table
    assert(spark.read.parquet(historyPart).schema("user_id").dataType
      === IntegerType, "history was rewritten to the widened type")
    assert(spark.read.parquet(s"$widenWh/$evoDir").schema("user_id")
      .dataType === LongType)
    assert(spark.table(widenName).schema("user_id").dataType === LongType)
    // ...and the widened read really carries values no INT can hold
    val maxId = spark.table(widenName)
      .agg(org.apache.spark.sql.functions.max(col("user_id"))).head.getLong(0)
    assert(maxId > 4294967296L, s"widened column topped out at $maxId")

    // --- q225 rename: the evolution file on disk carries the STABLE
    // name with REAL values (the rename map folded valor_total back)
    R.schemaRename(spark, dir).collect()
    val (renameWh, _) = R.driftWarehouse(spark, dir, "rename",
      R.PreEvolutionTarget, R.PreEvolutionTarget,
      Map("valor_total" -> "value"), None)(identity)
    val evoRename = spark.read.parquet(s"$renameWh/$evoDir")
    assert(evoRename.schema.fieldNames.contains("value") &&
      !evoRename.schema.fieldNames.contains("valor_total"))
    assert(evoRename.filter(col("value").isNotNull).count() > 0,
      "the renamed column's data did not land")
    // the drift report is what makes the miss LOUD: without the
    // rename map this arrival reads as added_null + dropped
    val arrivalSchema = StructType(Seq(
      StructField("fecha", DateType), StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("valor_total", DoubleType)))
    val withMap = graft.conform.Conform.driftRows(R.PreEvolutionTarget,
      Map("valor_total" -> "value"))(arrivalSchema)
    assert(!withMap.exists(_.disposition == "added_null"), withMap.toString)
    val withoutMap = graft.conform.Conform.driftRows(
      R.PreEvolutionTarget)(arrivalSchema)
    assert(withoutMap.exists(r =>
      r.disposition == "added_null" && r.column == "value"))
    assert(withoutMap.exists(r =>
      r.disposition == "dropped" && r.column == "valor_total"))

    // --- q226 drop-column: the arrival's missing column is a typed
    // NULL on disk for exactly the evolution day, and the drift report
    // names it
    R.schemaDropColumn(spark, dir).collect()
    val (dropWh, _) = R.driftWarehouse(spark, dir, "dropcol",
      R.PreEvolutionTarget, R.PreEvolutionTarget, Map.empty, None)(identity)
    val evoDrop = spark.read.parquet(s"$dropWh/$evoDir")
    assert(evoDrop.schema("value").dataType === DoubleType)
    assert(evoDrop.filter(col("value").isNotNull).count() === 0,
      "the dropped column landed values from nowhere")
    // ...while history keeps its real values (same fecha dir name as
    // the widen cell's sampled history partition)
    val historyFecha = new java.io.File(historyPart).getName
    assert(spark.read.parquet(s"$dropWh/$historyFecha")
      .filter(col("value").isNotNull).count() > 0)
    val dropDrift = graft.conform.Conform.driftRows(R.PreEvolutionTarget)(
      StructType(R.PreEvolutionTarget.fields.filter(_.name != "value")))
    assert(dropDrift.exists(r =>
      r.disposition == "added_null" && r.column == "value"), dropDrift.toString)
  }

  // -----------------------------------------------------------------
  // Same-date writer races (round-10 verdict ask #2): the double-fired
  // scheduler the reference's own retry policy invites
  // (main.py:535-542 + 1533-1537) must leave exactly ONE winner's
  // rows — never an interleaved mix — and clean scratch.
  // -----------------------------------------------------------------

  test("two same-fecha writers racing leave exactly one winner's rows " +
      "and no lock/staging debris") {
    import spark.implicits._
    val path = tempDir("race_wh").toString + "/t"
    // Different row COUNTS per payload so even a count-level mix shows.
    def payload(tag: String, n: Int) =
      (1 to n).map(i => (i, "2024-01-01", tag))
        .toDF("id", "fecha", "src")
        .withColumn("fecha", col("fecha").cast("date"))
    val a = payload("A", 3)
    val b = payload("B", 5)
    for (round <- 1 to 3) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer(df: org.apache.spark.sql.DataFrame) = new Thread(() => {
        start.await()
        try IdempotentWriter.overwritePartitions(df, path)
        catch { case t: Throwable => errs.add(t) }
      })
      val (t1, t2) = (writer(a), writer(b))
      t1.start(); t2.start(); start.countDown()
      t1.join(120000); t2.join(120000)
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      val got = spark.read.parquet(path)
        .filter(col("fecha") === lit("2024-01-01").cast("date"))
        .select(col("src")).collect().map(_.getString(0)).toSeq
      val tags = got.distinct
      assert(tags.size === 1,
        s"round $round: interleaved mix of writers: $got")
      val expectedN = if (tags.head == "A") 3 else 5
      assert(got.size === expectedN,
        s"round $round: winner ${tags.head} should own $expectedN rows, " +
          s"got ${got.size}")
      // clean scratch: no lease file, no temporary commit dirs
      assert(!new java.io.File(path + ".lock").exists())
      assert(!new java.io.File(path + "/_temporary").exists())
    }
  }

  test("the writer lease admits one holder at a time and is re-entrant") {
    val path = tempDir("lease_t").toString + "/t"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 6).map(_ => new Thread(() =>
      IdempotentWriter.withTableLease(spark, path) {
        val now = inside.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, now))
        Thread.sleep(30)
        // re-entrant: nesting the same path must not deadlock
        IdempotentWriter.withTableLease(spark, path) { () }
        inside.decrementAndGet()
        ()
      }))
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(maxSeen.get() === 1, s"concurrent holders: ${maxSeen.get()}")
    assert(!new java.io.File(path + ".lock").exists())
  }

  test("a dead writer's stale lease is broken; the breaker proceeds") {
    val dir = tempDir("stale_lease").toString
    val path = dir + "/t"
    val lock = new java.io.File(path + ".lock")
    java.nio.file.Files.write(lock.toPath, "999999@0".getBytes("UTF-8"))
    assert(lock.setLastModified(System.currentTimeMillis() - 3600 * 1000))
    var ran = false
    IdempotentWriter.withTableLease(spark, path, leaseMs = 5000) {
      ran = true
    }
    assert(ran)
    assert(!lock.exists())
    // no break-lock debris either
    val leftovers = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.contains("break"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("a LIVE writer survives contention on a store where mtime never " +
      "changes: staleness is content-version, not setTimes") {
    val dir = tempDir("live_lease").toString
    val path = dir + "/t"
    val lock = java.nio.file.Paths.get(path + ".lock")
    val renew = java.nio.file.Paths.get(path + ".lock.renew")
    val ancient = System.currentTimeMillis() - 3600 * 1000
    // a "live holder on S3A": the renew sidecar churns (heartbeat),
    // the immutable main lock and both mtimes stay frozen — the worst
    // case of a store whose setTimes is a no-op and whose mtime is
    // the original PUT
    val seq = new java.util.concurrent.atomic.AtomicLong(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    java.nio.file.Files.write(lock, "foreign".getBytes("UTF-8"))
    lock.toFile.setLastModified(ancient)
    val beater = new Thread(() => {
      while (!stop.get()) {
        Thread.sleep(300)
        java.nio.file.Files.write(renew,
          s"foreign@${seq.incrementAndGet()}".getBytes("UTF-8"))
        renew.toFile.setLastModified(ancient)
      }
    })
    beater.start()
    try {
      // a contender must NOT break the churning lock: it times out at
      // the 2x-lease deadline instead of acquiring
      val err = intercept[IllegalStateException] {
        IdempotentWriter.withTableLease(spark, path, leaseMs = 1200) { () }
      }
      assert(err.getMessage.contains("not acquired"))
      assert(java.nio.file.Files.exists(lock),
        "a live (content-churning) lock was broken")
    } finally { stop.set(true); beater.join(5000) }
    // the holder dies (content freezes): now the SAME contender path
    // observes an unchanged lock for a full lease window and breaks it
    var ran = false
    IdempotentWriter.withTableLease(spark, path, leaseMs = 1200) {
      ran = true
    }
    assert(ran)
    assert(!java.nio.file.Files.exists(lock))
  }

  test("the heartbeat renews by content rewrite: the renew sidecar's " +
      "sequence advances while the body runs, the main lock stays " +
      "immutable, and both are cleaned on release") {
    val dir = tempDir("hb_lease").toString
    val path = dir + "/t"
    val lock = java.nio.file.Paths.get(path + ".lock")
    val renew = java.nio.file.Paths.get(path + ".lock.renew")
    var midSeq = -1L
    var lockAtStart = ""
    var lockAtEnd = ""
    IdempotentWriter.withTableLease(spark, path, leaseMs = 600) {
      lockAtStart =
        new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      Thread.sleep(1500) // > 2 heartbeat periods (leaseMs / 3 = 200ms)
      val content =
        new String(java.nio.file.Files.readAllBytes(renew), "UTF-8")
      midSeq = content.split("@")(1).toLong
      assert(content.startsWith(lockAtStart)) // renew carries our token
      lockAtEnd =
        new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
    }
    assert(midSeq >= 1,
      s"heartbeat never rewrote the renew sidecar (seq $midSeq)")
    // the MAIN lock is immutable under renewal — a heartbeat can never
    // clobber a post-break holder's lock (reviewer find, round 12)
    assert(lockAtEnd === lockAtStart)
    assert(!java.nio.file.Files.exists(lock))
    assert(!java.nio.file.Files.exists(renew))
  }

  test("zero-byte crash debris is still breakable: an unreadable main " +
      "lock observes as a sentinel, never an unbreakable blind spot") {
    // the crash window: a holder died between exclusive create and
    // token write (or a .crc sidecar was lost) — the lock EXISTS but
    // readToken yields nothing; mapping that to 'reset the clock'
    // would make the orphan permanent (reviewer find, round 12)
    val dir = tempDir("torn_lock").toString
    val path = dir + "/t"
    val lock = java.nio.file.Paths.get(path + ".lock")
    java.nio.file.Files.write(lock, Array.emptyByteArray)
    var ran = false
    IdempotentWriter.withTableLease(spark, path, leaseMs = 1200) {
      ran = true
    }
    assert(ran)
    assert(!java.nio.file.Files.exists(lock))
  }

  test("commit fence: a holder whose lease was broken and re-granted " +
      "aborts at the commit point instead of publishing over the new " +
      "holder") {
    import spark.implicits._
    val root = tempDir("fence_spec").toString
    val path = s"$root/t"
    // inside a held lease the fence passes; after a simulated
    // break + re-grant (the lock's token replaced) it throws — and an
    // ArtifactStore.publish riding the re-entrant hold aborts BEFORE
    // the manifest rename, leaving no committed version behind
    IdempotentWriter.withTableLease(spark, path, leaseMs = 60000) {
      IdempotentWriter.verifyHeldLease(spark, path) // our token: passes
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path + ".lock"),
        "new-holders-token".getBytes("UTF-8"))
      val err = intercept[IllegalStateException] {
        IdempotentWriter.verifyHeldLease(spark, path)
      }
      assert(err.getMessage.contains("lease on"), err.getMessage)
      val pubErr = intercept[IllegalStateException] {
        graft.io.ArtifactStore.publish(
          Seq((1L, "a")).toDF("id", "s"), root, "t")
      }
      assert(pubErr.getMessage.contains("commit fence"), pubErr.getMessage)
    }
    // the fenced-out publish left data debris at most — NOTHING
    // committed: readers still see no version of the artifact
    assert(graft.io.ArtifactStore.latestVersion(spark, root, "t") === None)
    // outside any hold, the fence refuses rather than silently passing
    intercept[IllegalStateException] {
      IdempotentWriter.verifyHeldLease(spark, path)
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(path + ".lock"))
  }

  test("release deletes only the holder's OWN lock: a foreign token " +
      "survives a stranger's release path") {
    val dir = tempDir("own_lease").toString
    val path = dir + "/t"
    // acquire and, while held, replace the lock with a foreign one
    // (simulating a lost-and-regranted lease); our release must leave
    // the foreign lock standing
    IdempotentWriter.withTableLease(spark, path, leaseMs = 60000) {
      val lock = new java.io.File(path + ".lock")
      assert(lock.exists())
      java.nio.file.Files.write(lock.toPath,
        "someone-elses-token".getBytes("UTF-8"))
    }
    val lock = new java.io.File(path + ".lock")
    assert(lock.exists(), "foreign lock was deleted by a non-owner release")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath),
      "UTF-8") === "someone-elses-token")
    java.nio.file.Files.delete(lock.toPath)
  }
}
