package graft.queries

import org.apache.spark.sql.functions._

import graft.{ForkedJvm, SparkSpec}
import graft.io.ArtifactStore

/** Cold-artifact restart proof (round-10 verdict, top ask).
  *
  * The strong half is the PROCESS boundary: a SEPARATE JVM
  * ([[graft.ColdPublish]]) builds and publishes the seven base
  * artifacts and EXITS — only then does this (different) session read
  * them back and run the five delta paths. Nothing the publisher
  * session held in memory (memos, cached plans, broadcast state) can
  * leak across; the artifacts survive on storage alone, exactly the
  * reference's one-process-per-day contract (main.py:201-209).
  */
class ColdRestartSpec extends SparkSpec {
  import ArtifactStore.Manifest

  private def hadoopDelete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  test("ArtifactStore: versioned publish, manifest commit marker, " +
      "row-count verification teeth") {
    import spark.implicits._
    val root = tempDir("graft_artstore_spec").toString
    try {
      val v1 = ArtifactStore.publish(
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root, "t")
      val v2 = ArtifactStore.publish(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root, "t")
      assert(v1.version === 1 && v2.version === 2)
      assert(v1.rows === 2 && v2.rows === 3)
      // newest committed version is served
      val (df, m) = ArtifactStore.readWithManifest(spark, root, "t")
      assert(m.version === 2 && df.count() === 3)
      // crash debris: a data dir WITHOUT a manifest is invisible to
      // readers and superseded (not reused) by the next publish
      Seq((9L, "x")).toDF("id", "s")
        .write.parquet(s"$root/t/v3/data")
      assert(ArtifactStore.latestVersion(spark, root, "t") === Some(2))
      val v4 = ArtifactStore.publish(
        Seq((4L, "d")).toDF("id", "s"), root, "t")
      assert(v4.version === 4)
      // verification teeth: losing data files under a committed
      // version fails the read loudly instead of serving a torn table
      hadoopDelete(s"$root/t/v4/data")
      Seq((4L, "d"), (4L, "d")).toDF("id", "s")
        .write.parquet(s"$root/t/v4/data")
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.read(spark, root, "t")
      }
      assert(err.getMessage.contains("attests"))
    } finally hadoopDelete(root)
  }

  test("ArtifactStore: readVersion time-travels to any committed " +
      "version and refuses uncommitted ones") {
    import spark.implicits._
    val root = tempDir("graft_readver_spec").toString
    try {
      (1 to 3).foreach { i =>
        ArtifactStore.publish(
          (1 to i).map(j => (j.toLong, s"v$i")).toDF("id", "tag"),
          root, "t")
      }
      // each committed version stays readable after later publishes —
      // committed versions are never rewritten
      (1 to 3).foreach { i =>
        val (df, m) = ArtifactStore.readVersion(spark, root, "t", i)
        assert(m.version === i && df.count() === i.toLong)
        assert(df.select("tag").distinct().head.getString(0) === s"v$i")
      }
      // an uncommitted (manifest-less) version is refused, not served
      Seq((9L, "junk")).toDF("id", "tag").write.parquet(s"$root/t/v4/data")
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.readVersion(spark, root, "t", 4)
      }
      assert(err.getMessage.contains("not committed"))
    } finally hadoopDelete(root)
  }

  test("q215 == q213: the cold versioned-store diff equals the warm " +
      "memo diff row-for-row (the time-travel audit loses nothing)") {
    val dir = "/root/testdata/sf0.001"
    val warm = Curation.all("q213_label_blast_radius").run(spark, dir)
      .collect().map(_.toSeq).toSet
    val cold = Curation.all("q215_snapshot_diff_cold").run(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(warm === cold)
  }

  test("ArtifactStore: prune keeps the newest K committed versions, " +
      "removes older ones and crash debris, never the serving version") {
    import spark.implicits._
    val root = tempDir("graft_prune_spec").toString
    try {
      for (i <- 1 to 4)
        ArtifactStore.publish(
          (1 to i).map(j => (j.toLong, "x")).toDF("id", "s"), root, "t")
      // REAL crash debris: an uncommitted version dir (parses as v0)
      // older than the newest commit — must be deleted by the debris
      // clause even though it was never committed
      Seq((0L, "junk")).toDF("id", "s").write.parquet(s"$root/t/v0/data")
      // a non-version directory name is outside the store's namespace
      // and must be ignored entirely
      Seq((0L, "junk")).toDF("id", "s").write.parquet(s"$root/t/v2b_ignored")
      Seq((0L, "junk")).toDF("id", "s").write.parquet(s"$root/t/v3/extra")
      val deleted = ArtifactStore.prune(spark, root, "t", keep = 2)
      assert(deleted.sorted === Seq(0, 1, 2), s"deleted $deleted")
      assert(!new java.io.File(s"$root/t/v0").exists())
      assert(new java.io.File(s"$root/t/v2b_ignored").exists())
      // the serving version is untouched and still row-count-verified
      val (df, m) = ArtifactStore.readWithManifest(spark, root, "t")
      assert(m.version === 4 && df.count() === 4)
      // v3 (second-newest committed) survives as the reader-grace copy
      assert(ArtifactStore.readManifest(spark, root, "t", 3).rows === 3)
      // an in-flight publish (uncommitted, NEWER than the newest
      // commit) must survive pruning — even an aggressive keep=1
      Seq((9L, "wip")).toDF("id", "s").write.parquet(s"$root/t/v5/data")
      assert(ArtifactStore.prune(spark, root, "t", keep = 1) === Seq(3))
      assert(new java.io.File(s"$root/t/v5/data").exists())
      // and the next publish supersedes it cleanly
      val v6 = ArtifactStore.publish(
        Seq((6L, "y")).toDF("id", "s"), root, "t")
      assert(v6.version === 6)
    } finally hadoopDelete(root)
  }

  test("ArtifactStore: a retyped column fails the read loudly — the " +
      "manifest verifies types, not just field names") {
    import spark.implicits._
    val root = tempDir("graft_retype_spec").toString
    try {
      ArtifactStore.publish(Seq((1L, 2L)).toDF("id", "n"), root, "t")
      // republish the SAME field names with one column retyped
      // BIGINT -> STRING, same row count — only a type check catches it
      hadoopDelete(s"$root/t/v1/data")
      Seq((1L, "2")).toDF("id", "n").write.parquet(s"$root/t/v1/data")
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.read(spark, root, "t")
      }
      assert(err.getMessage.contains("types drifted"), err.getMessage)
    } finally hadoopDelete(root)
  }

  test("ArtifactStore: a crash between manifest write and commit leaves " +
      "only a temp file — readers skip the version, publish supersedes it") {
    import spark.implicits._
    val root = tempDir("graft_tornman_spec").toString
    try {
      ArtifactStore.publish(Seq((1L, "a")).toDF("id", "s"), root, "t")
      // simulate the advisor's crash window: data written, manifest
      // JSON half-landed at a TEMP name, rename never ran
      Seq((2L, "b")).toDF("id", "s").write.parquet(s"$root/t/v2/data")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/t/v2/MANIFEST.json.tmp-dead"),
        """{"name":"t","ver""".getBytes("UTF-8"))
      // the torn version is INVISIBLE: v1 still serves, reads parse fine
      assert(ArtifactStore.latestVersion(spark, root, "t") === Some(1))
      assert(ArtifactStore.read(spark, root, "t").count() === 1)
      // the next publish supersedes the debris (v3), and once a newer
      // commit exists, prune clears the torn directory entirely
      assert(ArtifactStore.publish(
        Seq((3L, "c")).toDF("id", "s"), root, "t").version === 3)
      assert(ArtifactStore.prune(spark, root, "t", keep = 2)
        .contains(2))
      assert(!new java.io.File(s"$root/t/v2").exists())
    } finally hadoopDelete(root)
  }

  test("ArtifactStore: manifest JSON roundtrips quotes and backslashes " +
      "in the schema DDL") {
    val m = Manifest("n", 7, 42L, """c STRUCT<`a "q"`: STRING, b: BIGINT>""")
    val json =
      s"""{"name":"n","version":7,"rows":42,"schema_ddl":"${m.schemaDdl
        .replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    assert(ArtifactStore.parseManifest(json) === m)
  }

  test("snapshot-committed day boundary: a publish that dies between " +
      "artifact k and k+1 leaves snapshot readers serving the previous " +
      "COMPLETE consistent set — never a mixed day") {
    import spark.implicits._
    val root = tempDir("graft_snap_spec").toString
    try {
      // day 1: two artifacts + the snapshot as the LAST act
      val a1 = ArtifactStore.publish(Seq((1L, "d1")).toDF("id", "tag"),
        root, "labels")
      val b1 = ArtifactStore.publish(Seq((1L, "d1"), (2L, "d1"))
        .toDF("id", "tag"), root, "postings")
      ArtifactStore.publishSnapshot(spark, root,
        Map("labels" -> a1.version, "postings" -> b1.version))
      // day 2 CRASHES between the artifacts: labels v2 commits, the
      // postings republish and the snapshot never run
      ArtifactStore.publish(Seq((1L, "d2")).toDF("id", "tag"),
        root, "labels")
      // per-artifact latestVersion now SERVES THE TEAR (labels v2 +
      // postings v1 — the exact mixed day the verdict names) ...
      assert(ArtifactStore.latestVersion(spark, root, "labels") === Some(2))
      assert(ArtifactStore.latestVersion(spark, root, "postings") === Some(1))
      // ... but a snapshot-resolving reader cannot see it: day N+1
      // reads day 1's complete set, both artifacts from the same day
      val snap = ArtifactStore.latestSnapshot(spark, root).get
      assert(snap.version === 1)
      for (n <- Seq("labels", "postings")) {
        val (df, m) = ArtifactStore.readAt(spark, root, n, snap)
        assert(m.version === 1, s"$n resolved to v${m.version}")
        assert(df.select("tag").distinct().head.getString(0) === "d1")
      }
      // day 2 retried to completion: artifacts first, snapshot last
      val a2 = ArtifactStore.publish(Seq((1L, "d2r")).toDF("id", "tag"),
        root, "labels") // v3
      val b2 = ArtifactStore.publish(Seq((1L, "d2r")).toDF("id", "tag"),
        root, "postings") // v2
      ArtifactStore.publishSnapshot(spark, root,
        Map("labels" -> a2.version, "postings" -> b2.version))
      val snap2 = ArtifactStore.latestSnapshot(spark, root).get
      assert(snap2.version === 2)
      assert(ArtifactStore.readAt(spark, root, "labels", snap2)._2.version
        === 3)
      assert(ArtifactStore.readAt(spark, root, "postings", snap2)._2.version
        === 2)
      // a snapshot refuses to pin an uncommitted version — it must
      // never promise a version a reader cannot resolve
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.publishSnapshot(spark, root,
          Map("labels" -> 99, "postings" -> 2))
      }
      assert(err.getMessage.contains("uncommitted"), err.getMessage)
      // ...and readAt refuses an artifact the snapshot does not cover
      val miss = intercept[IllegalStateException] {
        ArtifactStore.readAt(spark, root, "codebook", snap2)
      }
      assert(miss.getMessage.contains("does not pin"), miss.getMessage)
      // a torn snapshot write (crash between create and rename) is
      // invisible: temp names never match the committed pattern
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/_snapshot/v3.json.tmp-dead"),
        """{"version":3,"arti""".getBytes("UTF-8"))
      assert(ArtifactStore.latestSnapshot(spark, root).get.version === 2)
      // snapshot retention keeps the newest K
      ArtifactStore.publishSnapshot(spark, root,
        Map("labels" -> 3, "postings" -> 2)) // v3
      assert(ArtifactStore.pruneSnapshots(spark, root, keep = 2) === Seq(1))
      assert(ArtifactStore.latestSnapshot(spark, root).get.version === 3)
      assert(ArtifactStore.readSnapshot(spark, root, 2).version === 2)
    } finally hadoopDelete(root)
  }

  test("prune never deletes a version pinned by the newest snapshots: " +
      "a crash-retry that publishes twice before its snapshot commits " +
      "cannot wedge snapshot readers (count-based retention alone would)") {
    import spark.implicits._
    val root = tempDir("graft_prunepin_spec").toString
    try {
      ArtifactStore.publish(Seq((1L, "d1")).toDF("id", "tag"), root, "a")
      ArtifactStore.publish(Seq((1L, "d1")).toDF("id", "tag"), root, "b")
      ArtifactStore.publishSnapshot(spark, root, Map("a" -> 1, "b" -> 1))
      // day 2 crashes after publishing a v2; the RETRY publishes a v3
      // and crashes again before its snapshot — snapshot v1 is still
      // the newest, pinning a v1
      ArtifactStore.publish(Seq((1L, "d2")).toDF("id", "tag"), root, "a")
      ArtifactStore.publish(Seq((1L, "d2r")).toDF("id", "tag"), root, "a")
      // count-based keep=2 would keep {v3, v2} and delete the PINNED
      // v1; the pin-aware prune must spare it
      val deleted = ArtifactStore.prune(spark, root, "a", keep = 2)
      assert(!deleted.contains(1), s"pruned the pinned version: $deleted")
      // the snapshot reader still serves the complete day-1 set
      val snap = ArtifactStore.latestSnapshot(spark, root).get
      assert(ArtifactStore.readAt(spark, root, "a", snap)._2.version === 1)
      // once the day COMMITS (snapshot v2 pinning a v3), snapshot v1
      // STILL sits on disk and still pins artifact v1: since round 14
      // the pin set is every committed snapshot, not the newest
      // `keep` — "a snapshot on disk is a resolvable snapshot" with no
      // retention-alignment contract for callers to get wrong
      ArtifactStore.publishSnapshot(spark, root, Map("a" -> 3, "b" -> 1))
      assert(!ArtifactStore.prune(spark, root, "a", keep = 2).contains(1))
      assert(ArtifactStore.readAt(spark, root, "a",
        ArtifactStore.readSnapshot(spark, root, 1))._2.version === 1)
      // the round-13 verdict's stranding case: an artifact prune with
      // keep=1 while 2 snapshots retain — the DIVERGED retention that
      // used to silently strand snapshot N-1 — must still spare every
      // snapshot-pinned version
      val aggressive = ArtifactStore.prune(spark, root, "a", keep = 1)
      assert(!aggressive.contains(1) && !aggressive.contains(3),
        s"keep=1 artifact prune deleted a snapshot-pinned version: " +
          s"$aggressive")
      assert(ArtifactStore.readAt(spark, root, "a",
        ArtifactStore.readSnapshot(spark, root, 1))._2.version === 1)
      // only retiring snapshot v1 ITSELF (snapshot retention) releases
      // the pin; the next artifact prune may then collect v1
      ArtifactStore.publish(Seq((1L, "d3")).toDF("id", "tag"), root, "a")
      ArtifactStore.publishSnapshot(spark, root, Map("a" -> 4, "b" -> 1))
      assert(ArtifactStore.pruneSnapshots(spark, root, keep = 2)
        === Seq(1))
      assert(ArtifactStore.prune(spark, root, "a", keep = 2)
        .contains(1))
    } finally hadoopDelete(root)
  }

  test("version threading is enforced INSIDE the publish lease: a " +
      "double-fired replica of the same chained step fails loudly at " +
      "publish time instead of inflating the counter past the step, " +
      "while a crash-retry reclaims its own debris and mints its step") {
    import spark.implicits._
    val root = tempDir("graft_expectv_spec").toString
    try {
      // step 1 publishes v1
      assert(ArtifactStore.publish(Seq((1L, "s1")).toDF("id", "tag"),
        root, "c", expectVersion = Some(1)).version === 1)
      // a REPLICA of step 1 (double-fired scheduler: its outside-lease
      // replay guard read latest=None before the twin committed) must
      // fail loudly here — the silent alternative publishes v2 and the
      // genuine step 2 then no-ops via its replay guard, losing a slice
      val dup = intercept[IllegalArgumentException] {
        ArtifactStore.publish(Seq((1L, "s1dup")).toDF("id", "tag"),
          root, "c", expectVersion = Some(1))
      }
      assert(dup.getMessage.contains("already published"), dup.getMessage)
      assert(ArtifactStore.latestVersion(spark, root, "c") === Some(1))
      // a CRASH-RETRY of step 2 (uncommitted v2 data dir = the crash
      // debris) must reclaim the debris and mint EXACTLY v2 — the
      // plain arm's debris+1 would silently shift the whole chain
      Seq((9L, "torn")).toDF("id", "tag").write.parquet(s"$root/c/v2/data")
      val retried = ArtifactStore.publish(Seq((2L, "s2")).toDF("id", "tag"),
        root, "c", expectVersion = Some(2))
      assert(retried.version === 2)
      assert(ArtifactStore.read(spark, root, "c")
        .select("tag").head.getString(0) === "s2")
      // the snapshot counter carries the same fence
      ArtifactStore.publishSnapshot(spark, root, Map("c" -> 1),
        expectVersion = Some(1))
      val sdup = intercept[IllegalArgumentException] {
        ArtifactStore.publishSnapshot(spark, root, Map("c" -> 2),
          expectVersion = Some(1))
      }
      assert(sdup.getMessage.contains("already committed"), sdup.getMessage)
      assert(ArtifactStore.latestSnapshot(spark, root).get.version === 1)
    } finally hadoopDelete(root)
  }

  test("the label chain refuses a root owned by another publisher: a " +
      "foreign snapshot must fail loudly, never silently no-op a step") {
    import spark.implicits._
    val root = tempDir("graft_chainguard_spec").toString
    try {
      ArtifactStore.publish(Seq((1L, "x")).toDF("id", "tag"),
        root, "someone_elses")
      ArtifactStore.publishSnapshot(spark, root, Map("someone_elses" -> 1))
      val err = intercept[IllegalArgumentException] {
        ColdRestart.chainLabelPublish(spark, "/root/testdata/sf0.001",
          root, 1)
      }
      assert(err.getMessage.contains("DEDICATED"), err.getMessage)
    } finally hadoopDelete(root)
  }

  test("snapshot JSON roundtrips the version vector") {
    val s = ArtifactStore.Snapshot(12,
      Map("cc_labels_base" -> 3, "postings_base" -> 7, "bm25_hits" -> 1))
    val json = """{"version":12,"artifacts":{"bm25_hits":1,""" +
      """"cc_labels_base":3,"postings_base":7}}"""
    assert(ArtifactStore.parseSnapshot(json) === s)
  }

  /** Launch a ColdPublish (or `mainClass`) JVM with arguments
    * (dir, root, extraArgs...); returns the process handle plus its
    * log file so a failure can self-diagnose (caller waits via
    * [[awaitPublisher]]). The child's `java.io.tmpdir` is its own
    * spec temp dir: a child the kill-and-resume specs halt runs no
    * shutdown hook, so what Spark and the native codecs leave in
    * tmpdir would otherwise outlive the suite. No child reads another's
    * tmpdir; checkpoints and stores are passed as arguments. */
  private def launchPublisher(
      dir: String, root: String,
      extraArgs: Seq[String] = Nil,
      mainClass: String = "graft.ColdPublish"): (Process, java.io.File) =
    ForkedJvm.launch(mainClass, Seq(dir, root) ++ extraArgs,
      Map("JAVA_TOOL_OPTIONS" -> s"-Djava.io.tmpdir=${tempDir("child_tmp")}"),
      xmx = "3g")

  private def awaitPublisher(
      p: (Process, java.io.File), what: String,
      expectExit: Int = 0): Unit = {
    val (proc, log) = p
    val done = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!done || proc.exitValue() != expectExit) {
      // surface the publisher's own stack trace, not just the exit
      // code — the log is otherwise an unnamed temp file nobody reads
      // (reviewer find, r11)
      fail(s"$what failed " +
        s"(exit ${if (done) proc.exitValue() else "timeout"}):\n" +
        ForkedJvm.tail(log, 30))
    }
  }

  test("fresh-JVM cold restart: a separate publisher process writes the " +
      "seven artifacts, exits, and the five delta paths read them cold " +
      "and equal their warm twins") {
    val dir = "/root/testdata/sf0.001"
    val root = tempDir("graft_coldpub_spec").toString
    hadoopDelete(root) // publisher owns creation
    try {
      // ---- the "yesterday" process: publish and DIE ----
      val proc = launchPublisher(dir, root)
      awaitPublisher(proc, "publisher")
      assert(!proc._1.isAlive) // the publisher JVM is DEAD before any read

      // ---- all seven artifacts committed, with attested row counts ----
      for (n <- ColdRestart.AllArtifacts) {
        val (adf, am) = ArtifactStore.readWithManifest(spark, root, n)
        assert(am.version === 1 && am.rows > 0, s"$n: $am")
        assert(adf.count() === am.rows)
      }

      // ---- today's process: delta paths from disk == warm twins ----
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(ColdRestart.coldDedup(spark, dir, root)) ===
        rows(Curation.incrementalDedup(spark, dir)))
      assert(rows(ColdRestart.coldCodebook(spark, dir, root)) ===
        rows(Similarity.codebookRefresh(spark, dir)))
      assert(rows(ColdRestart.coldPostings(spark, dir, root)) ===
        rows(TextAnalysis.incrementalPostings(spark, dir)))
      val rebuilt = Similarity.refinedEdges(spark, dir)
        .filter(col("src") > Similarity.vecDeltaThreshold(spark, dir))
      assert(rows(ColdRestart.coldGraphInsert(spark, dir, root, rebuilt)) ===
        rows(Similarity.incrementalGraphInsert(spark, dir)))
      assert(rows(ColdRestart.coldBm25(spark, dir, root)) ===
        rows(TextAnalysis.incrementalBm25(spark, dir)))

      // and label-for-label: the cold dedup repair equals the full
      // rebuild (the q191 equality surface, now across a process
      // boundary)
      val inc = Curation.incrementalLabelsFrom(spark, dir,
        ArtifactStore.read(spark, root, ColdRestart.SigArtifact),
        ArtifactStore.read(spark, root, ColdRestart.LabelArtifact))
      val full = Tables.documents(spark, dir).select(col("doc_id"))
        .join(Curation.dupClusterLabels(spark, dir)
          .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("root"))
      val diff = inc.as("i").join(full.as("f"), Seq("doc_id"), "full")
        .filter(col("i.root") =!= col("f.root") ||
          col("i.root").isNull || col("f.root").isNull)
      assert(diff.count() === 0)
    } finally hadoopDelete(root)
  }

  test("three-day chained restart: three JVMs each publish one day's " +
      "increment through the store and DIE; day 3's index equals the " +
      "one-shot rebuild list-for-list") {
    val dir = "/root/testdata/sf0.001"
    val root = tempDir("graft_chain_spec").toString
    hadoopDelete(root)
    try {
      // day 1 and day 2: separate JVMs, strictly sequential, each dead
      // before the next starts — state survives on storage alone
      val p1 = launchPublisher(dir, root, Seq("1"))
      awaitPublisher(p1, "chain day 1")
      assert(!p1._1.isAlive)
      val p2 = launchPublisher(dir, root, Seq("2"))
      awaitPublisher(p2, "chain day 2")
      assert(!p2._1.isAlive)
      // day 3: THIS process (the third JVM of the chain)
      val m3 = ColdRestart.chainPublish(spark, dir, root, 3)
      assert(m3.version === 3,
        s"version threading broke across processes: got v${m3.version}")
      // every day's version is committed and still readable
      for (v <- 1 to 3)
        assert(ArtifactStore.readVersion(spark, root,
          ColdRestart.ChainArtifact, v)._2.version === v)
      // the chained index == the one-shot rebuild, list-for-list
      val chained = ArtifactStore.read(spark, root,
        ColdRestart.ChainArtifact)
      val rebuilt = TextAnalysis.postingsIndexOf(
        Tables.documents(spark, dir))
      val diff = chained.as("c")
        .join(rebuilt.as("r"), Seq("w"), "full")
        .filter(col("c.docs").isNull || col("r.docs").isNull ||
          col("c.docs") =!= col("r.docs"))
      assert(diff.count() === 0,
        "chained increments diverged from the rebuild")
      // and the increments were real: each day's stored index carries
      // strictly more posting mass (the harness vocabulary saturates
      // early, so TERM counts stay flat — the lists grow)
      val mass = (1 to 3).map(v =>
        ArtifactStore.readVersion(spark, root,
          ColdRestart.ChainArtifact, v)._1
          .agg(sum(size(col("docs")))).head.getLong(0))
      assert(mass(0) < mass(1) && mass(1) < mass(2),
        s"chain posting mass did not grow: $mass")
      // replay safety (advisor find, r12): a FOURTH process re-running
      // finished step 2 must be a content no-op — without the version-
      // threading guard the concat merge would DUPLICATE doc ids in
      // every re-merged list and publish the corruption as v4
      val replay = launchPublisher(dir, root, Seq("2"))
      awaitPublisher(replay, "postings chain replay of day 2")
      assert(ArtifactStore.latestVersion(spark, root,
        ColdRestart.ChainArtifact) === Some(3),
        "a replayed chain step published a new version")
      assert(ArtifactStore.read(spark, root, ColdRestart.ChainArtifact)
        .as("c").join(rebuilt.as("r"), Seq("w"), "full")
        .filter(col("c.docs").isNull || col("r.docs").isNull ||
          col("c.docs") =!= col("r.docs")).count() === 0,
        "a replayed chain step changed the served index")
    } finally hadoopDelete(root)
  }

  test("three-day chained LABEL restart: the bridge-contraction merge " +
      "across three JVMs equals the one-shot rebuild label-for-label, " +
      "and a FOURTH process replaying a finished step is a no-op") {
    val dir = "/root/testdata/sf0.001"
    val root = tempDir("graft_label_chain").toString
    hadoopDelete(root)
    try {
      // days 1 and 2: separate JVMs, each dead before the next starts
      for (s <- 1 to 2) {
        val p = launchPublisher(dir, root, Seq(s.toString, "labels"))
        awaitPublisher(p, s"label chain day $s")
        assert(!p._1.isAlive)
      }
      // day 3: THIS process (the third JVM of the chain)
      ColdRestart.chainLabelPublish(spark, dir, root, 3)
      // snapshot threading across processes: one snapshot per day
      val snap3 = ArtifactStore.latestSnapshot(spark, root).get
      assert(snap3.version === 3,
        s"snapshot threading broke across processes: v${snap3.version}")
      // the chained labels == the one-shot rebuild, label-for-label
      val chained = ArtifactStore.readAt(spark, root,
        ColdRestart.ChainLabelsArtifact, snap3)._1
        .select(col("node").as("doc_id"), col("label").as("root"))
      val full = Tables.documents(spark, dir).select(col("doc_id"))
        .join(Curation.dupClusterLabels(spark, dir)
          .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("root"))
      val diff = chained.as("c").join(full.as("f"), Seq("doc_id"), "full")
        .filter(col("c.root") =!= col("f.root") ||
          col("c.root").isNull || col("f.root").isNull)
      assert(diff.count() === 0,
        "chained label increments diverged from the rebuild")
      // a FOURTH process replaying finished step 2: snapshot
      // threading makes it a no-op — nothing new published
      val replay = launchPublisher(dir, root, Seq("2", "labels"))
      awaitPublisher(replay, "label chain replay of day 2")
      assert(ArtifactStore.latestSnapshot(spark, root).get.version === 3,
        "a replayed label step advanced the snapshot")
      assert(ArtifactStore.latestVersion(spark, root,
        ColdRestart.ChainLabelsArtifact) === Some(3),
        "a replayed label step published a new version")
    } finally hadoopDelete(root)
  }

  test("label chain bridge fixture: a day-3 document fusing a day-1 " +
      "cluster with a day-2 cluster relabels BOTH with the global min " +
      "— and the chained result equals the rebuild") {
    import spark.implicits._
    // Engineered corpus (max id 8 → day 1 = ids ≤ 6, day 2 = {7},
    // day 3 = {8}): texts A = "P X" and B = "P Y" share the 6-token
    // prefix P, so J(A,B) = 4/16 = 0.25 (< 0.5: never merged
    // directly) while doc 8 = "A B" contains both, J(8,A) = J(8,B) =
    // 10/18 ≈ 0.56 (≥ 0.5). Day 1 clusters {1,2} (identical A) and
    // leaves 3 (B) a singleton; day 2's doc 7 (B) merges {3,7}; day
    // 3's doc 8 BRIDGES the day-1 component {1,2} and the day-2
    // component {3,7} — the cross-day contraction case the postings
    // and rollup chains cannot reach.
    val pfx = "p1 p2 p3 p4 p5 p6"
    val textA = s"$pfx x1 x2 x3 x4 x5 x6"
    val textB = s"$pfx y1 y2 y3 y4 y5 y6"
    val docs = Seq(
      (1L, textA), (2L, textA), (3L, textB),
      (4L, "f41 f42 f43 f44 f45"), (5L, "f51 f52 f53 f54 f55"),
      (6L, "f61 f62 f63 f64 f65"), (7L, textB),
      (8L, s"$textA $textB"))
      .map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fixDir = tempDir("graft_label_fix").toString
    val root = tempDir("graft_label_fix_store").toString
    hadoopDelete(root)
    try {
      docs.coalesce(1).write.mode("overwrite")
        .parquet(s"$fixDir/documents.parquet")
      for (s <- 1 to 3)
        ColdRestart.chainLabelPublish(spark, fixDir, root, s)
      val snap = ArtifactStore.latestSnapshot(spark, root).get
      assert(snap.version === 3)
      val labels = ArtifactStore.readAt(spark, root,
        ColdRestart.ChainLabelsArtifact, snap)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the bridge fused {1,2} ∪ {3,7} ∪ {8} under the global min
      for (id <- Seq(1L, 2L, 3L, 7L, 8L))
        assert(labels(id) === 1L, s"doc $id not relabeled to 1: $labels")
      // fillers stayed singletons
      for (id <- Seq(4L, 5L, 6L))
        assert(labels(id) === id, s"doc $id moved: $labels")
      // day 2's intermediate state really had TWO components (the
      // bridge happened on day 3, not earlier)
      val day2 = ArtifactStore.readAt(spark, root,
        ColdRestart.ChainLabelsArtifact,
        ArtifactStore.readSnapshot(spark, root, 2))._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(day2(1L) === 1L && day2(2L) === 1L)
      assert(day2(3L) === 3L && day2(7L) === 3L, day2.toString)
      // and the chained result equals the one-shot rebuild on the
      // fixture corpus
      val rebuilt = Tables.documents(spark, fixDir).select(col("doc_id"))
        .join(Curation.dupClusterLabels(spark, fixDir)
          .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("root"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === rebuilt)
    } finally { hadoopDelete(root); hadoopDelete(fixDir) }
  }

  test("three-process chained ADDITIVE rollup: every fecha split " +
      "across three JVMs accumulates to the one-shot rebuild, and a " +
      "FOURTH process replaying a finished step is a content no-op — " +
      "the high-water mark survives on storage") {
    val dir = "/root/testdata/sf0.001"
    val root = tempDir("graft_rollup_chain").toString
    hadoopDelete(root)
    try {
      for (s <- 1 to 3) {
        val p = launchPublisher(dir, root, Seq(s.toString, "rollup"))
        awaitPublisher(p, s"rollup chain day $s")
        assert(!p._1.isAlive)
      }
      def served: Seq[Seq[Any]] =
        WarehouseIvm.rollupOut(ArtifactStore.read(spark, root,
            WarehouseIvm.AdditiveRollupArtifact))
          .collect().map(_.toSeq).toSeq
      val afterChain = served
      val expected = WarehouseIvm.rollupOut(
        Tables.events(spark, dir)
          .select(to_date(col("ts")).as("fecha"), col("event_type"),
            col("value"))
          .groupBy(col("fecha"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_raw")))
        .collect().map(_.toSeq).toSeq
      assert(afterChain === expected,
        "three-process ⊕ chain diverged from the one-shot rebuild")
      // crash-replay ACROSS a process restart: a fourth JVM
      // re-delivers step 2 (same batch id); the artifact's hwm — state
      // that lives on storage, not in any session — must make it a
      // no-op, publishing nothing
      val vBefore = ArtifactStore.latestVersion(spark, root,
        WarehouseIvm.AdditiveRollupArtifact)
      val replay = launchPublisher(dir, root, Seq("2", "rollup"))
      awaitPublisher(replay, "rollup chain replay of day 2")
      assert(ArtifactStore.latestVersion(spark, root,
        WarehouseIvm.AdditiveRollupArtifact) === vBefore,
        "a replayed step published a new version")
      assert(served === afterChain,
        "a replayed step changed the served rollup")
    } finally hadoopDelete(root)
  }

  test("kill-and-resume streamed rollup: a JVM is HALTED inside " +
      "foreachBatch after the artifact commit but before the streaming " +
      "commit log; a new JVM resuming the same checkpoint re-delivers " +
      "the batch as a no-op and the final rollup equals the " +
      "uninterrupted run — and a NEW checkpoint lineage fails loudly") {
    val dir = "/root/testdata/sf0.001"
    val base = tempDir("graft_killresume")
    val arrival = base.resolve("arrival")
    java.nio.file.Files.createDirectories(arrival)
    val ckpt = base.resolve("ckpt").toString
    val root = base.resolve("store").toString
    def writeSlice(n: Int): Unit =
      sliceWriter(n => Tables.events(spark, dir)
        .filter(col("user_id") % 3 === (n - 1))
        .select(col("ts"), col("event_type"), col("value")))(arrival, n)
    try {
      writeSlice(1)
      // run 1: crash (halt, not exit — no shutdown hooks) right after
      // batch 0's artifact publish, BEFORE its streaming commit log
      val p1 = launchPublisher("additive", arrival.toString,
        Seq(ckpt, root, "0"), "graft.StreamCellRun")
      awaitPublisher(p1, "stream rollup run 1 (crash arm)",
        expectExit = 137)
      assert(ArtifactStore.latestVersion(spark, root,
        WarehouseIvm.AdditiveRollupArtifact) === Some(1),
        "batch 0 did not commit its artifact before the crash")
      // run 2: the rest of the feed lands; the SAME checkpoint resumes
      writeSlice(2); writeSlice(3)
      val p2 = launchPublisher("additive", arrival.toString,
        Seq(ckpt, root), "graft.StreamCellRun")
      awaitPublisher(p2, "stream rollup run 2 (resume)")
      // the crashed batch WAS re-delivered (WAL replay) ...
      val log2 = ForkedJvm.output(p2._2).linesIterator
        .filter(_.startsWith("committed batch")).toSeq
      assert(log2.contains("committed batch 0"),
        s"resume did not re-deliver the in-flight batch: $log2")
      // ... as a content no-op: it published nothing (versions 2 and 3
      // are the two NEW batches), and the served rollup equals the
      // uninterrupted one-shot build over the whole feed
      assert(ArtifactStore.latestVersion(spark, root,
        WarehouseIvm.AdditiveRollupArtifact) === Some(3),
        "the replayed batch published an extra version")
      val served = WarehouseIvm.rollupOut(ArtifactStore.read(spark, root,
          WarehouseIvm.AdditiveRollupArtifact))
        .collect().map(_.toSeq).toSeq
      val expected = WarehouseIvm.rollupOut(
        Tables.events(spark, dir)
          .select(to_date(col("ts")).as("fecha"), col("event_type"),
            col("value"))
          .groupBy(col("fecha"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_raw")))
        .collect().map(_.toSeq).toSeq
      assert(served === expected,
        "kill-and-resume diverged from the uninterrupted run")
      // run 3: a NEW checkpoint against the same artifact root — batch
      // ids restart at 0, so without the lineage guard six real
      // batches would be silently skipped; it must fail LOUDLY instead
      val freshCkpt = base.resolve("ckpt2").toString
      val p3 = launchPublisher("additive", arrival.toString,
        Seq(freshCkpt, root), "graft.StreamCellRun")
      val done = p3._1.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      assert(done && p3._1.exitValue() != 0,
        "a foreign checkpoint lineage was accepted")
      val log3 = ForkedJvm.output(p3._2)
      assert(log3.contains("lineage"),
        "the failure did not name the lineage guard")
      // and the artifact is untouched by the refused lineage
      assert(ArtifactStore.latestVersion(spark, root,
        WarehouseIvm.AdditiveRollupArtifact) === Some(3))
    } finally hadoopDelete(base.toString)
  }

  // ---------------------------------------------------------------
  // Kill-and-resume for the OTHER streamed cells (round-13 verdict,
  // missing #3): the additive rollup's halt-inside-foreachBatch proof
  // generalized to q216 (postings merge), q217 (BM25 doc-keyed
  // merge), q220 (fecha-keyed replace) and q200 (label repair). These
  // cells' replay protection is CONTENT idempotence, not a batch-id
  // hwm — there is no id-based skip to guard with a lineage check
  // (q222's guard exists precisely because ⊕ cannot be
  // content-idempotent) — so the contract proven here is: the
  // re-delivered batch leaves the served CONTENT bit-equal to the
  // uninterrupted run's.
  // ---------------------------------------------------------------

  /** One kill-and-resume run for a streamed cell: slice the feed into
    * three arrival files, crash a child JVM inside foreachBatch after
    * batch 0's artifact publish (halt 137 — before the streaming
    * commit log), resume the SAME checkpoint in a second JVM with the
    * rest of the feed, assert the WAL re-delivered batch 0, and hand
    * the store root back for the content comparison. */
  private def killResumeCell(cell: String,
      writeSlice: (java.nio.file.Path, Int) => Unit): String = {
    val base = tempDir(s"graft_killresume_$cell")
    val arrival = base.resolve("arrival")
    java.nio.file.Files.createDirectories(arrival)
    val ckpt = base.resolve("ckpt").toString
    val root = base.resolve("store").toString
    writeSlice(arrival, 1)
    val p1 = launchPublisher(cell, arrival.toString,
      Seq(ckpt, root, "0"), "graft.StreamCellRun")
    awaitPublisher(p1, s"stream $cell run 1 (crash arm)",
      expectExit = 137)
    writeSlice(arrival, 2); writeSlice(arrival, 3)
    val p2 = launchPublisher(cell, arrival.toString,
      Seq(ckpt, root), "graft.StreamCellRun")
    awaitPublisher(p2, s"stream $cell run 2 (resume)")
    val log2 = ForkedJvm.output(p2._2).linesIterator
      .filter(_.startsWith("committed batch")).toSeq
    assert(log2.contains("committed batch 0"),
      s"resume did not re-deliver the in-flight batch: $log2")
    root
  }

  /** One feed file per slice — the file source's batch grain under
    * maxFilesPerTrigger=1. */
  private def sliceWriter(df: Int => org.apache.spark.sql.DataFrame)(
      arrival: java.nio.file.Path, n: Int): Unit =
    writeArrivalFile(df(n), arrival.resolveSibling(s"slice${n}_tmp"),
      arrival.resolve(s"slice$n.parquet"))

  test("kill-and-resume streamed postings merge (q216): halt inside " +
      "foreachBatch after the artifact publish; the resumed checkpoint " +
      "re-delivers the batch and the served index digest equals the " +
      "full-corpus rebuild — replay absorbed by content idempotence") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val root = killResumeCell("postings",
      sliceWriter(n => docs.filter(col("doc_id") % 3 === (n - 1))))
    try {
      val served = TextAnalysis.postingsDigestOf(ArtifactStore.read(
          spark, root, TextAnalysis.StreamPostingsArtifact))
        .collect().map(_.toSeq).toSeq
      val rebuilt = TextAnalysis.invertedIndex(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(served === rebuilt,
        "kill-and-resume postings diverged from the full rebuild")
    } finally hadoopDelete(new java.io.File(root).getParent)
  }

  test("kill-and-resume streamed BM25 (q217): halt inside foreachBatch " +
      "after the two doc-keyed artifacts publish; the resumed " +
      "checkpoint re-delivers the batch and the served ranking equals " +
      "q129's full rebuild — dropDuplicates absorbs the replayed rows") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val root = killResumeCell("bm25",
      sliceWriter(n => docs.filter(col("doc_id") % 3 === (n - 1))))
    try {
      val served = TextAnalysis.bm25FromStreamStore(spark, root)
        .collect().map(_.toSeq).toSeq
      val rebuilt = TextAnalysis.bm25(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(served === rebuilt,
        "kill-and-resume BM25 diverged from the full rebuild")
    } finally hadoopDelete(new java.io.File(root).getParent)
  }

  test("kill-and-resume streamed rollup replace (q220): halt inside " +
      "foreachBatch after the artifact publish; the resumed checkpoint " +
      "re-delivers the fecha-atomic batch as a replace-with-itself and " +
      "the served rollup equals the full re-aggregation") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("value"))
    // FECHA-ATOMIC slices (q220's documented arrival cadence): every
    // row of one fecha lands in exactly one file; NULL fechas
    // (malformed ts) ride with slice 1
    val root = killResumeCell("rollup",
      sliceWriter(n => events.filter(
        coalesce(pmod(dayofyear(to_date(col("ts"))), lit(3)), lit(0))
          === (n - 1))))
    try {
      val served = WarehouseIvm.rollupOut(ArtifactStore.read(spark, root,
          WarehouseIvm.StreamRollupArtifact))
        .collect().map(_.toSeq).toSeq
      val expected = WarehouseIvm.rollupOut(
        Tables.events(spark, dir)
          .select(to_date(col("ts")).as("fecha"), col("event_type"),
            col("value"))
          .groupBy(col("fecha"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_raw")))
        .collect().map(_.toSeq).toSeq
      assert(served === expected,
        "kill-and-resume rollup replace diverged from the rebuild")
    } finally hadoopDelete(new java.io.File(root).getParent)
  }

  test("kill-and-resume streamed label repair (q200): halt inside " +
      "foreachBatch after the labels and signatures publish; the resumed " +
      "checkpoint re-delivers the batch and the served cluster-size " +
      "histogram equals q88's full rebuild") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val root = killResumeCell("labels",
      sliceWriter(n => docs.filter(col("doc_id") % 3 === (n - 1))))
    try {
      val served = Curation.clusterSizes(ArtifactStore.read(spark, root,
          Curation.StreamLabelsArtifact))
        .collect().map(_.toSeq).toSeq
      val rebuilt = Curation.dedupClusters(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(served === rebuilt,
        "kill-and-resume label repair diverged from the full rebuild")
    } finally hadoopDelete(new java.io.File(root).getParent)
  }

  test("q221 == q197: the composed daily run COLD — fresh session, " +
      "store-only inputs (memo domain stays EMPTY), store ownership " +
      "republished as next versions with the attested rows") {
    val dir = "/root/testdata/sf0.001"
    val warm = Curation.all("q197_incremental_daily").run(spark, dir)
      .collect().map(_.toSeq).toSeq
    val root = ColdRestart.publishedStore(spark, dir)
    val before = ColdRestart.AllArtifacts.map { n =>
      n -> ArtifactStore.latestVersion(spark, root, n).get
    }.toMap
    val cold = ColdRestart.coldDaily(spark, dir)
      .collect().map(_.toSeq).toSeq
    // the twelve-phase summary is identical warm and cold (both also
    // answer the rebuild oracle in the driver gate)
    assert(cold === warm)
    // the cold contract, machine-checked: the fresh session ran the
    // whole composed pipeline WITHOUT memoizing anything — its only
    // inputs below the raw tables were ArtifactStore reads
    val s = ColdRestart.fresh(spark)
    assert(s ne spark)
    assert(Tables.memoKeysFor(s).isEmpty,
      s"fresh session memoized: ${Tables.memoKeysFor(s).mkString(",")}")
    // ...and the warm run DID memoize, so the probe has teeth
    assert(Tables.memoKeysFor(spark).nonEmpty)
    // phase 10 transferred store ownership: every artifact advanced to
    // a next version written by the cold process, row-identical to the
    // version it read (which retention keeps as the grace copy)
    for (n <- ColdRestart.AllArtifacts) {
      val after = ArtifactStore.latestVersion(spark, root, n).get
      assert(after > before(n), s"$n: version did not advance")
      assert(ArtifactStore.readManifest(spark, root, n, after).rows ===
        ArtifactStore.readManifest(spark, root, n, before(n)).rows, n)
    }
    // ...and committed the day via the SNAPSHOT, as its LAST act: the
    // newest snapshot pins exactly the republished versions, so day
    // N+1's snapshot-resolving reads get the cold process's complete
    // set (round-12 verdict, top ask)
    val snapAfter = ArtifactStore.latestSnapshot(spark, root).get
    for (n <- ColdRestart.AllArtifacts)
      assert(snapAfter.artifacts(n) ===
        ArtifactStore.latestVersion(spark, root, n).get,
        s"$n: snapshot does not pin the republished version")
  }

  test("two publisher PROCESSES racing on one store serialize per " +
      "artifact: both commit, versions are monotone, every manifest " +
      "attests data that is actually there, no lock debris") {
    val dir = "/root/testdata/sf0.001"
    val root = tempDir("graft_coldpub_race").toString
    hadoopDelete(root)
    try {
      // two full publish runs from two JVMs, launched together — the
      // cross-process arm of the writer lease the in-JVM race specs
      // cannot exercise (IdempotentWriterSpec covers threads; this
      // covers the double-fired SCHEDULER case, two driver processes)
      val p1 = launchPublisher(dir, root)
      val p2 = launchPublisher(dir, root)
      awaitPublisher(p1, "publisher 1")
      awaitPublisher(p2, "publisher 2")
      for (n <- ColdRestart.AllArtifacts) {
        // both publishes committed, serialized into versions 1 and 2
        assert(ArtifactStore.latestVersion(spark, root, n) === Some(2), n)
        for (v <- 1 to 2) {
          val m = ArtifactStore.readManifest(spark, root, n, v)
          val got = spark.read.parquet(s"$root/$n/v$v/data").count()
          assert(got === m.rows,
            s"$n v$v: manifest attests ${m.rows}, data has $got — " +
              "a racing writer tore this version")
        }
        // deterministic builders ⇒ both runs published identical rows
        assert(ArtifactStore.readManifest(spark, root, n, 1).rows ===
          ArtifactStore.readManifest(spark, root, n, 2).rows, n)
      }
      // the leases released cleanly: no .lock / .break debris
      val debris = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(f => f.contains(".lock") || f.contains(".break"))
      assert(debris.isEmpty, debris.mkString(","))
    } finally hadoopDelete(root)
  }
}
