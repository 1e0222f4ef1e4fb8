package graft.io

import graft.{ForkedJvm, SparkSpec}

/** Multi-process concurrency soak for the artifact store (r14 verdict
  * ask #5): the lease, commit fence, version threading, and debris
  * reclamation each have single-JVM unit proofs — this spec is the
  * adversarial COMPOSITION in live JVMs.
  *
  *  1. two publishers double-firing the SAME chained step (same
  *     artifact, same expectVersion): exactly one winner, the loser
  *     fails loudly on the in-lease version check;
  *  2. two publishers on SIBLING artifacts under one root: no false
  *     conflict, both commit;
  *  3. a holder SIGSTOPped between its data write and its manifest
  *     commit, its lease broken by a second publisher (short
  *     GRAFT_LEASE_MS window), then resumed: the zombie must abort at
  *     the commit fence and the store must hold exactly the breaker's
  *     committed version — no torn manifest, no double commit.
  */
class ArtifactRaceSpec extends SparkSpec {

  private def launch(root: String, name: String, expectV: Int,
      nRows: Int, ready: java.io.File, go: java.io.File,
      env: Map[String, String] = Map.empty): (Process, java.io.File) =
    ForkedJvm.launch("graft.RacePublish", Seq(root, name,
      expectV.toString, nRows.toString, ready.getAbsolutePath,
      go.getAbsolutePath), env)

  private def tail(log: java.io.File): String = ForkedJvm.tail(log, 40)

  private def await(p: Process, log: java.io.File, minutes: Long = 5)
      : Int = {
    assert(p.waitFor(minutes, java.util.concurrent.TimeUnit.MINUTES),
      s"publisher JVM still running after $minutes min:\n${tail(log)}")
    p.exitValue()
  }

  private def tmpRoot(): String = {
    val d = tempDir("graft_race_root")
    d.toFile.delete()
    d.toString
  }

  private def touch(f: java.io.File): Unit = {
    java.nio.file.Files.write(f.toPath, Array.emptyByteArray); ()
  }

  private def waitFor(cond: => Boolean, ms: Long, what: String): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out: $what")
      Thread.sleep(5)
    }
  }

  private def committedVersions(root: String, name: String): Seq[Int] = {
    val d = new java.io.File(s"$root/$name")
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter(f => new java.io.File(f, "MANIFEST.json").isFile)
      .map(_.getName.drop(1).toInt).sorted
  }

  test("double-fired step on one artifact: exactly one of two live " +
      "publisher JVMs commits, the loser refuses loudly") {
    val root = tmpRoot()
    val dir = tempDir("graft_race_bar")
    val go = new java.io.File(dir.toFile, "go")
    val readyA = new java.io.File(dir.toFile, "ra")
    val readyB = new java.io.File(dir.toFile, "rb")
    val (pa, la) = launch(root, "step_artifact", 1, 300, readyA, go)
    val (pb, lb) = launch(root, "step_artifact", 1, 500, readyB, go)
    try {
      waitFor(readyA.exists() && readyB.exists(), 120000,
        "both contenders ready")
      touch(go) // both enter publish together
      val (ea, eb) = (await(pa, la), await(pb, lb))
      val exits = Seq(ea -> la, eb -> lb)
      val winners = exits.filter(_._1 == 0)
      val losers = exits.filter(_._1 != 0)
      assert(winners.size == 1 && losers.size == 1,
        s"expected exactly one winner, got exits " +
          s"${exits.map(_._1)}:\nA:\n${tail(la)}\nB:\n${tail(lb)}")
      assert(tail(winners.head._2).contains("WON step_artifact v1"))
      // the loser died on the in-lease version-threading check, not
      // some unrelated crash
      assert(tail(losers.head._2).contains("refusing to publish past it"),
        s"loser failed for the wrong reason:\n${tail(losers.head._2)}")
      // store state: exactly v1 committed, attesting the WINNER's rows
      assert(committedVersions(root, "step_artifact") === Seq(1))
      val (df, m) = ArtifactStore.readWithManifest(
        spark, root, "step_artifact")
      val wonRows = if (tail(winners.head._2).contains("rows=300")) 300
                    else 500
      assert(m.rows === wonRows && df.count() === wonRows)
    } finally {
      Seq(pa, pb).foreach(_.destroyForcibly())
      hadoopDelete(root)
    }
  }

  test("sibling artifacts under one root: two live publishers commit " +
      "independently, no false conflict") {
    val root = tmpRoot()
    val dir = tempDir("graft_race_bar2")
    val go = new java.io.File(dir.toFile, "go")
    val readyA = new java.io.File(dir.toFile, "ra")
    val readyB = new java.io.File(dir.toFile, "rb")
    val (pa, la) = launch(root, "left", 1, 300, readyA, go)
    val (pb, lb) = launch(root, "right", 1, 500, readyB, go)
    try {
      waitFor(readyA.exists() && readyB.exists(), 120000,
        "both publishers ready")
      touch(go)
      assert(await(pa, la) === 0, s"left publisher died:\n${tail(la)}")
      assert(await(pb, lb) === 0, s"right publisher died:\n${tail(lb)}")
      assert(committedVersions(root, "left") === Seq(1))
      assert(committedVersions(root, "right") === Seq(1))
      assert(ArtifactStore.readWithManifest(spark, root, "left")._2
        .rows === 300)
      assert(ArtifactStore.readWithManifest(spark, root, "right")._2
        .rows === 500)
    } finally {
      Seq(pa, pb).foreach(_.destroyForcibly())
      hadoopDelete(root)
    }
  }

  test("paused holder, lease broken mid-commit: the resumed zombie " +
      "aborts at the commit fence; the breaker's commit is the only one") {
    // The SIGSTOP must land between the holder's data write (the
    // _SUCCESS marker) and its manifest commit — a window of one
    // read-back count over 32 parquet files. Retried: a warm JVM can
    // occasionally commit inside the poll interval.
    val attempts = 3
    var done = false
    for (attempt <- 1 to attempts if !done) {
      val root = tmpRoot()
      val dir = tempDir("graft_race_bar3")
      val go = new java.io.File(dir.toFile, "go")
      val readyA = new java.io.File(dir.toFile, "ra")
      touch(go) // no barrier: the holder publishes as soon as it is up
      val (pa, la) = launch(root, "art", 1, 20000, readyA, go,
        env = Map("GRAFT_LEASE_MS" -> "2000"))
      try {
        val success =
          new java.io.File(s"$root/art/v1/data/_SUCCESS")
        val manifest = new java.io.File(s"$root/art/v1/MANIFEST.json")
        waitFor(success.exists() || !pa.isAlive, 180000,
          "holder's data write")
        assert(pa.isAlive, s"holder died before commit:\n${tail(la)}")
        Runtime.getRuntime.exec(
          Array("kill", "-STOP", pa.pid().toString)).waitFor()
        if (manifest.exists()) {
          // missed the window — the holder already committed; retry
          Runtime.getRuntime.exec(
            Array("kill", "-CONT", pa.pid().toString)).waitFor()
          await(pa, la)
          assert(attempt < attempts,
            s"could not catch the holder mid-commit in $attempts tries")
        } else {
          // holder frozen mid-commit; its heartbeat is frozen with it,
          // so after one quiet 2 s window its lock is breakable
          val readyB = new java.io.File(dir.toFile, "rb")
          val (pb, lb) = launch(root, "art", 1, 700, readyB, go,
            env = Map("GRAFT_LEASE_MS" -> "2000"))
          assert(await(pb, lb) === 0,
            s"breaker failed to break the stale lease and publish:" +
              s"\n${tail(lb)}")
          assert(tail(lb).contains("WON art v1 rows=700"))
          // resume the zombie: it must NOT overwrite the breaker's
          // commit — the fence (or the loss of its reclaimed data dir)
          // aborts it
          Runtime.getRuntime.exec(
            Array("kill", "-CONT", pa.pid().toString)).waitFor()
          val ea = await(pa, la)
          assert(ea !== 0,
            s"zombie holder exited 0 — double commit?\n${tail(la)}")
          // store state: exactly one committed version, the breaker's,
          // and its manifest parses + verifies end-to-end (not torn)
          assert(committedVersions(root, "art") === Seq(1))
          val (df, m) = ArtifactStore.readWithManifest(spark, root, "art")
          assert(m.rows === 700 && df.count() === 700,
            s"committed artifact is not the breaker's: $m")
          done = true
        }
      } finally {
        pa.destroyForcibly()
        hadoopDelete(root)
      }
    }
    assert(done, "soak never completed a clean attempt")
  }

  private def hadoopDelete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }
}
