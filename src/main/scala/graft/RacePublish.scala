package graft

/** Standalone racing publisher — one contender of the multi-process
  * artifact-store soak (ArtifactRaceSpec). Each instance is a live
  * JVM calling [[graft.io.ArtifactStore.publish]], so the spec can
  * interleave REAL processes: two publishers on one artifact, sibling
  * publishers sharing a root, and a paused holder whose lease is
  * broken mid-commit (the spec SIGSTOPs this JVM between its data
  * write and its manifest commit).
  *
  * Usage: `RacePublish <root> <name> <nRows> <readyFile> <goFile>`
  *
  * Protocol: build the frame, touch `readyFile`, spin until `goFile`
  * exists (the spec's start barrier — both contenders enter publish
  * together, after both JVMs are warm), then publish exactly once.
  * Prints `WON <name> v<version> rows=<rows>` on commit; any refusal
  * (the commit fence, a lease acquisition timeout) propagates as an
  * uncaught exception → nonzero exit, which IS the loud-loser
  * contract under test. */
object RacePublish {
  def main(args: Array[String]): Unit = {
    val Array(root, name, nRows, readyFile, goFile) = args.take(5)
    val spark = Session.local(2)
    import spark.implicits._
    // 32 output files: the post-write manifest step (read-back count
    // over the written parquet) then spans enough footer reads that
    // the soak's poll-then-SIGSTOP lands between data and commit
    val df = (1L to nRows.toLong).toDF("id")
      .repartition(32)
      .selectExpr("id", "id * 2 AS v")
    df.count() // materialize the plan before the barrier
    java.nio.file.Files.write(java.nio.file.Paths.get(readyFile),
      Array.emptyByteArray)
    val deadline = System.currentTimeMillis() + 120000
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(goFile))) {
      if (System.currentTimeMillis() > deadline)
        sys.error(s"barrier file $goFile never appeared")
      Thread.sleep(5)
    }
    val m = graft.io.ArtifactStore.publish(df, root, name)
    println(s"WON ${m.name} v${m.version} rows=${m.rows}")
    spark.stop()
  }
}
