package graft

/** Standalone artifact publisher — the "yesterday" process of the
  * cold-restart proof (reference main.py:201-209: one process per
  * day). Builds the seven incremental-maintenance base artifacts and
  * publishes them to an [[graft.io.ArtifactStore]], then EXITS; a
  * different JVM (ColdRestartSpec, or an operator's next daily run)
  * reads them back cold.
  *
  * Usage: `ColdPublish <sfDir> <storeRoot>` (full base publish), or
  * `ColdPublish <sfDir> <storeRoot> <chainStep> [rollup]` — one "day"
  * of a three-process chained-restart proof: read the previous (dead)
  * process's published version, merge this day's slice, publish the
  * next version, exit. Default chains the postings index (q194's
  * sorted-concat merge); `rollup` chains the additive warehouse
  * rollup (q222's ⊕ merge + batch-id high-water mark); `labels`
  * chains the CC label artifact (sigs + labels committed together by
  * a per-step snapshot — the bridge-contraction merge). ALL chain
  * arms are replay-safe: an operator re-running a finished step gets
  * a content no-op — the rollup via its on-storage batch-id
  * high-water mark, the postings chain via version threading
  * (version == step; an already-committed step returns its manifest
  * untouched), the label chain via snapshot threading (snapshot
  * version == step). */
object ColdPublish {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val root = args(1)
    val spark = Session.local(Session.cpus(4))
    if (args.length >= 4 && args(3) == "rollup") {
      graft.queries.ColdRestart.chainRollupPublish(
        spark, dir, root, args(2).toInt)
      println(s"published rollup chain step ${args(2)}")
    } else if (args.length >= 4 && args(3) == "labels") {
      graft.queries.ColdRestart.chainLabelPublish(
        spark, dir, root, args(2).toInt)
      println(s"published label chain step ${args(2)}")
    } else if (args.length >= 3) {
      val m = graft.queries.ColdRestart.chainPublish(
        spark, dir, root, args(2).toInt)
      println(s"published ${m.name} v${m.version} rows=${m.rows}")
    } else {
      // timed symmetrically with ColdDelta (untimed probe absorbs
      // session/codegen cold start) so the q204 bar-vs-path split
      // rungs compare like with like
      spark.range(100).agg(org.apache.spark.sql.functions.sum("id"))
        .collect()
      val t0 = System.nanoTime()
      val manifests = graft.queries.ColdRestart.publishAll(spark, dir, root)
      val sec = (System.nanoTime() - t0) / 1e9
      manifests.foreach(m =>
        println(s"published ${m.name} v${m.version} rows=${m.rows}"))
      println(f"""{"metric":"cold_publish_all","value":$sec%.3f,""" +
        s""""unit":"sec","artifacts":${manifests.length}}""")
    }
    spark.stop()
  }
}
