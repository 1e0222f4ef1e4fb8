package graft

/** Standalone artifact publisher — the "yesterday" process of the
  * cold-restart proof (reference main.py:201-209: one process per
  * day). Builds the seven incremental-maintenance base artifacts and
  * publishes them to an [[graft.io.ArtifactStore]], then EXITS; a
  * different JVM (ColdRestartSpec, or an operator's next daily run)
  * reads them back cold.
  *
  * Usage: `ColdPublish <sfDir> <storeRoot>`: publish the seven base
  * artifacts and the snapshot pinning them, print one line per
  * manifest and a `cold_publish_all` timing line. */
object ColdPublish {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val root = args(1)
    val spark = Session.local(Session.cpus(4))
    // timed symmetrically with ColdDelta (untimed probe absorbs
    // session/codegen cold start) so the q204 bar-vs-path split rungs
    // compare like with like
    spark.range(100).agg(org.apache.spark.sql.functions.sum("id")).collect()
    val t0 = System.nanoTime()
    val manifests = graft.queries.ColdRestart.publishAll(spark, dir, root)
    val sec = (System.nanoTime() - t0) / 1e9
    manifests.foreach(m =>
      println(s"published ${m.name} v${m.version} rows=${m.rows}"))
    println(f"""{"metric":"cold_publish_all","value":$sec%.3f,""" +
      s""""unit":"sec","artifacts":${manifests.length}}""")
    spark.stop()
  }
}
