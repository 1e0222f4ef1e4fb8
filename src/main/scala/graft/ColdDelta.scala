package graft

/** Standalone cold-DELTA timer — the "today" process of the q204
  * bar-vs-path split (r15 verdict ask #3). [[ColdPublish]] is the
  * bar: the once-per-day corpus-scale artifact build a real pipeline
  * amortizes across every downstream consumer. THIS main is the path:
  * a fresh JVM reading yesterday's published store and running only
  * the delta-bounded incremental dedup (q204's serving surface), so
  * the two costs can be recorded as separate scale rungs instead of
  * one conflated number — the conflated rung (x8 11.5x) reads as a
  * product regression when it is actually the comparison bar.
  *
  * Usage: `ColdDelta <sfDir> <storeRoot>` against a store ColdPublish
  * already wrote. Prints one JSON line with the delta seconds
  * (session init and codegen warm-up excluded via an untimed probe
  * action — the measured window is the daily path a scheduler pays).
  */
object ColdDelta {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val root = args(1)
    val spark = Session.local(Session.cpus(4))
    spark.range(100).agg(org.apache.spark.sql.functions.sum("id"))
      .collect() // untimed: absorb session/codegen cold start
    val t0 = System.nanoTime()
    val rows = graft.queries.ColdRestart.coldDedup(spark, dir, root)
      .collect().length
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"cold_delta_dedup","value":$sec%.3f,""" +
      s""""unit":"sec","rows":$rows}""")
    spark.stop()
  }
}
