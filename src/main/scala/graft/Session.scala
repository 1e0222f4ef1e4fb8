package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: `local[n]` with `n` shuffle
  * partitions, UTC session time, no UI, WARN logs. */
object Session {

  /** Core count from `SPARK_GRAFT_CPUS`, or `fallback` when unset. */
  def cpus(fallback: Int): Int =
    graft.io.Config.fromEnv.int("SPARK_GRAFT_CPUS", fallback)

  def local(n: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
