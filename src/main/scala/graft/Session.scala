package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: `local[n]` with `n` shuffle
  * partitions, UTC session time, no UI, WARN logs, Spark's codegen
  * cache sized to [[graft.queries.Tables.CodegenCacheEntries]], prepped by
  * [[graft.queries.Tables.prep]] so every query runner can assume it. */
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
      .config(graft.queries.Tables.CodegenCacheKey,
        graft.queries.Tables.CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.Tables.prep(spark)
    spark
  }

  /** Run `body` with `kv` set on the session conf, then put each key
    * back as it was — also when `body` throws: a key that was set gets
    * its old value back, a key that was unset is unset again. The
    * engine's only scoped conf change (`ConfScopeLintSpec`).
    *
    * "Unset" is read from `conf.getAll`, the explicitly set keys:
    * `conf.getOption` answers a registered key's default, so a restore
    * through it would leave that key set explicitly afterwards.
    *
    * The change is still session-global while `body` runs: concurrent
    * work on the same session sees it, and two overlapping scopes on
    * one key can restore each other's value. Keep `body` as short as
    * the change needs. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
