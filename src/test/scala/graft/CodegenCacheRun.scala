package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Child JVM of [[CodegenCacheSpec]]: builds a plain session the way a
  * caller outside the engine does (perfbench's harness, the driver),
  * with no codegen cache key unless one is given, runs the named
  * registry queries through `SparkEntry.queries` in `passes` passes,
  * and prints `PASS <n> COMPILES <count>` per pass (generated classes
  * Janino compiled in it) and the session's cache key.
  *
  * {{{CodegenCacheRun <sfDir> <cacheEntries|-> <passes> <early|-> <query>...}}}
  *
  * `early` compiles one generated class before the first query, i.e.
  * before the JVM's first `Tables.prep`. */
object CodegenCacheRun {
  def main(args: Array[String]): Unit = {
    val Array(dir, entries, passes, early) = args.take(4)
    val key = graft.queries.Tables.CodegenCacheKey
    val builder = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    if (entries != "-") builder.config(key, entries)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (early == "early") spark.range(3).selectExpr("id * 3").collect()
      (1 to passes.toInt).foreach { pass =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        args.drop(4).foreach(q => SparkEntry.queries(q)(spark, dir).collect())
        println(s"PASS $pass COMPILES ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
      }
      println(s"CACHE_KEY ${spark.sessionState.conf.getAllConfs.getOrElse(key, "unset")}")
    } finally spark.stop()
  }
}
