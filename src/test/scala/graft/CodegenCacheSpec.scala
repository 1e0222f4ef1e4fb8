package graft

import java.util.concurrent.TimeUnit

/** Spark keeps compiled generated classes in one JVM-wide cache, sized
  * once from `spark.sql.codegen.cache.maxEntries` (default 100) when
  * the first class compiles, so only a fresh JVM shows what
  * [[graft.queries.Tables.prep]] does to it. Each case runs a
  * [[CodegenCacheRun]] child on a plain session, as the harness and
  * the driver hand one in: a pass over BI paths that generates more
  * than 100 classes recompiles nothing the second time once prep has
  * sized the cache, and recompiles at a caller's explicit 100. */
class CodegenCacheSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  /** BI paths whose one pass generates well over 100 classes. */
  private val Paths = Seq("q01_pricing_summary", "q04_rollup_returns",
    "q05_cube_orders", "q06_join_dims", "q07_join_facts", "q11_window_topn",
    "q12_window_lag", "q13_window_running", "q15_union_ids",
    "q19_tumbling_window", "q25_session_window", "q26_asof_join",
    "q27_range_join", "q28_percentiles", "q29_pivot_status")

  /** The child's log, once it has exited 0. */
  private def child(entries: String, passes: Int, early: Boolean,
      queries: Seq[String]): String = {
    val (p, log) = ForkedJvm.launch("graft.CodegenCacheRun",
      Seq(Dir, entries, passes.toString, if (early) "early" else "-") ++ queries,
      Map("JAVA_TOOL_OPTIONS" -> s"-Djava.io.tmpdir=${tempDir("codegen_cache")}"),
      xmx = "1g")
    assert(p.waitFor(10, TimeUnit.MINUTES),
      s"child JVM still running after 10 min:\n${ForkedJvm.tail(log, 40)}")
    assert(p.exitValue() === 0, ForkedJvm.tail(log, 40))
    ForkedJvm.output(log)
  }

  private def compiles(out: String): Seq[Int] =
    """PASS \d+ COMPILES (\d+)""".r.findAllMatchIn(out).map(_.group(1).toInt).toSeq

  private def cacheKey(out: String): String =
    """CACHE_KEY (\S+)""".r.findFirstMatchIn(out).map(_.group(1)).getOrElse("?")

  test("a handed-in session's second pass over the BI paths compiles " +
      "nothing: prep sizes the codegen cache before the first class") {
    val out = child("-", 2, early = false, Paths)
    val Seq(first, second) = compiles(out)
    assert(first > 100, s"pass 1 compiled $first classes, too few to show a thrash")
    assert(second === 0, s"pass 2 recompiled $second of $first classes")
    assert(cacheKey(out) === queries.Tables.CodegenCacheEntries.toString)
    assert(!out.contains("maxEntries is unset"), out)
  }

  test("negative control: a caller's cache of 100 set at build is left " +
      "alone, and the second pass recompiles") {
    val out = child("100", 2, early = false, Paths)
    val Seq(first, second) = compiles(out)
    assert(first > 100 && second > 0, s"passes compiled $first, $second")
    assert(cacheKey(out) === "100")
  }

  test("code compiled before the first prep: the cache keeps its size, " +
      "the key stays unset and one WARN names it") {
    val out = child("-", 1, early = true, Seq("q01_pricing_summary", "q06_join_dims"))
    assert(cacheKey(out) === "unset")
    val warned = out.linesIterator.filter(_.contains(
      s"${queries.Tables.CodegenCacheKey} is unset")).toSeq
    assert(warned.size === 1 && warned.head.contains("WARN"), out)
  }
}
