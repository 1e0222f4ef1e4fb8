package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.io.LocalFs
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in hand-written SQL or an exception
    * message would otherwise make a consumer's json.load fail. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional extra args: run only these query names (local dev loop;
    // the driver always passes exactly two args -> full run).
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus(4))
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST: it depends on nothing the query loop
    // computes, and writing it up front means a run killed mid-loop
    // still leaves every already-dumped query comparable instead of
    // zeroing the whole artifact.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    def dump(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[(String, Throwable)] =
      try {
        LocalFs.write(fn(spark, sfDir).coalesce(1)).mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    val failed = selected.toSeq.flatMap { case (n, fn) => dump(n, fn) }
    // Retry pass (round-15: the r14 driver artifact dropped THREE
    // CONSECUTIVE registry entries — Map-iteration positions 122-124 —
    // i.e. one transient mid-run window in the driver environment, not
    // per-query bugs; all three pass standalone and in a clean full
    // run). A second attempt after the main pass is outside any such
    // window, so a transient failure self-heals instead of silently
    // shrinking the round's correctness artifact.
    val stillFailed = failed.flatMap { case (n, _) =>
      System.err.println(s"[verify] retrying $n")
      dump(n, selected(n)).map { case (n2, e) =>
        System.err.println(s"[verify] $n2 failed twice:")
        e.printStackTrace()
        (n2, e)
      }
    }
    // Machine-readable failure record next to the dumps (a FILE, so
    // dir-scanning consumers skip it): an absent query dir is now
    // always explained by either this record or the process dying.
    val failJson = stillFailed
      .map { case (n, e) =>
        s"${jsonStr(n)}: ${jsonStr(s"${e.getClass.getName}: ${e.getMessage}")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_failures.json"), failJson)
    if (stillFailed.nonEmpty)
      System.err.println(s"[verify] ${stillFailed.size} queries failed " +
        s"both attempts: ${stillFailed.map(_._1).sorted.mkString(",")}")
    spark.stop()
  }
}
