package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files compaction for a (possibly partitioned) parquet
  * dataset — the standing maintenance op of a 100 TB lake: streaming
  * and incremental loads accumulate thousands of tiny files per
  * partition, and scan cost degrades into file-open and listing
  * overhead. Compaction rewrites each partition directory into
  * ~ceil(rows / maxRecordsPerFile) right-sized files.
  *
  * The rewrite NEVER overwrites the input in place: Spark cannot
  * overwrite a path it is reading, and a failed in-place rewrite
  * would destroy data. It writes a sibling staging directory, then
  * swaps it in through [[replace]] (Hadoop FileSystem renames — works
  * on any scheme the session can reach). The swap's rename gap means
  * a concurrent reader can observe a missing path: compaction is a
  * single-maintainer operation, the same contract as
  * [[JdbcSink.loadIdempotent]]'s staging table.
  */
object Compact {

  /** Outcome stats: data files before/after and the row count. */
  final case class Stats(filesBefore: Long, filesAfter: Long, rows: Long)

  private def dataFiles(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Compact `path` so no data file holds more than `maxRecordsPerFile`
    * rows and each partition directory holds as few files as that
    * bound allows. Partitioned data is clustered back onto its
    * partition columns (one shuffle of the partition being rewritten —
    * in production you compact recent partitions, not the whole
    * table); unpartitioned data is round-robined into
    * ceil(rows / maxRecordsPerFile) even chunks. A dataset left only at
    * `<path>.compact_old` by a crash inside an earlier swap is
    * restored first, then compacted. */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Int): Stats = {
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    val (before, rows) = replace(spark, path, "compact") { (current, staging) =>
      val df = current.getOrElse(throw new java.io.FileNotFoundException(
        s"nothing to compact at $path"))
      val before = dataFiles(spark, path)
      val rows = df.count()
      val clustered =
        if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
        else df.repartition(
          math.max(1, math.ceil(rows.toDouble / maxRecordsPerFile).toInt))
      val writer = LocalFs.write(clustered)
        .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
        .mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(staging)
      (before, rows)
    }
    Stats(before, dataFiles(spark, path), rows)
  }

  /** Replace the parquet dataset at `path` with what `stage` writes to
    * the staging sibling `<path>.<tag>_stg`. `stage` gets the current
    * dataset (None when `path` holds none) and the staging path.
    *
    * Rename-aside swap: stage, retire `path` to `<path>.<tag>_old`,
    * move staging in, and only then drop the retired copy. A crash at
    * any point leaves a complete copy on disk, and the next call first
    * restores a retired copy that has no live dataset beside it — the
    * only complete copy once a crash fell between the two renames —
    * before anything is read or deleted. The missing-at-`path` window
    * is two metadata renames, not a data delete (on object stores whose
    * rename is copy-based it widens; there you'd swap a catalog pointer
    * instead). Existence probes go through the Hadoop FileSystem, never
    * java.io.File: a local probe of an hdfs:// or s3a:// path is always
    * false and would replace the whole dataset with the staged one. */
  private[graft] def replace[A](spark: SparkSession, path: String, tag: String)(
      stage: (Option[DataFrame], String) => A): A = {
    val (live, stg, retired) =
      (new Path(path), new Path(s"$path.${tag}_stg"), new Path(s"$path.${tag}_old"))
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(live) && fs.exists(retired))
      require(fs.rename(retired, live),
        s"swap recovery failed: could not restore $retired to $path")
    fs.delete(stg, true)
    val out = stage(
      if (fs.exists(live)) Some(spark.read.parquet(path)) else None, stg.toString)
    fs.delete(retired, true)
    if (fs.exists(live))
      require(fs.rename(live, retired), s"swap failed: could not retire $path")
    require(fs.rename(stg, live),
      s"swap failed: could not move $stg into place; original data preserved at $retired")
    fs.delete(retired, true)
    out
  }
}
