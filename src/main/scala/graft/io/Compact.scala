package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
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
  * swaps via the Hadoop FileSystem API (delete + rename — works on
  * any scheme the session can reach). The delete→rename gap means a
  * concurrent reader can observe a missing path: compaction is a
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
    * ceil(rows / maxRecordsPerFile) even chunks. */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Int): Stats = {
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    val before = dataFiles(spark, path)
    val df = spark.read.parquet(path)
    val rows = df.count()
    val clustered =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df.repartition(
        math.max(1, math.ceil(rows.toDouble / maxRecordsPerFile).toInt))
    val staging = path + ".compact_stg"
    val retired = path + ".compact_old"
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(staging), true)
    fs.delete(new Path(retired), true)
    val writer = LocalFs.write(clustered)
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(staging)
    // Rename-aside swap: the dataset is renamed away, staging renamed
    // in, THEN the old copy is deleted — a crash between any two steps
    // leaves a complete copy on disk (at `.compact_old` or staging),
    // recoverable by rename, instead of a destroyed dataset. The
    // missing-at-`path` window is two metadata renames, not a data
    // delete. (On object stores whose rename is copy-based the window
    // widens; there you'd swap a catalog pointer instead.)
    require(fs.rename(new Path(path), new Path(retired)),
      s"compaction swap failed: could not retire $path")
    require(fs.rename(new Path(staging), new Path(path)),
      s"compaction swap failed: could not move $staging into place; " +
        s"original data preserved at $retired")
    fs.delete(new Path(retired), true)
    Stats(before, dataFiles(spark, path), rows)
  }
}
