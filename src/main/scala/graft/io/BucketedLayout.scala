package graft.io

import org.apache.spark.sql.DataFrame

/** Bucketed table layout: the co-location strategy that removes the
  * fact-fact join shuffle at scale.
  *
  * Writing both sides of a recurring join bucketed (and sorted) by
  * the join key lets Catalyst plan a SortMergeJoin with NO Exchange
  * on either side — each bucket pair joins locally. At 100 TB this
  * turns the dominant shuffle of queries like q07 (orders⋈lineitem)
  * into a scan-local join; the one-time bucketing write is amortized
  * over every subsequent query on the key.
  */
object BucketedLayout {

  /** Write `df` into the session catalog bucketed+sorted by `key`.
    * Bucket count should match downstream parallelism (a multiple of
    * shuffle.partitions keeps all cores busy). Drops any previous
    * table AND its data location first — the default in-memory
    * catalog forgets tables across JVMs while their directories
    * persist, which would otherwise fail the create.
    *
    * `location` makes the table EXTERNAL at that path (the bucket
    * spec lives in the catalog either way). Callers should prefer it
    * over the managed default: the shared ./spark-warehouse is swept
    * by NOTHING — a crashed run's managed layout (two full fact-table
    * copies) leaks there forever, while a `graft_`-prefixed tmpdir
    * location is covered by the orphan sweep + pid-liveness markers
    * (reviewer find, r11). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, location: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = location.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = LocalFs.write(df)
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
    location.fold(w)(l => w.option("path", l)).saveAsTable(table)
    LocalFs.clearTableOptions(spark, table)
  }
}
