package graft.io

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction invariants: file counts land on the ceil(rows/max)
  * formula, data survives exactly, the staging dir is swapped away,
  * and a crash between the swap's two renames is recovered. */
class CompactSpec extends SparkSpec {

  test("unpartitioned: many small files compact to ceil(rows/max) even chunks") {
    import spark.implicits._
    val path = tempDir("compact_spec").resolve("t").toString
    (0L until 1000L).map(i => (i, s"row $i")).toDF("id", "s")
      .repartition(40).write.parquet(path)
    val stats = Compact.compact(spark, path, Seq.empty, 300)
    assert(stats.rows === 1000L)
    assert(stats.filesBefore === 40L)
    assert(stats.filesAfter === 4L) // ceil(1000/300)
    val back = spark.read.parquet(path)
    assert(back.count() === 1000L)
    assert(back.agg(sum("id")).head.getLong(0) === 499500L)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".compact_stg")))
  }

  test("partitioned: each partition dir compacts to its own ceil(rows/max)") {
    import spark.implicits._
    val path = tempDir("compact_spec").resolve("p").toString
    // 3 keys with skewed sizes: 500, 250, 50 rows
    val df = ((0L until 500L).map(i => ("a", i)) ++
      (0L until 250L).map(i => ("b", i)) ++
      (0L until 50L).map(i => ("c", i))).toDF("k", "v")
    df.repartition(16).write.partitionBy("k").parquet(path)
    val stats = Compact.compact(spark, path, Seq("k"), 200)
    // ceil(500/200) + ceil(250/200) + ceil(50/200) = 3 + 2 + 1
    assert(stats.filesAfter === 6L)
    assert(stats.filesBefore > stats.filesAfter)
    val back = spark.read.parquet(path)
    assert(back.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 500L, "b" -> 250L, "c" -> 50L))
  }

  test("a dataset left only at <path>.compact_old by a cut swap is restored, then compacted") {
    import spark.implicits._
    val path = tempDir("compact_spec").resolve("r").toString
    // the state a crash between "retire path" and "move staging in"
    // leaves: no dataset at path, the only complete copy retired
    (0L until 1000L).map(i => (i, s"row $i")).toDF("id", "s")
      .repartition(40).write.parquet(path + ".compact_old")
    val stats = Compact.compact(spark, path, Seq.empty, 300)
    assert(stats.rows === 1000L)
    assert(stats.filesBefore === 40L)
    assert(stats.filesAfter === 4L)
    assert(spark.read.parquet(path).agg(sum("id")).head.getLong(0) === 499500L)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".compact_old")))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".compact_stg")))
  }
}
