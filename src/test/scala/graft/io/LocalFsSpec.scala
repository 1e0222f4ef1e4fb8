package graft.io

import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[LocalFs]]: the in-process chmod, and the per-writer install that
  * leaves the stock file system everywhere else. */
class LocalFsSpec extends SparkSpec {

  private def rawFs(): LocalFs.Raw = {
    val fs = new LocalFs.Raw
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("setPermission sets 0600 and 0750 in-process and keeps the sticky bit") {
    val fs = rawFs()
    val f = Files.createTempFile("localfs_spec", ".bin")
    fs.setPermission(new org.apache.hadoop.fs.Path(f.toUri), octal("600"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) === "rw-------")
    fs.setPermission(new org.apache.hadoop.fs.Path(f.toUri), octal("750"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) === "rwxr-x---")
    // 01777: java.nio has no sticky bit, so this takes the stock path
    val d = Files.createTempDirectory("localfs_spec")
    fs.setPermission(new org.apache.hadoop.fs.Path(d.toUri), octal("1777"))
    assert((mode(d) & Integer.parseInt("7777", 8)) === Integer.parseInt("1777", 8))
  }

  /** Relative path → permission string, with the write's job id cut
    * out of part-file names so two writes compare. */
  private def layout(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally s.close()
  }

  private def facts = {
    import spark.implicits._
    Seq((1, "2024-01-01", "a"), (2, "2024-01-01", "b"), (3, "2024-01-02", "c"),
      (4, "2024-01-03", "d")).toDF("id", "fecha", "v").repartition(2)
  }

  /** Every fs.file.* setting of the session and its Hadoop conf (the
    * Hadoop defaults hold `fs.file.checksum.verify`). */
  private def fsFileConf(): Map[String, String] =
    (spark.conf.getAll.toSeq ++ spark.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue))
      .filter(_._1.startsWith("fs.file.")).toMap

  test("a partitioned load through the helper leaves the stock write's " +
      "files, .crc sidecars and permissions, and no fs.file.* conf behind") {
    val base = Files.createTempDirectory("localfs_spec")
    val viaHelper = base.resolve("helper")
    val stock = base.resolve("stock")
    val confBefore = fsFileConf()
    val local = URI.create("file:///")
    val cachedBefore = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
    assert(!confBefore.keys.exists(_.startsWith("fs.file.impl")))
    // the daily load's write: a dynamic partition overwrite
    IdempotentWriter.overwritePartitions(facts, viaHelper.toString, addLoadDate = false)
    facts.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("fecha").parquet(stock.toString)
    val got = layout(viaHelper)
    assert(got === layout(stock))
    assert(got.keys.exists(k => k.contains("fecha=2024-01-02/.part-") && k.endsWith(".crc")),
      s"no .crc sidecar written: ${got.keys}")
    assert(fsFileConf() === confBefore)
    // the cached FileSystem every reader gets is still the stock one
    assert(FileSystem.get(local, spark.sparkContext.hadoopConfiguration) eq cachedBefore)
    assert(!cachedBefore.isInstanceOf[LocalFs])
  }

  test("a bucketed table written through the helper keeps no fs.file.* " +
      "option in the catalog, so its readers get the stock file system") {
    val loc = tempDir("graft_localfs_spec").resolve("t").toString
    BucketedLayout.writeBucketed(facts, "localfs_spec_bucketed", "id", 2, Some(loc))
    val t = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("localfs_spec_bucketed"))
    assert(!t.storage.properties.keys.exists(_.startsWith("fs.file.")),
      t.storage.properties)
    assert(t.bucketSpec.map(_.numBuckets) === Some(2))
    assert(spark.table("localfs_spec_bucketed").count() === 4)
    spark.sql("DROP TABLE localfs_spec_bucketed")
  }

  test("the writer options reach the write job's file system") {
    LocalFsSpec.CountingRaw.calls.set(0)
    val out = Files.createTempDirectory("localfs_spec").resolve("t").toString
    LocalFs.write(facts).option("fs.file.impl", classOf[LocalFsSpec.CountingFs].getName)
      .partitionBy("fecha").parquet(out)
    assert(LocalFsSpec.CountingRaw.calls.get() > 0)
  }

  test("a flipped byte in a helper-written file fails a plain read with " +
      "ChecksumException") {
    val out = Files.createTempDirectory("localfs_spec").resolve("t")
    LocalFs.write(facts).partitionBy("fecha").parquet(out.toString)
    assert(spark.read.parquet(out.toString).count() === 4)
    val s = Files.walk(out)
    val part = try s.iterator().asScala.find { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.get finally s.close()
    val bytes = Files.readAllBytes(part)
    val at = bytes.length - 9 // inside the footer, which every read opens
    bytes(at) = (bytes(at) ^ 0x01).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](spark.read.parquet(out.toString).count())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]),
      s"no ChecksumException in ${chain.map(_.getClass.getName)}")
  }
}

object LocalFsSpec {
  class CountingRaw extends LocalFs.Raw {
    override def setPermission(p: org.apache.hadoop.fs.Path, permission: FsPermission): Unit = {
      CountingRaw.calls.incrementAndGet()
      super.setPermission(p, permission)
    }
  }
  object CountingRaw { val calls = new AtomicInteger() }

  class CountingFs extends LocalFileSystem(new CountingRaw)
}
