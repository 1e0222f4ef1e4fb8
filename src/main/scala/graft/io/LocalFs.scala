package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** The checksummed local file system with an in-process chmod.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and a write calls it for every data file, every
  * `.crc` sidecar and every new directory — about half of a small
  * partitioned write's task time goes to those forks. [[LocalFs.Raw]]
  * makes the same change with `Files.setPosixFilePermissions`. The
  * `ChecksumFileSystem` layer is kept, so `.crc` sidecars are still
  * written and verified.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** The sticky bit has no `java.nio` form, and a store without
      * POSIX attributes rejects `setPosixFilePermissions`: both take
      * the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        // without the sticky bit, toString is the 9-char "rwxr-x---" form
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException =>
          super.setPermission(p, permission) }
  }

  /** `ds.write` with [[LocalFs]] serving the `file` scheme for this one
    * write job. Spark copies writer options into the job's Hadoop conf,
    * so the session conf, the FileSystem cache (bypassed for the job's
    * own instances) and every reader keep the stock file system. Every
    * engine-owned file write goes through here (FileWriteLintSpec). */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(Options)

  private val Options = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `saveAsTable` keeps writer options as the table's storage
    * properties, and every later scan of the table copies those into
    * its Hadoop conf: after a [[write]] + `saveAsTable`, this drops
    * [[write]]'s options from the catalog entry. */
  def clearTableOptions(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val t = catalog.getTableMetadata(TableIdentifier(table))
    catalog.alterTable(t.copy(
      storage = t.storage.copy(properties = t.storage.properties -- Options.keys)))
    catalog.refreshTable(TableIdentifier(table))
  }
}
