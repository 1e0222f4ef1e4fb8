package graft.io

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession

/** The engine's scratch space: one directory per JVM, the way Spark
  * keeps one block-manager dir per process.
  *
  * The root is `java.io.tmpdir/graft_<random>`, created on first use.
  * An owner marker written right after creation names this process by
  * pid AND start instant (a reused pid never keeps a dead JVM's root
  * alive), and one shutdown hook deletes the root. A JVM killed before
  * its hooks run leaves its root behind, so creating a root also
  * starts one orphan pass on a daemon thread: it deletes every
  * `graft_*` dir in tmpdir whose marker names no live process, and
  * every marker-less one (spec temp dirs, older binaries) untouched
  * for [[MarkerlessTtlMs]].
  *
  * Everything the engine writes for itself lives under the root:
  * once-per-(application, data dir) artifacts ([[Artifact]]),
  * per-invocation dirs ([[perCall]]) and fixed per-JVM paths for
  * fixtures and per-call tables ([[path]]). ScratchLintSpec keeps
  * tmpdir access, temp-dir creation and shutdown hooks in this file.
  */
object Scratch {

  private val Prefix = "graft_"
  private[io] val OwnerFile = ".graft_owner"
  private[io] val MarkerlessTtlMs = 6L * 3600 * 1000

  private lazy val root: Path = {
    val r = Files.createTempDirectory(Prefix)
    Files.writeString(r.resolve(OwnerFile), stamp(ProcessHandle.current()))
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRoot(r)))
    val t = new Thread(() => sweep(r.getParent, System.currentTimeMillis()),
      "graft-orphan-sweep")
    t.setDaemon(true)
    t.start()
    r
  }

  /** `<pid> <start instant ms>` ("-" where the OS reports no start). */
  private[io] def stamp(p: ProcessHandle): String =
    s"${p.pid()} " + p.info().startInstant()
      .map[String](_.toEpochMilli.toString).orElse("-")

  /** Whether `dir`'s marker names a live process; None when it has no
    * readable marker (absent, or still being written). */
  private def ownerAlive(dir: File): Option[Boolean] =
    try {
      val Array(pid, start) =
        Files.readString(new File(dir, OwnerFile).toPath).trim.split(' ')
      val h = ProcessHandle.of(pid.toLong)
      Some(h.isPresent && h.get.isAlive && stamp(h.get) == s"$pid $start")
    } catch { case _: Exception => None }

  /** One orphan pass over the `graft_*` dirs in `parent`. */
  private[io] def sweep(parent: Path, now: Long): Unit =
    Option(parent.toFile.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      if (f.getName.startsWith(Prefix) && f.isDirectory &&
          !ownerAlive(f).getOrElse(f.lastModified() >= now - MarkerlessTtlMs))
        FileUtil.fullyDelete(f)
    }

  /** The marker goes last, so a hook cut short (another shutdown hook,
    * Derby's, racing it) leaves a tree the next orphan pass reclaims. */
  private def deleteRoot(r: Path): Unit = {
    Option(r.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName != OwnerFile).foreach(FileUtil.fullyDelete)
    FileUtil.fullyDelete(r.toFile)
  }

  /** `name` under the root: the same path for every call in this JVM,
    * for fixtures and per-call tables the caller overwrites or clears
    * before use. Not created. */
  def path(name: String): String = root.resolve(name).toString

  private val artifactSeq = new AtomicLong

  /** A once-per-(application, data dir) artifact. The body runs at most
    * once per key even under racing threads, so every caller shares one
    * build, and gets a fresh, not yet created path under the root. */
  final class Artifact[V](prefix: String) {
    private val built = new graft.KeyedOnce[(String, String), V]

    def apply(spark: SparkSession, dir: String)(body: String => V): V =
      built((spark.sparkContext.applicationId, dir))(
        body(path(s"${prefix}_${artifactSeq.incrementAndGet()}")))
  }

  /** The previous invocation's dir per (prefix, thread). */
  private val lastPerCall = TrieMap.empty[String, Path]

  /** A new dir for one query invocation, deleting the dir the previous
    * same-prefix invocation on this thread made: per-call scratch never
    * outlives two invocations. Per THREAD, so two concurrent
    * invocations never delete each other's dir.
    *
    * CONTRACT — one outstanding result per prefix and thread: a query
    * that reads its result back from this dir returns a lazy DataFrame
    * still pointing at it, so the caller must consume (collect, write)
    * invocation N's result before invoking the same query again on that
    * thread — the harness's invoke-consume-discard pattern. Collecting
    * an older result after that fails with FileNotFoundException rather
    * than serving stale data. */
  def perCall(prefix: String): Path = {
    val dir = Files.createTempDirectory(root, prefix)
    lastPerCall.put(s"$prefix@${Thread.currentThread().getId}", dir)
      .foreach(prev => FileUtil.fullyDelete(prev.toFile))
    dir
  }

  /** Recursive delete of `path` on its Hadoop file system; a missing
    * path is a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }
}
