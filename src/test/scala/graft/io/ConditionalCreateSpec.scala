package graft.io

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FSDataOutputStreamBuilder,
  Path, RawLocalFileSystem}

import graft.SparkSpec

/** A wrapper store modeling CLASSIC S3A's create semantics: plain
  * create(overwrite = false) is a non-atomic HEAD-then-PUT — here the
  * worst case, a stale HEAD that never sees the other writer, so two
  * racing exclusive creates BOTH "succeed" and the second clobbers
  * the first — while the path capability `fs.s3a.create.conditional`
  * advertises a conditional-PUT arm through the createFile builder
  * (HADOOP-19256) that the store honors atomically (If-None-Match,
  * modeled by O_EXCL). The real hadoop-aws module is not on this
  * classpath (zero-egress build), so this wrapper pins the PROTOCOL
  * the lease relies on: probe the capability, route acquisition
  * through the builder, fall back to plain create elsewhere. */
class CondFs(conditionalEnabled: Boolean) extends RawLocalFileSystem {
  def this() = this(true)

  /** Which API each create took — the spec asserts routing. */
  val plainCreates = new java.util.concurrent.atomic.AtomicInteger(0)
  val conditionalCreates = new java.util.concurrent.atomic.AtomicInteger(0)

  /** When set, rename TO a committed-metadata name (.json) fails like
    * a torn classic-S3A copy+delete would: half the source lands at
    * the destination, then the op dies. Data-file renames (Spark's
    * parquet committer) pass through — the point is that METADATA
    * commits must not depend on rename atomicity on such a store.
    * Global (companion) switches exist because conf-resolved FS
    * instances (fs.condfs.impl + disable.cache) are constructed by
    * Hadoop through the no-arg constructor — the spec cannot hold a
    * reference to every instance a publish resolves. */
  @volatile var tearJsonRenames: Boolean = false

  override def hasPathCapability(p: Path, capability: String): Boolean =
    if (capability == IdempotentWriter.ConditionalCreateCapability)
      conditionalEnabled && CondFs.conditionalGlobal
    else super.hasPathCapability(p, capability)

  override def rename(src: Path, dst: Path): Boolean =
    if ((tearJsonRenames || CondFs.tearJsonRenamesGlobal) &&
        dst.getName.endsWith(".json")) {
      val s = java.nio.file.Paths.get(src.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      val bytes = java.nio.file.Files.readAllBytes(s)
      java.nio.file.Files.write(d,
        java.util.Arrays.copyOf(bytes, bytes.length / 2))
      throw new java.io.IOException(
        "simulated torn copy+delete rename (classic S3A)")
    } else super.rename(src, dst)

  /** When set, the conditional stream writes a 4-byte prefix then
    * fails — the mid-write crash whose debris must be cleaned by the
    * WRITER, not left to masquerade as a foreign holder. */
  @volatile var failWrites: Boolean = false

  override def getScheme: String = "condfs"
  override def getUri: URI = URI.create("condfs:///")

  // worst-case object store: the existence HEAD is stale/skipped, so
  // an "exclusive" plain create never fails — it just PUTs. BOTH
  // public overloads are overridden: RawLocalFileSystem routes
  // FileSystem.create(Path, boolean) through the 6-arg variant
  // directly, not through the permission one.
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    plainCreates.incrementAndGet()
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    plainCreates.incrementAndGet()
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def createFile(p: Path)
      : FSDataOutputStreamBuilder[_ <: FSDataOutputStream, _] =
    new CondFs.Builder(this, p)
}

object CondFs {
  /** See [[CondFs.tearJsonRenames]] — switches for conf-resolved
    * instances the spec never holds a reference to. */
  @volatile var tearJsonRenamesGlobal: Boolean = false
  @volatile var conditionalGlobal: Boolean = true

  class Builder(fs: CondFs, p: Path)
      extends FSDataOutputStreamBuilder[FSDataOutputStream, Builder](fs, p) {
    override def getThisBuilder: Builder = this
    override def build(): FSDataOutputStream = {
      if (!getMandatoryKeys.contains(
          IdempotentWriter.ConditionalCreateCapability))
        throw new IllegalArgumentException(
          "CondFs builder requires the conditional-create MUST key — " +
            "a caller that forgot it would silently get the racy path")
      fs.conditionalCreates.incrementAndGet()
      // the store-side If-None-Match, modeled by O_EXCL: atomic
      // reject-if-exists, no client-side window
      val local = java.nio.file.Paths.get(getPath.toUri.getPath)
      Option(local.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      val real = java.nio.file.Files.newOutputStream(local,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      val out: java.io.OutputStream =
        if (!fs.failWrites) real
        else new java.io.OutputStream {
          override def write(b: Int): Unit =
            throw new java.io.IOException("simulated mid-write failure")
          override def write(b: Array[Byte], off: Int, len: Int): Unit = {
            real.write(b, off, math.min(len, 4)); real.flush()
            throw new java.io.IOException("simulated mid-write failure")
          }
          override def close(): Unit = real.close()
        }
      new FSDataOutputStream(out, null)
    }
  }
}

class ConditionalCreateSpec extends SparkSpec {

  private def newFs(conditional: Boolean): CondFs = {
    val fs = new CondFs(conditional)
    fs.initialize(URI.create("condfs:///"),
      spark.sessionState.newHadoopConf())
    fs
  }

  private def tmpLock(): Path = new Path("condfs://" +
    tempDir("condfs_spec").toString +
    "/t.lock")

  test("the race is REAL on the plain path: without the capability, " +
      "two exclusive creates both succeed on this store (negative " +
      "control — what classic S3A does without conditional PUT)") {
    val fs = newFs(conditional = false)
    val p = tmpLock()
    assert(IdempotentWriter.exclusiveCreate(fs, p, "a".getBytes("UTF-8")))
    // a correct store would refuse this second create; the stale-HEAD
    // store accepts it and clobbers — the exact window the round-12
    // verdict documented
    assert(IdempotentWriter.exclusiveCreate(fs, p, "b".getBytes("UTF-8")),
      "this store was supposed to model the non-atomic create race")
    assert(fs.conditionalCreates.get() === 0)
    assert(fs.plainCreates.get() >= 2)
  }

  test("with the capability advertised, acquisition routes through the " +
      "conditional builder and the second creator is rejected — the " +
      "store closes the window the plain path leaves open") {
    val fs = newFs(conditional = true)
    val p = tmpLock()
    assert(IdempotentWriter.exclusiveCreate(fs, p, "a".getBytes("UTF-8")))
    assert(!IdempotentWriter.exclusiveCreate(fs, p, "b".getBytes("UTF-8")),
      "the conditional create admitted a second writer")
    // routing proof: both attempts used the builder, never plain create
    assert(fs.conditionalCreates.get() === 2)
    assert(fs.plainCreates.get() === 0)
    // and the winner's token is what the lock holds
    val in = fs.open(p)
    val buf = new Array[Byte](8)
    val n = in.read(buf)
    in.close()
    assert(new String(buf, 0, n, "UTF-8") === "a")
  }

  test("a mid-write failure on the conditional path is OWN debris: " +
      "removed and rethrown, never reported as a foreign holder that " +
      "every contender must wait a lease window to break") {
    val fs = newFs(conditional = true)
    val p = tmpLock()
    fs.failWrites = true
    val err = intercept[java.io.IOException] {
      IdempotentWriter.exclusiveCreate(fs, p,
        "aaaaaaaa-our-token".getBytes("UTF-8"))
    }
    assert(err.getMessage.contains("simulated"), err.getMessage)
    // the half-written lock was cleaned up by the failing writer itself
    assert(!fs.exists(p), "own debris left on the lock path")
    // so a retry (or another contender) acquires IMMEDIATELY — no
    // stale-break wait
    fs.failWrites = false
    assert(IdempotentWriter.exclusiveCreate(fs, p,
      "bbbbbbbb-other".getBytes("UTF-8")))
  }

  test("metadata commits are rename-free on a conditional store: " +
      "publish and publishSnapshot land complete manifests through one " +
      "conditional PUT even when rename TEARS (classic S3A's copy+" +
      "delete), and the plain store proves the test really breaks rename") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.condfs.impl", classOf[CondFs].getName)
    hc.set("fs.condfs.impl.disable.cache", "true")
    try {
      import spark.implicits._
      val dir = tempDir("condfs_commit").toString
      val root = s"condfs://$dir"
      // arm the tear on every FS instance this scheme resolves to:
      // disable.cache gives each resolution a fresh instance, so the
      // switch must be global to the class, not per-instance
      CondFs.tearJsonRenamesGlobal = true
      try {
        val m = graft.io.ArtifactStore.publish(
          Seq((1L, "a")).toDF("id", "tag"), root, "t")
        assert(m.version === 1)
        // the manifest is COMPLETE and parseable — committed by one
        // conditional PUT at the final name, no rename involved
        val (df, got) = graft.io.ArtifactStore
          .readWithManifest(spark, root, "t")
        assert(got.version === 1 && df.count() === 1)
        val snap = graft.io.ArtifactStore.publishSnapshot(spark, root,
          Map("t" -> 1))
        assert(snap.version === 1)
        assert(graft.io.ArtifactStore.latestSnapshot(spark, root)
          .get.artifacts === Map("t" -> 1))
        // NEGATIVE CONTROL: with the capability off, the commit path
        // must fall back to tmp+rename and hit the simulated tear —
        // proving rename really is broken on this store and the
        // conditional arm above was what avoided it
        CondFs.conditionalGlobal = false
        val err = intercept[Exception] {
          graft.io.ArtifactStore.publish(
            Seq((2L, "b")).toDF("id", "tag"), root, "t2")
        }
        assert(err.getMessage.contains("simulated torn"), err.getMessage)
        // ...and the torn half-file is INVISIBLE to readers only
        // because the conditional arm is available in production on
        // exactly the stores whose rename tears; here the debris IS
        // the committed name — the failure mode the verdict described
        assert(graft.io.ArtifactStore
          .latestVersion(spark, root, "t") === Some(1))
      } finally {
        CondFs.tearJsonRenamesGlobal = false
        CondFs.conditionalGlobal = true
      }
    } finally {
      hc.unset("fs.condfs.impl")
      hc.unset("fs.condfs.impl.disable.cache")
    }
  }

  test("the full lease serializes two concurrent holders on the " +
      "conditional store end-to-end (scheme registered through the " +
      "Hadoop conf, as a deployment would)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.condfs.impl", classOf[CondFs].getName)
    hc.set("fs.condfs.impl.disable.cache", "true")
    try {
      val dir = tempDir("condfs_lease").toString
      val path = s"condfs://$dir/t"
      val order = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val t1 = new Thread(() =>
        IdempotentWriter.withTableLease(spark, path, leaseMs = 60000) {
          order.add("a-in"); Thread.sleep(300); order.add("a-out"); ()
        })
      val t2 = new Thread(() =>
        IdempotentWriter.withTableLease(spark, path, leaseMs = 60000) {
          order.add("b-in"); Thread.sleep(300); order.add("b-out"); ()
        })
      t1.start(); t2.start(); t1.join(60000); t2.join(60000)
      val seq = order.toArray.map(_.toString).toSeq
      assert(seq.size === 4, seq.toString)
      // holders never interleave: each -in is followed by its own -out
      assert(seq.grouped(2).forall(g =>
        g(0).dropRight(3) == g(1).dropRight(4)), seq.toString)
      // clean release: no lock debris
      assert(!new java.io.File(s"$dir/t.lock").exists())
    } finally {
      hc.unset("fs.condfs.impl")
      hc.unset("fs.condfs.impl.disable.cache")
    }
  }
}
