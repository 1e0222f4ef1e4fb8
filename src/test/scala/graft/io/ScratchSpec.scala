package graft.io

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{ForkedJvm, SparkSpec}

/** The per-JVM scratch root: the orphan pass's policy, the
  * once-per-(application, dir) artifact helper, per-invocation
  * eviction, and a child JVM leaving nothing behind after a normal
  * exit. */
class ScratchSpec extends SparkSpec {

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def owned(parent: Path, name: String, marker: String): Path = {
    val d = Files.createDirectory(parent.resolve(name))
    Files.writeString(d.resolve(Scratch.OwnerFile), marker)
    d
  }

  test("orphan pass: dead or pid-reused owners go, live owners stay, " +
      "marker-less dirs go only past the age limit") {
    val parent = Files.createTempDirectory("scratch_spec")
    val now = System.currentTimeMillis()
    val old = now - Scratch.MarkerlessTtlMs - 60000L
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val me = ProcessHandle.current()
    owned(parent, "graft_dead", s"${dead.pid()} 0")
    owned(parent, "graft_reused", s"${me.pid()} 12345")
    owned(parent, "graft_live", Scratch.stamp(me))
    owned(parent, "graft_live_old", Scratch.stamp(me)).toFile.setLastModified(old)
    Files.createDirectory(parent.resolve("graft_young"))
    Files.createDirectory(parent.resolve("graft_old")).toFile.setLastModified(old)
    Files.createDirectory(parent.resolve("other_old")).toFile.setLastModified(old)
    // a marker still being written reads as no marker: the age rule
    owned(parent, "graft_torn", s"${dead.pid()}")
    Scratch.sweep(parent, now)
    assert(names(parent) ===
      Set("graft_live", "graft_live_old", "graft_young", "other_old", "graft_torn"))
  }

  test("artifact helper: racing threads run the body once per (application, " +
      "dir); another dir gets another fresh root") {
    val a = new Scratch.Artifact[String]("spec_artifact")
    val runs = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(6)
    val got = try {
      val fs = (1 to 6).map(_ => pool.submit(() => {
        gate.await()
        a(spark, "dirA") { root =>
          runs.incrementAndGet()
          assert(!Files.exists(Path.of(root)), s"$root is not fresh")
          Thread.sleep(100)
          root
        }
      }))
      gate.countDown()
      fs.map(_.get(1, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(runs.get === 1)
    assert(got.toSet.size === 1)
    val rootA = Path.of(got.head)
    assert(rootA.getParent.getFileName.toString.startsWith("graft_"))
    assert(Files.isRegularFile(rootA.getParent.resolve(Scratch.OwnerFile)))
    val rootB = a(spark, "dirB")(identity)
    assert(rootB !== got.head)
    assert(Path.of(rootB).getParent === rootA.getParent)
  }

  test("per-invocation dirs: a new dir evicts only the same prefix's " +
      "previous dir on the same thread") {
    val a1 = Scratch.perCall("spec_a")
    val b1 = Scratch.perCall("spec_b")
    val a2 = Scratch.perCall("spec_a")
    assert(!Files.exists(a1) && Files.isDirectory(b1) && Files.isDirectory(a2))
    var other: Path = null
    val t = new Thread(() => other = Scratch.perCall("spec_a"))
    t.start()
    t.join()
    assert(Files.isDirectory(a2) && Files.isDirectory(other))
    val a3 = Scratch.perCall("spec_a")
    assert(!Files.exists(a2) && Files.isDirectory(a3) && Files.isDirectory(other))
  }

  test("a child JVM's scratch root is gone after a normal exit") {
    val tmp = Files.createTempDirectory("scratch_fork")
    val (p, log) = ForkedJvm.launch("graft.Dev",
      Seq("explain", "/root/testdata/sf0.001", "q189_partition_pruned_read"),
      Map("JAVA_TOOL_OPTIONS" -> s"-Djava.io.tmpdir=$tmp",
        "SPARK_GRAFT_CPUS" -> "2"))
    assert(p.waitFor(5, TimeUnit.MINUTES),
      s"child JVM still running after 5 min:\n${ForkedJvm.tail(log, 40)}")
    assert(p.exitValue() === 0, ForkedJvm.tail(log, 40))
    // the plan's scan reads the warehouse from the redirected root
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    assert(out.contains(s"$tmp/graft_"), ForkedJvm.tail(log, 40))
    assert(names(tmp).filter(_.startsWith("graft_")).isEmpty, names(tmp))
  }
}
