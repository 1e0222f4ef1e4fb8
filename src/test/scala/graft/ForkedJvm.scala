package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import scala.util.Try

/** Launches a graft main in a child JVM — the test classpath, the
  * module opens Spark needs on Java 17, UI off, UTC — with stdout and
  * stderr going to one temp log, so multi-process specs can run real
  * publishers, racers and crash-and-resume streams. Once the child
  * exits its log is read into memory and the file deleted; [[output]]
  * and [[tail]] serve it from either place. */
object ForkedJvm {

  private val Opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Per log: the child and its log text, captured at exit. */
  private val children =
    new ConcurrentHashMap[File, (Process, CompletableFuture[String])]

  private def read(log: File): String =
    new String(Files.readAllBytes(log.toPath), StandardCharsets.UTF_8)

  /** Start `mainClass args` with `-Xmx<xmx>` and extra `env`; returns
    * the process and its log file. */
  def launch(mainClass: String, args: Seq[String],
      env: Map[String, String] = Map.empty,
      xmx: String = "2g"): (Process, File) = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = (Seq(javaBin.toString) ++ Opens ++ Seq(
      s"-Xmx$xmx", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args).toIndexedSeq
    val log = Files.createTempFile(
      mainClass.stripPrefix("graft.") + "_", ".log").toFile
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    children.put(log, (p, p.onExit().thenApply { _ =>
      try read(log) finally Files.deleteIfExists(log.toPath)
    }))
    (p, log)
  }

  /** A child's whole log: the file while the child runs, the captured
    * text once it has exited. */
  def output(log: File): String = {
    val (p, captured) = children.get(log)
    if (!p.isAlive) captured.get()
    else try read(log) catch {
      case _: NoSuchFileException => captured.get() // exited meanwhile
    }
  }

  /** The last `n` lines of a child's log, for failure messages. */
  def tail(log: File, n: Int): String =
    Try(output(log).linesIterator.toSeq.takeRight(n).mkString("\n"))
      .getOrElse("<log unreadable>")
}
