package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.Using

/** Launches a graft main in a child JVM — the test classpath, the
  * module opens Spark needs on Java 17, UI off, UTC — with stdout and
  * stderr going to one temp log, so multi-process specs can run real
  * publishers, racers and crash-and-resume streams. */
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
    (pb.start(), log)
  }

  /** The last `n` lines of a child's log, for failure messages. */
  def tail(log: File, n: Int): String =
    Using(Source.fromFile(log, "UTF-8"))(
      _.getLines().toSeq.takeRight(n).mkString("\n"))
      .getOrElse("<log unreadable>")
}
