package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one place changes session conf for a while and one
  * place runs a bounded stream. Under `src/main/scala`, `.conf.set(` and
  * `.conf.unset(` appear only in `graft/Session.scala` (`withConf`) and
  * `graft/queries/Tables.scala` (`prep` and the events pin), and
  * `Trigger.AvailableNow` and `awaitTermination` only in
  * `graft/streaming/Streams.scala` (`drain`). Comment lines are
  * skipped. */
class ConfScopeLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")

  private val ConfWrite = """\.conf\.(?:set|unset)\(""".r
  private val StreamRun = """\bTrigger\.AvailableNow\b|\bawaitTermination\b""".r

  /** (line number, token) of every `token` match in `src`. */
  private def offences(src: String, token: scala.util.matching.Regex)
      : Seq[(Int, String)] =
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Nil
      else token.findAllIn(line).map(i + 1 -> _)
    }.toSeq

  private lazy val files: Seq[Path] = {
    val s = Files.walk(Root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  /** `file:line token` of every match outside the `owners`. */
  private def outside(token: scala.util.matching.Regex,
      owners: Set[String]): Seq[String] =
    files.filterNot(f => owners(Root.relativize(f).toString)).flatMap { f =>
      offences(Files.readString(f), token)
        .map { case (n, t) => s"${Root.relativize(f)}:$n $t" }
    }

  private def count(file: String, token: scala.util.matching.Regex): Int =
    offences(Files.readString(Root.resolve(file)), token).size

  test("the detectors fire on conf writes and stream runs and skip " +
      "comments (negative control)") {
    assert(offences("""spark.conf.set("k", "v")""", ConfWrite) ===
      Seq(1 -> ".conf.set("))
    assert(offences("x\n  s.conf.unset(k)", ConfWrite).map(_._1) === Seq(2))
    assert(offences(".trigger(Trigger.AvailableNow())\nq.awaitTermination()",
      StreamRun).map(_._2) === Seq("Trigger.AvailableNow", "awaitTermination"))
    assert(offences(
      """// spark.conf.set("k", "v")
        |  * q.awaitTermination() in a doc comment
        |/** Trigger.AvailableNow */
        |val conf = spark.conf.get("k"); confSet(k); awaitTerminationLike()""".stripMargin,
      ConfWrite) ++ offences(
      """// q.awaitTermination()
        |val awaitTerminationX = 1""".stripMargin, StreamRun) === Nil)
  }

  test("session conf under src/main/scala is written only in Session and " +
      "Tables, and Session holds the one scoped save/restore") {
    assert(files.size > 50, s"lint lost coverage: ${files.size} files")
    val found = outside(ConfWrite,
      Set("graft/Session.scala", "graft/queries/Tables.scala"))
    assert(found.isEmpty, "session conf written outside Session.withConf " +
      "and Tables:\n" + found.mkString("\n"))
    // withConf: one set per key, one set and one unset per restore
    assert(count("graft/Session.scala", ConfWrite) === 3)
  }

  test("bounded streams under src/main/scala run only through Streams.drain") {
    val found = outside(StreamRun, Set("graft/streaming/Streams.scala"))
    assert(found.isEmpty, "stream run outside Streams.drain:\n" +
      found.mkString("\n"))
    assert(count("graft/streaming/Streams.scala", StreamRun) === 2,
      "Streams must hold exactly one AvailableNow start/await pair")
  }
}
