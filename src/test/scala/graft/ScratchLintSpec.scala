package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: engine scratch lives only under [[graft.io.Scratch]]'s
  * per-JVM root. Under `src/main/scala`, reading `java.io.tmpdir`,
  * creating temp dirs or files, and installing shutdown hooks happen
  * only in `graft/io/Scratch.scala`, which installs exactly one hook.
  * Comment lines are skipped. */
class ScratchLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")
  private val Owner = Paths.get("graft/io/Scratch.scala")

  private val Token =
    """java\.io\.tmpdir|\bcreateTempDirectory\b|\bcreateTempFile\b|\baddShutdownHook\b""".r

  /** (line number, token) of every scratch token in `src`. */
  private def offences(src: String): Seq[(Int, String)] =
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Nil
      else Token.findAllIn(line).map(i + 1 -> _)
    }.toSeq

  test("the detector fires on every scratch token and skips comments " +
      "(negative control)") {
    assert(offences("""val t = System.getProperty("java.io.tmpdir")""") ===
      Seq(1 -> "java.io.tmpdir"))
    assert(offences("x\n  java.nio.file.Files.createTempDirectory(\"p\")").map(_._1) ===
      Seq(2))
    assert(offences("""File.createTempFile("a", ".csv")""").map(_._2) ===
      Seq("createTempFile"))
    assert(offences("Runtime.getRuntime.addShutdownHook(t)").size === 1)
    assert(offences(
      """// System.getProperty("java.io.tmpdir")
        |  * createTempDirectory in a doc comment
        |/** addShutdownHook */
        |val tmpdirName = createTempDirectoryLike()""".stripMargin).isEmpty)
  }

  test("tmpdir, temp dirs and files and shutdown hooks under src/main/scala " +
      "appear only in graft/io/Scratch.scala") {
    val s = Files.walk(Root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    assert(files.size > 50, s"lint lost coverage: ${files.size} files")
    val (own, rest) = files.partition(f => Root.relativize(f) == Owner)
    assert(own.size === 1)
    assert(offences(Files.readString(own.head)).count(_._2 == "addShutdownHook") === 1,
      "Scratch must install exactly one shutdown hook")
    val found = rest.flatMap { f =>
      offences(Files.readString(f)).map { case (n, t) => s"${Root.relativize(f)}:$n $t" }
    }
    assert(found.isEmpty, "scratch handled outside graft.io.Scratch:\n" +
      found.mkString("\n"))
  }
}
