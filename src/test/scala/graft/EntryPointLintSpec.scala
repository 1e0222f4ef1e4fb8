package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the engine has exactly seven entry points — the driver
  * mains, the one dev entry, and the JVMs that specs and
  * `tools/rung_bench.sh` launch as separate processes — and one
  * SparkSession factory, [[graft.Session]]. A new tool goes under
  * `graft.Dev` as a subcommand, not as another main with its own
  * builder. Comment lines are skipped. */
class EntryPointLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")
  private val Factory = Paths.get("graft/Session.scala")
  private val Mains = Set("graft.Bench", "graft.Verify", "graft.Dev",
    "graft.ColdPublish", "graft.ColdDelta", "graft.RacePublish",
    "graft.StreamCellRun")
  private val DevCommands =
    Seq("bench-one", "explain", "profile", "skew", "zorder", "beam")

  private val PackageDecl = """^\s*package\s+([\w.]+)""".r
  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDef = """\bdef\s+main\s*\(""".r

  /** (line, 1-based number) of the non-comment lines of `src`. */
  private def code(src: String): Seq[(String, Int)] =
    src.linesIterator.zipWithIndex.collect {
      case (line, i) if { val t = line.trim
          !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") } =>
        (line, i + 1)
    }.toSeq

  /** Qualified names of the objects in `src` that define `main`: each
    * `def main` belongs to the nearest `object` declared above it. */
  private def mainObjects(src: String): Seq[String] = {
    var pkg = ""
    var obj = Option.empty[String]
    code(src).flatMap { case (line, _) =>
      PackageDecl.findFirstMatchIn(line).foreach(m => pkg = m.group(1) + ".")
      ObjectDecl.findFirstMatchIn(line).foreach(m => obj = Some(m.group(1)))
      if (MainDef.findFirstIn(line).isDefined) obj.map(pkg + _) else None
    }
  }

  private def builderLines(src: String): Seq[Int] =
    code(src).collect { case (l, n) if l.contains("SparkSession.builder") => n }

  private def sources(): Seq[Path] = {
    val s = Files.walk(Root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    assert(files.size > 50, s"lint lost coverage: ${files.size} files")
    files
  }

  test("the detectors fire on mains and builders and skip comments " +
      "(negative control)") {
    assert(mainObjects(
      """package a.b
        |// object Fake { def main(args: Array[String]): Unit = () }
        |object One {
        |  def main(args: Array[String]): Unit = ()
        |}
        |object Two { def helper = 1 }
        |  * `object Doc { def main(...) }` in a doc comment
        |object Three { def main(args: Array[String]): Unit = () }
        |""".stripMargin) === Seq("a.b.One", "a.b.Three"))
    assert(builderLines(
      """val s = SparkSession.builder()
        |// SparkSession.builder() in a comment
        |  * `SparkSession.builder` in a doc comment
        |    .master("local[2]").getOrCreate()""".stripMargin) === Seq(1))
  }

  test("the objects defining main under src/main/scala are exactly the " +
      "seven entry points") {
    val found = sources().flatMap(f => mainObjects(Files.readString(f)))
    assert(found.sorted === Mains.toSeq.sorted,
      s"unexpected entry points: ${found.diff(Mains.toSeq).mkString(", ")}" +
        s"; missing: ${Mains.diff(found.toSet).mkString(", ")}")
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    val found = sources().flatMap { f =>
      builderLines(Files.readString(f)).map(n => Root.relativize(f) -> n)
    }
    assert(found.map(_._1).distinct === Seq(Factory),
      "SparkSession builders outside graft.Session:\n" +
        found.map { case (f, n) => s"$f:$n" }.mkString("\n"))
  }

  test("Dev without a subcommand or with an unknown one fails naming " +
      "every subcommand, before any session is built") {
    assert(Dev.Subcommands === DevCommands)
    for (args <- Seq(Seq.empty, Seq("nope"), Seq("BenchOne", "dir"))) {
      val msg = Dev.parse(args).left.getOrElse(fail(s"$args parsed"))
      DevCommands.foreach(c => assert(msg.contains(c), s"$args: $msg"))
    }
    assert(Dev.parse(Seq("bench-one")).left.exists(_.contains("<sfDir>")))
    assert(Dev.parse(Seq("bench-one", "dir", "q14_topk")) ===
      Right("bench-one" -> Seq("dir", "q14_topk")))
    assert(Dev.parse(Seq("skew")) === Right("skew" -> Seq.empty))
  }
}
