package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every `DataFrameWriter` file write under
  * `src/main/scala` starts from [[graft.io.LocalFs.write]], so it gets
  * the fork-free local file system. A bare `.write` (or `.writeTo`) on
  * a frame is an offender. Exempt: `.write.format("noop")` sinks, which
  * write no file; `writeStream`, whose sinks and checkpoints Spark
  * writes through the session's file system (out of scope here); and
  * byte-level `x.write(...)` calls, which are not DataFrameWriters.
  * Comment lines are skipped. */
class FileWriteLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")
  private val Helper = Paths.get("graft/io/LocalFs.scala")

  private val BareWrite = """\.write(?:To\b|\b(?!\s*\()(?!\s*\.format\("noop"\)))""".r

  /** Line numbers (1-based) of bare DataFrameWriter writes in `src`. */
  private def offences(src: String): Seq[Int] =
    src.linesIterator.zipWithIndex.collect {
      case (line, i) if { val t = line.trim; !t.startsWith("//") && !t.startsWith("*") } &&
        BareWrite.findFirstIn(line).isDefined => i + 1
    }.toSeq

  test("the detector fires on bare writes and passes the exempt forms " +
      "(negative control)") {
    assert(offences("""df.write.mode("overwrite").parquet(p)""") === Seq(1))
    assert(offences("df.coalesce(1)\n  .write\n  .parquet(p)") === Seq(2))
    assert(offences("""df.writeTo("t").append()""") === Seq(1))
    assert(offences(
      """LocalFs.write(df).mode("append").parquet(p)
        |df.write.format("noop").mode("overwrite").save()
        |df.writeStream.format("console").start()
        |out.write(bytes); Files.write(p, bytes)
        |// df.write.parquet(p) in a comment
        |  * `df.write` in a doc comment""".stripMargin).isEmpty)
  }

  test("no DataFrameWriter file write under src/main/scala bypasses LocalFs.write") {
    val s = Files.walk(Root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    assert(files.size > 50, s"lint lost coverage: ${files.size} files")
    assert(files.exists(f => Root.relativize(f) == Helper))
    val found = files.filterNot(f => Root.relativize(f) == Helper).flatMap { f =>
      offences(Files.readString(f)).map(n => s"${Root.relativize(f)}:$n")
    }
    assert(found.isEmpty, "file writes bypassing graft.io.LocalFs.write:\n" +
      found.mkString("\n"))
  }
}
