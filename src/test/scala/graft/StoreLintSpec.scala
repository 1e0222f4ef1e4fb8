package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: versioned state under `src/main/scala/graft/queries`
  * lives only in [[graft.io.ArtifactStore]]. A query module names no
  * `_SUCCESS` marker (the manifest is the commit marker) and calls
  * `ArtifactStore.prune(` only in the two day-boundary publishers,
  * `ColdRestart.coldDaily` and `Curation.incrementalDaily`: a
  * maintained artifact advances through `ArtifactStore.advance`,
  * which prunes for it. A call is attributed to the member
  * (`def`/`val`/...) declared last at two-space indentation above it.
  * Comment lines are skipped. */
class StoreLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft/queries")
  private val PruneOwners =
    Set("ColdRestart.scala" -> "coldDaily", "Curation.scala" -> "incrementalDaily")

  private val Marker = "_SUCCESS".r
  private val Prune = """\bArtifactStore\.prune\(""".r
  private val Member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+|case\s+)*(?:def|val|var|object|class|trait)\s+(\w+)""".r

  /** (line number, token) of every offence in `src`, the source of
    * query module `file`. */
  private def offences(file: String, src: String): Seq[(Int, String)] = {
    var member = ""
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      Member.findFirstMatchIn(line).foreach(m => member = m.group(1))
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Nil
      else {
        val prunes =
          if (PruneOwners((file, member))) Nil else Prune.findAllIn(line).toSeq
        (Marker.findAllIn(line).toSeq ++ prunes).map(i + 1 -> _)
      }
    }.toSeq
  }

  test("the detector fires on a commit-marker literal and on prune " +
      "outside the day-boundary publishers, and skips comments " +
      "(negative control)") {
    assert(offences("X.scala", """fs.exists(new Path(dir, "_SUCCESS"))""") ===
      Seq(1 -> "_SUCCESS"))
    val curation =
      """object Curation {
        |  def incrementalDaily(spark: SparkSession): DataFrame = {
        |    publishStore = () => {
        |      graft.io.ArtifactStore.prune(spark, root, n, keep = 2)
        |    }
        |  }
        |  private[graft] def applyArrivalBatch(spark: SparkSession): Unit = {
        |    ArtifactStore.prune(spark, root, "labels")
        |    ArtifactStore.pruneSnapshots(spark, root)
        |  }
        |  val after = () => ArtifactStore.prune(spark, root, "x")
        |  // ArtifactStore.prune(spark, root, "in a comment") and _SUCCESS
        |  /** ArtifactStore.prune( in a doc comment */
        |}""".stripMargin
    assert(offences("Curation.scala", curation) ===
      Seq(8 -> "ArtifactStore.prune(", 11 -> "ArtifactStore.prune("))
    // the allowed member is per file: incrementalDaily elsewhere is not
    assert(offences("TextAnalysis.scala", curation).map(_._1) ===
      Seq(4, 8, 11))
    assert(offences("ColdRestart.scala",
      "  def coldDaily(s: SparkSession) = {\n" +
        "    ArtifactStore.prune(s, root, n, keep = 2)\n  }").isEmpty)
  }

  test("query modules hold no hand-rolled versioned store: no _SUCCESS " +
      "marker, and ArtifactStore.prune only in ColdRestart.coldDaily " +
      "and Curation.incrementalDaily") {
    val s = Files.walk(Root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    assert(files.size > 10, s"lint lost coverage: ${files.size} files")
    val found = files.flatMap { f =>
      offences(f.getFileName.toString, Files.readString(f))
        .map { case (n, t) => s"${Root.relativize(f)}:$n $t" }
    }
    assert(found.isEmpty, "versioned state outside ArtifactStore.advance:\n" +
      found.mkString("\n"))
  }
}
