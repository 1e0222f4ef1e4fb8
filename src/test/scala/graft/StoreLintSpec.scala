package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: versioned state lives only in
  * [[graft.io.ArtifactStore]], under one discipline per kind. A query
  * module (`src/main/scala/graft/queries`) names no `_SUCCESS` marker
  * (the manifest is the commit marker) and calls
  * `ArtifactStore.prune(` only in the two day-boundary publishers,
  * `ColdRestart.coldDaily` and `Curation.incrementalDaily`: a
  * maintained artifact advances through `ArtifactStore.advance`,
  * which prunes for it. Anywhere under `src/main/scala`, a
  * multi-artifact commit (`ArtifactStore.publishSnapshot(`) is made
  * only by the two day-boundary publishers of the base artifacts,
  * `ColdRestart.publishAll` and `ColdRestart.coldDaily`. A call is
  * attributed to the member (`def`/`val`/...) declared last at
  * two-space indentation above it. Comment lines are skipped. */
class StoreLintSpec extends AnyFunSuite {

  private val Main = Paths.get("src/main/scala")
  private val Queries = Main.resolve("graft/queries")

  /** A token and the (file, member) pairs allowed to hold it. */
  private type Rule = (Regex, Set[(String, String)])

  private val Marker: Rule = ("_SUCCESS".r, Set.empty)
  private val Prune: Rule = ("""\bArtifactStore\.prune\(""".r,
    Set("ColdRestart.scala" -> "coldDaily", "Curation.scala" -> "incrementalDaily"))
  private val Snapshot: Rule = ("""\bArtifactStore\.publishSnapshot\(""".r,
    Set("ColdRestart.scala" -> "publishAll", "ColdRestart.scala" -> "coldDaily"))
  private val Member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+|case\s+)*(?:def|val|var|object|class|trait)\s+(\w+)""".r

  /** (line number, token) of every offence against `rules` in `src`,
    * the source of `file`. */
  private def offences(file: String, src: String,
      rules: Seq[Rule] = Seq(Marker, Prune)): Seq[(Int, String)] = {
    var member = ""
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      Member.findFirstMatchIn(line).foreach(m => member = m.group(1))
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) Nil
      else rules.flatMap { case (token, owners) =>
        if (owners((file, member))) Nil else token.findAllIn(line).toSeq
      }.map(i + 1 -> _)
    }.toSeq
  }

  /** Offences against `rules` in every Scala file under `root`. */
  private def scan(root: java.nio.file.Path, rules: Seq[Rule]): Seq[String] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    assert(files.size > 10, s"lint lost coverage: ${files.size} files")
    files.flatMap { f =>
      offences(f.getFileName.toString, Files.readString(f), rules)
        .map { case (n, t) => s"${root.relativize(f)}:$n $t" }
    }
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
    val found = scan(Queries, Seq(Marker, Prune))
    assert(found.isEmpty, "versioned state outside ArtifactStore.advance:\n" +
      found.mkString("\n"))
  }

  test("the snapshot detector fires outside ColdRestart.publishAll and " +
      "ColdRestart.coldDaily and skips comments (negative control)") {
    val src =
      """object ColdRestart {
        |  private[graft] def publishAll(spark: SparkSession): Unit = {
        |    ArtifactStore.publishSnapshot(spark, root, pins)
        |  }
        |  def coldDaily(spark: SparkSession): DataFrame = {
        |    publishStore = () => graft.io.ArtifactStore.publishSnapshot(s, root, pins)
        |  }
        |  private[graft] def dayPublish(spark: SparkSession): Unit = {
        |    ArtifactStore.publishSnapshot(spark, root, pins)
        |    // ArtifactStore.publishSnapshot(spark, root, "in a comment")
        |  }
        |  /** ArtifactStore.publishSnapshot( in a doc comment */
        |}""".stripMargin
    assert(offences("ColdRestart.scala", src, Seq(Snapshot)) ===
      Seq(9 -> "ArtifactStore.publishSnapshot("))
    // the allowed members are per file: publishAll elsewhere is not
    assert(offences("Curation.scala", src, Seq(Snapshot)).map(_._1) ===
      Seq(3, 6, 9))
  }

  test("multi-artifact snapshots under src/main/scala are committed only " +
      "by ColdRestart.publishAll and ColdRestart.coldDaily") {
    val found = scan(Main, Seq(Snapshot))
    assert(found.isEmpty, "snapshot commit outside the day-boundary " +
      "publishers:\n" + found.mkString("\n"))
  }
}
