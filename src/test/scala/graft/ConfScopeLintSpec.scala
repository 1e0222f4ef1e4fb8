package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one place changes session conf for a while, one place
  * runs a bounded stream, and sessions are prepped where they enter
  * the engine. Under `src/main/scala`, `.conf.set(` and `.conf.unset(`
  * appear only in `graft/Session.scala` (`withConf`) and
  * `graft/queries/Tables.scala` (`prep` and the events pin), and a
  * direct `sessionState.conf` write only in `Tables.prep` (the codegen
  * cache key);
  * `Trigger.AvailableNow` and `awaitTermination` only in
  * `graft/streaming/Streams.scala` (`drain`); and `prep(` is called only
  * in `graft/Session.scala`, `graft/SparkEntry.scala`,
  * `ColdRestart.fresh` and `Reference.registerFechaTable` — never in a
  * query body; the planner's `extraStrategies` are written only in
  * `Tables.prep`. Comment lines are skipped. */
class ConfScopeLintSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")

  /** A write straight to a session's `SQLConf`, which static keys
    * take and `spark.conf.set` refuses. */
  private val SqlConfWrite =
    """\bsessionState\.conf\.(?:setConf|setConfString|unsetConf)\(""".r
  private val ConfWrite = ("""\.conf\.(?:set|unset)\(|""" + SqlConfWrite.regex).r
  private val StreamRun = """\bTrigger\.AvailableNow\b|\bawaitTermination\b""".r
  private val PrepCall = """(?<!def )\bprep\(""".r
  private val StrategyWrite =
    """\bextraStrategies\s*(?::\+|\+\+)?=(?!=)|\bextraStrategies_=""".r
  private val DefName = """\bdef (\w+)""".r

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

  /** The name of the last `def` declared at or above 1-based `line`. */
  private def enclosingDef(src: String, line: Int): String =
    src.linesIterator.take(line).toSeq.reverseIterator
      .flatMap(DefName.findFirstMatchIn(_)).map(_.group(1))
      .nextOption().getOrElse("")

  test("the detectors fire on conf writes and stream runs and skip " +
      "comments (negative control)") {
    assert(offences("""spark.conf.set("k", "v")""", ConfWrite) ===
      Seq(1 -> ".conf.set("))
    assert(offences("x\n  s.conf.unset(k)", ConfWrite).map(_._1) === Seq(2))
    assert(offences(
      """spark.sessionState.conf.setConfString("k", "v")
        |s.sessionState.conf.setConf(SQLConf.ANSI_ENABLED, false)
        |s.sessionState.conf.unsetConf("k")
        |// s.sessionState.conf.setConfString("k", "v")
        |val v = s.sessionState.conf.getConfString("k")""".stripMargin,
      ConfWrite).map(_._2) === Seq("sessionState.conf.setConfString(",
        "sessionState.conf.setConf(", "sessionState.conf.unsetConf("))
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
    assert(offences(
      """  prep(spark)
        |  graft.queries.Tables.prep(s)
        |def prep(spark: SparkSession): Unit = {
        |  list_prepend(0, xs); prepare(x)
        |  // prep(spark)
        |  * [[Tables.prep]] in a doc comment""".stripMargin,
      PrepCall).map(_._1) === Seq(1, 2))
    val body = "def fresh(s: S) = {\n  prep(s)\n}\ndef q(s: S) = {\n  prep(s)"
    assert(offences(body, PrepCall).map { case (n, _) =>
      enclosingDef(body, n) } === Seq("fresh", "q"))
    assert(offences(
      """def prep(s: S) = {
        |  s.experimental.extraStrategies :+= ResultSort
        |  s.experimental.extraStrategies = Seq(ResultSort)
        |  s.experimental.extraStrategies ++= Seq(ResultSort)
        |  s.experimental.extraStrategies_=(Nil)
        |  if (!s.experimental.extraStrategies.contains(ResultSort)) x
        |  val same = s.experimental.extraStrategies == Nil
        |  // s.experimental.extraStrategies = Nil""".stripMargin,
      StrategyWrite).map(_._1) === Seq(2, 3, 4, 5))
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
    // the one write past spark.conf's static-key check: prep sizing
    // Spark's codegen cache
    val sqlConf = files.flatMap { f =>
      val src = Files.readString(f)
      offences(src, SqlConfWrite).map { case (n, _) =>
        s"${Root.relativize(f)} in ${enclosingDef(src, n)}: " +
          src.linesIterator.drop(n - 1).next().trim }
    }
    assert(sqlConf.size === 1 && sqlConf.head.startsWith(
      "graft/queries/Tables.scala in prep: spark.sessionState.conf" +
        ".setConfString(CodegenCacheKey,"),
      "SQLConf written directly outside Tables.prep's codegen cache " +
        "key:\n" + sqlConf.mkString("\n"))
  }

  test("bounded streams under src/main/scala run only through Streams.drain") {
    val found = outside(StreamRun, Set("graft/streaming/Streams.scala"))
    assert(found.isEmpty, "stream run outside Streams.drain:\n" +
      found.mkString("\n"))
    assert(count("graft/streaming/Streams.scala", StreamRun) === 2,
      "Streams must hold exactly one AvailableNow start/await pair")
  }

  test("sessions under src/main/scala are prepped only where they enter " +
      "the engine, never in a query body") {
    // file -> the one def allowed to call prep there (None: any)
    val entries = Seq[(String, Option[String])](
      "graft/Session.scala" -> None,
      "graft/SparkEntry.scala" -> None,
      "graft/queries/ColdRestart.scala" -> Some("fresh"),
      "graft/queries/Reference.scala" -> Some("registerFechaTable"))
    val found = files.flatMap { f =>
      val rel = Root.relativize(f).toString
      val src = Files.readString(f)
      offences(src, PrepCall).map(_._1).filterNot { n =>
        entries.toMap.get(rel).exists(_.forall(_ == enclosingDef(src, n)))
      }.map(n => s"$rel:$n in ${enclosingDef(src, n)}")
    }
    assert(found.isEmpty, "prep called outside the session entry points " +
      "(prep where the session is made, not in a query body):\n" +
      found.mkString("\n"))
    assert(entries.map(e => count(e._1, PrepCall)) === Seq(1, 2, 1, 1),
      "Session.local, SparkEntry's queries and entry, ColdRestart.fresh " +
        "and Reference.registerFechaTable prep once each")
  }

  test("planner strategies under src/main/scala are installed only in " +
      "Tables.prep") {
    val found = files.flatMap { f =>
      val rel = Root.relativize(f).toString
      val src = Files.readString(f)
      offences(src, StrategyWrite).map(_._1).filterNot { n =>
        rel == "graft/queries/Tables.scala" && enclosingDef(src, n) == "prep"
      }.map(n => s"$rel:$n in ${enclosingDef(src, n)}")
    }
    assert(found.isEmpty, "extraStrategies written outside Tables.prep:\n" +
      found.mkString("\n"))
    assert(count("graft/queries/Tables.scala", StrategyWrite) === 1,
      "Tables.prep installs ResultSort once")
  }
}
