package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (created once per test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh directory in `java.io.tmpdir`, deleted with its contents
    * when the suite ends. Every spec temp dir comes from here; dirs
    * named `graft_*` must, since they share the engine scratch orphan
    * pass's namespace. */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** An empty file `<prefix><suffix>` in a fresh [[tempDir]]. */
  protected def tempFile(prefix: String, suffix: String): java.nio.file.Path =
    java.nio.file.Files.createFile(tempDir(prefix).resolve(prefix + suffix))

  /** Write `df` as ONE parquet file at `target`, the way drops land in
    * a listed arrival dir: the frame is written to `staging` as a
    * single part and that part is moved in. */
  protected def writeArrivalFile(df: org.apache.spark.sql.DataFrame,
      staging: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val s = java.nio.file.Files.list(staging)
    val part = try s.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail(s"staging $staging produced no parquet part"))
    finally s.close()
    java.nio.file.Files.move(part, target)
  }

  // The session is shared across suites; JVM exit stops it.
  override def afterAll(): Unit =
    tempDirs.forEach { d =>
      // a test may have deleted its dir already (a store root handed
      // over absent)
      if (java.nio.file.Files.exists(d)) {
        val s = java.nio.file.Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally s.close()
      }
    }

  /** Assert the frame plans NO corpus-shuffling join (sort-merge or
    * shuffled-hash) — the bounded-broadcast plan contract several
    * operators carry. The frame is by-name, so it is built and planned
    * inside an AQE-off scope. An adaptive root fails the check: an
    * `AdaptiveSparkPlanExec` is a leaf to `collect`, so a walk under
    * it would see no join at all. */
  protected def assertBroadcastOnly(
      df: => org.apache.spark.sql.DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{
      ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false")(df.queryExecution.executedPlan)
    assert(!plan.isInstanceOf[AdaptiveSparkPlanExec],
      s"adaptive root hides the joins inside $what:\n$plan")
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"corpus-shuffling join inside $what:\n$plan")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
