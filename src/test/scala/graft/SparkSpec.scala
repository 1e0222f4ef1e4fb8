package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (created once per test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared; JVM exit cleans up

  /** Assert the frame plans NO corpus-shuffling join (sort-merge or
    * shuffled-hash) — the bounded-broadcast plan contract several
    * operators carry. AQE is disabled for a deterministic plan and
    * the prior value restored; the frame is by-name so its physical
    * planning happens inside the AQE-off window. */
  protected def assertBroadcastOnly(
      df: => org.apache.spark.sql.DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.joins.{
      ShuffledHashJoinExec, SortMergeJoinExec}
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"corpus-shuffling join inside $what:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
