package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{Session, SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[ResultSort]]: a collected result small enough to coalesce to one
  * partition is sorted in one task, with the same rows in the same key
  * order as the range-shuffled sort; everything else keeps the range
  * shuffle, and no initial plan changes. */
class ResultSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Dir = "/root/testdata/sf0.001"

  /** Range-partitioning shuffles anywhere in `plan`, query stages
    * included. */
  private def rangeShuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  /** `body` with [[ResultSort]] out of the session's planner. */
  private def withoutResultSort[T](body: => T): T = {
    val before = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = before.filterNot(_ eq ResultSort)
    try body finally spark.experimental.extraStrategies = before
  }

  /** Collected rows and the final adaptive plan. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  private def normalised(plan: SparkPlan): String =
    plan.treeString.replaceAll("#\\d+|plan_id=\\d+", "#")

  /** Seven ids, `k` null on two, ties on `k` and on (`k`, `s`); read
    * back from parquet, so the initial plan has a scan leaf. */
  private lazy val input: DataFrame = {
    val out = tempDir("result_sort_in").resolve("in").toString
    spark.createDataFrame(Seq(
        (1L, Some(2), "b"), (2L, None, "a"), (3L, Some(1), "c"),
        (4L, Some(2), "a"), (5L, Some(1), "c"), (6L, None, "b"),
        (7L, Some(3), "a")))
      .toDF("id", "k", "s").write.parquet(out)
    spark.read.parquet(out)
  }

  /** (name, sort keys, the key columns). */
  private val Orders: Seq[(String, Seq[Column], Seq[String])] = Seq(
    ("asc nulls first", Seq(col("k").asc_nulls_first), Seq("k")),
    ("asc nulls last", Seq(col("k").asc_nulls_last), Seq("k")),
    ("desc nulls first", Seq(col("k").desc_nulls_first), Seq("k")),
    ("desc nulls last", Seq(col("k").desc_nulls_last), Seq("k")),
    ("two keys with ties", Seq(col("s").desc, col("k").asc_nulls_last),
      Seq("s", "k")),
    ("three keys", Seq(col("s").asc, col("k").desc_nulls_last, col("n").asc),
      Seq("s", "k", "n")))

  /** Shapes whose sort input is a materialized shuffle stage, with the
    * fewest partitions that input reaches the sort in: an aggregate
    * (one after AQE's coalesced read), a 3-partition repartition (AQE
    * keeps a user's partition count), a union of two aggregates and a
    * sort-merge join of two aggregates (on this input a broadcast
    * join's size estimate stays above the target). */
  private val Shapes: Seq[(String, DataFrame => DataFrame, Int)] = Seq(
    ("aggregate", _.groupBy("k", "s").agg(count(lit(1)).as("n")), 1),
    ("repartition", _.repartition(3).withColumn("n", col("id")), 3),
    ("union", { df =>
      val a = df.groupBy("k", "s").agg(count(lit(1)).as("n"))
      a.unionByName(df.groupBy("k", "s").agg(max("id").as("n")))
    }, 1),
    ("join", { df =>
      df.groupBy("k", "s").agg(max("id").as("id"))
        .join(df.groupBy("s").agg(min("id").as("n")).hint("merge"), Seq("s"))
    }, 1))

  test("the one-task sort returns the range sort's rows, in order on the " +
      "keys and as a multiset, for every ordering and input shape") {
    for ((shape, build, parts) <- Shapes; (order, keys, keyCols) <- Orders) {
      val what = s"$shape, $order"
      val (rows, plan) = run(build(input).orderBy(keys: _*))
      val (ref, refPlan) = withoutResultSort(run(build(input).orderBy(keys: _*)))
      val coalesced = collect(plan) { case c: CoalesceExec if c.numPartitions == 1 =>
        c.child.execute().getNumPartitions }
      assert(rangeShuffles(plan).isEmpty && coalesced.size === 1,
        s"$what: the result was not sorted in one task:\n$plan")
      assert(coalesced.head >= parts, s"$what: ${coalesced.head} input partitions\n$plan")
      assert(rangeShuffles(refPlan).size === 1, s"$what:\n$refPlan")
      def onKeys(rs: Seq[Row]) = rs.map(r => keyCols.map(c => r.get(r.fieldIndex(c))))
      assert(rows.nonEmpty && onKeys(rows) === onKeys(ref), what)
      assert(rows.map(_.toString).sorted === ref.map(_.toString).sorted, what)
    }
  }

  test("an empty result sorts to no rows without a range shuffle") {
    def empty = input.filter(col("id") < 0).groupBy("k").count().orderBy("k")
    val (rows, plan) = run(empty)
    assert(rows.isEmpty && withoutResultSort(empty.collect()).isEmpty)
    assert(rangeShuffles(plan).isEmpty, plan)
  }

  test("the initial plan is unchanged: the range shuffle is still " +
      "planned before execution, and AQE drops it only at the end") {
    def q01 = SparkEntry.queries("q01_pricing_summary")(spark, Dir)
    val withRule = q01.queryExecution.executedPlan
    val without = withoutResultSort(q01.queryExecution.executedPlan)
    assert(normalised(withRule) === normalised(without))
    assert(rangeShuffles(withRule).size === 1, withRule)
    val (rows, plan) = run(q01)
    assert(rangeShuffles(plan).isEmpty, plan)
    assert(rows === withoutResultSort(q01.collect().toSeq))
  }

  test("negative controls: an input above the coalesce target, a local " +
      "relation alone, AQE without coalescing and AQE off keep the range " +
      "shuffle") {
    // ~0.3 M distinct groups: several MB of shuffle, above the 1 MB
    // target, so AQE would coalesce the range shuffle to >1 partitions
    val big = spark.range(0, 300000).groupBy((col("id") * 7).as("g"))
      .count().orderBy(col("g").desc)
    val (bigRows, bigPlan) = run(big)
    assert(rangeShuffles(bigPlan).size === 1, bigPlan)
    assert(bigRows.head.getLong(0) === 299999L * 7)
    // the same input under a target raised above it takes the one task
    Session.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      val (rows, plan) = run(spark.range(0, 300000)
        .groupBy((col("id") * 7).as("g")).count().orderBy(col("g").desc))
      assert(rangeShuffles(plan).isEmpty, plan)
      assert(rows.map(_.getLong(0)) === bigRows.map(_.getLong(0)))
    }
    // a local relation alone: its range shuffle is the first stage,
    // so no stage has run when the sort is planned; once that stage has
    // run, the global sort over its read stays (no one-task re-plan)
    def local = spark.createDataFrame(Seq((2, "b"), (1, "a"))).toDF("k", "s")
    val (localRows, localPlan) = run(local.orderBy("k"))
    val (refRows, refPlan) = withoutResultSort(run(local.orderBy("k")))
    assert(localRows.map(_.getInt(0)) === Seq(1, 2) && localRows === refRows)
    assert(rangeShuffles(localPlan).size === 1, localPlan)
    assert(collect(localPlan) { case c: CoalesceExec => c }.isEmpty, localPlan)
    assert(normalised(localPlan) === normalised(refPlan))
    // AQE on but not coalescing: the range shuffle keeps its partitions
    Session.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (_, plan) = run(input.groupBy("k").count().orderBy("k"))
      assert(rangeShuffles(plan).size === 1, plan)
    }
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val scan = Tables.lineitem(spark, Dir).orderBy("l_orderkey", "l_linenumber")
      assert(rangeShuffles(scan.queryExecution.executedPlan).size === 1)
      val (rows, plan) = run(local.groupBy("k").count().orderBy("k"))
      assert(rows.map(_.getInt(0)) === Seq(1, 2))
      assert(rangeShuffles(plan).size === 1, plan)
    }
  }

  test("negative controls: a write root keeps the range shuffle, for the " +
      "noop sink and for parquet") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def written(write: DataFrame => Unit): SparkPlan = {
      seen.clear()
      write(input.groupBy("k", "s").count().orderBy("s", "k"))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!seen.isEmpty, "no write reached the listener")
      seen.peek().executedPlan
    }
    spark.listenerManager.register(listener)
    try {
      val noop = written(_.write.format("noop").mode("overwrite").save())
      assert(rangeShuffles(noop).size === 1, noop)
      val out = tempDir("result_sort_write").resolve("t").toString
      val parquet = written(_.write.parquet(out))
      assert(rangeShuffles(parquet).size === 1, parquet)
      assert(spark.read.parquet(out).count() === 6)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The BI read paths: the benched Relational and Temporal queries
    * (q01–q29 without q23) plus q44. */
  private val BiPaths = SparkEntry.benchQueries.filter { n =>
    val i = n.drop(1).takeWhile(_.isDigit).toInt
    (i <= 29 && i != 23) || i == 44
  }

  test("no BI read path ends in a range shuffle once collected, and q01 " +
      "runs in at most 2 jobs") {
    assert(BiPaths.size === 29, BiPaths)
    val ranged = BiPaths.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, Dir)
      val (_, plan) = run(df)
      if (rangeShuffles(plan).isEmpty) None else Some(s"$name:\n$plan")
    }
    assert(ranged.isEmpty, ranged.mkString("\n"))

    val jobs = new ConcurrentLinkedQueue[String]
    val marker = "result-sort-spec-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.job.description"))
          .flatMap(Option(_)).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q01_pricing_summary")(spark, Dir).collect()
      // events reach a listener in order: once the marker job is seen,
      // every q01 job before it has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!jobs.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val q01Jobs = jobs.asScala.toSeq.takeWhile(_ != marker)
      assert(jobs.contains(marker), "the marker job never reached the listener")
      assert(q01Jobs.size <= 2, s"q01 ran ${q01Jobs.size} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
