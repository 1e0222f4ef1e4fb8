package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-loop and bench tooling behind one entry, not part of the driver
  * contract: `graft.Dev <subcommand> args...` builds one session
  * (`SPARK_GRAFT_CPUS`, default 32) and runs
  *
  *   - `bench-one <sfDir> <query>...` — times each named query (cold,
  *     in-session), one `TIMING` line per query;
  *   - `explain <sfDir> <query>...` — each query's formatted physical
  *     plan (exchanges, reused exchanges, pushed filters, codegen
  *     spans);
  *   - `profile <sfDir> <query>...` — each query once warm (after one
  *     untimed pass) with a per-job and per-stage wall-time breakdown
  *     from a SparkListener;
  *   - `skew [nRows] [hotShare%]` — the three skew strategies on one
  *     skewed join (BENCH_NOTES "r9: SkewJoin vs AQE skew-split");
  *   - `zorder <sfDir>` — physical pruning of the q192 written layouts
  *     ([[ZorderProbe.measure]]), one `PROBE` line per layout and dim;
  *   - `beam <sfDir>` — q168's recall@5 and wall time at hops 1..4
  *     (BENCH_NOTES "r10 beam hop sweep"), one `SWEEP` line per H.
  *
  * Every timed run materializes through a noop write, not count():
  * count() lets the optimizer prune aggregate work and eliminate
  * unique-key outer joins, so it under-measures (see Bench.once). */
object Dev {

  private final case class Cmd(usage: String, minArgs: Int,
      run: (SparkSession, Seq[String]) => Unit)

  private val commands = ListMap(
    "bench-one" -> Cmd("<sfDir> <query>...", 1, benchOne),
    "explain" -> Cmd("<sfDir> <query>...", 1, explain),
    "profile" -> Cmd("<sfDir> <query>...", 1, profile),
    "skew" -> Cmd("[nRows] [hotShare%]", 0, skew),
    "zorder" -> Cmd("<sfDir>", 1, zorder),
    "beam" -> Cmd("<sfDir>", 1, beam))

  val Subcommands: Seq[String] = commands.keys.toSeq

  val Usage: String = "usage: graft.Dev <subcommand> args...\n" +
    commands.map { case (n, c) => s"  $n ${c.usage}" }.mkString("\n")

  /** The subcommand and its arguments, or the usage message; builds no
    * session. */
  def parse(args: Seq[String]): Either[String, (String, Seq[String])] =
    args match {
      case Seq(name, rest @ _*) if commands.contains(name) =>
        if (rest.size >= commands(name).minArgs) Right(name -> rest)
        else Left(s"usage: graft.Dev $name ${commands(name).usage}")
      case _ => Left(Usage)
    }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right((name, rest)) =>
      val spark = Session.local(Session.cpus(32))
      try commands(name).run(spark, rest) finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def benchOne(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.head
    args.tail.foreach { name =>
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      // no row count: a second action would re-execute the whole query
      // (and replay side effects for the benchExclusions shapes)
      println(f"TIMING $name $dt%.2f s")
    }
  }

  private def explain(spark: SparkSession, args: Seq[String]): Unit =
    args.tail.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, args.head).explain("formatted")
    }

  private case class StageRec(id: Int, name: String, tasks: Int,
      details: String = "", ops: String = "",
      var launch: Long = -1L, var done: Long = -1L)

  private def profile(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.head
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, Seq[Int])]()
    val stages = mutable.Map[Int, StageRec]()
    val jobStart = mutable.Map[Int, (Long, Seq[Int])]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = (e.time, e.stageIds)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, sids) =>
          jobs += ((e.jobId, t0, e.time, sids)) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val i = e.stageInfo
        // operator scopes of the stage's RDD graph (dedup'd, plan
        // order): identifies WHAT an AQE stage computes — the
        // callsite `details` of AQE-materialized stages only show
        // the scheduler's CompletableFuture frames
        val ops = i.rddInfos.sortBy(_.id).flatMap(_.scope)
          .map(_.name).distinct.mkString(" <- ")
        stages(i.stageId) = StageRec(i.stageId, i.name, i.numTasks,
          details = i.details, ops = ops,
          launch = System.currentTimeMillis())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.get(e.stageInfo.stageId).foreach(
          _.done = System.currentTimeMillis())
    })
    args.tail.foreach { name =>
      // warm pass: session one-time costs (codegen compiler, JIT,
      // parquet footers) land outside the profiled window
      noop(SparkEntry.queries(name)(spark, sfDir))
      jobs.clear(); stages.clear(); jobStart.clear()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      // brief pause for listener-bus drain so late events are counted
      Thread.sleep(300)
      println(f"===== $name warm total $dt%.3f s, ${jobs.size} jobs, ${stages.size} stages =====")
      val t0ms = jobs.map(_._2).minOption.getOrElse(0L)
      var prevEnd = t0ms
      jobs.sortBy(_._2).foreach { case (jid, js, je, sids) =>
        val gap = js - prevEnd
        prevEnd = math.max(prevEnd, je)
        val sdesc = sids.flatMap(stages.get).map { s =>
          val ms = if (s.done > 0 && s.launch > 0) s.done - s.launch else -1L
          s"s${s.id}:${s.tasks}t/${ms}ms"
        }.mkString(" ")
        println(f"  job $jid%3d +${js - t0ms}%6dms dur ${je - js}%6dms gap $gap%5dms  $sdesc")
      }
      // top stages by wall time
      val byDur = stages.values.filter(s => s.done > 0)
        .toSeq.sortBy(s => -(s.done - s.launch)).take(12)
      println("  -- slowest stages --")
      byDur.foreach { s =>
        println(f"  stage ${s.id}%3d ${s.done - s.launch}%6dms ${s.tasks}%3dt  ${s.name.take(110)}")
        // first non-spark frame of the submission callsite — the
        // generic future/codegen frames never identify the operator;
        // when no graft/Spec frame exists (AQE-materialized stages),
        // fall back to the operator scopes, then the first line
        val frame = s.details.linesIterator.find(l =>
          l.contains("graft.") || l.contains("Spec.scala"))
          .orElse(Option(s.ops).filter(_.nonEmpty))
          .orElse(s.details.linesIterator.buffered.headOption)
          .getOrElse("?")
        println(s"            at ${frame.trim.take(160)}")
      }
    }
  }

  /** Measured comparison of the three skew strategies on one skewed
    * join (the claim SkewJoin's doc makes, measured, not argued):
    *
    *   - `plain`  : SMJ, AQE off — the melted-reducer baseline; one
    *                task sorts/joins the entire hot key.
    *   - `aqe`    : SMJ, AQE on with the skew-split thresholds lowered
    *                to fire at local-test sizes (the defaults target
    *                256 MB partitions).
    *   - `salted` : SkewJoin.autoSalted, AQE off — explicit salting,
    *                including its own profiling pass.
    *
    * The dimension side is forced out of broadcast range
    * (autoBroadcastJoinThreshold=-1): a broadcastable dim never has a
    * skew problem in the first place — the comparison only exists in
    * the SMJ regime. */
  private def skew(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val hotPct = args.drop(1).headOption.map(_.toInt).getOrElse(50)

    // hotPct% of rows on key 7; the rest uniform over 100k keys
    def big: DataFrame = spark.range(n).select(
      when(pmod(col("id"), lit(100)) < hotPct, lit(7L))
        .otherwise(pmod(hash(col("id")), lit(100000)).cast("long"))
        .as("k"),
      col("id").as("payload"))
    def small: DataFrame = spark.range(100000L)
      .select(col("id").as("dk"), (col("id") * 3).as("dim_v"))

    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      noop(df)
      println(f"""{"variant":"$label","sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    def agg(j: DataFrame): DataFrame =
      j.groupBy(col("dk")).agg(count(lit(1)).as("cnt"),
        sum(col("dim_v")).as("s"))

    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // warm-up (shuffle service init, codegen)
      time("warmup")(agg(big.join(small, col("k") === col("dk"))))
      Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
        time("plain_smj_aqe_off")(agg(big.join(small, col("k") === col("dk"))))
      }
      Session.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m") {
        time("aqe_skew_split")(agg(big.join(small, col("k") === col("dk"))))
      }
      Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
        time("salted_aqe_off")(
          agg(graft.operators.SkewJoin.autoSalted(big, "k", small, "dk")))
        // skew known ahead of planning: no profiling pass
        time("salted_known_keys")(
          agg(graft.operators.SkewJoin.saltedForKeys(
            big, "k", small, "dk", Seq(7L))))
      }
    }
  }

  private def zorder(spark: SparkSession, args: Seq[String]): Unit = {
    graft.queries.Tables.prep(spark)
    val (lin, zo) = graft.queries.Relational.zorderWritten(spark, args.head)
    for ((label, path) <- Seq(("linear", lin), ("zorder", zo));
         dim <- Seq("ok", "pk")) {
      val (scanned, matched, files, total) =
        ZorderProbe.measure(spark, path, dim)
      println(f"PROBE layout=$label dim=$dim scanned=$scanned " +
        f"matched=$matched files=$files total=$total " +
        f"skip_pct=${100.0 * (total - scanned) / total}%.1f")
    }
  }

  private def beam(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.head
    graft.queries.Tables.prep(spark)
    val sim = graft.queries.Similarity
    val exact5 = sim.cosineTopK(spark, sfDir).filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id")).persist()
    val nq = exact5.select(countDistinct(col("qid"))).head.getLong(0)
    // warm the graph + vector artifacts so per-H timings measure the
    // walk, not the shared index build
    noop(sim.graphBeamWalk(spark, sfDir, 1))
    for (h <- 1 to 4) {
      // time ONLY the walk's own materialization; the recall join and
      // counts run outside the clock (they scale with exact5, not
      // with the hop knob the sweep measures — reviewer find, r10)
      val t0 = System.nanoTime()
      val top = sim.graphBeamWalk(spark, sfDir, h)
        .select(col("qid"), col("vec_id")).localCheckpoint(true)
      val dt = (System.nanoTime() - t0) / 1e9
      val hits = top.join(exact5, Seq("qid", "vec_id"), "left_semi").count()
      val n = top.count()
      println(f"SWEEP hops=$h recall5=${hits.toDouble / (5 * nq)}%.4f " +
        f"results=$n time=$dt%.2f s")
    }
  }
}
