package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, var end: Double = Double.NaN)

/** Spans of one run, kept in memory on the single client thread.
  *
  * The root span of every operation is the op itself; its children are
  * the calls the benchmark makes into the program's layers. Times are
  * epoch milliseconds (fractional), the clock Spark stamps its own
  * events with, so jobs and plans can be placed inside spans later. */
final class Spans {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = System.nanoTime() / 1e6 + offsetMs

  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Run `body` as a span under the current one (a root when none is
    * open); the span closes even when `body` throws. */
  def apply[A](name: String, op: Int = -1)(body: => A): A = {
    val parent = stack.headOption
    val s = Span(all.size, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(op), name, now())
    all += s
    stack = s :: stack
    try body finally { s.end = now(); stack = stack.tail }
  }

  def toJson: Seq[Map[String, Any]] = all.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)
  }
}

final case class Job(id: Int, group: String, start: Long, stages: Seq[Int],
    var end: Long = -1L)
final case class Plan(end: Long, planMs: Long, planStart: Long, exchanges: Int)

/** Spark's public listener APIs, attached from outside the program:
  * job / stage / task aggregates keyed by the job group the benchmark
  * sets per op, and planning time plus the final plan's exchange count
  * per query execution. Events arrive on Spark's listener threads and
  * are only read after [[drain]]. */
final class SparkEvents(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final class Stage(val id: Int) {
    var submitted = 0L; var completed = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var outputBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  @volatile private var lastEvent = System.currentTimeMillis()

  private def touch(): Unit = lastEvent = System.currentTimeMillis()
  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time); touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).submitted =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      touch()
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).completed =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      touch()
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning").flatMap(phases.get)
    val exchanges =
      try collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
      catch { case _: Throwable => 0 }
    synchronized {
      plans += Plan(System.currentTimeMillis(), planning.map(_.durationMs).sum,
        planning.map(_.startTimeMs).minOption.getOrElse(0L), exchanges)
      touch()
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until every started job has ended and the listener threads
    * have been quiet for a moment (bounded), so late events count. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def settled = synchronized(jobs.values.forall(_.end >= 0)) &&
      System.currentTimeMillis() - lastEvent > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stages)),
      "stages" -> stages.values.toSeq.map(s => Map("id" -> s.id,
        "submitted" -> s.submitted, "completed" -> s.completed,
        "task_ms" -> s.taskMs.toSeq, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleRead,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "output_bytes" -> s.outputBytes)),
      "plans" -> plans.toSeq.map(p => Map("end" -> p.end,
        "plan_start" -> p.planStart, "plan_ms" -> p.planMs,
        "exchanges" -> p.exchanges)))
  }
}
