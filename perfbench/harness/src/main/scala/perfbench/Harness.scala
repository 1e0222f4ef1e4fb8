package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkEntry
import graft.conform.{Pipeline, Schemas}
import graft.io.{ArrivalRead, CsvProbe, IdempotentWriter, RunAudit}

/** One benchmark run in one JVM: set up, then a closed loop of
  * operations on one client thread for a fixed time, then a JSON record
  * of every op, span and Spark event for `run.py` to turn into metrics.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace,
  * nproc, work (scratch root), out (result file), plus
  * `data`/`ops`/`dump` for query workloads or `drop` for etl_daily.
  *
  * The program is driven only through its public entry points:
  * `SparkEntry.queries`, `CsvProbe`, `ArrivalRead`, `Pipeline`,
  * `IdempotentWriter` and `RunAudit`. */
object Harness {

  final case class OpResult(op: Int, name: String, kind: String, ms: Double,
      cpuMs: Double, error: Option[String], traced: Boolean, gaugeMs: Seq[Double])

  /** How fast this host's cores run right now: the CPU time each of
    * `nproc` threads takes to sort its own copy of the same 200k ints
    * (allocation-free), averaged over the threads and taken after every
    * op. CPU time, not wall time: the engine's own
    * background threads (JIT compilers, GC, Spark's cleaners) only
    * delay the gauge's threads, which does not count, while other
    * tenants of a shared host slow every instruction, which does, as it
    * does for the engine. Op times scaled by its mean over a run are,
    * to first order, what they would be on an unshared host. */
  final class HostGauge(nproc: Int) {
    private val input = { val r = new scala.util.Random(7); Array.fill(200000)(r.nextInt()) }
    private val bufs = Array.fill(nproc)(new Array[Int](input.length))
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc,
      (r: Runnable) => { val t = new Thread(r, "host-gauge"); t.setDaemon(true); t })
    private val threads = ManagementFactory.getThreadMXBean
    @volatile private var sink = 0

    private def sortOnce(buf: Array[Int]): Double = {
      val t0 = threads.getCurrentThreadCpuTime
      System.arraycopy(input, 0, buf, 0, input.length)
      java.util.Arrays.sort(buf)
      sink += buf(buf.length / 2)
      (threads.getCurrentThreadCpuTime - t0) / 1e6
    }

    def ms(): Double = bufs.map(b => pool.submit(() => sortOnce(b)))
      .map(_.get()).sum / nproc

    /** Samples worth 5 % of an op that took `opMs`, at least one, so
      * the host's speed is sampled evenly over a run whatever the ops'
      * lengths. */
    def samples(opMs: Double): Seq[Double] = {
      val out = mutable.ArrayBuffer(ms())
      while (out.sum < 0.05 * opMs) out += ms()
      out.toSeq
    }

    def stop(): Unit = pool.shutdownNow()
  }

  /** Everything an op touches for one run: the session, the spans, the
    * op counter and the per-op counts recorded at layer boundaries. */
  final class Ctx(val spark: SparkSession, val spans: Spans, gauge: HostGauge) {
    var traced = false
    private var nextOp = 0
    val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
    private var current = -1

    def count(name: String, v: Double): Unit = counts += ((current, name, v))

    /** Run one op: a root span, its own job group while traced, and any
      * exception recorded as the op's failure instead of ending the run. */
    def op(name: String, kind: String)(body: => Unit): OpResult = {
      val id = nextOp; nextOp += 1; current = id
      val sc = spark.sparkContext
      if (traced) sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val err =
        try { spans("op", id)(body); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}") }
        finally if (traced) sc.clearJobGroup()
      // one JVM runs driver and executors, so its collector time is the op's
      if (traced) count("exec.gc_ms", (gcMs() - gc0).toDouble)
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpuNs() - cpu0) / 1e6
      OpResult(id, name, kind, ms, cpuMs, err, traced, gauge.samples(ms))
    }
  }

  private def json(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  /** CPU time of the whole JVM: driver, executor threads, JIT and GC. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Set-up is untimed: [[cold]], whose ops are the first calls, then
    * [[warm]], which runs ops until the JIT has compiled what the timed
    * ops need, so that they do not fall as it does. */
  trait Workload {
    /** The first pass, its ops of kind "cold" and done as the timed
      * ops are done; it leaves outputs the correctness gate reads. */
    def cold(ctx: Ctx): Seq[OpResult]
    def warm(ctx: Ctx): Seq[OpResult]
    /** One whole timed pass. */
    def pass(ctx: Ctx, n: Int): Seq[OpResult]
    /** Untimed, after the last timed pass. */
    def finish(ctx: Ctx): Unit = ()
    def checks: Map[String, Any] = Map.empty
  }

  /** Registry read paths, in an order the seed permutes per pass: each
    * op builds `SparkEntry.queries(name)` and collects its rows, as a
    * client of a read path does. The cold pass keeps what it collected;
    * [[finish]] writes that as parquet for the oracle compare, so no
    * pass runs only to feed the correctness gate. */
  final class Queries(data: String, ops: Seq[String], seed: Long,
      dump: String) extends Workload {
    private val results = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    private def run(ctx: Ctx, name: String, kind: String): OpResult = ctx.op(name, kind) {
      val df = ctx.spans("queries.build")(SparkEntry.queries(name)(ctx.spark, data))
      val rows = ctx.spans("exec.run")(df.collect())
      if (kind == "cold") results(name) = (rows, df.schema)
    }
    def cold(ctx: Ctx): Seq[OpResult] = ops.map(run(ctx, _, "cold"))
    /** None: a pass more would cost ~15 s a run that the benchmark's
      * time budget does not have. The timed pass, the second, runs
      * ~20 % slower than passes from the fifth on, in every run alike. */
    def warm(ctx: Ctx): Seq[OpResult] = Nil
    def pass(ctx: Ctx, n: Int): Seq[OpResult] =
      new scala.util.Random(seed * 1000003L + n).shuffle(ops).map(run(ctx, _, "query"))
    override def finish(ctx: Ctx): Unit = {
      Files.createDirectories(Paths.get(dump))
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
        json(SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }))
      results.foreach { case (name, (rows, schema)) =>
        ctx.spark.createDataFrame(rows.toSeq.asJava, schema)
          .write.mode("overwrite").parquet(s"$dump/$name")
      }
    }
  }

  /** The reference's daily load of one CRM drop, wired as the composed
    * daily run wires it: per report extract → transform → load, each an
    * audited phase that counts its rows, then the audit trail written.
    * A pass loads the drop into an empty target, then re-delivers it. */
  final class EtlDaily(drop: String, work: String) extends Workload {
    private val target = s"$work/etl_target"
    private val auditDir = s"$work/etl_audit"
    private val reports: Seq[(String, String)] =
      Seq("tbl_conducta_diaria.csv", "tbl_estados_operativos.csv")
        .map(f => f -> s"$drop/$f")
    private val inputBytes = reports.map(r => Files.size(Paths.get(r._2))).sum
    private val checked = mutable.LinkedHashMap.empty[String, Any]
    private var deliveries = 0

    private def reset(): Unit = Seq(target, auditDir).foreach(deleteTree)

    private def deliver(ctx: Ctx, kind: String): OpResult = {
      deliveries += 1
      val name = if (kind == "rerun") "etl_rerun" else "etl_load"
      ctx.op(name, kind) {
        val spark = ctx.spark
        val audit = new RunAudit(s"perfbench-$deliveries")
        reports.foreach { case (file, path) =>
          val route = CsvProbe.routeByName(file).get
          val (raw, nRaw) = ctx.spans("io.extract") {
            audit.phase[(DataFrame, Long)](file, "extract") {
              // its driver-side self time is CsvProbe's charset pass
              val df = ctx.spans("io.read")(ArrivalRead.read(spark, path))
              val n = df.count()
              ((df, n), n)
            }
          }
          val (t, nT) = ctx.spans("conform.transform") {
            audit.phase[(DataFrame, Long)](file, "transform", Some(nRaw)) {
              val out =
                if (route == "conducta") Pipeline.conducta(raw) else Pipeline.estados(raw)
              val n = out.count()
              ((out, n), n)
            }
          }
          val dest = s"$target/$route"
          ctx.spans(if (kind == "rerun") "io.reload" else "io.load") {
            audit.phase[Unit](file, "load", Some(nT)) {
              IdempotentWriter.overwritePartitions(t, dest)
              ((), spark.read.parquet(dest).count())
            }
          }
          ctx.count("conform.rows_in", nRaw.toDouble)
          ctx.count("conform.rows_out", nT.toDouble)
          if (ctx.traced) {
            val files = partFiles(dest)
            ctx.count("io.files_written", files.size.toDouble)
            ctx.count("io.bytes_written", files.map(Files.size).sum.toDouble)
          }
        }
        ctx.spans("io.audit")(audit.write(spark, auditDir))
        ctx.count("io.input_bytes", inputBytes.toDouble)
      }
    }

    /** Per report and fecha: surviving rows and the minute sum of every
      * duration column, read back from the target table. */
    private def snapshot(spark: SparkSession): Map[String, Any] =
      Seq("conducta" -> Schemas.ConductaTimeCols,
        "estados_operativos" -> Schemas.EstadosTimeCols).map { case (route, times) =>
        val rows = spark.read.parquet(s"$target/$route")
          .groupBy(col("fecha").cast("string").as("fecha"))
          .agg(count(lit(1)).as("rows"), times.map(c => sum(col(c)).as(c)): _*)
          .collect()
        route -> rows.map { r =>
          r.getString(0) -> Map("rows" -> r.getLong(1),
            "minutes" -> times.zipWithIndex.map { case (c, i) =>
              c -> r.getDouble(i + 2) }.toMap)
        }.toMap
      }.toMap

    def cold(ctx: Ctx): Seq[OpResult] = {
      reset()
      val load = deliver(ctx, "cold")
      checked("after_load") = snapshot(ctx.spark)
      Seq(load)
    }
    /** Three more deliveries: a delivery's time falls by 10-30 % from
      * one to the next up to the fourth, and is flat from the fifth on. */
    def warm(ctx: Ctx): Seq[OpResult] = Seq(deliver(ctx, "rerun")) ++ pass(ctx, 0)
    def pass(ctx: Ctx, n: Int): Seq[OpResult] = {
      reset()
      Seq(deliver(ctx, "load"), deliver(ctx, "rerun"))
    }
    /** Every pass ends with a re-delivery, so the target now holds what
      * delete-and-replace of the same dates left behind. */
    override def finish(ctx: Ctx): Unit =
      checked("after_rerun") = snapshot(ctx.spark)
    override def checks: Map[String, Any] = checked.toMap
  }

  private def partFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p =>
      p.getFileName.toString.startsWith("part-")).toSeq
    finally s.close()
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  private def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssKb(): Long = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val nproc = a("nproc").toInt
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val wl: Workload = a("workload") match {
      case "etl_daily" => new EtlDaily(a("drop"), work)
      case _ => new Queries(a("data"), a("ops").split(",").toSeq,
        a("seed").toLong, a("dump"))
    }
    val gauge = new HostGauge(nproc)
    (1 to 30).foreach(_ => gauge.ms()) // compiled before it times anything
    val spans = new Spans
    val ctx = new Ctx(session(nproc, work), spans, gauge)

    // Set-up: JVM start to the end of the cold pass and the warm-up
    // (session memos and write-once artifacts are built in the cold pass).
    val warmUp = wl.cold(ctx) ++ wl.warm(ctx)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // Timed closed loop: whole passes until at least the given time is
    // spent, so every run times the same op mix. A traced
    // run spends the first half untraced and the second half traced,
    // so the tracing overhead is measured on the same ops.
    val ops = mutable.ArrayBuffer.empty[OpResult]
    var passes = 0
    def loop(budgetS: Double): Unit = {
      val t0 = System.nanoTime()
      var first = true
      while (first || (System.nanoTime() - t0) / 1e9 < budgetS) {
        ops ++= wl.pass(ctx, passes); passes += 1; first = false
      }
    }
    val events = new SparkEvents(ctx.spark)
    if (!traced) loop(seconds)
    else {
      loop(seconds / 2)
      events.attach(); ctx.traced = true
      loop(seconds / 2)
      ctx.traced = false; events.drain(); events.detach()
    }
    wl.finish(ctx)

    def opJson(o: OpResult) = Map("op" -> o.op, "name" -> o.name,
      "kind" -> o.kind, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "error" -> o.error.orNull,
      "gauge_ms" -> o.gaugeMs,
      "traced" -> o.traced)
    val result = Map(
      "workload" -> a("workload"), "seed" -> a("seed").toLong, "nproc" -> nproc,
      "setup_s" -> setupS, "passes" -> passes,
      "warm_up" -> warmUp.map(opJson),
      "ops" -> ops.toSeq.map(opJson),
      "checks" -> wl.checks,
      "counts" -> ctx.counts.toSeq.map { case (op, n, v) =>
        Map("op" -> op, "name" -> n, "value" -> v) },
      "spans" -> (if (traced) spans.toJson else Nil),
      "events" -> (if (traced) events.toJson else Map.empty),
      "peak_rss_kb" -> peakRssKb())
    Files.writeString(Paths.get(a("out")), json(result))
    ctx.spark.stop()
    gauge.stop()
  }
}
