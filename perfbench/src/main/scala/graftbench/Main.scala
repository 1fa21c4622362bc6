package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one workload run shares with the measuring loop in [[Main]]. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val jdbcRows: Option[JdbcRowsListener],
                val workDir: String, val cores: Int) {
  /** JDBC connections the run may hold at once: one for the load
    * generator, the rest for the partitioned source scan.
    */
  val jdbcScanPartitions: Int = math.max(1, cores - 1)
  val jdbcConnections: Int = jdbcScanPartitions + 1

  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[graftbench] CHECK FAILED: $msg")
  }

  /** Run one operation; a throw counts as a failed operation. */
  def op[A](label: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$label threw ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** Seconds spent in output checks inside the measured loop; they are
    * left out of the loop's per-unit wall time.
    */
  var checkSeconds = 0.0

  def timedCheck(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally checkSeconds += (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): String = {
    val d = new File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A closed-loop workload: set up, warm up, then one unit of work per
  * `step` until the measured window is over, then an output check.
  */
trait Workload {
  /** The workload's inputs: seed load and first full sync, or input
    * staging.
    */
  def setup(): Unit
  def warmup(): Unit
  /** One unit of work. Returns the seconds the user waited on it. */
  def step(i: Int): Double
  /** End-of-run output checks (failures go to `ctx.fail`). */
  def finalCheck(): Unit
  /** Named end-to-end metrics of this workload, (name, value, unit),
    * given the units' measured wall (checks and heap probes left out).
    */
  def detailMetrics(unitsSeconds: Double): Seq[(String, Double, String)]
  /** Per-layer ratios and counts beyond the span counters, from the
    * measured window's spans.
    */
  def layerExtras(spans: Seq[Span]): Seq[(String, Double, String)]
  /** Units per cycle of the workload's fixed mix; the measured window
    * always ends on a cycle boundary, so every run averages the same mix.
    */
  def cycle: Int = 1
  def close(): Unit = ()
}

object Main {
  val Workloads = Seq("sync_upsert", "dashboard", "operators")

  private def argMap(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** Fixed calibration probe: a CPU + shuffle job independent of the
    * workload and its data (the same shape as graft.Bench's probe).
    */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000L)
      .selectExpr("xxhash64(id) AS h", "id % 1024 AS k")
      .repartition(cores, col("k"))
      .groupBy("k").agg(sum("h"))
      .agg(count(lit(1)))
      .head()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = argMap(args)
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, got '$workload'")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val workDir = new File(a("work")).getAbsolutePath
    val outFile = a("out")
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val loadStart = Jvm.loadAverage()

    val tSession = System.nanoTime()
    val spark = graft.GraftSession.builder()
      .master(master)
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(workDir, "ckpt").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, workload, trace)
    val jdbcRows = if (trace) Some(new JdbcRowsListener) else None
    if (trace) spark.sparkContext.addSparkListener(new SpanListener(tracer))
    jdbcRows.foreach(spark.listenerManager.register)
    val ctx = new Ctx(spark, tracer, jdbcRows, workDir, cores)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val w: Workload = workload match {
      case "sync_upsert" => new SyncUpsert(ctx, new HistoryGen(seed))
      case "dashboard" => new Dashboard(ctx, new DashboardGen(seed))
      case "operators" => new Operators(ctx, new OpsGen(seed))
    }

    val tLoad = System.nanoTime()
    w.setup()
    val loadS = (System.nanoTime() - tLoad) / 1e9
    val tWarm = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    // what a user waits for before the first unit, in one cold pass:
    // JVM and session start, set-up, warm-up
    val setupS = jvmUpS + sessionS + loadS + warmupS
    val calibStart = calibrate(spark, cores)

    ctx.checkSeconds = 0.0
    val waits = mutable.ArrayBuffer[Double]()
    var heapPeakMb = 0.0
    var heapS = 0.0
    var heapCpuS = 0.0
    val gc0 = Jvm.gcCount()
    val cpu0 = Jvm.cpuSeconds()
    val ticks0 = Jvm.cpuTicks()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || i % w.cycle != 0) {
      waits += w.step(i)
      i += 1
      // the live heap after each unit, from a full collection that the
      // unit's wall and CPU times leave out
      val h0 = System.nanoTime()
      val hc0 = Jvm.cpuSeconds()
      heapPeakMb = math.max(heapPeakMb, Jvm.liveHeapMb())
      heapS += (System.nanoTime() - h0) / 1e9
      heapCpuS += Jvm.cpuSeconds() - hc0
    }
    val t1 = System.nanoTime()
    val cpu1 = Jvm.cpuSeconds()
    val ticks1 = Jvm.cpuTicks()
    val stealShare = (ticks1._1 - ticks0._1).toDouble / math.max(ticks1._2 - ticks0._2, 1L)
    val measuredS = (t1 - t0) / 1e9
    // the units' own wall: output checks and heap probes left out
    val unitsS = measuredS - ctx.checkSeconds - heapS
    val gcCount = Jvm.gcCount() - gc0

    w.finalCheck()
    val calibEnd = calibrate(spark, cores)
    val loadEnd = Jvm.loadAverage()

    val detail = w.detailMetrics(unitsS)
    val storedBytesPerRow = detail.find(_._1 == "stored_bytes_per_row").map(_._2).getOrElse(0.0)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("cpu_s.per_unit", (cpu1 - cpu0 - heapCpuS) / waits.size, "s"),
      ("heap_mb.peak", heapPeakMb, "MB"),
      ("stored_bytes_per_row", storedBytesPerRow, "B/row"))

    val layer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val spans = tracer.within(t0, t1)
        val extras = w.layerExtras(spans).map(m => m._1 -> m).toMap
        SpanReport.perLayer(spans, Operators.Jobs) ++
          SpanReport.Extras.map { case (n, u) =>
          extras.getOrElse(n, (n, 0.0, u))
        }
      }

    val attempted = math.max(ctx.attempted, 1L)
    // several checks can fail on one operation; an operation fails once
    val failed = math.min(ctx.failures.size.toLong, attempted)
    val failedShare = failed.toDouble / attempted
    // wall per unit is reported, not gated: on a shared virtual machine
    // its run-to-run spread follows the hypervisor's CPU steal
    val named = detail ++ Seq(
      ("unit_s.mean", unitsS / waits.size, "s"),
      ("setup_s", setupS, "s"),
      ("failed_op_share", failedShare, "ratio"),
      ("heap_mb.peak", heapPeakMb, "MB"))
    val topCoverage =
      if (!trace) None
      else Some(tracer.within(t0, t1).filter(_.parent < 0).map(_.seconds).sum / unitsS)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "measured_s" -> measuredS, "units" -> waits.size,
      "host" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> cores, "spark_master" -> master,
        "jdbc_connections" -> (if (workload == "operators") 0 else ctx.jdbcConnections),
        "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
        "cpu_steal_share" -> stealShare,
        "calib_start_s" -> calibStart, "calib_end_s" -> calibEnd),
      "jvm_start_s" -> jvmUpS, "session_s" -> sessionS, "load_s" -> loadS, "warmup_s" -> warmupS,
      "waits_s" -> waits.toSeq, "gc_count" -> gcCount,
      "end_to_end" -> endToEnd.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)).toMap,
      "detail" -> named.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)),
      "top_span_coverage" -> topCoverage,
      "per_layer" -> layer.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)),
      "failures" -> ctx.failures.toSeq)
    if (trace) report("spans") = SpanReport.spanRecords(tracer.within(t0, t1))
    writeFile(outFile, Json.render(report) + "\n")

    named.foreach { case (n, v, u) => System.err.println(f"[graftbench] $workload%-11s $n%-26s $v%.6f $u") }
    layer.foreach { case (n, v, u) => System.err.println(f"[graftbench] $workload%-11s $n%-44s $v%.6f $u") }
    topCoverage.foreach(c => System.err.println(f"[graftbench] $workload top-level span coverage ${c * 100}%.1f%%"))

    w.close()
    spark.stop()
    val correct = ctx.failures.isEmpty
    val metrics = (if (trace) layer else endToEnd)
      .map { case (n, v, u) => n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    val line = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    println(Json.render(line))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  def writeFile(path: String, body: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Per-layer aggregation of spans: per-call means of each counter. */
object SpanReport {
  val PipelineSpans = Seq("sync.cycle", "compaction.run", "cache.agg", "cache.rows", "viz.lttb")

  /** Ratios and counts a workload reports beyond the span counters;
    * a workload that does not exercise the layer reports 0.
    */
  val Extras: Seq[(String, String)] = Seq(
    "source.rows_pulled_per_change" -> "ratio",
    "sync.partitions_rewritten_share" -> "ratio",
    "sync.bytes_written_per_change" -> "B",
    "compaction.partitions_rewritten" -> "count",
    "cache.hit_rate" -> "ratio",
    "cache.fresh_rows" -> "rows",
    "cache.slices" -> "count",
    "viz.lttb.rows_in" -> "rows")

  def perLayer(spans: Seq[Span], jobs: Seq[String]): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    def mean(ss: Seq[Span])(f: Span => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    val pipeline = PipelineSpans.flatMap { n =>
      val ss = byName.getOrElse(n, Nil)
      Seq(
        (s"$n.s", mean(ss)(_.seconds), "s"),
        (s"$n.task_s", mean(ss)(_.taskMs / 1000.0), "s"),
        (s"$n.driver_s", mean(ss)(_.driverSeconds), "s"),
        (s"$n.jobs", mean(ss)(_.jobs.toDouble), "count"),
        (s"$n.tasks", mean(ss)(_.tasks.toDouble), "count"),
        (s"$n.shuffle_bytes", mean(ss)(_.shuffleBytes.toDouble), "B"),
        (s"$n.written_bytes", mean(ss)(_.writtenBytes.toDouble), "B"),
        (s"$n.gc_ms", mean(ss)(_.gcMs.toDouble), "ms"))
    }
    val ops = jobs.flatMap { j =>
      val ss = byName.getOrElse(s"op.$j", Nil)
      Seq(
        (s"op.$j.s", mean(ss)(_.seconds), "s"),
        (s"op.$j.task_s", mean(ss)(_.taskMs / 1000.0), "s"),
        (s"op.$j.driver_s", mean(ss)(_.driverSeconds), "s"),
        (s"op.$j.shuffle_bytes", mean(ss)(_.shuffleBytes.toDouble), "B"))
    }
    pipeline ++ ops
  }

  /** Every span with its self time: duration minus what its children cover. */
  def spanRecords(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val childS = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map { s =>
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "workload" -> s.workload, "unit" -> s.unit,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "s" -> s.seconds, "self_s" -> (s.seconds - childS.getOrElse(s.id, 0.0)),
        "driver_s" -> s.driverSeconds, "task_s" -> s.taskMs / 1000.0,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "shuffle_bytes" -> s.shuffleBytes,
        "written_bytes" -> s.writtenBytes, "gc_ms" -> s.gcMs)
    }
  }
}
