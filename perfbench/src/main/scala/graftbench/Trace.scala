package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer. The listener charges Spark work
  * submitted while the span was the innermost active one.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val workload: String, val unit: String, val startNs: Long) {
  var endNs: Long = -1L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var writtenBytes = 0L
  var gcMs = 0L
  /** (launch, finish) of each task, epoch millis. */
  val taskWindows = mutable.ArrayBuffer[(Long, Long)]()
  var startMs: Long = 0L
  var endMs: Long = 0L

  def seconds: Double = (endNs - startNs) / 1e9

  /** Span wall time during which none of its tasks ran. */
  def driverSeconds: Double = {
    val clipped = taskWindows.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, seconds - covered / 1000.0)
  }
}

/** Span recorder. With tracing off, `span` only runs its body: the
  * workloads time themselves, so untraced runs pay nothing here.
  */
final class Tracer(sc: SparkContext, val workload: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil

  def lookup(id: String): Option[Span] =
    Option(id).flatMap(s => Option(byId.get(s.toInt)))

  def span[A](name: String, unit: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = synchronized {
        val sp = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
          workload, unit, System.nanoTime())
        sp.startMs = System.currentTimeMillis()
        spans += sp
        byId.put(sp.id, sp)
        sp
      }
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Spans that began inside [t0, t1] (nanoTime). */
  def within(t0: Long, t1: Long): Seq[Span] =
    synchronized(spans.toSeq).filter(s => s.startNs >= t0 && s.endNs <= t1 && s.endNs > 0)
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Charges jobs, tasks, bytes and GC to the span active at submission. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => tracer.lookup(p.getProperty(Tracer.Prop)))
    span.foreach { s =>
      s.synchronized { s.jobs += 1 }
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      s.taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.writtenBytes += m.outputMetrics.bytesWritten
        s.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Rows produced by JDBC scan operators, from the executed plans'
  * SQL metrics; each scan node counts once, including scans inside
  * cached plans that several queries read.
  */
final class JdbcRowsListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  private var total = 0L

  def rows: Long = synchronized(total)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(visit(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def visit(plan: SparkPlan): Unit = collectWithSubqueries(plan) { case p => p }.foreach {
    case s: RowDataSourceScanExec if s.relation.getClass.getSimpleName == "JDBCRelation" =>
      if (seen.add(s)) total += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
    case _ => ()
  }
}
