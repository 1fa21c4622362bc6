package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The tail: the highest percentile with at least 10 samples beyond
    * it. Below 20 samples no percentile >= 50 qualifies; the median is
    * reported then and `beyond` says how thin the tail is.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    val pct = math.max(50, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)
    val beyond = math.round(n * (1.0 - pct / 100.0)).toInt
    (percentile(xs, pct), pct, beyond)
  }
}

/** Minimal JSON rendering for the result line and the detail files. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (k, x) => render(Seq(k, x))
    case other => render(other.toString)
  }
}

/** Process CPU, heap occupancy and the machine's CPU steal. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  def loadAverage(): Double = os.getSystemLoadAverage

  /** (steal, total) CPU ticks of the machine from /proc/stat, (0, 0)
    * where there is none. Steal is time the hypervisor gave this
    * machine's virtual CPUs to another guest.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
              finally src.close()
      (if (v.length == 8) v(7) else 0L, v.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Heap occupancy in MB right after a full collection: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).filter(_ > 0).sum
}
