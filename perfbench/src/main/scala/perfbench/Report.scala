package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile (the inclusive method), NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host and JVM readings taken around a measured phase, so a slow host
  * window shows beside the numbers it inflated.
  */
final class HostProbe {
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private val (ticks0, steal0) = cpuTicks()
  private val gc0 = gcMs()
  private val cpu0 = processCpuNs()
  private val wall0 = System.nanoTime()
  heapPools.foreach(_.resetPeakUsage())

  def readings(): Map[String, Double] = {
    val (ticks1, steal1) = cpuTicks()
    val load1 = {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    }
    Map(
      "host.steal_pct" -> 100.0 * (steal1 - steal0) / math.max(1L, ticks1 - ticks0),
      "host.load1" -> load1,
      "host.cpu_wall" -> (processCpuNs() - cpu0).toDouble / math.max(1L, System.nanoTime() - wall0),
      "jvm.gc_ms" -> (gcMs() - gc0).toDouble,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
