package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Process and host probes, plus the small statistics the report uses. */
object Probe {

  /** This JVM's cumulative CPU seconds (all threads: tasks, GC, JIT). */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** CPU seconds of this JVM's JIT compiler threads, from /proc/self/task. */
  def jitCpuS(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) return 0.0
    tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        if (!comm.startsWith("C1 Comp") && !comm.startsWith("C2 Comp")) 0L
        else {
          val st = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case _: Exception => 0L }
    }.sum / 100.0
  }

  /** (steal, total, busy) jiffies of the aggregate cpu line of
    * /proc/stat; busy excludes idle, iowait, steal and guest time.
    */
  def procStat(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      def at(i: Int) = if (f.length > i) f(i) else 0L
      (at(7), f.sum, f.sum - at(3) - at(4) - at(7) - at(8) - at(9))
    } catch { case _: Exception => (0L, 0L, 0L) }

  /** Host noise over a window: cores busy with work that is not this
    * JVM (co-tenants), and the share of host time stolen from this guest.
    */
  final case class Noise(extCores: Double, stealPct: Double)

  final class Window {
    private val (steal0, total0, busy0) = procStat()
    private val cpu0 = processCpuS()
    private val t0 = System.nanoTime()

    def close(): Noise = {
      val (steal1, total1, busy1) = procStat()
      val wall = math.max((System.nanoTime() - t0) / 1e9, 1e-3)
      val own = processCpuS() - cpu0
      // USER_HZ = 100 jiffies per second
      Noise(math.max(0.0, (busy1 - busy0) / 100.0 - own) / wall,
        if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0)
    }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    require(s.nonEmpty, "percentile of no samples")
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
}
