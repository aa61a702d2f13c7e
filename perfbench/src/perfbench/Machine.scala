package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Machine and JVM stamps written into every run record, so that a run
  * measured in a noisy window shows it in its own numbers: load
  * average, CPU steal share, a fixed calibration loop, peak RSS and
  * JVM heap and JIT totals.
  */
object Machine {
  private def readProc(name: String): Option[String] =
    try Some(Files.readString(Paths.get("/proc", name))) catch { case _: Exception => None }

  /** 1-minute load average, or -1 when /proc is unavailable. */
  def loadAvg1m(): Double =
    readProc("loadavg").map(_.split(' ')(0).toDouble).getOrElse(-1.0)

  /** Aggregate cpu jiffies from /proc/stat (user … steal). */
  def cpuJiffies(): Array[Long] =
    readProc("stat").map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])

  /** Steal share (%) of the interval between two [[cpuJiffies]] samples. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val d = a.zip(b).map { case (x, y) => y - x }
      100.0 * d(7) / math.max(d.sum.toDouble, 1.0)
    }

  /** Wall time (ms) of a fixed single-thread integer mix of 50 M steps.
    * It rises when the machine is slower than usual for reasons outside
    * the program (co-tenants, throttling).
    */
  def calibMs(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 50000000L) {
      h = java.lang.Long.rotateLeft(h ^ (i * 0xC2B2AE3D27D4EB4FL), 31) * 0x9E3779B185EBCA87L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) Console.err.println(h) // keeps the loop observable
    ms
  }

  /** Peak resident set size of this process (VmHWM) in MB. */
  def peakRssMb(): Double =
    readProc("self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  def jitMs(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(-1.0)

  /** Seconds since this JVM started. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
