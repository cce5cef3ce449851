package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Samples needed before the q-th percentile is reported: at least
    * `minBeyond` samples must lie above it, so a p90 needs 100. */
  def samplesNeeded(q: Double, minBeyond: Int = 10): Int =
    math.ceil(minBeyond / (1.0 - q) - 1e-9).toInt

  /** Nearest-rank percentile, or None when too few samples lie beyond
    * it for the number to mean anything (see [[samplesNeeded]]). */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.size < samplesNeeded(q, minBeyond)) None
    else {
      val s = xs.sorted
      Some(s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1)))
    }
}

/** What the host and this JVM were doing while a pass ran. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val comp = ManagementFactory.getCompilationMXBean
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def loadavg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (idle + iowait, total) jiffies over all cores. */
  def procStat(): (Long, Long) =
    try {
      val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (cpu(3) + cpu(4), cpu.sum)
    } catch { case _: Exception => (0L, 0L) }

  def processCpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = comp.getTotalCompilationTime
  /** Generated classes Janino has compiled in this JVM so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMib(): Double =
    try {
      val kb = new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong
      kb / 1024.0
    } catch { case _: Exception => -1.0 }

  /** A window over which the host's external load is measured: busy
    * cores from /proc/stat minus this process's own CPU, the same
    * arithmetic graft.Bench uses per sample, plus the 1-minute loadavg. */
  final class Window {
    private val (idle0, tot0) = procStat()
    private val cpu0 = processCpuNs()
    private val la0 = loadavg1()
    private val gc0 = gcMs()
    private val jit0 = jitMs()
    private val cg0 = codegenCompiles()
    private val t0 = System.nanoTime()

    def close(): Load = {
      val wallNs = System.nanoTime() - t0
      val (idle1, tot1) = procStat()
      val busy = if (tot1 > tot0) (1.0 - (idle1 - idle0).toDouble / (tot1 - tot0)) * cores else 0.0
      val self = (processCpuNs() - cpu0).toDouble / wallNs
      Load(wallNs / 1e9, math.max(0.0, busy - self), math.max(la0, loadavg1()), self,
        (gcMs() - gc0) / 1e3, (jitMs() - jit0) / 1e3, codegenCompiles() - cg0)
    }
  }

  final case class Load(wallS: Double, extBusyCores: Double, loadavg1: Double,
      selfCores: Double, gcS: Double, jitS: Double, codegenCompiles: Long)
}
