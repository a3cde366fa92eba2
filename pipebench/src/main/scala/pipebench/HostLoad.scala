package pipebench

import java.lang.management.ManagementFactory
import scala.io.Source
import scala.util.Try

/** Ambient load over a phase, recorded with every run and never used to
  * adjust a metric: CPU that processes other than this one used, and
  * the share of CPU time the hypervisor stole, both from /proc/stat.
  */
final case class HostSample(wallNanos: Long, busyTicks: Long, stealTicks: Long,
                            totalTicks: Long, ownCpuNanos: Long)

object HostLoad {
  private val TicksPerSecond = 100.0

  def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def sample(): HostSample = {
    // cpu user nice system idle iowait irq softirq steal ...
    val f = Try {
      val src = Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    }.getOrElse(Array.fill(8)(0L))
    val total = f.take(8).sum
    val idle = f(3) + f(4)
    HostSample(System.nanoTime(), total - idle, f(7), total, processCpuNanos())
  }

  /** other_cpu_cores: cores busy outside this process on average;
    * steal_frac: stolen share of all CPU time.
    */
  def between(a: HostSample, b: HostSample): Map[String, Double] = {
    val wall = (b.wallNanos - a.wallNanos) / 1e9
    val busy = (b.busyTicks - a.busyTicks) / TicksPerSecond
    val own = (b.ownCpuNanos - a.ownCpuNanos) / 1e9
    val total = (b.totalTicks - a.totalTicks).toDouble
    Map(
      "wall_s" -> wall,
      "own_cpu_s" -> own,
      "other_cpu_cores" -> (if (wall > 0) math.max(0.0, busy - own) / wall else 0.0),
      "steal_frac" -> (if (total > 0) (b.stealTicks - a.stealTicks) / total else 0.0))
  }
}
