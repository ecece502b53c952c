package perfbench

import scala.jdk.CollectionConverters._

/** The run's own noise record: host CPU shares over the timed window (the
  * aggregate `cpu` line of /proc/stat, as graft.Bench reads it), JVM GC
  * time, and peak resident memory. */
object Host {

  /** Steal above this share of the timed window marks the run as noisy. */
  val NoisyStealPct = 5.0

  final case class Cpu(total: Long, idle: Long, steal: Long)

  def cpu(): Cpu = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Cpu(f.sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case _: Exception => Cpu(0L, 0L, 0L) }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set (VmHWM) of this JVM in MB; heap committed if the
    * proc file is absent. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } finally src.close()
  } catch { case _: Exception =>
    Runtime.getRuntime.totalMemory().toDouble / (1 << 20)
  }

  /** CPU and GC over one window: start it, run, then `stop()`. */
  final class Window {
    private val c0 = cpu()
    private val g0 = gcMs()
    def stop(): Map[String, Double] = {
      val c1 = cpu()
      val dt = math.max(1L, c1.total - c0.total).toDouble
      val idle = 100.0 * (c1.idle - c0.idle) / dt
      val steal = 100.0 * (c1.steal - c0.steal) / dt
      Map(
        "host.cpu_busy_pct" -> (100.0 - idle - steal),
        "host.idle_pct" -> idle,
        "host.steal_pct" -> steal,
        "jvm.gc_s" -> (gcMs() - g0) / 1000.0)
    }
  }
}
