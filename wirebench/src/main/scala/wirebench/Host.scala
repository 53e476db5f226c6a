package wirebench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Host health, sampled at the start and end of every run so a
  * degraded window (a busy neighbour, a throttled CPU) shows.
  */
object Host {
  /** Fixed CPU work: a calibration loop whose time tracks CPU speed. */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 20000000) { x = Stats.mix(x, i); i += 1 }
    if (x == 42L) println() // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  def load1: Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
      .getOrElse(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)

  /** Aggregate CPU jiffies from /proc/stat: (steal, total). */
  def cpuTimes: (Long, Long) =
    Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))

  def sample(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "load1" -> load1,
    "calibration_ms" -> calibrationMs())

  /** Share of CPU time the hypervisor took from this guest since `from`. */
  def stealPct(from: (Long, Long)): Double = {
    val (s, t) = cpuTimes
    if (t == from._2) 0.0 else 100.0 * (s - from._1) / (t - from._2)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}
