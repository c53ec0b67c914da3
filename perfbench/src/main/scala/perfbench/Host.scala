package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host conditions read from /proc: CPU steal and load around a timed
  * pass, and this JVM's peak resident memory. */
object Host {

  final case class Sample(steal: Long, total: Long, load1: Double)

  def sample(): Sample = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    val load1 = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    Sample(if (cpu.length > 7) cpu(7) else 0L, cpu.sum, load1)
  }

  def between(a: Sample, b: Sample): Map[String, Any] = Map(
    "steal_frac" -> (b.steal - a.steal).toDouble / math.max(1L, b.total - a.total),
    "load1" -> b.load1)

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
