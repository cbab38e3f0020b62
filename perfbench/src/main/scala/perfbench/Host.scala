package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Host noise over an interval, read from /proc: the share of CPU time
  * the hypervisor stole, the share other processes kept busy, and the
  * one-minute load average at the end. Absent on hosts without /proc. */
object Host {

  final case class Sample(total: Long, idle: Long, steal: Long, own: Long)

  def sample(): Option[Sample] = Try {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]:
    // guest time is already counted in user and nice
    val total = cpu.take(8).sum
    val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    // fields after the parenthesised command name; utime and stime are
    // fields 14 and 15 of the whole line
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Sample(total, cpu(3) + cpu(4), cpu(7), rest(11).toLong + rest(12).toLong)
  }.toOption

  def loadAverage(): Option[Double] =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble).toOption

  /** (steal share, other-process busy share) between two samples. */
  def shares(a: Sample, b: Sample): (Double, Double) = {
    val total = math.max(1L, b.total - a.total)
    val steal = (b.steal - a.steal).toDouble / total
    val busy = total - (b.idle - a.idle) - (b.steal - a.steal)
    val other = math.max(0L, busy - (b.own - a.own)).toDouble / total
    (steal, other)
  }
}
