package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

/** A check made apart from the program failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What the workloads report through: operation counts, timed samples,
  * check failures and, in a traced run, spans. Samples and counts are
  * kept only while `timing` is on, that is in the timed phase. */
final class Recorder(val tracer: Option[Tracer]) {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  var timing = false
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  /** CPU time of every live Java thread: the calling thread, Spark's task
    * threads and the rest. The JVM's JIT compiler and GC threads are not
    * Java threads and are left out: in a run this short their CPU is
    * mostly warm-up, and it moved a whole-process figure by a third from
    * one run to the next. */
  def cpuNanos: Long = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum

  /** A call into the program; a span of `kind` when traced. */
  def call[T](kind: String, listing: Option[Path] = None)(body: => T): T = tracer match {
    case Some(t) if timing => t.span(kind, listing)(body)
    case _ => body
  }

  /** Time `body` as one sample of `wall` and, if given, of `cpu`. */
  def timed[T](wall: String, cpu: String = "")(body: => T): T = {
    val c0 = cpuNanos
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    val c1 = cpuNanos
    if (timing) {
      add(wall, (t1 - t0) / 1e6)
      if (cpu.nonEmpty) add(cpu, (c1 - c0) / 1e6)
    }
    r
  }

  /** Rows the call that just ended returned, for read-amplification ratios. */
  def outputRows(n: Long): Unit =
    if (timing) tracer.flatMap(_.spans.lastOption).foreach(_.outputRows = n)

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One operation. It fails when it throws, a failed check included. */
  def operation(kind: String)(body: => Unit): Unit = {
    if (timing) attempted += 1
    try call(s"op.$kind")(body)
    catch {
      case NonFatal(e) =>
        if (timing) failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      mismatches += what
      throw new CheckFailed(what)
    }
}
