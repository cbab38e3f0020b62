package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the program, one span per
  * Spark job, and directory listings around store writes. Everything is
  * kept in memory and written out at the end of the run.
  *
  * A job's parent is the span open on the calling thread when the job
  * started: the span id rides a Spark local property, which the job-start
  * event carries and which threads spawned by the calling thread inherit. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0L
  private var open: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var sawEnd = false

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      if (parent.contains(EndMarker)) return
      val j = new Job(e.jobId, parent.map(_.toLong).getOrElse(0L), e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)) match {
        case Some(j) => j.endMs = e.time
        case None => sawEnd = true // only the end marker is not recorded
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
            j.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  })

  /** Run `body` inside a span of `kind`. With `listing`, the directory is
    * listed before and after, outside the span, and the files the call
    * created or changed are counted on it. */
  def span[T](kind: String, listing: Option[Path] = None)(body: => T): T = {
    val before = listing.map(Tracer.list)
    nextId += 1
    val s = new Span(nextId, open.headOption.fold(0L)(_.id), kind)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    open ::= s
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, prev)
      spans += s
      for (b <- before; root <- listing) {
        val after = Tracer.list(root)
        val changed = after.filter { case (p, size) => !b.get(p).contains(size) }
        s.filesWritten = changed.size
        s.bytesWritten = changed.values.sum
      }
    }
  }

  /** Wait until the listener has seen every job started so far: a marker
    * job's end event arrives after every earlier event. */
  def drain(): Unit = {
    sc.setLocalProperty(Prop, EndMarker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Prop, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sawEnd && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Per-span rollups of the jobs under it (its own and its descendants'). */
  def rollups(): Map[Long, Rollup] = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = allJobs.groupBy(_.span)
    def subtree(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).toSeq.flatMap(c => subtree(c.id))
    spans.map { s =>
      val js = subtree(s.id).flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val inJobs = coveredMs(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      val own = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
      s.id -> Rollup(js.size, js.map(_.tasks).sum, inJobs,
        math.max(0.0, s.durationMs - inJobs), js.map(_.shuffleBytes).sum,
        js.map(_.inputBytes).sum, js.map(_.inputRecords).sum,
        math.max(0.0, s.durationMs - coveredMs(own.toSeq, s.startMs, s.endMs)))
    }.toMap
  }

  /** Spans and jobs as JSON lines. */
  def write(out: Path): Unit = {
    Files.createDirectories(out.getParent)
    val roll = rollups()
    val lines = spans.sortBy(_.id).map { s =>
      val r = roll(s.id)
      Json.obj("type" -> "span", "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "start_ms" -> s.startMs, "duration_ms" -> s.durationMs, "self_ms" -> r.selfMs,
        "jobs" -> r.jobs, "tasks" -> r.tasks, "files_written" -> s.filesWritten,
        "bytes_written" -> s.bytesWritten, "output_rows" -> s.outputRows)
    } ++ allJobs.map { j =>
      Json.obj("type" -> "job", "id" -> j.id, "parent" -> j.span, "start_ms" -> j.startMs,
        "duration_ms" -> (j.endMs - j.startMs), "tasks" -> j.tasks,
        "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes,
        "input_records" -> j.inputRecords)
    }
    Files.write(out, lines.asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"
  private val EndMarker = "end"

  final class Span(val id: Long, val parent: Long, val kind: String) {
    var startMs, endMs, startNs, endNs = 0L
    var filesWritten = 0L
    var bytesWritten = 0L
    var outputRows = 0L
    def durationMs: Double = (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = startMs
    var tasks, shuffleBytes, inputBytes, inputRecords = 0L
  }

  final case class Rollup(jobs: Int, tasks: Long, inJobsMs: Double, outsideJobsMs: Double,
                          shuffleBytes: Long, inputBytes: Long, inputRecords: Long,
                          selfMs: Double)

  /** Length of the union of `intervals` clipped to [from, until]. */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, until: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }

  /** Every regular file under `root` with its size. */
  def list(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
}
