package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics as the last line of stdout.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The run sets the workload up `SetUps` times, each in a fresh store, and
  * reports the median set-up CPU time; on the last store it then runs the
  * workload's untimed warm-up rounds and whole timed rounds until
  * `--seconds` have passed, checks the state they left, and reports
  * medians of the timed samples. */
object Main {
  val SetUps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
    require(Workload.Names.contains(a.workload),
      s"unknown workload ${a.workload} (one of ${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** Half the host's cores: the driver thread, the collector and the
    * listener keep room, and the scheduler can move a task off a core the
    * hypervisor is stealing from, which keeps host steal from stretching
    * every stage. */
  val Cores: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

  def session(work: Path): SparkSession = {
    val cpus = Cores
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val started = System.nanoTime()
    Files.createDirectories(args.work)
    val spark = session(args.work)
    try run(args, spark, (System.nanoTime() - started) / 1e9)
    finally spark.stop()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def run(args: Args, spark: SparkSession, sessionSeconds: Double): Unit = {
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val workload = Workload(args.workload, spark, args.seed, rec)

    // (wall, CPU) seconds of each set-up
    val setUps = (0 until SetUps).map { rep =>
      val dir = args.work.resolve(s"store$rep")
      if (rep > 0) deleteTree(args.work.resolve(s"store${rep - 1}"))
      val c0 = rec.cpuNanos
      val t0 = System.nanoTime()
      workload.setUp(dir)
      ((System.nanoTime() - t0) / 1e9, (rec.cpuNanos - c0) / 1e9)
    }
    val storeDir = args.work.resolve(s"store${SetUps - 1}")
    val w0 = System.nanoTime()
    (1 to workload.warmUpRounds).foreach(i => workload.round(-i))
    val warmUp = (System.nanoTime() - w0) / 1e9

    val host0 = Host.sample()
    val gc0 = gcMillis
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    rec.timing = true
    var rounds = 0
    do { workload.round(rounds); rounds += 1 } while (System.nanoTime() < deadline)
    rec.timing = false
    val measured = (System.nanoTime() - t0) / 1e9
    val gcMs = gcMillis - gc0
    val host1 = Host.sample()
    val cachedBlocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

    try workload.finish()
    catch { case _: CheckFailed => () } // recorded in rec.mismatches
    val storeBytes = Tracer.list(storeDir).values.sum
    // the pauses let Spark's context cleaner drop what the first
    // collection left only weakly reachable (broadcasts, shuffles)
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    def med(name: String) = Stats.median(rec.samples(name).toSeq)
    // Time figures are CPU time: on a host whose steal drifts, wall-time
    // medians followed the steal (they are in the info line); CPU time
    // moved a third as much and still counts every change in work done.
    val endToEnd = Seq(
      "setup_s" -> (Stats.median(setUps.map(_._2)), "s"),
      "op_cpu_ms" -> (med("op_cpu_ms"), "ms"),
      "read_cpu_ms" -> (med("read_cpu_ms"), "ms"),
      "bytes_per_user_byte" -> (storeBytes.toDouble / workload.userBytes, "ratio"),
      "heap_after_gc_mb" -> (heapMb, "MB"))

    val shares = for (a <- host0; b <- host1) yield Host.shares(a, b)
    val info = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "traced" -> args.trace,
      "rounds" -> rounds, "measured_s" -> measured, "session_start_s" -> sessionSeconds,
      "setup_wall_s" -> setUps.map(_._1), "setup_cpu_s" -> setUps.map(_._2),
      "warm_up_s" -> warmUp,
      "samples" -> rec.samples.map { case (k, v) => k -> v.size }.toMap,
      "samples_ms" -> rec.samples.map { case (k, v) => k -> v.map(x => math.rint(x * 10) / 10) }.toMap,
      "medians_ms" -> rec.samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
      "quartiles_ms" -> rec.samples.collect { case (k, v) if v.size >= 2 =>
        val (q1, q2, q3) = Stats.quartiles(v.toSeq)
        k -> Seq(q1, q2, q3)
      }.toMap,
      "p90_ms" -> rec.samples.flatMap { case (k, v) => Stats.tail(v.toSeq, 0.9).map(k -> _) }.toMap,
      "steal_share" -> shares.map(_._1), "other_busy_share" -> shares.map(_._2), "load_avg_1m" -> Host.loadAverage(),
      "gc_ms" -> gcMs, "mismatches" -> rec.mismatches.take(5).toSeq)
    println("info " + Json.obj(info: _*))

    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        t.drain()
        t.write(args.work.getParent.resolve("trace").resolve(s"${args.workload}-seed${args.seed}.jsonl"))
        val layers = Layers.metrics(t, cachedBlocks, gcMs.toDouble / math.max(1L, rec.attempted))
        Layers.printSummary(t)
        layers.foreach { case (n, (v, u)) => println(f"layer $n%-34s $v%14.3f $u") }
        layers
    }
    println(Json.obj(
      "correct" -> rec.mismatches.isEmpty,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*))))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
