package perfbench

/** Per-layer metrics of a traced run, each the median over the spans of
  * one kind of call. A kind the workload does not call reads 0. */
object Layers {
  type Metric = (String, (Double, String))

  def metrics(t: Tracer, cachedBlocks: Long, gcMsPerOp: Double): Seq[Metric] = {
    val roll = t.rollups()
    def over(kind: String)(f: (Tracer.Span, Tracer.Rollup) => Double): Double = {
      val xs = t.spans.filter(_.kind == kind).map(s => f(s, roll(s.id))).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def duration(kind: String) = over(kind)((s, _) => s.durationMs)
    val append = "store.append"
    Seq(
      "store.append.jobs" -> (over(append)((_, r) => r.jobs), "count"),
      "store.append.tasks" -> (over(append)((_, r) => r.tasks), "count"),
      "store.append.in_jobs_ms" -> (over(append)((_, r) => r.inJobsMs), "ms"),
      "store.append.outside_jobs_ms" -> (over(append)((_, r) => r.outsideJobsMs), "ms"),
      "store.append.shuffle_bytes" -> (over(append)((_, r) => r.shuffleBytes), "B"),
      "store.append.files_written" -> (over(append)((s, _) => s.filesWritten), "count"),
      "store.append.bytes_written" -> (over(append)((s, _) => s.bytesWritten), "B"),
      "store.check_read_ms" -> (duration("store.check_read"), "ms"),
      "store.list_items_ms" -> (duration("store.list_items"), "ms"),
      "store.read.plan_ms" -> (duration("store.read.plan"), "ms"),
      "store.read.exec_ms" -> (duration("store.read.exec"), "ms"),
      "store.read.bytes_read" -> (over("store.read.exec")((_, r) => r.inputBytes), "B"),
      "store.read.rows_read_per_row" -> (over("store.read.exec")((s, r) =>
        r.inputRecords.toDouble / math.max(1L, s.outputRows)), "ratio"),
      "sources.scan.plan_ms" -> (duration("sources.scan.plan"), "ms"),
      "sources.scan.exec_ms" -> (duration("sources.scan.exec"), "ms"),
      "sources.scan.bytes_read" -> (over("sources.scan.exec")((_, r) => r.inputBytes), "B"),
      "operators.probe_ms" -> (duration("operators.probe"), "ms"),
      "store.doc_append_ms" -> (duration("store.doc_append"), "ms"),
      "operators.minhash_append_ms" -> (duration("operators.minhash_append"), "ms"),
      "operators.ivf_append_ms" -> (duration("operators.ivf_append"), "ms"),
      "operators.search_ms" -> (duration("operators.search"), "ms"),
      "operators.batch.jobs" -> (over("op.batch")((_, r) => r.jobs), "count"),
      "operators.batch.shuffle_bytes" -> (over("op.batch")((_, r) => r.shuffleBytes), "B"),
      "spark.cached_blocks" -> (cachedBlocks.toDouble, "count"),
      "jvm.gc_ms" -> (gcMsPerOp, "ms"))
  }

  /** Count, median duration, median self time and median jobs of every
    * kind of span. */
  def printSummary(t: Tracer): Unit = {
    val roll = t.rollups()
    t.spans.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      def med(f: Tracer.Span => Double) = Stats.median(ss.map(f).toSeq)
      println(f"span $kind%-26s n=${ss.size}%4d  ms=${med(_.durationMs)}%10.2f" +
        f"  self_ms=${med(s => roll(s.id).selfMs)}%10.2f  jobs=${med(s => roll(s.id).jobs)}%6.1f")
    }
  }
}
