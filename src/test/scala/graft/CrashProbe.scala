package graft

import org.apache.spark.sql.SparkSession

import graft.store.{Collection, GraftStore, StoreFs}

/** The forked-JVM half of the crash-kill durability proof
  * (CrashKillSpec). Installs the commit-protocol seam hooks so the
  * process HALTS — `Runtime.halt`, the in-process kill -9: no shutdown
  * hooks, no finally blocks, no buffered-stream flushes — at the named
  * seam of a second commit over a store the parent prepared. The
  * parent then verifies the recovery invariants on what the dead
  * process left on disk. args: rootUri seamSubstring mode. */
object CrashProbe {
  def main(args: Array[String]): Unit = {
    val Array(rootUri, seam, mode) = args.take(3)
    val halt: String => Unit = name =>
      if (name.contains(seam)) {
        println(s"[probe] halting at $name"); System.out.flush()
        Runtime.getRuntime.halt(137)
      }
    Collection.commitSeamHook = halt
    StoreFs.swapSeamHook = t => halt(s"swap_mid:$t")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val c = GraftStore.at(spark, rootUri).collection("c")
    mode match {
      case "write" => // full rewrite of the flat item the parent wrote
        val df = (1 to 50).map(i => (i + 1000, 9.0)).toDF("index", "value")
        c.write("it", df, indexCols = Seq("index"), overwrite = true)
      case "delete" => // journaled item delete
        c.deleteItem("it")
      case m if m.startsWith("race_append:") =>
        // one side of the two-process writer race: a burst of appends
        // to the SAME item both probes hammer — each batch's index
        // values are writer-distinct so the parent can count exactly
        // which commits survived (invariant: ALL of them)
        val Array(_, tagS, batchesS) = m.split(":")
        val tag = tagS.toInt
        for (b <- 0 until batchesS.toInt) {
          val base = 100000 + tag * 10000 + b * 100
          val df = (0 until 20).map(i => (base + i, tag.toDouble))
            .toDF("index", "value")
          c.append("rit", df)
        }
      case m if m.startsWith("race_props:") =>
        // sidecar read-modify-write race: both probes hammer
        // setItemProperties on the same item — without the
        // cross-process lock around the DDL RMW, interleaved
        // read→write drops the other writer's keys silently
        val Array(_, tagS, nS) = m.split(":")
        for (i <- 0 until nS.toInt)
          c.setItemProperties("it", Map(s"k_${tagS}_$i" -> s"v$i"))
      case m if m.startsWith("pair_append:") =>
        // lockstep two-item writer for the SNAPSHOT-CUT race: each
        // round appends one batch to item "a" THEN one to item "b".
        // At any on-disk instant gen(a) ∈ {gen(b), gen(b)+1} — a
        // point-in-time cut can never pin b AHEAD of a. The parent
        // captures manifests concurrently and asserts that invariant
        // on every one; without the capture holding the item locks, a
        // cut reading a's pin before a round and b's pin after it
        // records gen(b) > gen(a).
        val Array(_, roundsS) = m.split(":")
        for (r <- 0 until roundsS.toInt; it <- Seq("a", "b")) {
          val df = (0 until 5).map(i => (1000 + r * 10 + i, r.toDouble))
            .toDF("index", "value")
          c.append(it, df)
        }
      case "txn_exclusive" =>
        // an exclusive two-item transaction for the kill-mid-txn arm:
        // the parent's seam (txn_op_done:a) halts this process AFTER
        // item a's op committed but BEFORE item b's — with both item
        // locks held. The parent verifies the crash surface: a's
        // commit whole, b untouched, locks leaked (operator remedy),
        // the __txn_ pin alive for manual rollback.
        val txn = new graft.transactions.Transaction(c, exclusive = true)
        txn.append("a", (0 until 5).map(i => (7000 + i, 7.0)).toDF("index", "value"))
        txn.append("b", (0 until 5).map(i => (7000 + i, 7.0)).toDF("index", "value"))
        txn.commit()
      case m if m.startsWith("snap_cuts:") =>
        // snapshot-cut loop for the EXCLUSIVE-transaction race: capture
        // manifest cuts from THIS process while the parent runs
        // exclusive two-item transactions; each capture acquires every
        // item's cross-process lock, so it must serialize to before or
        // after a whole transaction — the parent asserts every cut pins
        // EQUAL commit ordinals for the two items.
        val Array(_, countS, sleepS) = m.split(":")
        for (i <- 0 until countS.toInt) {
          c.createSnapshot(Some(s"xcut_$i"), manifest = Some(true))
          Thread.sleep(sleepS.toLong)
        }
      case m if m.startsWith("race_monthly:") =>
        // the monthly spelling: every batch lands in February, so both
        // probes rewrite the SAME period dir through the period publish's
        // fence + intent journal; stamps are writer-and-batch-distinct
        // (hour = writer, minute = batch)
        val Array(_, tagS, batchesS) = m.split(":")
        val tag = tagS.toInt
        for (b <- 0 until batchesS.toInt) {
          val df = (0 until 20).map(i =>
            (java.sql.Timestamp.valueOf(java.time.LocalDate.parse("2024-02-01")
              .plusDays(i).atTime(tag, b)), tag.toDouble))
            .toDF("index", "value")
          c.append("mit", df)
        }
      case "append_monthly" => // partial commit touching only 2024-02
        val start = java.time.LocalDate.parse("2024-02-10")
        // noon stamps: the parent's rows sit at midnight, so these are
        // NEW index values (the append's dedup must not drop them)
        val df = (0 until 10).map(i =>
          (java.sql.Timestamp.valueOf(start.plusDays(i).atTime(12, 0)), 9.0))
          .toDF("index", "value")
        c.append("mit", df)
      case other => sys.error(s"unknown probe mode '$other'")
    }
    // contention meter for the sustained-liveness arms: how many
    // fence/torn-read retries this writer took to land all its commits
    println(s"[probe] RETRIES=${Collection.conflictRetries.get()}")
    println("[probe] COMPLETED") // reached only when no seam matched
    spark.stop()
    sys.exit(0)
  }
}
