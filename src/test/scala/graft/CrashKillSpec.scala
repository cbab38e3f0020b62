package graft

import java.nio.file.Files

import graft.store._

/** Cross-process crash-kill durability proof: a FORKED JVM
  * (CrashProbe) runs a second commit over a prepared store and halts
  * itself — the kill -9 equivalent, no cleanup of any kind — at a
  * named seam of the commit protocol; this parent then verifies, on
  * the bytes the dead process left behind, the three invariants the
  * protocol claims:
  *   1. the PRE-commit state serves after `vacuum()` (whose swap
  *      repair restores interrupted renames — full-commit backups and
  *      intent-journaled partial-month swaps both);
  *   2. staging/backup leftovers are reclaimed;
  *   3. the commit log never carries a PHANTOM entry — the sidecar
  *      (and its history entry) is written only after the data landed,
  *      so an unpublished commit leaves no trace and a published one
  *      serves its data.
  * In-JVM thread tests (TransactionAsyncSpec) cannot prove this: only
  * a real process death skips finally blocks and catch handlers.
  * Covers the POSIX backend at every seam and the Hadoop backend at
  * the two rename-window seams. */
class CrashKillSpec extends SparkSpec {
  import spark.implicits._

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Launch CrashProbe (same classpath as this forked test JVM)
    * without waiting — the two-process race arms run several live at
    * once. A watchdog kills a probe that never reaches its seam so it
    * fails the test instead of hanging the suite. */
  private def forkStart(rootUri: String, seam: String, mode: String): Process = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(java) ++ addOpens ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"),
      "graft.CrashProbe", rootUri, seam, mode)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val killer = new Thread(() => {
      if (!p.waitFor(300, _root_.java.util.concurrent.TimeUnit.SECONDS))
        p.destroyForcibly()
    })
    killer.setDaemon(true); killer.start()
    p
  }

  /** Collect a launched probe: (exitCode, combined output).
    * (readAllBytes blocks until the child's stream closes.) */
  private def drain(p: Process): (Int, String) = {
    val out = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    (code, out)
  }

  /** Fork CrashProbe and wait for it to halt. */
  private def fork(rootUri: String, seam: String, mode: String): (Int, String) =
    drain(forkStart(rootUri, seam, mode))

  private def flatFrame(n: Int) =
    (1 to n).map(i => (i, 1.0)).toDF("index", "value")

  private def monthlyFrame(startDay: String, days: Int) = {
    val start = java.time.LocalDate.parse(startDay)
    (0 until days).map(i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), 1.0))
      .toDF("index", "value")
  }

  /** Fresh store with a 40-row flat item and a Jan+Feb monthly item. */
  private def prepare(hadoop: Boolean): String = {
    val dir = Files.createTempDirectory("graft_crash")
    val uri = if (hadoop) "file://" + dir.toString else dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.write("it", flatFrame(40), indexCols = Seq("index"))
    c.write("mit", monthlyFrame("2024-01-01", 60), monthlyLayout = true)
    uri
  }

  private def coll(uri: String) = GraftStore.at(spark, uri).collection("c")
  private def histSize(c: Collection, item: String): Int =
    History.entriesOf(Meta.read(c.path.resolve(item))).size

  private def crashCase(seam: String, mode: String, hadoop: Boolean = false)
                       (verify: (Collection, String) => Unit): Unit = {
    val uri = prepare(hadoop)
    val (code, out) = fork(uri, seam, mode)
    assert(code == 137, s"probe must die AT the seam, got rc=$code:\n$out")
    assert(out.contains(s"halting at"), out)
    assert(!out.contains("COMPLETED"), s"probe finished without hitting seam $seam")
    verify(coll(uri), out)
    // whatever the seam, the store must accept new commits afterward
    val c2 = coll(uri)
    c2.append("it", (900 to 905).map(i => (i, 5.0)).toDF("index", "value"))
    assert(c2.item("it").data.count() > 0)
  }

  test("an EXCEPTION between a month's two renames rolls the in-flight month back in-process") {
    // the kill arms cover process death; this covers the throwing
    // failure mode (an I/O error mid-swap): the catch must restore the
    // month that was moved aside but not yet replaced — the swapped
    // list alone misses it, and pre-round-12 its aside was then
    // deleted as junk (data loss)
    val dir = Files.createTempDirectory("graft_crash_throw")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("mit", monthlyFrame("2024-01-01", 60), monthlyLayout = true)
    Collection.commitSeamHook = name =>
      if (name == "month_aside:mit:2024-02") throw new RuntimeException("induced I/O failure")
    try {
      val e = intercept[StorageError](c.append("mit",
        (0 until 5).map(i => (java.sql.Timestamp.valueOf(
          java.time.LocalDate.parse("2024-02-10").plusDays(i).atTime(12, 0)), 9.0))
          .toDF("index", "value")))
      assert(e.getMessage.contains("induced"), e.getMessage)
    } finally Collection.commitSeamHook = _ => ()
    // the in-flight month was restored by the catch itself — no vacuum needed
    assert(c.path.resolve("mit").resolve(Item.DataDir).resolve("__month=2024-02").isDir)
    assert(c.item("mit").data.count() == 60)
    assert(histSize(c, "mit") == 1)
    assert(!c.path.fs.listFiles(c.path.raw).exists(_.startsWith("__swap_intent_")))
    assert(!c.path.listDirs.exists(_.startsWith("__backup_month_")))
  }

  test("an EXCEPTION before deleteItem's destructive step withdraws the intent — vacuum must not roll a reported-failed delete forward") {
    // the intent journal exists to finish a delete that DIED mid-way;
    // a delete that FAILED before destroying anything told its caller
    // the item survives — a surviving intent would let the next
    // vacuum() silently destroy it anyway
    val dir = Files.createTempDirectory("graft_del_fail")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("it", flatFrame(40), indexCols = Seq("index"))
    c.createSnapshot(Some("pin1"), manifest = Some(true)) // pins the generation → retention moves the data dir
    Collection.commitSeamHook = name =>
      if (name == "delete_retained:it") throw new RuntimeException("induced I/O failure")
    try {
      val e = intercept[RuntimeException](c.deleteItem("it"))
      assert(e.getMessage.contains("induced"), e.getMessage)
    } finally Collection.commitSeamHook = _ => ()
    assert(!c.path.fs.listFiles(c.path.raw).exists(_.startsWith("__delete_intent_")),
      "a pre-destructive failure must withdraw the intent")
    // the retention rename was undone inline — the item reads whole NOW
    assert(c.item("it").data.count() == 40)
    c.vacuum()
    assert(c.hasItem("it"), "vacuum must not complete a delete the caller was told failed")
    assert(c.item("it").data.count() == 40)
    // and the withdrawal didn't break a REAL delete afterwards
    assert(c.deleteItem("it"))
    assert(!c.hasItem("it"))
  }

  test("an EXCEPTION before renameItem moved anything withdraws the intent; after the pins re-keyed it rolls forward") {
    val dir = Files.createTempDirectory("graft_ren_fail")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("it", flatFrame(40), indexCols = Seq("index"))
    c.createSnapshot(Some("pin1"), manifest = Some(true))
    // arm 1: failure before any state moved → intent withdrawn, old name stays
    Collection.commitSeamHook = name =>
      if (name == "rename_intent_written:it") throw new RuntimeException("induced pre-move failure")
    try intercept[RuntimeException](c.renameItem("it", "renamed"))
    finally Collection.commitSeamHook = _ => ()
    assert(!c.path.fs.listFiles(c.path.raw).exists(_.startsWith("__rename_intent_")),
      "nothing moved → the intent must be withdrawn")
    c.vacuum()
    assert(c.hasItem("it") && !c.hasItem("renamed"),
      "vacuum must not complete a rename that never began")
    // arm 2: failure AFTER the manifest re-key → intent survives and
    // vacuum rolls the rename forward (the only consistent repair once
    // pins already say the new name)
    Collection.commitSeamHook = name =>
      if (name == "rename_pins_done:it") throw new RuntimeException("induced post-pins failure")
    try intercept[RuntimeException](c.renameItem("it", "renamed"))
    finally Collection.commitSeamHook = _ => ()
    assert(c.path.fs.listFiles(c.path.raw).exists(_.startsWith("__rename_intent_")),
      "state moved → the intent must stand for roll-forward")
    c.vacuum()
    assert(c.hasItem("renamed") && !c.hasItem("it"))
    assert(c.item("renamed").data.count() == 40)
    // the pre-rename pin still resolves under the new name
    assert(c.item("renamed", snapshot = Some("pin1")).data.count() == 40)
  }

  test("an unreadable swap-intent journal is preserved and its month asides spared from the sweep") {
    val dir = Files.createTempDirectory("graft_bad_intent")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("mit", monthlyFrame("2024-01-01", 60), monthlyLayout = true)
    // a torn swap's evidence: a journal vacuum can't parse + an aside
    // dir (with the month still live, so the generic repair's restore
    // branch won't consume it)
    c.path.fs.writeBytesAtomic(c.path.resolve("__swap_intent_mit.json").raw,
      "{not json".getBytes("UTF-8"))
    c.path.resolve("__backup_month_mit_2024-01").mkdirs()
    val out = c.vacuum()
    assert(out.exists(_.startsWith("unreadable_intent:")), out.mkString(","))
    assert(c.path.fs.listFiles(c.path.raw).contains("__swap_intent_mit.json"),
      "the journal is the only record of the torn swap — it must survive")
    assert(c.path.listDirs.contains("__backup_month_mit_2024-01"),
      "asides the journal may name must survive while it stands")
    // once an operator removes the journal, the next vacuum reclaims
    c.path.resolve("__swap_intent_mit.json").deleteRecursively()
    c.vacuum()
    assert(!c.path.listDirs.contains("__backup_month_mit_2024-01"))
  }

  test("kill at full_staged: staging reclaimed, pre-commit state serves, no phantom entry") {
    crashCase("full_staged:it", "write") { (c, _) =>
      assert(c.path.listDirs.exists(_.startsWith("__tmp_it")), "staging must be on disk at this seam")
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("__tmp_it")))
      assert(!c.path.listDirs.exists(_.startsWith("__tmp_it")))
      assert(c.item("it").data.count() == 40) // the ORIGINAL rows
      assert(histSize(c, "it") == 1, "no phantom history entry")
    }
  }

  test("kill at staged_pre_publish with observe-collected stats pending: no stats publish for data that didn't land") {
    // The probe's 50-row rewrite is a non-temporal flat write, so its
    // index stats ride Dataset.observe on the staged parquet job (the
    // by-name `meta` commit path). At this seam the staging — and the
    // observed values — exist, but publish has not forced `meta`:
    // the kill must leave the sidecar describing the 40 LIVE rows, not
    // the 50 staged ones that never landed.
    crashCase("staged_pre_publish:it", "write") { (c, _) =>
      assert(c.path.listDirs.exists(_.startsWith("__tmp_it")),
        "staging must be on disk at this seam (the parquet job ran)")
      val meta = Meta.read(c.path.resolve("it"))
      assert(meta.get("_rows").map(Meta.unjv).contains(40L),
        s"sidecar must still carry the pre-commit stats: ${meta.get("_rows")}")
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("__tmp_it")))
      assert(c.item("it").data.count() == 40) // the ORIGINAL rows
      assert(histSize(c, "it") == 1, "no phantom history entry")
      // and the surviving sidecar stats stay coherent with the data
      assert(Meta.read(c.path.resolve("it")).get("_rows")
        .map(Meta.unjv).contains(40L))
    }
  }

  test("kill between atomicSwap's renames: vacuum restores the moved-aside data dir") {
    crashCase("swap_mid", "write") { (c, _) =>
      val it = c.path.resolve("it")
      assert(!it.resolve(Item.DataDir).isDir, "the crash window: live dir moved aside")
      assert(it.resolve("__backup_" + Item.DataDir).isDir)
      val removed = c.vacuum()
      assert(removed.contains("restored:it"), removed.mkString(","))
      assert(c.item("it").data.count() == 40)
      assert(c.item("it").data.agg(org.apache.spark.sql.functions.sum("value"))
        .head.getDouble(0) == 40.0) // old values, not the probe's 9.0s
      assert(histSize(c, "it") == 1, "no phantom history entry")
    }
  }

  test("kill after the swap, before the sidecar: the new data IS the state; log carries no phantom") {
    // the full-commit COMMIT POINT is the data-dir swap; the sidecar
    // trails it as bookkeeping — so this window serves the new bytes
    // under the old sidecar, and the history entry is simply absent
    // (an entry only ever describes a published commit)
    crashCase("full_pre_sidecar:it", "write") { (c, _) =>
      c.vacuum()
      assert(c.item("it").data.count() == 50) // the probe's rewrite
      assert(histSize(c, "it") == 1, "the unpublished sidecar never wrote its entry")
    }
  }

  test("kill mid month-swap: intent journal rolls the partial commit back") {
    crashCase("month_aside:mit:2024-02", "append_monthly") { (c, _) =>
      val dataDir = c.path.resolve("mit").resolve(Item.DataDir)
      assert(!dataDir.resolve("__month=2024-02").isDir, "the crash window: Feb moved aside")
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("rolled_back:mit:2024-02")), removed.mkString(","))
      assert(dataDir.resolve("__month=2024-02").isDir)
      assert(c.item("mit").data.count() == 60) // Jan 31 + Feb 29, pre-append
      assert(histSize(c, "mit") == 1, "no phantom history entry")
    }
  }

  test("kill mid month-swap of a PINNED month: the rolled-back pin and a fresh pinned rewrite both serve exact rows") {
    // the pinned month's aside IS the manifest-retained copy; the
    // rollback renames it back to live (the slot empties, the pin
    // resolves live on the matching generation), and the next rewrite
    // re-retains into the emptied slot — prove the whole cycle
    val uri = prepare(hadoop = false)
    coll(uri).createSnapshot(Some("keep"), manifest = Some(true)) // pins Jan+Feb gens
    val (code, out) = fork(uri, "month_aside:mit:2024-02", "append_monthly")
    assert(code == 137, s"rc=$code:\n$out")
    val c = coll(uri)
    val removed = c.vacuum()
    assert(removed.exists(_.startsWith("rolled_back:mit:2024-02")), removed.mkString(","))
    assert(c.item("mit").data.count() == 60, "live must serve the pre-append rows")
    assert(c.item("mit", snapshot = Some("keep")).data.count() == 60,
      "the pinning manifest must serve the exact pinned rows after the rollback")
    assert(histSize(c, "mit") == 1, "no phantom entry for the rolled-back append")
    // a FRESH rewrite of the pinned month re-retains into the emptied slot
    val fresh = (0 until 10).map(i => (java.sql.Timestamp.valueOf(
      java.time.LocalDate.parse("2024-02-10").plusDays(i).atTime(12, 0)), 9.0))
      .toDF("index", "value")
    c.append("mit", fresh)
    assert(c.item("mit").data.count() == 70)
    assert(c.item("mit", snapshot = Some("keep")).data.count() == 60,
      "the pin must keep serving the pre-rewrite rows exactly")
    assert(histSize(c, "mit") == 2)
  }

  test("kill after every month swapped but before the sidecar: still rolls back (sidecar is the commit point)") {
    crashCase("months_pre_sidecar:mit", "append_monthly") { (c, _) =>
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("rolled_back:mit:2024-02")), removed.mkString(","))
      assert(c.item("mit").data.count() == 60)
      assert(histSize(c, "mit") == 1)
    }
  }

  test("kill after the sidecar, before backup cleanup: rolls FORWARD — data and log both carry the commit") {
    crashCase("months_post_sidecar:mit", "append_monthly") { (c, _) =>
      assert(c.path.listDirs.exists(_.startsWith("__backup_month_mit_")),
        "the crash window: committed, backups not yet reclaimed")
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("rolled_forward:mit:2024-02")), removed.mkString(","))
      assert(!c.path.listDirs.exists(_.startsWith("__backup_month_mit_")))
      assert(c.item("mit").data.count() == 70) // 60 + the 10 appended
      assert(histSize(c, "mit") == 2, "the committed append's entry must survive")
    }
  }

  test("kill between pin retention and the swap: vacuum un-retains the moved-aside data") {
    // a PINNED item's rewrite moves its data to the retained area
    // before the swap; a kill in between leaves the sidecar naming a
    // generation whose only copy sits in the retained area — the item
    // reads nothing until repair restores it (the manifest pin keeps
    // resolving: live wins when generations match)
    val uri = prepare(hadoop = false)
    coll(uri).createSnapshot(Some("keep"), manifest = Some(true)) // pins 'it'
    val (code, out) = fork(uri, "full_retained:it", "write")
    assert(code == 137, s"probe must die at the seam, got rc=$code:\n$out")
    val c = coll(uri)
    assert(!c.path.resolve("it").resolve(Item.DataDir).isDir,
      "the crash window: live data moved to the retained area")
    val removed = c.vacuum()
    assert(removed.contains("unretained:it"), removed.mkString(","))
    assert(c.item("it").data.count() == 40)
    assert(c.item("it", snapshot = Some("keep")).data.count() == 40)
    assert(histSize(c, "it") == 1, "no phantom history entry")
  }

  test("kill mid item delete: the journaled delete completes; the pinned snapshot still reads") {
    val uri = prepare(hadoop = false)
    val c0 = coll(uri)
    c0.createSnapshot(Some("keep"), manifest = Some(true)) // pins 'it'
    val (code, out) = fork(uri, "delete_retained:it", "delete")
    assert(code == 137, s"probe must die at the seam, got rc=$code:\n$out")
    val c = coll(uri)
    // the crash window: retention ran (pinned data moved aside), the
    // dir survives as a sidecar-carrying husk, the intent is on disk
    assert(c.path.resolve("it").isDir)
    assert(c.path.fs.listFiles(c.path.raw).contains("__delete_intent_it.json"))
    val removed = c.vacuum()
    assert(removed.contains("delete_completed:it"), removed.mkString(","))
    assert(!c.hasItem("it"))
    // the manifest pin survived the crashed delete — 40 original rows
    assert(c.item("it", snapshot = Some("keep")).data.count() == 40)
    // and a half-DELETED item never serves a subset: the name is gone
    // until someone writes it fresh
    val c2 = coll(uri)
    c2.write("it", flatFrame(7), indexCols = Seq("index"))
    assert(c2.item("it").data.count() == 7)
  }

  test("kill at a RANDOM commit seam: the store always converges to exactly-old or exactly-new") {
    // the seam-specific tests above pin each window's exact outcome;
    // this arm draws a seam at random per run and asserts the
    // INVARIANT every window must satisfy — after vacuum the item
    // serves exactly the pre-commit state (40 rows, 1 log entry) or
    // exactly the post-commit state (50 rows, ≤1 entry: the full-swap
    // sidecar trails its commit point), never a torn mix, with no
    // staging or backup leftovers
    val seams = Seq("full_staged:it", "swap_mid", "full_pre_sidecar:it")
    val seam = seams(new scala.util.Random().nextInt(seams.size))
    val uri = prepare(hadoop = false)
    val (code, out) = fork(uri, seam, "write")
    assert(code == 137, s"[seam=$seam] rc=$code:\n$out")
    val c = coll(uri)
    c.vacuum()
    val n = c.item("it").data.count()
    val h = histSize(c, "it")
    assert(n == 40 || n == 50, s"[seam=$seam] torn state: $n rows")
    assert(h == 1, s"[seam=$seam] log must carry exactly the published write, got $h")
    assert(!c.path.listDirs.exists(d => d.startsWith("__tmp_") || d.startsWith("__backup_")),
      s"[seam=$seam] leftovers survived vacuum")
    assert(!c.path.resolve("it").resolve("__backup_data").isDir, s"[seam=$seam]")
  }

  test("Hadoop backend: kill between atomicSwap's renames restores through HadoopFs") {
    crashCase("swap_mid", "write", hadoop = true) { (c, _) =>
      assert(c.path.fs.isInstanceOf[HadoopFs])
      val removed = c.vacuum()
      assert(removed.contains("restored:it"), removed.mkString(","))
      assert(c.item("it").data.count() == 40)
      assert(histSize(c, "it") == 1)
    }
  }

  test("Hadoop backend: retention-then-crash un-retains through HadoopFs") {
    val uri = prepare(hadoop = true)
    coll(uri).createSnapshot(Some("keep"), manifest = Some(true))
    val (code, out) = fork(uri, "full_retained:it", "write")
    assert(code == 137, s"rc=$code:\n$out")
    val c = coll(uri)
    val removed = c.vacuum()
    assert(removed.contains("unretained:it"), removed.mkString(","))
    assert(c.item("it").data.count() == 40)
    assert(c.item("it", snapshot = Some("keep")).data.count() == 40)
  }

  test("Hadoop backend: kill mid month-swap rolls back through HadoopFs") {
    crashCase("month_aside:mit:2024-02", "append_monthly", hadoop = true) { (c, _) =>
      val removed = c.vacuum()
      assert(removed.exists(_.startsWith("rolled_back:mit:2024-02")), removed.mkString(","))
      assert(c.item("mit").data.count() == 60)
      assert(histSize(c, "mit") == 1)
    }
  }

  /** TWO live forked JVMs racing appends on the same item under
    * multiprocess mode: every batch from both writers must survive —
    * the per-item cross-process lock + generation fence serialize the
    * publishes (a refused publish retries over the fresh state), so
    * neither process's commits are clobbered, the sidecar never tears,
    * and the commit log carries exactly one entry per append. The
    * reference's lock is advisory only (transactions.py:289-362) —
    * writers that skip it lose updates silently. */
  private def raceCase(hadoop: Boolean): Unit = {
    val dir = Files.createTempDirectory("graft_race")
    val uri = if (hadoop) "file://" + dir.toString else dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("rit", flatFrame(40), indexCols = Seq("index"))
    val batches = 3
    val p1 = forkStart(uri, "<never-fires>", s"race_append:1:$batches")
    val p2 = forkStart(uri, "<never-fires>", s"race_append:2:$batches")
    val (c1, o1) = drain(p1)
    val (c2, o2) = drain(p2)
    assert(c1 == 0 && o1.contains("COMPLETED"), s"probe 1 rc=$c1:\n$o1")
    assert(c2 == 0 && o2.contains("COMPLETED"), s"probe 2 rc=$c2:\n$o2")
    val v = coll(uri) // fresh Collection — no caches from the writers
    assert(v.multiprocessEnabled, "the marker must be durable across processes")
    assert(v.item("rit").data.count() == 40 + 2 * batches * 20,
      "every batch from both writers must survive — no lost update")
    val idx = v.item("rit").data.select("index")
      .collect().map(_.getInt(0)).toSet
    for (tag <- 1 to 2; b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(100000 + tag * 10000 + b * 100 + i),
        s"writer $tag batch $b row $i was clobbered")
    assert(histSize(v, "rit") == 1 + 2 * batches,
      "one commit-log entry per append — none lost, none phantom")
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)),
      "both writers exited cleanly — no lock may leak")
    assert(v.vacuum().isEmpty, "nothing to repair after a clean race")
  }

  test("two forked JVMs racing appends: all commits survive, sidecar coherent (POSIX)") {
    raceCase(hadoop = false)
  }

  test("two forked JVMs racing sidecar property writes: every key survives the cross-process DDL lock") {
    // the metadata spelling of the lost-update race: setItemProperties
    // is a sidecar read-modify-write — interleaved across processes it
    // silently drops the other writer's keys; under the item lock the
    // RMWs serialize. Also proves the history log (one set_properties
    // entry per call, same-tick entries disambiguated by seq) stays
    // exact under cross-process contention.
    val uri = prepare(hadoop = false)
    coll(uri).enableMultiprocess()
    val n = 12
    val p1 = forkStart(uri, "<never-fires>", s"race_props:1:$n")
    val p2 = forkStart(uri, "<never-fires>", s"race_props:2:$n")
    val (c1, o1) = drain(p1)
    val (c2, o2) = drain(p2)
    assert(c1 == 0 && o1.contains("COMPLETED"), s"probe 1 rc=$c1:\n$o1")
    assert(c2 == 0 && o2.contains("COMPLETED"), s"probe 2 rc=$c2:\n$o2")
    val v = coll(uri)
    val meta = Meta.read(v.path.resolve("it"))
    for (tag <- 1 to 2; i <- 0 until n)
      assert(meta.contains(s"k_${tag}_$i"),
        s"property k_${tag}_$i was clobbered by the other writer")
    assert(histSize(v, "it") == 1 + 2 * n,
      "one set_properties entry per call — none collapsed, none lost")
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
  }

  test("two forked JVMs racing MONTHLY appends into the same period: every partial commit survives") {
    // the partial-commit spelling: both writers rewrite the SAME month
    // dir through a period publish — the fence + per-item lock serialize
    // the period swaps and their intent journals, so neither writer's
    // February rows are clobbered and no journal survives the run
    val uri = prepare(hadoop = false)
    coll(uri).enableMultiprocess()
    val batches = 3
    val p1 = forkStart(uri, "<never-fires>", s"race_monthly:1:$batches")
    val p2 = forkStart(uri, "<never-fires>", s"race_monthly:2:$batches")
    val (c1, o1) = drain(p1)
    val (c2, o2) = drain(p2)
    assert(c1 == 0 && o1.contains("COMPLETED"), s"probe 1 rc=$c1:\n$o1")
    assert(c2 == 0 && o2.contains("COMPLETED"), s"probe 2 rc=$c2:\n$o2")
    val v = coll(uri)
    assert(v.item("mit").data.count() == 60 + 2 * batches * 20,
      "every writer's every February batch must survive")
    // Jan untouched, Feb holds the pre-run days plus both writers' rows
    assert(v.item("mit").data.filter(org.apache.spark.sql.functions
      .col("index") < java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      .count() == 31)
    assert(histSize(v, "mit") == 1 + 2 * batches)
    assert(!v.path.fs.listFiles(v.path.raw).exists(_.startsWith("__swap_intent_")),
      "no torn-commit journal may survive a clean race")
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
    assert(v.vacuum().isEmpty)
  }

  test("two forked JVMs racing appends: all commits survive through HadoopFs") {
    raceCase(hadoop = true)
  }

  test("THREE forked JVMs racing appends: the guarantee is writer-count-independent") {
    // the lock + fence argument is per-item, not per-pair — prove the
    // claim at N=3 (each refusal implies another writer committed, so
    // the retry budget still bounds: at most sum-of-others' commits)
    val dir = Files.createTempDirectory("graft_race3")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("rit", flatFrame(40), indexCols = Seq("index"))
    val batches = 2
    val probes = (1 to 3).map(tag =>
      tag -> forkStart(uri, "<never-fires>", s"race_append:$tag:$batches"))
    probes.foreach { case (tag, p) =>
      val (code, out) = drain(p)
      assert(code == 0 && out.contains("COMPLETED"), s"probe $tag rc=$code:\n$out")
    }
    val v = coll(uri)
    assert(v.item("rit").data.count() == 40 + 3 * batches * 20,
      "every writer's every batch must survive")
    val idx = v.item("rit").data.select("index")
      .collect().map(_.getInt(0)).toSet
    for (tag <- 1 to 3; b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(100000 + tag * 10000 + b * 100 + i),
        s"writer $tag batch $b row $i was clobbered")
    assert(histSize(v, "rit") == 1 + 3 * batches)
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
    assert(v.vacuum().isEmpty)
  }

  test("a writer killed INSIDE the item lock leaks it; breakItemLocks + vacuum recover") {
    val dir = Files.createTempDirectory("graft_race_kill")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("it", flatFrame(40), indexCols = Seq("index"))
    // full_pre_sidecar sits between the data swap and the sidecar write
    // — inside the held process lock, so the corpse leaves both a torn
    // commit AND the lock dir
    val (code, out) = fork(uri, "full_pre_sidecar:it", "write")
    assert(code == 137, s"rc=$code:\n$out")
    val v = coll(uri)
    assert(v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)),
      "the dead holder's lock must still be on disk")
    // a live writer now refuses with a timeout naming the dead owner
    v.processLockTimeoutMs = 300
    val e = intercept[LockTimeoutError](
      v.append("it", (900 to 905).map(i => (i, 5.0)).toDF("index", "value")))
    assert(e.getMessage.contains("pid="), e.getMessage)
    // vacuum WAITS for lock holders (round 14 closed the round-13
    // check-then-sweep TOCTOU by acquiring every item lock); a DEAD
    // holder's stale lock times out typed with the same operator
    // remedy the append's timeout names
    val vr = intercept[LockTimeoutError](v.vacuum())
    assert(vr.getMessage.contains("breakItemLocks"), vr.getMessage)
    // admin remedy: break the stale lock; vacuum reclaims the corpse's
    // staging. The data swap IS the full-commit point, so the probe's
    // rewrite (50 rows) stands; the unpublished sidecar left no
    // phantom history entry.
    assert(v.breakItemLocks().nonEmpty)
    v.vacuum()
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
    assert(v.item("it").data.count() == 50)
    assert(histSize(v, "it") == 1, "the torn commit must leave no phantom entry")
    v.processLockTimeoutMs = 120000
    v.append("it", (900 to 905).map(i => (i, 5.0)).toDF("index", "value"))
    assert(v.item("it").data.count() == 56)
  }

  test("snapshot cut racing a two-item writer in another process: every manifest is a point-in-time cut") {
    // the probe appends to "a" THEN "b" each round, so at any on-disk
    // instant gen(a) ∈ {gen(b), gen(b)+1}. The parent captures
    // manifests concurrently; holding every item's cross-process lock
    // across the capture (round 14) makes each manifest the state at
    // ONE instant — before that, a capture reading a's pin, losing the
    // race to a full round, then reading b's pin could record
    // gen(b) > gen(a), a state that never existed on disk.
    val dir = Files.createTempDirectory("graft_snapcut")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("a", flatFrame(10), indexCols = Seq("index"))
    c.write("b", flatFrame(10), indexCols = Seq("index"))
    val p = forkStart(uri, "<never-fires>", "pair_append:8")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (p.isAlive && i < 200) {
      snaps += c.createSnapshot(Some(s"cut_$i"), manifest = Some(true))
      i += 1
      Thread.sleep(100)
    }
    val (code, out) = drain(p)
    assert(code == 0 && out.contains("COMPLETED"), s"probe rc=$code:\n$out")
    // generations are per-commit IDs, not counters — translate each
    // pinned generation to its commit ORDINAL via the item's history
    // (seq is monotonic per item), where the cut invariant is exact
    def genToOrd(it: String): Map[Long, Long] =
      History.entriesOf(Meta.read(c.path.resolve(it)))
        .map(e => e.gen -> e.seq).toMap
    val (ordA, ordB) = (genToOrd("a"), genToOrd("b"))
    def flatGen(pins: Map[String, (Either[Long, Map[String, Long]], Map[String, org.json4s.JValue])],
                it: String): Long = pins(it)._1.fold(identity, _ => -1L)
    val ords = snaps.toSeq.map { s =>
      val pins = Snapshots.manifestAllPins(c.path, s).getOrElse(
        fail(s"snapshot $s must be a manifest"))
      (s, ordA(flatGen(pins, "a")), ordB(flatGen(pins, "b")))
    }
    ords.foreach { case (s, oa, ob) =>
      assert(oa >= ob && oa - ob <= 1,
        s"snapshot $s pins a torn cut: commit#(a)=$oa commit#(b)=$ob — " +
          "the writer always commits a before b, so no instant had this state")
    }
    assert(ords.exists(_._3 > 1),
      "at least one capture must have landed mid-run (writer rounds observed)")
    assert(!c.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)),
      "capture and writer exited cleanly — no lock may leak")
  }

  test("vacuum racing a live writer in another process: waits out commits, never sweeps in-flight state") {
    // round 13's vacuum REFUSED on held locks but check-then-sweep was
    // a TOCTOU — a writer acquiring its lock after the check could
    // have its in-flight asides swept. Now vacuum ACQUIRES every item
    // lock (waiting out the writer's O(1) publishes) and age-gates
    // `__tmp_*` staging (created lock-free by design), so a writer
    // hammering appends while vacuum loops loses nothing and fails
    // nothing.
    val dir = Files.createTempDirectory("graft_vacrace")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("rit", flatFrame(40), indexCols = Seq("index"))
    val batches = 5
    val p = forkStart(uri, "<never-fires>", s"race_append:1:$batches")
    var vacuums = 0
    while (p.isAlive && vacuums < 400) {
      c.vacuum()
      vacuums += 1
      Thread.sleep(50)
    }
    val (code, out) = drain(p)
    assert(code == 0 && out.contains("COMPLETED"),
      s"the writer must complete every append while vacuum loops (rc=$code):\n$out")
    assert(vacuums > 0, "vacuum must actually have raced the writer")
    val v = coll(uri)
    assert(v.item("rit").data.count() == 40 + batches * 20,
      "no append may be lost to a vacuum sweep")
    val idx = v.item("rit").data.select("index").collect().map(_.getInt(0)).toSet
    for (b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(100000 + 10000 + b * 100 + i),
        s"batch $b row $i was reclaimed by a racing vacuum")
    assert(histSize(v, "rit") == 1 + batches)
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
  }

  test("SUSTAINED contention: three processes x 8 batches each serialize with bounded retries") {
    // the round-13 race arms used 2 batches/writer; this proves the
    // liveness claim under a sustained burst — fence refusals retry on
    // a TIME budget (each refusal is proof another writer committed),
    // so a fixed attempt count can no longer be exhausted by N×M
    // contention. The probes print their retry counts; correctness is
    // byte-exact row survival plus an exact commit log.
    val dir = Files.createTempDirectory("graft_stress")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("rit", flatFrame(40), indexCols = Seq("index"))
    val batches = 8
    val probes = (1 to 3).map(tag =>
      tag -> forkStart(uri, "<never-fires>", s"race_append:$tag:$batches"))
    var totalRetries = 0L
    probes.foreach { case (tag, p) =>
      val (code, out) = drain(p)
      assert(code == 0 && out.contains("COMPLETED"), s"probe $tag rc=$code:\n$out")
      val r = out.linesIterator.collectFirst {
        case l if l.contains("RETRIES=") => l.split("RETRIES=")(1).trim.toLong
      }.getOrElse(fail(s"probe $tag printed no retry count:\n$out"))
      totalRetries += r
    }
    info(s"total fence/torn-read retries across 3x$batches commits: $totalRetries")
    val v = coll(uri)
    assert(v.item("rit").data.count() == 40 + 3 * batches * 20,
      "every writer's every batch must survive the sustained burst")
    val idx = v.item("rit").data.select("index").collect().map(_.getInt(0)).toSet
    for (tag <- 1 to 3; b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(100000 + tag * 10000 + b * 100 + i),
        s"writer $tag batch $b row $i was clobbered")
    assert(histSize(v, "rit") == 1 + 3 * batches,
      "one commit-log entry per append — none lost, none phantom")
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
    assert(v.vacuum().isEmpty, "nothing to repair after a clean burst")
    // the retry meter is a liveness bound, not a precision claim: each
    // retry must correspond to real foreign progress, so it can never
    // exceed the total commits the OTHER writers made (plus torn-read
    // re-reads, each also implying a foreign swap landed)
    assert(totalRetries <= 3L * batches * 20,
      s"retry count $totalRetries is out of proportion to 3x$batches commits")
  }

  test("SUSTAINED MONTHLY contention: three processes hammering the SAME period serialize completely") {
    // the flat-layout stress has a sibling here because the period
    // swap is the more intricate path: per-period swaps journaled by
    // intents, the sidecar write as the commit point, the fence on the
    // period map. Three writers x 5 batches all land in February, so
    // every commit rewrites the SAME month dir; stamps are
    // writer-and-batch-distinct (hour = writer, minute = batch).
    val uri = prepare(hadoop = false)
    coll(uri).enableMultiprocess()
    val batches = 5
    val probes = (1 to 3).map(tag =>
      tag -> forkStart(uri, "<never-fires>", s"race_monthly:$tag:$batches"))
    var totalRetries = 0L
    probes.foreach { case (tag, p) =>
      val (code, out) = drain(p)
      assert(code == 0 && out.contains("COMPLETED"), s"probe $tag rc=$code:\n$out")
      totalRetries += out.linesIterator.collectFirst {
        case l if l.contains("RETRIES=") => l.split("RETRIES=")(1).trim.toLong
      }.getOrElse(0L)
    }
    info(s"total fence/torn-read retries across 3x$batches monthly commits: $totalRetries")
    val v = coll(uri)
    assert(v.item("mit").data.count() == 60 + 3 * batches * 20,
      "every writer's every February batch must survive the burst")
    // per-row identity: writer tag in the hour, batch in the minute
    val idx = v.item("mit").data
      .select(org.apache.spark.sql.functions.col("index")).collect()
      .map(_.getTimestamp(0)).toSet
    for (tag <- 1 to 3; b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(java.sql.Timestamp.valueOf(
          java.time.LocalDate.parse("2024-02-01").plusDays(i).atTime(tag, b))),
        s"writer $tag batch $b day $i was clobbered")
    assert(histSize(v, "mit") == 1 + 3 * batches)
    assert(!v.path.fs.listFiles(v.path.raw).exists(_.startsWith("__swap_intent_")),
      "no torn-commit journal may survive a clean burst")
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
    assert(v.vacuum().isEmpty)
    assert(totalRetries <= 3L * batches * 20,
      s"retry count $totalRetries is out of proportion to 3x$batches commits")
  }

  test("a foreign writer racing EXCLUSIVE transactions on the same item serializes — blocks, never breaks") {
    // the exclusive txn holds the item lock across its data jobs (the
    // documented price); a concurrent process appending the SAME item
    // must WAIT on the lock and then land — its poll budget (120 s)
    // dwarfs a txn's duration — never fail or lose rows.
    val dir = Files.createTempDirectory("graft_txnwriter")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("rit", flatFrame(40), indexCols = Seq("index"))
    val batches = 4
    val p = forkStart(uri, "<never-fires>", s"race_append:1:$batches")
    var txns = 0
    import spark.implicits._
    while (p.isAlive && txns < 200) {
      val txn = new graft.transactions.Transaction(c, exclusive = true)
      txn.append("rit",
        (0 until 5).map(i => (500000 + txns * 10 + i, 1.0)).toDF("index", "value"))
      txn.commit()
      txns += 1
      Thread.sleep(50) // realistic pacing — zero-gap would be a livelock rig
    }
    val (code, out) = drain(p)
    assert(code == 0 && out.contains("COMPLETED"),
      s"the writer must complete every append against exclusive txns (rc=$code):\n$out")
    assert(txns > 0, "at least one exclusive txn must have raced the writer")
    val v = coll(uri)
    assert(v.item("rit").data.count() == 40 + batches * 20 + txns * 5,
      "both the writer's and the txns' rows must all survive")
    val idx = v.item("rit").data.select("index").collect().map(_.getInt(0)).toSet
    for (b <- 0 until batches; i <- 0 until 20)
      assert(idx.contains(100000 + 10000 + b * 100 + i),
        s"writer batch $b row $i was lost to an exclusive txn")
    assert(histSize(v, "rit") == 1 + batches + txns)
    assert(!v.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)))
  }

  test("kill -9 MID-EXCLUSIVE-TRANSACTION: applied prefix is whole, locks recoverable, pin serves manual rollback") {
    // crash semantics of the new exclusive mode: a txn killed between
    // its ops leaves (1) the completed ops' commits WHOLE (each op is
    // itself atomic), (2) the untouched items untouched, (3) both item
    // locks leaked — the documented operator remedy clears them,
    // (4) the internal __txn_ pin alive, so an operator can finish the
    // rollback the dead process never ran.
    val dir = Files.createTempDirectory("graft_txnkill")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("a", flatFrame(10), indexCols = Seq("index"))
    c.write("b", flatFrame(10), indexCols = Seq("index"))
    val (code, out) = fork(uri, "txn_op_done:a", "txn_exclusive")
    assert(code == 137, s"probe must die at the seam, got rc=$code:\n$out")
    val v = coll(uri)
    // both locks leaked (the txn held them when it died)
    val held = v.path.listDirs.filter(_.startsWith(Collection.ItemLockPrefix)).toSet
    assert(held == Set("__itemlock_a", "__itemlock_b"), s"held: $held")
    // a's op committed whole; b untouched
    assert(v.breakItemLocks().size == 2)
    assert(v.item("a").data.count() == 15, "item a's op must be whole")
    assert(v.item("b").data.count() == 10, "item b must be untouched")
    assert(histSize(v, "a") == 2 && histSize(v, "b") == 1)
    // the internal pin survives the crash AND a fresh vacuum (younger
    // than the stale-pin cutoff), so manual rollback still works
    val pins = Snapshots.listManifests(v.path).filter(_.startsWith("__txn_"))
    assert(pins.size == 1, s"exactly the dead txn's pin must survive: $pins")
    v.vacuum()
    assert(Snapshots.listManifests(v.path).contains(pins.head),
      "a fresh crash pin must survive vacuum (stale-pin sweep is age-gated)")
    Snapshots.restoreFromManifest(v.path, pins.head, "a")
    v.clearMetadataCache()
    assert(v.item("a").data.count() == 10,
      "manual rollback from the surviving pin must rewind a's partial txn")
    Snapshots.releasePin(v.path, pins.head)
    // store fully operational afterwards
    v.append("a", flatFrame(5).withColumn("index",
      org.apache.spark.sql.functions.col("index") + 100))
    assert(v.item("a").data.count() == 15)
  }

  test("EXCLUSIVE transaction racing snapshot cuts from another process: no cut pins a partial transaction") {
    // non-exclusive transactions are atomic against IN-JVM cuts only
    // (they hold the commit read lock); a foreign process's cut could
    // pin one item post-op and the other pre-op. An exclusive txn
    // holds every affected item's cross-process lock for its whole
    // body, so the probe's cuts — which acquire the same locks —
    // serialize to before-or-after whole transactions: every cut must
    // pin EQUAL commit ordinals for the two items the txn appends to
    // in sequence.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_txncut")
    val uri = dir.toString
    val c = GraftStore.at(spark, uri).collection("c")
    c.enableMultiprocess()
    c.write("a", flatFrame(10), indexCols = Seq("index"))
    c.write("b", flatFrame(10), indexCols = Seq("index"))
    val cuts = 8
    val p = forkStart(uri, "<never-fires>", s"snap_cuts:$cuts:150")
    var r = 0
    while (p.isAlive && r < 400) {
      val txn = new graft.transactions.Transaction(c, exclusive = true)
      txn.append("a", (0 until 5).map(i => (2000 + r * 10 + i, r.toDouble)).toDF("index", "value"))
      txn.append("b", (0 until 5).map(i => (2000 + r * 10 + i, r.toDouble)).toDF("index", "value"))
      txn.commit()
      r += 1
    }
    val (code, out) = drain(p)
    assert(code == 0 && out.contains("COMPLETED"), s"probe rc=$code:\n$out")
    assert(r > 0, "at least one transaction must have raced the cuts")
    def genToOrd(it: String): Map[Long, Long] =
      History.entriesOf(Meta.read(c.path.resolve(it)))
        .map(e => e.gen -> e.seq).toMap
    val (ordA, ordB) = (genToOrd("a"), genToOrd("b"))
    def flatGen(pins: Map[String, (Either[Long, Map[String, Long]], Map[String, org.json4s.JValue])],
                it: String): Long = pins(it)._1.fold(identity, _ => -1L)
    val ords = (0 until cuts).map { i =>
      val pins = Snapshots.manifestAllPins(c.path, s"xcut_$i").getOrElse(
        fail(s"snapshot xcut_$i must be a manifest"))
      (i, ordA(flatGen(pins, "a")), ordB(flatGen(pins, "b")))
    }
    ords.foreach { case (i, oa, ob) =>
      assert(oa == ob,
        s"cut xcut_$i pins a PARTIAL transaction: commit#(a)=$oa commit#(b)=$ob")
    }
    assert(ords.exists(_._2 > 1),
      "at least one cut must have landed after a transaction (rounds observed)")
    assert(!c.path.listDirs.exists(_.startsWith(Collection.ItemLockPrefix)),
      "no lock may outlive the race")
  }

  test("item process lock reentrancy: inner exits never release, only the outermost does, even on exceptions") {
    // pins the reentrancy bookkeeping: `heldProcessLocks` adds the key
    // once, a nested acquire is a pure pass-through, and ONLY the
    // outermost exit deletes the lock dir — an inner body's exception
    // must propagate with the lock still held (the outer body may be
    // mid-publish), and independent items' locks must release
    // independently. A wrong `finally` here would release a lock the
    // thread still needs — invisible in the race arms (they never
    // nest), so it gets its own deterministic proof.
    val dir = Files.createTempDirectory("graft_reentrant")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("a", flatFrame(5), indexCols = Seq("index"))
    c.write("b", flatFrame(5), indexCols = Seq("index"))
    c.enableMultiprocess()
    def lockStands(it: String): Boolean =
      c.path.resolve(Collection.ItemLockPrefix + it).exists
    c.withItemProcessLock("a") {
      assert(lockStands("a"))
      c.withItemProcessLock("a") { assert(lockStands("a")) }
      assert(lockStands("a"),
        "the inner reentrant exit must NOT release the outer hold")
      // an exception inside a NESTED reentrant body propagates with
      // the lock still held
      intercept[RuntimeException](
        c.withItemProcessLock("a") { throw new RuntimeException("boom") })
      assert(lockStands("a"),
        "an inner body's exception must not release the outer hold")
      // an unrelated item's lock nests and releases independently
      c.withItemProcessLock("b") { assert(lockStands("b")) }
      assert(!lockStands("b") && lockStands("a"))
    }
    assert(!lockStands("a"), "the outermost exit must release")
    // an exception from the OUTERMOST body releases (the crash-leak
    // path is kill -9, not exceptions — those must clean up)
    intercept[RuntimeException](
      c.withItemProcessLock("a") { throw new RuntimeException("boom") })
    assert(!lockStands("a"))
    // and the lock is genuinely re-acquirable afterwards
    c.withItemProcessLock("a") { assert(lockStands("a")) }
    assert(!lockStands("a"))
  }

  test("vacuum age-gates __tmp_* staging in multiprocess mode: activity spared, corpses swept") {
    // staging is created BEFORE the item lock is taken (it is the data
    // job, deliberately lock-free), so holding every item lock cannot
    // prove a staging dir is dead — vacuum sweeps only staging with NO
    // write activity anywhere inside for stagingSweepAgeMs (default
    // 24 h: a 100 TB rewrite can legitimately run for hours, so the
    // old one-hour creation-age gate would have failed exactly the
    // jobs this engine targets). Single-process mode keeps the exact
    // immediate sweep.
    def backdate(p: SPath, seconds: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p.raw),
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().minusSeconds(seconds)))
    val dir = Files.createTempDirectory("graft_agegate")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("it", flatFrame(10), indexCols = Seq("index"))
    c.enableMultiprocess()
    val fresh = c.path.resolve("__tmp_it_fresh1234")
    val old = c.path.resolve("__tmp_it_old5678")
    val active = c.path.resolve("__tmp_it_active9")
    fresh.mkdirs(); old.mkdirs(); active.mkdirs()
    // `active` LOOKS old by dir mtime but a task file deep inside was
    // written recently — the long-running-job heartbeat must spare it
    val taskDir = active.resolve("_temporary").resolve("0")
    taskDir.mkdirs()
    active.fs.writeBytesAtomic(taskDir.resolve("part-0001").raw, Array[Byte](1))
    backdate(taskDir, 60); backdate(active.resolve("_temporary"), 90000)
    backdate(active, 90000)
    backdate(old, 90000) // 25 h — past the 24 h default
    val removed = c.vacuum()
    assert(removed.contains("__tmp_it_old5678"), removed.mkString(","))
    assert(!removed.contains("__tmp_it_fresh1234"),
      "a fresh staging dir may belong to a live writer in another process")
    assert(!removed.contains("__tmp_it_active9"),
      "recent write activity inside old staging means the writer is alive")
    assert(fresh.exists && active.exists)
    // the cutoff is configurable: a site whose jobs never exceed an
    // hour can sweep more eagerly
    backdate(active, 7200)
    backdate(active.resolve("_temporary"), 7200); backdate(taskDir, 7200)
    backdate(taskDir.resolve("part-0001"), 7200)
    c.stagingSweepAgeMs = 3600L * 1000
    val removed2 = c.vacuum()
    assert(removed2.contains("__tmp_it_active9"), removed2.mkString(","))
    assert(!removed2.contains("__tmp_it_fresh1234") && fresh.exists)
    // outside multiprocess mode the single-writer assumption holds and
    // the sweep is immediate
    c.disableMultiprocess()
    val removed3 = c.vacuum()
    assert(removed3.contains("__tmp_it_fresh1234"), removed3.mkString(","))
    assert(!fresh.exists)
  }

  test("vacuum activity-gates _snapshots/.tmp_* staging in multiprocess mode") {
    // snapshot-import staging under _snapshots is lock-free (it is a
    // data job), so the exact sweep that was safe for createSnapshot's
    // lock-protected staging would kill a live import in another
    // process — the sweep honors the same write-activity gate as root
    // staging. Single-process keeps the exact sweep.
    def backdate(p: SPath, seconds: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p.raw),
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().minusSeconds(seconds)))
    val dir = Files.createTempDirectory("graft_snapgate")
    val c = GraftStore.at(spark, dir.toString).collection("c")
    c.write("it", flatFrame(10), indexCols = Seq("index"))
    c.enableMultiprocess()
    val snaps = c.path.resolve(GraftStore.SnapshotsDir)
    val live = snaps.resolve(".tmp_import_cut_live1")
    val dead = snaps.resolve(".tmp_import_cut_dead2")
    live.mkdirs(); dead.mkdirs()
    // live import: dir looks old but a just-imported item file inside
    // is fresh — spared; dead corpse: no activity for 25 h — swept
    val itemDir = live.resolve("item")
    itemDir.mkdirs()
    live.fs.writeBytesAtomic(itemDir.resolve("part-0").raw, Array[Byte](1))
    backdate(itemDir, 90000); backdate(live, 90000)
    backdate(dead, 90000)
    c.vacuum()
    assert(live.isDir, "a live import's staging (fresh file inside) must be spared")
    assert(!dead.isDir, "a 25h-quiet staging corpse must be swept")
    // single-process mode: the exact sweep returns
    c.disableMultiprocess()
    c.vacuum()
    assert(!live.isDir, "single-process mode sweeps snapshot staging exactly")
    FsOps.deleteRecursively(dir)
  }
}
