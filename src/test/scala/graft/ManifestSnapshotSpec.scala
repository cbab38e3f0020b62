package graft

import org.apache.spark.sql.functions._

import graft.store._

/** Manifest snapshots (Snapshots.scala): generation pinning,
  * copy-on-write retention, refcount GC, and the time-layout copy
  * fallback — on the POSIX backend explicitly and on the Hadoop
  * backend where manifests are the default. */
class ManifestSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def df3(rows: (Long, String)*) = rows.toDF("index", "v")

  test("manifest snapshot freezes item state across append and delete") {
    val c = tempCollection("msnap_basic")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    assert(Snapshots.manifestExists(c.path, snap))
    assert(c.listSnapshots().contains(snap))

    // append mutates the live item; the pinned generation is retained
    c.append("it", df3(3L -> "c"))
    assert(c.item("it").data.count() == 3)
    val snapRows = c.item("it", snapshot = Some(snap)).data
      .orderBy($"index").as[(Long, String)].collect().toSeq
    assert(snapRows == Seq(1L -> "a", 2L -> "b"))

    // delete the live item entirely — the snapshot still reads
    c.deleteItem("it")
    assert(!c.hasItem("it"))
    val afterDelete = c.item("it", snapshot = Some(snap)).data
      .orderBy($"index").as[(Long, String)].collect().toSeq
    assert(afterDelete == Seq(1L -> "a", 2L -> "b"))
    cleanup(c)
  }

  test("renameItem re-keys manifest pins: snapshot reads, travel, and rollback follow the new name") {
    val c = tempCollection("msnap_rename")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    Thread.sleep(5)
    val t1 = java.time.Instant.now() // inside the write's window
    Thread.sleep(5)
    c.createSnapshot(Some("m1"), manifest = Some(true))
    c.append("it", df3(3L -> "c")) // rewrites; the pinned gen retains
    c.renameItem("it", "renamed")
    assert(!c.hasItem("it") && c.hasItem("renamed"))
    // the manifest entry re-keyed: VERSION AS OF resolves the pinned
    // (pre-rename, pre-append) generation under the NEW name...
    val snapRows = c.item("renamed", snapshot = Some("m1")).data
      .orderBy($"index").as[(Long, String)].collect().toSeq
    assert(snapRows == Seq(1L -> "a", 2L -> "b"))
    // ...and no longer under the old one
    assert(Snapshots.manifestPins(c.path, "m1", "it").isEmpty)
    assert(Snapshots.manifestPins(c.path, "m1", "renamed").isDefined)
    // timestamp travel across the rename: the commit log rode the dir
    assert(Snapshots.resolveAsOf(c.path, "renamed", t1) == Snapshots.AsOfSnapshot("m1"))
    // restore works under the new name
    c.rollbackTo("m1")
    val restored = c.item("renamed").data
      .orderBy($"index").as[(Long, String)].collect().toSeq
    assert(restored == Seq(1L -> "a", 2L -> "b"))
    cleanup(c)
  }

  test("a rename crashed between pin re-keying and the dir move is rolled forward by vacuum") {
    val c = tempCollection("msnap_rename_crash")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    c.createSnapshot(Some("m1"), manifest = Some(true))
    c.append("it", df3(3L -> "c"))
    // simulate renameItem dying after the intent write and the manifest
    // re-keying, BEFORE the item-dir rename
    c.path.fs.writeBytesAtomic(c.path.resolve("__rename_intent_it.json").raw,
      """{"from":"it","to":"moved"}""".getBytes("UTF-8"))
    Snapshots.renameItemPins(c.path, "it", "moved")
    assert(c.path.resolve("it").isDir, "precondition: dir not yet moved")
    val repaired = c.vacuum()
    assert(repaired.contains("rename_completed:it:moved"), repaired.mkString(","))
    assert(!c.hasItem("it") && c.hasItem("moved"))
    val snapRows = c.item("moved", snapshot = Some("m1")).data
      .orderBy($"index").as[(Long, String)].collect().toSeq
    assert(snapRows == Seq(1L -> "a", 2L -> "b"))
    assert(c.item("moved").data.count() == 3) // live state intact
    cleanup(c)
  }

  test("vacuum reclaims dead dir-snapshot staging and orphaned retained generations") {
    val c = tempCollection("msnap_vacuum_gc")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    c.createSnapshot(Some("m1"), manifest = Some(true))
    c.append("it", df3(2L -> "b")) // retains the pinned generation
    val retained = c.path.resolve(GraftStore.SnapshotsDir).resolve(".retained")
    assert(retained.isDir && retained.listDirs.nonEmpty)
    // a snapshot delete killed between its manifest removal and its GC:
    // the manifest file vanishes, the retained bytes orphan
    Snapshots.manifestFile(c.path, "m1").deleteRecursively()
    // plus a dir-snapshot copy killed mid-way: dot-staging, never listed
    c.path.resolve(GraftStore.SnapshotsDir).resolve(".tmp_crashed").mkdirs()
    assert(!c.listSnapshots().contains(".tmp_crashed"))
    val removed = c.vacuum()
    assert(removed.contains("dead_staging:.tmp_crashed"), removed.mkString(","))
    assert(!c.path.resolve(GraftStore.SnapshotsDir).resolve(".tmp_crashed").isDir)
    assert(!retained.isDir || retained.listDirs.isEmpty,
      "orphaned retained generations must be GCed by plain vacuum")
    assert(c.item("it").data.count() == 2) // live data untouched
    cleanup(c)
  }

  test("rollbackTo never destroys generations pinned by LATER snapshots") {
    val c = tempCollection("msnap_rb_later")
    // flat arm: sp1 pins gen1; overwrite -> gen2; sp2 pins gen2
    c.write("f", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    c.createSnapshot(Some("sp1"), manifest = Some(true))
    c.write("f", df3(9L -> "z"), indexCols = Seq("index"), overwrite = true)
    // monthly arm: sp1 pins jan@g1; rewrite jan + add feb; sp2 pins both
    def day(d: String, v: Double) = Seq(
      (java.sql.Timestamp.valueOf(s"$d 00:00:00"), v)).toDF("index", "value")
    c.write("m", day("2024-01-01", 1.0), monthlyLayout = true)
    c.append("m", day("2024-01-02", 2.0)) // still sp-less mutations ok
    c.createSnapshot(Some("sp1b"), manifest = Some(true))
    c.append("m", day("2024-01-03", 3.0)) // rewrites jan in place
    c.append("m", day("2024-02-01", 4.0)) // adds feb
    c.createSnapshot(Some("sp2"), manifest = Some(true))

    // roll the collection back to the EARLIER cuts: sp1 predates both
    // the overwrite and item m entirely; sp1b pins the overwritten f
    // and the two-row january
    c.rollbackTo("sp1")
    assert(c.item("f").data.count() == 2)
    assert(!c.hasItem("m")) // born after sp1 -> removed
    c.rollbackTo("sp1b")
    assert(c.item("f").data.as[(Long, String)].collect().toSeq == Seq(9L -> "z"))
    assert(c.item("m").data.count() == 2)
    // sp2's pinned state must still read intact: the rollback retained
    // the generations sp2 pins instead of deleting them
    assert(c.item("f", snapshot = Some("sp2")).data
      .orderBy($"index").as[(Long, String)].collect().toSeq == Seq(9L -> "z"))
    assert(c.item("m", snapshot = Some("sp2")).data.count() == 4)
    // and rolling FORWARD to sp2 restores the mutated state exactly
    c.rollbackTo("sp2")
    assert(c.item("f").data.as[(Long, String)].collect().toSeq == Seq(9L -> "z"))
    assert(c.item("m").data.count() == 4)
    // ...after which sp1 still reads (round-trip savepoints both ways)
    assert(c.item("f", snapshot = Some("sp1")).data.count() == 2)
    c.rollbackTo("sp1")
    assert(c.item("f").data.count() == 2)
    cleanup(c)
  }

  test("legacy copied-item savepoints survive REPEATED rollback (copy-back, not rename)") {
    import org.apache.spark.sql.functions.col
    val c = tempCollection("msnap_rb_legacy")
    def day(d: String, v: Double) = {
      import spark.implicits._
      Seq((java.sql.Timestamp.valueOf(s"$d 00:00:00"), v)).toDF("index", "value")
    }
    c.write("m", day("2024-01-01", 1.0), monthlyLayout = true)
    c.append("m", day("2024-01-02", 2.0))
    // forge a LEGACY sidecar: no _period_gens → createSnapshot must
    // fall back to copying the item into the snapshot dir
    val itemPath = c.path.resolve("m")
    Meta.write(itemPath, Meta.read(itemPath) - "_period_gens")
    c.clearMetadataCache()
    c.createSnapshot(Some("sp"), manifest = Some(true))
    assert(c.path.resolve("_snapshots").resolve("sp").resolve("m").isDir,
      "legacy time item must be copied into the snapshot dir")
    c.append("m", day("2024-01-03", 3.0))
    assert(c.rollbackTo("sp")("m") == "restored")
    assert(c.item("m").data.count() == 2)
    // the copy must still be there: roll forward and back AGAIN
    c.append("m", day("2024-01-04", 4.0))
    assert(c.rollbackTo("sp")("m") == "restored")
    assert(c.item("m").data.count() == 2,
      "a second rollback to a legacy savepoint must restore, not delete")
    assert(c.item("m").data.agg(org.apache.spark.sql.functions.max(col("value")))
      .head.getDouble(0) == 2.0)
    cleanup(c)
  }

  test("rollback undoes metadata-only mutations: ALTER ADD COLUMNS and analyze") {
    val c = tempCollection("msnap_rb_meta")
    def day(d: String, n: Int) = {
      import spark.implicits._
      val start = java.time.LocalDate.parse(d)
      (0 until n).map(i =>
        (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), i.toDouble))
        .toDF("index", "value")
    }
    c.write("m", day("2024-01-01", 40), monthlyLayout = true)
    c.createSnapshot(Some("sp"), manifest = Some(true))
    // metadata-only mutations: no generation moves
    c.addColumns("m", Seq(org.apache.spark.sql.types.StructField(
      "adj", org.apache.spark.sql.types.DoubleType)))
    c.analyzeItem("m", Seq("value"))
    c.setItemProperties("m", Map("quality" -> "silver"), Seq.empty)
    assert(c.item("m").data.columns.contains("adj"))
    // the savepoint must undo them even though the data never changed
    assert(c.rollbackTo("sp")("m") == "restored")
    assert(!c.item("m").data.columns.contains("adj"),
      "rollback must undo a metadata-only ALTER ADD COLUMNS")
    assert(!c.metadata("m").contains("_stats_cols"))
    assert(!c.metadata("m").contains("quality"))
    // and a second rollback is a pure no-op
    assert(c.rollbackTo("sp")("m") == "unchanged")
    cleanup(c)
  }

  test("a vanished pin manifest fails restore TYPED — never deletes the live item") {
    val c = tempCollection("msnap_gone_pin")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    c.createSnapshot(Some("sp"), manifest = Some(true))
    c.append("it", df3(3L -> "c"))
    // simulate a vacuumed/raced-away manifest
    val f = Snapshots.manifestFile(c.path, "sp")
    f.fs.deleteRecursively(f.raw)
    val e = intercept[GraftError](Snapshots.restoreFromManifest(c.path, "sp", "it"))
    assert(e.getMessage.contains("no longer exists"), e.getMessage)
    assert(c.item("it").data.count() == 3, "the live item must be untouched")
    // rollbackTo refuses up front for the same reason
    val e2 = intercept[GraftError](c.rollbackTo("sp"))
    assert(e2.getMessage.contains("manifest snapshot"))
    cleanup(c)
  }

  test("reserved '__' snapshot names refuse; corrupt stamps don't abort vacuum") {
    val c = tempCollection("msnap_reserved")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    val e = intercept[ValidationError](c.createSnapshot(Some("__txn_mine")))
    assert(e.getMessage.contains("reserved"))
    // sanitization cannot smuggle the prefix in ("_ x" -> "__x")
    val e2 = intercept[ValidationError](c.createSnapshot(Some("_ txn_mine")))
    assert(e2.getMessage.contains("reserved"))
    // nor can any read/maintenance surface resolve an internal pin name
    assert(intercept[GraftError](c.item("it", snapshot = Some("__txn_x")))
      .getMessage.contains("internal pin"))
    assert(intercept[GraftError](spark.read.format("graft").option("snapshot", "__txn_x")
      .load(c.path.resolve("it").toString)).getMessage.contains("internal pin"))
    assert(intercept[GraftError](c.deleteSnapshot("__txn_x"))
      .getMessage.contains("internal pin"))
    assert(intercept[GraftError](c.rollbackTo("__txn_x"))
      .getMessage.contains("internal pin"))
    // a pin manifest with a garbled created stamp still counts as stale
    Snapshots.createManifest(c.path, "__txn_corrupt", Seq("it"))
    val mf = Snapshots.manifestFile(c.path, "__txn_corrupt")
    val garbled = new String(mf.fs.readBytes(mf.raw), "UTF-8")
      .replaceFirst(""""created"\s*:\s*"[^"]+"""", """"created" : "not a stamp"""")
    mf.fs.writeBytesAtomic(mf.raw, garbled.getBytes("UTF-8"))
    assert(c.vacuum() == Seq("__txn_corrupt"))
    assert(!Snapshots.manifestExists(c.path, "__txn_corrupt"))
    cleanup(c)
  }

  test("diffSnapshot: empty when unchanged, tags appends added and deletes removed") {
    val c = tempCollection("msnap_diff")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    val snap = c.createSnapshot(Some("d1"), manifest = Some(true))
    assert(c.diffSnapshot("it", snap).isEmpty)
    c.append("it", df3(3L -> "c"))
    c.deleteWhere("it", col("index") === 1L)
    val diff = c.diffSnapshot("it", snap)
      .select(col("change"), col("index"), col("v"))
      .as[(String, Long, String)].collect().toSet
    assert(diff == Set(("added", 3L, "c"), ("removed", 1L, "a")))
    cleanup(c)
  }

  test("snapshot read resolves to the LIVE dir while generation is unchanged") {
    val c = tempCollection("msnap_live")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    // no mutation since the snapshot: nothing retained, read hits live
    val retained = c.path.resolve(GraftStore.SnapshotsDir)
      .resolve(Snapshots.RetainedDir)
    assert(!retained.isDir || retained.listDirs.isEmpty)
    assert(c.item("it", snapshot = Some(snap)).data.count() == 1)
    cleanup(c)
  }

  test("deleting the last referencing manifest GCs retained generations") {
    val c = tempCollection("msnap_gc")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    val s1 = c.createSnapshot(Some("s1"), manifest = Some(true))
    val s2 = c.createSnapshot(Some("s2"), manifest = Some(true)) // same gen pinned twice
    c.append("it", df3(2L -> "b")) // retains the pinned generation
    val retained = c.path.resolve(GraftStore.SnapshotsDir)
      .resolve(Snapshots.RetainedDir).resolve("it")
    assert(retained.isDir && retained.listDirs.nonEmpty)

    c.deleteSnapshot(s1)
    // s2 still pins the generation — retained survives
    assert(retained.isDir && retained.listDirs.nonEmpty)
    assert(c.item("it", snapshot = Some(s2)).data.count() == 1)

    c.deleteSnapshot(s2)
    // refcount hit zero — retained dir GC'd
    assert(!retained.isDir)
    cleanup(c)
  }

  test("time-layout manifest pins per-period generations — no copy") {
    val c = tempCollection("msnap_time")
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-15 00:00:00")
    c.write("tl", Seq((t0, 1.0)).toDF("index", "v"),
      indexCols = Seq("index"), timeLayout = Some("monthly"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    // pinned by generation map, NOT copied into the snapshot dir
    assert(!c.path.resolve(GraftStore.SnapshotsDir).resolve(snap).resolve("tl").isDir)
    // appending a NEW month touches nothing pinned: no retention
    c.append("tl", Seq((t1, 2.0)).toDF("index", "v"))
    val retained = c.path.resolve(GraftStore.SnapshotsDir)
      .resolve(Snapshots.RetainedDir)
    assert(!retained.isDir || retained.listDirs.isEmpty)
    assert(c.item("tl").data.count() == 2)
    assert(c.item("tl", snapshot = Some(snap)).data.count() == 1)
    cleanup(c)
  }

  test("rewriting a pinned period retains just that period by rename") {
    val c = tempCollection("msnap_period_cow")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    c.write("tl", Seq((ts("2024-01-10 00:00:00"), 1.0),
        (ts("2024-02-10 00:00:00"), 5.0)).toDF("index", "v"),
      indexCols = Seq("index"), timeLayout = Some("monthly"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    // append INTO January — rewrites the pinned period dir
    c.append("tl", Seq((ts("2024-01-20 00:00:00"), 2.0)).toDF("index", "v"))
    assert(c.item("tl").data.count() == 3)
    val snapRows = c.item("tl", snapshot = Some(snap)).data
      .orderBy($"index").as[(java.sql.Timestamp, Double)].collect().toSeq
    assert(snapRows.map(_._2) == Seq(1.0, 5.0), s"got $snapRows")
    // only January was retained (February untouched → still live)
    val periods = c.path.resolve(GraftStore.SnapshotsDir)
      .resolve(Snapshots.RetainedDir).resolve("tl").resolve("periods")
    assert(periods.isDir && periods.listDirs == Seq("2024-01"))

    // delete the whole live item: February's pinned gen retains too
    c.deleteItem("tl")
    val afterDelete = c.item("tl", snapshot = Some(snap)).data
      .orderBy($"index").as[(java.sql.Timestamp, Double)].collect().toSeq
    assert(afterDelete.map(_._2) == Seq(1.0, 5.0))

    // snapshot delete GCs the retained periods
    c.deleteSnapshot(snap)
    assert(!periods.isDir)
    cleanup(c)
  }

  test("snapshot reads of time items prune period dirs by index filter") {
    val c = tempCollection("msnap_period_prune")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    c.write("tl", Seq((ts("2024-01-10 00:00:00"), 1.0),
        (ts("2024-02-10 00:00:00"), 2.0),
        (ts("2024-03-10 00:00:00"), 3.0)).toDF("index", "v"),
      indexCols = Seq("index"), timeLayout = Some("monthly"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    val got = c.item("tl", snapshot = Some(snap),
        filters = Seq(Filters.Pred("index", ">=", ts("2024-02-01 00:00:00"))))
      .data.orderBy($"index").as[(java.sql.Timestamp, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(2.0, 3.0))
    cleanup(c)
  }

  test("manifest is the default snapshot mode on the Hadoop backend") {
    val root = java.nio.file.Files.createTempDirectory("graft_msnap_hfs")
    val c = GraftStore.at(spark, "file:" + root.resolve("s").toString)
      .collection("c")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    val snap = c.createSnapshot(Some("s1")) // no explicit mode
    assert(Snapshots.manifestExists(c.path, snap))
    c.append("it", df3(2L -> "b"))
    c.deleteItem("it")
    assert(c.item("it", snapshot = Some(snap)).data.count() == 1)
    c.deleteSnapshot(snap)
    assert(c.listSnapshots().isEmpty)
    c.path.parent.parent.deleteRecursively()
  }

  test("vacuum removes interrupted-operation leftovers, keeps live data") {
    val c = tempCollection("vacuum")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    c.path.resolve("__tmp_crashed").mkdirs()
    c.path.resolve("__backup_month_x_2024-01").mkdirs()
    c.path.resolve("__txn_backup_old").mkdirs()
    c.path.resolve("__cow_it_dead1234").mkdirs() // crashed row-level staging
    val removed = c.vacuum()
    assert(removed.toSet ==
      Set("__tmp_crashed", "__backup_month_x_2024-01", "__txn_backup_old",
        "__cow_it_dead1234"))
    assert(c.items == Set("it"))
    assert(c.item("it").data.count() == 1)
    assert(c.vacuum().isEmpty)
    // internal pin manifests are reclaimed AGE-GATED: a fresh pin may
    // belong to an in-flight txn/REPLACE in another session and must
    // survive; an hour-old one is crash debris
    Snapshots.createManifest(c.path, "__txn_fresh", Seq("it"))
    assert(c.vacuum().isEmpty)
    assert(Snapshots.manifestExists(c.path, "__txn_fresh"))
    val mf = Snapshots.manifestFile(c.path, "__txn_fresh")
    val old = java.time.Instant.now().minusSeconds(7200)
    val patched = new String(mf.fs.readBytes(mf.raw), "UTF-8").replaceFirst(
      """"created"\s*:\s*"[^"]+"""",
      s""""created" : "${Meta.stampOf(old)}"""")
    mf.fs.writeBytesAtomic(mf.raw, patched.getBytes("UTF-8"))
    assert(c.vacuum() == Seq("__txn_fresh"))
    assert(!Snapshots.manifestExists(c.path, "__txn_fresh"))
    cleanup(c)
  }

  test("typed errors: missing manifest snapshot / item not in manifest") {
    val c = tempCollection("msnap_err")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    val snap = c.createSnapshot(Some("s1"), manifest = Some(true))
    intercept[SnapshotNotFoundError] { c.item("it", snapshot = Some("nope")) }
    intercept[ItemNotFoundError] { c.item("ghost", snapshot = Some(snap)) }
    cleanup(c)
  }

  test("timestamp travel is DATA-exact: metadata-only mutations neither begin nor end a window") {
    val c = tempCollection("msnap_dataexact")
    c.write("it", df3(1L -> "a", 2L -> "b"), indexCols = Seq("index"))
    Thread.sleep(5)
    val t1 = java.time.Instant.now() // instant inside the write's window
    Thread.sleep(5)
    // a metadata-only mutation logs with the generation UNCHANGED
    c.setItemProperties("it", Map("team" -> "ops"))
    // no later data commit → LIVE (post-alter declared metadata, same bytes)
    assert(Snapshots.resolveAsOf(c.path, "it", t1) == Snapshots.AsOfLive)
    // a manifest created AFTER the alter still pins the write's bytes —
    // the alter must not orphan it from the write's window
    c.createSnapshot(Some("m1"), manifest = Some(true))
    Thread.sleep(5)
    c.append("it", df3(3L -> "c")) // the data commit that ENDS the window
    assert(Snapshots.resolveAsOf(c.path, "it", t1) ==
      Snapshots.AsOfSnapshot("m1"))
    // and an alter AFTER the rewrite must not narrow t1's window either:
    // (regression arm for the round-10 windowEnd behavior)
    c.setItemProperties("it", Map("team" -> "data"))
    assert(Snapshots.resolveAsOf(c.path, "it", t1) ==
      Snapshots.AsOfSnapshot("m1"))
    cleanup(c)
  }

  test("resolveAsOf verifies the chosen manifest pins the resolved generation (clock skew)") {
    val c = tempCollection("msnap_genverify")
    c.write("it", df3(1L -> "a"), indexCols = Seq("index"))
    c.createSnapshot(Some("old"), manifest = Some(true)) // pins gen g1
    Thread.sleep(5)
    c.append("it", df3(2L -> "b")) // g2
    Thread.sleep(5)
    val t2 = java.time.Instant.now() // inside g2's window
    Thread.sleep(5)
    c.append("it", df3(3L -> "c")) // g3 rewrites g2's state
    // forge clock skew: push 'old's creation stamp INTO g2's window.
    // Its pins still say g1 — stamp-only resolution would serve g1's
    // bytes for a g2 instant; generation verification must refuse.
    val mf = Snapshots.manifestFile(c.path, "old")
    val txt = new String(c.path.fs.readBytes(mf.raw),
      java.nio.charset.StandardCharsets.UTF_8)
    val skewed = txt.replaceFirst(
      "\"created\"\\s*:\\s*\"[^\"]+\"",
      "\"created\" : \"" + Meta.stampOf(t2.minusMillis(1)) + "\"")
    assert(skewed != txt)
    c.path.fs.writeBytesAtomic(mf.raw, skewed.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[GraftError](Snapshots.resolveAsOf(c.path, "it", t2))
    assert(e.getMessage.contains("no manifest snapshot pinned it"),
      e.getMessage)
    cleanup(c)
  }

  test("multiprocess mode: the snapshot cut and the rollback restore hold EVERY item's cross-process lock") {
    // the deterministic half of the cross-process-cut proof (the
    // forked race lives in CrashKillSpec): at the capture seam and the
    // restore seam, every item's `__itemlock_*` must stand — a writer
    // in another process then can never commit BETWEEN two items' pin
    // reads (capture) or interleave with the restore renames.
    val c = tempCollection("msnap_mp_locks")
    c.write("a", df3(1L -> "a"), indexCols = Seq("index"))
    c.write("b", df3(1L -> "b"), indexCols = Seq("index"))
    c.enableMultiprocess()
    def heldLocks(): Set[String] =
      c.path.listDirs.filter(_.startsWith(Collection.ItemLockPrefix)).toSet
    var atCut: Set[String] = null
    var atRestore: Set[String] = null
    Collection.commitSeamHook = name =>
      if (name.startsWith("snapshot_cut:")) atCut = heldLocks()
      else if (name.startsWith("rollback_restore:")) atRestore = heldLocks()
    try {
      c.createSnapshot(Some("cutlock"), manifest = Some(true))
      c.append("a", df3(2L -> "a2"))
      c.rollbackTo("cutlock")
    } finally Collection.commitSeamHook = _ => ()
    assert(atCut == Set("__itemlock_a", "__itemlock_b"),
      s"the cut must hold both item locks, held: $atCut")
    assert(atRestore == Set("__itemlock_a", "__itemlock_b"),
      s"the restore must hold both item locks, held: $atRestore")
    assert(heldLocks().isEmpty, "no lock may outlive the verbs")
    assert(c.item("a").data.count() == 1, "the rollback must have restored a")
    cleanup(c)
  }
}
