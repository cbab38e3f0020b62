package graft

import org.apache.spark.sql.functions._

import graft.store._

/** Bloom-filter data-skipping index: build, exact-skip pruning, the
  * generation-validity contract, layout composition, and the typed
  * refusals. The load-bearing assertion style is `df.inputFiles` —
  * the files the PLANNED scan actually reads. */
class BloomIndexSpec extends SparkSpec {

  /** 400 rows over 8 files: a unique string key (hash-scattered, so
    * file membership is physical, not sorted order) + a low-card tag. */
  private def keyedData = {
    import spark.implicits._
    (0 until 400).map { i =>
      (i.toLong, s"key_$i", s"tag_${i % 5}", i.toDouble)
    }.toDF("index", "key", "tag", "value")
  }

  test("equality on an indexed column prunes to a strict file subset, result identical") {
    val c = tempCollection("bloom_basic")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    val all = c.item("item").data.inputFiles.length
    assert(all == 8, s"expected 8 data files, got $all")

    c.buildBloomIndex("item", Seq("key"))
    val pruned = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_123")))
    val files = pruned.data.inputFiles.length
    assert(files < all, s"bloom did not prune: $files of $all files read")
    val rows = pruned.data.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("index") == 123L)
    cleanup(c)
  }

  test("a definitely-absent value reads zero files and serves the typed empty frame") {
    val c = tempCollection("bloom_miss")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    val it = c.item("item", filters = Seq(Filters.Pred("key", "==", "no_such_key")))
    // a miss CAN false-positive a file or two; the overwhelmingly
    // likely outcome at fpp=0.01 over 8 files is zero — accept <=1
    assert(it.data.inputFiles.length <= 1)
    assert(it.data.count() == 0)
    assert(it.data.schema.fieldNames.toSet == Set("index", "key", "tag", "value"))
    cleanup(c)
  }

  test("no false negatives: every present key keeps its file (exact skip)") {
    val c = tempCollection("bloom_exact")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    (0 until 400 by 13).foreach { i =>
      val hits = c.item("item", filters = Seq(Filters.Pred("key", "==", s"key_$i")))
        .data.collect()
      assert(hits.length == 1 && hits.head.getAs[String]("key") == s"key_$i",
        s"key_$i lost by pruning")
    }
    cleanup(c)
  }

  test("a commit retires the index: read stays correct and unpruned until rebuild") {
    val c = tempCollection("bloom_stale")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    import spark.implicits._
    c.append("item", Seq((1000L, "key_new", "tag_0", 1.0))
      .toDF("index", "key", "tag", "value"), npartitions = Some(8))
    val it = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_new")))
    // stale index must NOT prune (the new row's file is unknown to it —
    // and more importantly the generation moved, so it is ignored whole)
    assert(it.data.count() == 1)
    assert(it.data.inputFiles.length == c.item("item").data.inputFiles.length)
    c.buildBloomIndex("item", Seq("key"))
    val again = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_new")))
    assert(again.data.count() == 1)
    assert(again.data.inputFiles.length < c.item("item").data.inputFiles.length)
    cleanup(c)
  }

  test("multiple predicates intersect; non-equality and unindexed predicates ride along") {
    val c = tempCollection("bloom_multi")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key", "tag"))
    val it = c.item("item", filters = Seq(
      Filters.Pred("key", "==", "key_77"),
      Filters.Pred("tag", "==", "tag_2"),
      Filters.Pred("value", ">", 0.0)))
    val rows = it.data.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("index") == 77L)
    assert(it.data.inputFiles.length < 8)
    // contradictory pair (key_77 is tag_2, not tag_3) → empty, still cheap
    val none = c.item("item", filters = Seq(
      Filters.Pred("key", "==", "key_77"),
      Filters.Pred("tag", "==", "tag_3")))
    assert(none.data.count() == 0)
    cleanup(c)
  }

  test("numeric literal coercion: an Int literal probes a Long column, a mismatch skips pruning") {
    val c = tempCollection("bloom_coerce")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("index"))
    val hit = c.item("item", filters = Seq(Filters.Pred("index", "==", 123)))
    assert(hit.data.count() == 1)
    assert(hit.data.inputFiles.length < 8)
    // a String literal against the Long column cannot hash-coerce →
    // pruning skipped, result semantics stay whatever the filter does
    val skip = c.item("item", filters = Seq(Filters.Pred("index", "==", "123")))
    assert(skip.data.inputFiles.length == 8)
    cleanup(c)
  }

  test("time-layout items: bloom file pruning composes with period pruning") {
    val c = tempCollection("bloom_monthly")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    val all = c.item("item").data.inputFiles.length
    val it = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(it.data.collect().map(_.getAs[String]("key")).toSeq == Seq("k_100"))
    assert(it.data.inputFiles.length < all, "no file pruning on monthly item")
    cleanup(c)
  }

  /** 300 rows across six 2024 months (the monthly fixture shared by
    * the layout-compose and incremental-maintenance arms). */
  private def monthlyData = {
    import spark.implicits._
    (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1 + i % 6, 1 + i % 28).atStartOfDay()),
        s"k_$i", i.toDouble)
    }.toDF("index", "key", "value")
  }

  test("a partial-month append maintains the index incrementally: untouched blooms carry, new rows indexed") {
    import spark.implicits._
    val c = tempCollection("bloom_incr")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    val sidecarPath = c.path.resolve("item")
      .resolve(BloomIndex.sidecarName("key"))
    def sidecar(): Map[String, String] = {
      val json = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sidecarPath.raw)), "UTF-8"))
      json.asInstanceOf[org.json4s.JObject].obj.toMap.apply("files")
        .asInstanceOf[org.json4s.JObject].obj.collect {
          case (f, org.json4s.JString(b)) => f -> b
        }.toMap
    }
    val before = sidecar()
    // append one row into March only: exactly one period rewrites
    c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), "k_new", 1.0))
      .toDF("index", "key", "value"))
    val after = sidecar()
    // untouched periods' blooms carried over BYTE-identical (no rescan);
    // the touched period's entries were replaced (its files are new)
    val untouchedBefore = before.filterNot(_._1.startsWith("__month=2024-03/"))
    val untouchedAfter = after.filterNot(_._1.startsWith("__month=2024-03/"))
    assert(untouchedAfter == untouchedBefore, "untouched blooms were not carried")
    assert(after.keys.exists(_.startsWith("__month=2024-03/")))
    assert(before.keys.filter(_.startsWith("__month=2024-03/")).toSet !=
      after.keys.filter(_.startsWith("__month=2024-03/")).toSet)
    // the refreshed index is CURRENT: new key found AND pruned, old key
    // in an untouched month still pruned — no rebuild ran
    val all = c.item("item").data.inputFiles.length
    val nw = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_new")))
    assert(nw.data.collect().map(_.getAs[String]("key")).toSeq == Seq("k_new"))
    assert(nw.data.inputFiles.length < all, "appended key not bloom-pruned")
    val old = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(old.data.count() == 1)
    assert(old.data.inputFiles.length < all, "carried bloom stopped pruning")
    cleanup(c)
  }

  test("deleteWhere maintains the index: a deleted key probes to a definitely-absent zero-file read") {
    import org.apache.spark.sql.functions.col
    val c = tempCollection("bloom_del")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    assert(c.deleteWhere("item", col("key") === "k_100") == 1L)
    val gone = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(gone.data.count() == 0)
    assert(gone.data.inputFiles.length <= 1,
      "deleted key should be bloom-absent everywhere (≤1 false-positive file)")
    // survivors in the rewritten period are re-indexed (k_100 was month 5:
    // i=100 → 1+100%6; k_106 shares it) and still found pruned
    val kept = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_106")))
    assert(kept.data.count() == 1)
    assert(kept.data.inputFiles.length < c.item("item").data.inputFiles.length)
    cleanup(c)
  }

  test("deleteWhere discovery narrows to bloom-positive periods; IN spans them; never under-deletes") {
    import org.apache.spark.sql.functions.col
    val c = tempCollection("bloom_delprune")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    // a key-equality predicate has NO index-column constraint: without
    // the bloom, discovery reads all 6 periods; with it, exactly k_10's
    def discParts(pred: org.apache.spark.sql.Column): Int =
      deletePeriodsOpened(c, "item", pred).size
    assert(discParts(col("key") === "k_10") == 1,
      "single-key discovery should read exactly the bloom-positive period")
    // an IN spanning two months keeps both; the delete lands exactly
    assert(discParts(col("key").isin("k_10", "k_3")) == 2)
    assert(c.deleteWhere("item", col("key").isin("k_10", "k_3")) == 2L)
    assert(c.item("item").data.count() == 298)
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "k_10")))
      .data.count() == 0)
    // post-delete the index refreshed incrementally: a surviving key in
    // a rewritten period still probes pruned
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "k_16")))
      .data.count() == 1)
    cleanup(c)
  }

  test("a crash between commit and refresh leaves the index retired: correct, unpruned, rebuild revives") {
    import spark.implicits._
    val c = tempCollection("bloom_crash")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    c.simulateCrashBeforeStatsRefresh = true
    try c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), "k_new", 1.0))
      .toDF("index", "key", "value"))
    finally c.simulateCrashBeforeStatsRefresh = false
    val all = c.item("item").data.inputFiles.length
    val probe = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_new")))
    assert(probe.data.count() == 1)
    assert(probe.data.inputFiles.length == all,
      "a stale (crashed-refresh) index must not prune")
    c.buildBloomIndex("item", Seq("key"))
    val again = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_new")))
    assert(again.data.count() == 1 && again.data.inputFiles.length < all)
    cleanup(c)
  }

  test("drop removes the sidecars; listing names indexed columns; refusals are typed") {
    val c = tempCollection("bloom_admin")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(4))
    c.buildBloomIndex("item", Seq("key", "tag"))
    assert(c.bloomIndexedColumns("item") == Seq("key", "tag"))
    assert(c.dropBloomIndex("item", Seq("tag")) == Seq("tag"))
    assert(c.bloomIndexedColumns("item") == Seq("key"))
    assert(c.dropBloomIndex("item") == Seq("key"))
    assert(c.bloomIndexedColumns("item").isEmpty)
    val it = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_1")))
    assert(it.data.inputFiles.length == 4) // no index → no pruning
    intercept[ValidationError] { c.buildBloomIndex("item", Nil) }
    intercept[ValidationError] { c.buildBloomIndex("item", Seq("nope")) }
    intercept[ValidationError] { c.buildBloomIndex("item", Seq("key"), fpp = 1.5) }
    intercept[ItemNotFoundError] { c.buildBloomIndex("ghost", Seq("key")) }
    cleanup(c)
  }

  test("an IN-list prunes to the union of its values' files; oversized lists skip pruning") {
    val c = tempCollection("bloom_in")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    val it = c.item("item", filters = Seq(
      Filters.Pred("key", "in", Seq("key_3", "key_200", "no_such"))))
    assert(it.data.collect().map(_.getAs[Long]("index")).sorted.toSeq == Seq(3L, 200L))
    assert(it.data.inputFiles.length < 8)
    // beyond MaxInValues the planning loop is refused, read stays whole
    val big = c.item("item", filters = Seq(
      Filters.Pred("key", "in", (0 to BloomIndex.MaxInValues).map(i => s"key_$i"))))
    assert(big.data.inputFiles.length == 8)
    assert(big.data.count() == BloomIndex.MaxInValues + 1)
    cleanup(c)
  }

  /** Files the PLANNED V2 scan reads — `DataFrame.inputFiles` is
    * EMPTY for DSv2 relations (GraftScan is not a FileScan), so the
    * probe walks the executed plan to the wrapped parquet file index. */
  private def v2ScanFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case g: graft.sources.GraftScan => g.parquet.fileIndex.inputFiles.length
          case _ => 0
        }
    }.sum

  /** Register a GraftCatalog over the collection's store (same pattern
    * as GraftSqlSpec — per-test name, CatalogManager caches by name). */
  private def withCatalog(c: Collection, tag: String)(body: String => Unit): Unit = {
    val cat = s"gbloom_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", c.path.parent.toString)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("SQL front door: CALL builds the index, WHERE = and IN prune, INSERT retires, CALL drops") {
    val c = tempCollection("bloom_sql")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    withCatalog(c, "sql") { cat =>
      val built = spark.sql(
        s"CALL $cat.system.build_bloom_index('c', 'item', 'key')")
        .collect().map(_.getString(0))
      assert(built.toSeq == Seq("key"))
      // $bloom metadata table: one row per indexed column, current=true
      val st = spark.sql(s"SELECT * FROM $cat.c.`item$$bloom`").collect()
      assert(st.length == 1 && st.head.getString(0) == "key" &&
        st.head.getBoolean(1) && st.head.getLong(4) == 8L)
      // the planning-cost metric (sharded-sidecar trigger, PLANS.md):
      // serving this $bloom row forced a cold sidecar parse, so the
      // last-parse cost is recorded and the bitset bytes are real
      assert(st.head.getLong(5) >= 0L, "last_parse_ms should be recorded")
      assert(st.head.getLong(6) > 0L, "parsed_bytes should be the bitset size")
      val eq = spark.sql(s"SELECT index, key FROM $cat.c.item WHERE key = 'key_42'")
      assert(eq.collect().map(_.getLong(0)).toSeq == Seq(42L))
      val eqFiles = v2ScanFiles(eq)
      assert(eqFiles > 0 && eqFiles < 8, s"SQL equality read not bloom-pruned ($eqFiles)")
      val in = spark.sql(
        s"SELECT index FROM $cat.c.item WHERE key IN ('key_1', 'key_399')")
      assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 399L))
      val inFiles = v2ScanFiles(in)
      assert(inFiles > 0 && inFiles < 8, s"SQL IN read not bloom-pruned ($inFiles)")
      // a SQL write moves the generation: the index retires, reads widen
      spark.sql(
        s"INSERT INTO $cat.c.item VALUES (1000, 'key_new', 'tag_0', 1.0)")
      val stale = spark.sql(s"SELECT index FROM $cat.c.item WHERE key = 'key_new'")
      assert(stale.collect().map(_.getLong(0)).toSeq == Seq(1000L))
      assert(v2ScanFiles(stale) ==
        v2ScanFiles(spark.sql(s"SELECT * FROM $cat.c.item")))
      // the flat-item commit retired it: $bloom reports current=false
      val retired = spark.sql(s"SELECT current FROM $cat.c.`item$$bloom`").collect()
      assert(retired.length == 1 && !retired.head.getBoolean(0))
      val dropped = spark.sql(s"CALL $cat.system.drop_bloom_index('c', 'item')")
        .collect().map(_.getString(0))
      assert(dropped.toSeq == Seq("key"))
      assert(c.bloomIndexedColumns("item").isEmpty)
      assert(spark.sql(s"SELECT * FROM $cat.c.`item$$bloom`").count() == 0)
    }
    cleanup(c)
  }

  test("streaming sink micro-batches keep a monthly item's index current (free incremental refresh)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val c = tempCollection("bloom_stream")
    val src = java.nio.file.Files.createTempDirectory("graft_bloom_stream")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"))
    // one micro-batch appending a new key into March rides appendPeriodic
    import spark.implicits._
    Seq((java.sql.Timestamp.valueOf("2024-03-20 00:00:00"), "k_streamed", 9.9))
      .toDF("index", "key", "value")
      .write.mode("overwrite").parquet(s"$src/in")
    graft.streaming.StreamAppend.runToCompletion(
      spark.readStream.schema(monthlyData.schema).parquet(s"$src/in")
        .writeStream.format("graft").option("path", c.path.resolve("item").toString)
        .option("checkpointLocation", s"$src/ckpt").outputMode("append"))
    val all = c.item("item").data.inputFiles.length
    val probe = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_streamed")))
    assert(probe.data.count() == 1)
    assert(probe.data.inputFiles.length < all,
      "streamed row should be indexed by the post-commit incremental refresh")
    graft.store.FsOps.deleteRecursively(src)
    cleanup(c)
  }

  test("maintenance rewrites re-arm on request: rebuildIndexes, reindex flag, CALL system.rebuild_indexes") {
    val c = tempCollection("bloom_rearm")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"), fpp = 0.02, expectedItemsPerFile = 5000L)
    c.buildFileStatsIndex("item", Seq("index"))
    // a plain rebalance retires both (generation moved, no rebuild hook)
    c.rebalance("item", Some(4))
    val full = c.item("item").data.inputFiles.length
    val stale = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_7")))
    assert(stale.data.count() == 1)
    assert(stale.data.inputFiles.length == full, "stale index must not prune")
    // the explicit re-arm rebuilds every sidecar from its recorded knobs
    assert(c.rebuildIndexes("item") == Seq("index", "key"))
    val armed = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_7")))
    assert(armed.data.count() == 1 && armed.data.inputFiles.length < full)
    val ranged = c.item("item", filters = Seq(Filters.Pred("index", ">", 350L)))
    assert(ranged.data.count() == 49 && ranged.data.inputFiles.length < full)
    // knobs survived the rebuild
    val st = BloomIndex.sidecarStates(c.path.resolve("item"))
    assert(st.length == 1 && st.head._3 == 0.02 && st.head._4 == 5000L)
    // reindex = true folds the re-arm into the verb itself
    c.rebalance("item", Some(8), reindex = true)
    val again = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_7")))
    assert(again.data.count() == 1 && again.data.inputFiles.length <
      c.item("item").data.inputFiles.length)
    // SQL face: retire again, re-arm via CALL, $bloom reports current
    c.rebalance("item", Some(8))
    withCatalog(c, "rearm") { cat =>
      val rebuilt = spark.sql(s"CALL $cat.system.rebuild_indexes('c', 'item')")
        .collect().map(_.getString(0))
      assert(rebuilt.toSeq == Seq("index", "key"))
      val cur = spark.sql(s"SELECT current FROM $cat.c.`item$$bloom`").collect()
      assert(cur.length == 1 && cur.head.getBoolean(0))
      val eq = spark.sql(s"SELECT index FROM $cat.c.item WHERE key = 'key_7'")
      assert(eq.collect().map(_.getLong(0)).toSeq == Seq(7L))
      assert(v2ScanFiles(eq) < 8, "re-armed index should prune the SQL read")
    }
    cleanup(c)
  }

  test("pinned flat reads prune through a sidecar recorded at the pin's generation") {
    import spark.implicits._
    val c = tempCollection("bloom_pin")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    val snap = c.createSnapshot(Some("pin1"), manifest = Some(true))
    // the full-rewrite append moves the LIVE generation: the sidecar is
    // stale for live reads but records exactly the pin's generation —
    // and the retained files keep their names (whole-dir rename)
    c.append("item", Seq((1000L, "key_new", "tag_0", 1.0))
      .toDF("index", "key", "tag", "value"), npartitions = Some(8))
    val live = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_123")))
    assert(live.data.inputFiles.length == c.item("item").data.inputFiles.length,
      "stale index must not prune the live read")
    val pinnedAll = c.item("item", snapshot = Some(snap)).data.inputFiles.length
    val pinned = c.item("item", snapshot = Some(snap),
      filters = Seq(Filters.Pred("key", "==", "key_123")))
    assert(pinned.data.count() == 1)
    assert(pinned.data.inputFiles.length < pinnedAll,
      "pin-generation sidecar should prune the pinned read")
    // SQL time travel rides the same pruning
    withCatalog(c, "pin") { cat =>
      val q = spark.sql(
        s"SELECT index FROM $cat.c.item VERSION AS OF 'pin1' WHERE key = 'key_123'")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(123L))
      assert(v2ScanFiles(q) < pinnedAll, "SQL pinned read not bloom-pruned")
    }
    // rebuilding for the live item re-keys the sidecar: the pin stops
    // matching and falls back to the unpruned (still correct) read
    c.buildBloomIndex("item", Seq("key"))
    val fallback = c.item("item", snapshot = Some(snap),
      filters = Seq(Filters.Pred("key", "==", "key_123")))
    assert(fallback.data.count() == 1)
    assert(fallback.data.inputFiles.length == pinnedAll)
    cleanup(c)
  }

  test("dir-snapshot reads prune through the snapshot's OWN hardlinked sidecar after the live index moves past the pin") {
    import spark.implicits._
    val c = tempCollection("bloom_dirpin")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    val snap = c.createSnapshot(Some("dirpin"), manifest = Some(false))
    // move the LIVE index past the pin: the post-append rebuild re-keys
    // the live sidecar to the new generation, so the pin's generation
    // now matches ONLY the snapshot's own hardlinked sidecar (the
    // atomic sidecar rewrite renames a new inode into place — the
    // snapshot's hardlink keeps the cut's content forever)
    c.append("item", Seq((1000L, "key_new", "tag_0", 1.0))
      .toDF("index", "key", "tag", "value"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"))
    val all = c.item("item", snapshot = Some(snap)).data.inputFiles.length
    val pinned = c.item("item", snapshot = Some(snap),
      filters = Seq(Filters.Pred("key", "==", "key_123")))
    assert(pinned.data.count() == 1)
    assert(pinned.data.inputFiles.length < all,
      "V1 snapshot read should prune via the snapshot's own sidecar")
    // the V2 face (VERSION AS OF a dir snapshot) rides the same orElse
    // chain: snapshot root first, live root (generation-matched) second
    withCatalog(c, "dirpin") { cat =>
      val q = spark.sql(
        s"SELECT index FROM $cat.c.item VERSION AS OF '$snap' WHERE key = 'key_123'")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(123L))
      assert(v2ScanFiles(q) < all,
        "V2 snapshot read should prune via the snapshot's own hardlinked sidecar")
    }
    cleanup(c)
  }

  test("pinned monthly reads: a current pin prunes; a later partial commit falls back cleanly") {
    import spark.implicits._
    val c = tempCollection("bloom_pin_m")
    c.write("m", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("m", Seq("key"))
    val snap = c.createSnapshot(Some("pinm"), manifest = Some(true))
    // nothing committed since the cut: every pinned period is live and
    // the sidecar's generation IS the pin's generation → file pruning
    val allAtCut = c.item("m", snapshot = Some(snap)).data.inputFiles.length
    val pinned = c.item("m", snapshot = Some(snap),
      filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(pinned.data.count() == 1)
    assert(pinned.data.inputFiles.length < allAtCut)
    // the partial append re-keys the index to ITS commit's generation:
    // the pin stops matching and the pinned read widens back — correct
    c.append("m", Seq(
      (java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), "k_zzz", 1.0))
      .toDF("index", "key", "value"))
    val after = c.item("m", snapshot = Some(snap),
      filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(after.data.count() == 1)
    assert(after.data.inputFiles.length == allAtCut)
    cleanup(c)
  }

  test("pinned monthly SQL reads (VERSION AS OF) prune through the PinnedPeriods branch") {
    import spark.implicits._
    val c = tempCollection("bloom_pin_sql")
    c.write("m", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("m", Seq("key"))
    c.createSnapshot(Some("sqlpin"), manifest = Some(true))
    withCatalog(c, "pinsql") { cat =>
      val allAtCut = v2ScanFiles(
        spark.sql(s"SELECT * FROM $cat.c.m VERSION AS OF 'sqlpin'"))
      assert(allAtCut >= 4)
      // generations equal at the cut: the pinned probe prunes files
      val q = spark.sql(
        s"SELECT index FROM $cat.c.m VERSION AS OF 'sqlpin' WHERE key = 'k_100'")
      assert(q.collect().length == 1)
      assert(v2ScanFiles(q) < allAtCut, "pinned monthly SQL read not pruned")
      // a partial append re-keys the index; the pin widens back, correct
      c.append("m", Seq(
        (java.sql.Timestamp.valueOf("2024-03-18 00:00:00"), "k_sqlnew", 2.0))
        .toDF("index", "key", "value"))
      val after = spark.sql(
        s"SELECT index FROM $cat.c.m VERSION AS OF 'sqlpin' WHERE key = 'k_100'")
      assert(after.collect().length == 1)
      assert(v2ScanFiles(after) == allAtCut,
        "a re-keyed sidecar must not prune the now-mismatched pin")
    }
    cleanup(c)
  }

  test("vacuum spares the index; delete/rename carry it with the item dir") {
    val c = tempCollection("bloom_lifecycle")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(4))
    c.buildBloomIndex("item", Seq("key"))
    c.vacuum()
    assert(c.bloomIndexedColumns("item") == Seq("key"))
    val pr = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_9")))
    assert(pr.data.inputFiles.length < 4)
    c.renameItem("item", "item2")
    // rename is O(1) dir move: generation unchanged, index still valid
    val pr2 = c.item("item2", filters = Seq(Filters.Pred("key", "==", "key_9")))
    assert(pr2.data.count() == 1 && pr2.data.inputFiles.length < 4)
    c.deleteItem("item2")
    assert(!c.hasItem("item2"))
    cleanup(c)
  }

  // ------------------------------------------------- sharded layout
  // (forced via singleDocMaxBytes = 0; the default threshold only
  // triggers past 16 MB of serialized blooms — probe evidence in
  // BloomIndex.SingleDocMaxBytes's doc)

  test("sharded monthly index: manifest + per-period shards, pruning and results identical to single-doc") {
    val c = tempCollection("bloom_shard_monthly")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    val itemPath = c.path.resolve("item")
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists)
    assert(itemPath.resolve(BloomIndex.shardDirName("key")).isDir)
    assert(!itemPath.resolve(BloomIndex.sidecarName("key")).exists,
      "sharded publish must clean the single-document layout")
    // one shard document per period
    val sd = itemPath.resolve(BloomIndex.shardDirName("key"))
    val shardFiles = sd.fs.listFiles(sd.raw)
    assert(shardFiles.length == 6, s"expected 6 period shards, got $shardFiles")
    val st = BloomIndex.sidecarStates(itemPath)
    assert(st.length == 1 && st.head._6 == 6, s"num_shards should be 6: $st")
    // pruning + results identical to the single-doc layout
    val all = c.item("item").data.inputFiles.length
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(hit.data.collect().map(_.getAs[String]("key")).toSeq == Seq("k_100"))
    assert(hit.data.inputFiles.length < all, "sharded bloom did not prune")
    val miss = c.item("item", filters = Seq(Filters.Pred("key", "==", "nope")))
    assert(miss.data.count() == 0 && miss.data.inputFiles.isEmpty,
      "definitely-absent value must read zero files through shards")
    assert(c.bloomIndexedColumns("item") == Seq("key"))
    cleanup(c)
  }

  test("sharded flat index: hash-bucket shards prune like the single document") {
    val c = tempCollection("bloom_shard_flat")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val itemPath = c.path.resolve("item")
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists)
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "key_123")))
    assert(hit.data.collect().map(_.getAs[Long]("index")).toSeq == Seq(123L))
    assert(hit.data.inputFiles.length < 8)
    val miss = c.item("item", filters = Seq(Filters.Pred("key", "==", "zzz")))
    assert(miss.data.count() == 0 && miss.data.inputFiles.isEmpty)
    // no false negatives through the bucketed layout
    (0 until 400 by 37).foreach { i =>
      assert(c.item("item", filters = Seq(Filters.Pred("key", "==", s"key_$i")))
        .data.count() == 1, s"key_$i lost through bucket shards")
    }
    cleanup(c)
  }

  test("sharded partial refresh: untouched shard FILES carry by name, only the touched period rewrites") {
    import spark.implicits._
    val c = tempCollection("bloom_shard_incr")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val dir = c.path.resolve("item").resolve(BloomIndex.shardDirName("key"))
    def shardBytes(): Map[String, Seq[Byte]] = dir.fs.listFiles(dir.raw).map(f =>
      f -> java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir.resolve(f).raw)).toSeq).toMap
    val before = shardBytes()
    c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), "k_new", 1.0))
      .toDF("index", "key", "value"))
    val after = shardBytes()
    val untouchedBefore = before.filterNot(_._1.startsWith("2024-03"))
    val untouchedAfter = after.filterNot(_._1.startsWith("2024-03"))
    assert(untouchedAfter == untouchedBefore,
      "untouched periods' shard files must carry byte-identical by name")
    assert(before.keySet.filter(_.startsWith("2024-03")) !=
      after.keySet.filter(_.startsWith("2024-03")),
      "the touched period must publish a NEW shard document (new generation in the name)")
    assert(after.size == before.size, "superseded shard file was not swept")
    // the refreshed sharded index is CURRENT: new key found AND pruned,
    // untouched-month key still pruned — no rebuild ran
    val all = c.item("item").data.inputFiles.length
    val nw = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_new")))
    assert(nw.data.collect().map(_.getAs[String]("key")).toSeq == Seq("k_new"))
    assert(nw.data.inputFiles.length < all)
    val old = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(old.data.count() == 1 && old.data.inputFiles.length < all)
    cleanup(c)
  }

  test("sharded deleteWhere: discovery narrows through shards; the touched period refreshes") {
    val c = tempCollection("bloom_shard_del")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    def discParts(pred: org.apache.spark.sql.Column): Int =
      deletePeriodsOpened(c, "item", pred).size
    assert(discParts(col("key") === "k_10") == 1,
      "sharded discovery should read exactly the bloom-positive period")
    assert(c.deleteWhere("item", col("key") === "k_10") == 1L)
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "k_10")))
      .data.count() == 0)
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "k_16")))
      .data.count() == 1)
    cleanup(c)
  }

  test("format transitions are clean both ways; drop removes the sharded layout") {
    val c = tempCollection("bloom_shard_flip")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(4))
    val itemPath = c.path.resolve("item")
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists)
    // sharded → single: rebuild at the default threshold (small item)
    c.buildBloomIndex("item", Seq("key"))
    assert(itemPath.resolve(BloomIndex.sidecarName("key")).exists)
    assert(!itemPath.resolve(BloomIndex.manifestName("key")).exists &&
      !itemPath.resolve(BloomIndex.shardDirName("key")).exists,
      "single publish must clean the sharded layout")
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "key_9")))
      .data.inputFiles.length < 4)
    // single → sharded again, then drop removes everything
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    assert(!itemPath.resolve(BloomIndex.sidecarName("key")).exists)
    assert(c.dropBloomIndex("item") == Seq("key"))
    assert(c.bloomIndexedColumns("item").isEmpty)
    assert(!itemPath.resolve(BloomIndex.manifestName("key")).exists &&
      !itemPath.resolve(BloomIndex.shardDirName("key")).exists)
    assert(c.item("item", filters = Seq(Filters.Pred("key", "==", "key_9")))
      .data.inputFiles.length == 4) // no index → no pruning
    cleanup(c)
  }

  test("a lost/corrupt shard file degrades to unpruned-but-correct for its key only") {
    val c = tempCollection("bloom_shard_lost")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val dir = c.path.resolve("item").resolve(BloomIndex.shardDirName("key"))
    val all = c.item("item").data.inputFiles.length
    // k_100: 100 % 6 = 4 → month 2024-05; corrupt exactly that shard
    val may = dir.fs.listFiles(dir.raw).find(_.startsWith("2024-05")).get
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.resolve(may).raw), "garbage".getBytes)
    // the probe into the corrupt shard's key keeps ALL of that PERIOD's
    // files (conservative) but other periods' shards still prune — so
    // the read is narrower than unpruned yet wider than a clean probe,
    // and the result stays exact
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(hit.data.collect().map(_.getAs[String]("key")).toSeq == Seq("k_100"))
    assert(hit.data.inputFiles.length < all,
      "other shards must still prune around the corrupt one")
    // a key living in a HEALTHY shard is unaffected
    val clean = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_7")))
    assert(clean.data.count() == 1 && clean.data.inputFiles.length < all)
    cleanup(c)
  }

  test("vacuum reclaims aged orphan shard files, spares fresh and referenced ones") {
    val c = tempCollection("bloom_shard_vacuum")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val dir = c.path.resolve("item").resolve(BloomIndex.shardDirName("key"))
    val live = dir.fs.listFiles(dir.raw).toSet
    // an ORPHAN from a publish crashed before its manifest: unreferenced
    val mkOrphan = (name: String) => {
      val p = java.nio.file.Paths.get(dir.resolve(name).raw)
      java.nio.file.Files.write(p, "dead".getBytes)
      p
    }
    val aged = mkOrphan("2031-01.0.g999.json")
    java.nio.file.Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.from(
        java.time.Instant.now().minusSeconds(72 * 3600)))
    mkOrphan("2031-02.0.g999.json") // fresh: could be an in-flight build
    val report = c.vacuum()
    assert(report.exists(_.contains("orphan_bloom_shard:item")), report)
    val after = dir.fs.listFiles(dir.raw).toSet
    assert(!after.contains("2031-01.0.g999.json"), "aged orphan not swept")
    assert(after.contains("2031-02.0.g999.json"), "fresh orphan must be spared")
    assert(live.subsetOf(after), "referenced shard files must survive vacuum")
    // the index is untouched: still current, still pruning
    val all = c.item("item").data.inputFiles.length
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(hit.data.count() == 1 && hit.data.inputFiles.length < all)
    cleanup(c)
  }

  test("sharded maintenance re-arm: rebuildIndexes keeps the recorded knobs; a commit retires shards") {
    val c = tempCollection("bloom_shard_rearm")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), fpp = 0.02,
      expectedItemsPerFile = 5000L, singleDocMaxBytes = 0L)
    val full = c.item("item").data.inputFiles.length
    // a full rewrite retires the sharded index (manifest generation moves)
    c.rebalance("item")
    val stale = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_7")))
    assert(stale.data.count() == 1)
    assert(stale.data.inputFiles.length ==
      c.item("item").data.inputFiles.length, "stale sharded index must not prune")
    assert(c.rebuildIndexes("item") == Seq("key"))
    val armed = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_7")))
    assert(armed.data.count() == 1 && armed.data.inputFiles.length <
      c.item("item").data.inputFiles.length)
    // ALL knobs survived the round trip through the manifest — fpp,
    // expected items, AND the forced single-doc ceiling: the rebuild
    // re-dispatches with the RECORDED singleDocMaxBytes=0, so the
    // small fixture stays SHARDED instead of reverting to the default
    val itemPath = c.path.resolve("item")
    val st = BloomIndex.sidecarStates(itemPath)
    assert(st.length == 1 && st.head._3 == 0.02 && st.head._4 == 5000L)
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists &&
      !itemPath.resolve(BloomIndex.sidecarName("key")).exists,
      "forced sharded layout (singleDocMaxBytes=0) must survive rebuildIndexes")
    assert(st.head._6 > 0, "rebuilt index should still report shards")
    cleanup(c)
  }

  test("a forced layout survives incremental refresh: the persisted ceiling rides the manifest") {
    import spark.implicits._
    val c = tempCollection("bloom_shard_knob")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val itemPath = c.path.resolve("item")
    // a partial-month append refreshes incrementally; the rewritten
    // manifest must carry the recorded ceiling so the NEXT maintenance
    // (rebuild after a rebalance) still honors the forced layout
    c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2024-02-10 00:00:00"), "k_knob", 2.0))
      .toDF("index", "key", "value"))
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists,
      "refresh must keep the sharded layout")
    c.rebalance("item") // retires the index (generation moves)
    assert(c.rebuildIndexes("item") == Seq("key"))
    assert(itemPath.resolve(BloomIndex.manifestName("key")).exists &&
      !itemPath.resolve(BloomIndex.sidecarName("key")).exists,
      "the ceiling persisted through refresh must steer the rebuild back to sharded")
    val all = c.item("item").data.inputFiles.length
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_knob")))
    assert(hit.data.count() == 1 && hit.data.inputFiles.length < all)
    cleanup(c)
  }

  test("vacuum spares every shard when the manifest is present but unreadable") {
    val c = tempCollection("bloom_shard_vacuum_safe")
    c.write("item", monthlyData, indexCols = Seq("index"), monthlyLayout = true)
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    val itemPath = c.path.resolve("item")
    val manPath = java.nio.file.Paths.get(
      itemPath.resolve(BloomIndex.manifestName("key")).raw)
    val dir = itemPath.resolve(BloomIndex.shardDirName("key"))
    val live = dir.fs.listFiles(dir.raw).toSet
    // age every shard past the vacuum cutoff — if the sweep treats an
    // unreadable manifest as absent, ALL of them become sweepable
    val aged = java.nio.file.attribute.FileTime.from(
      java.time.Instant.now().minusSeconds(72 * 3600))
    live.foreach(f => java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir.resolve(f).raw), aged))
    // a transient parse failure: manifest EXISTS but holds garbage
    val manBytes = java.nio.file.Files.readAllBytes(manPath)
    java.nio.file.Files.write(manPath, "{not json".getBytes)
    c.vacuum()
    assert(dir.fs.listFiles(dir.raw).toSet == live,
      "present-but-unreadable manifest must spare ALL shard files")
    // the hiccup clears: restore the manifest and the index is whole
    java.nio.file.Files.write(manPath, manBytes)
    val all = c.item("item").data.inputFiles.length
    val hit = c.item("item", filters = Seq(Filters.Pred("key", "==", "k_100")))
    assert(hit.data.count() == 1 && hit.data.inputFiles.length < all,
      "index must prune again once the manifest reads cleanly")
    cleanup(c)
  }

  test("anyIndexed: one root listing answers the no-index fast path for both indexes") {
    val c = tempCollection("bloom_any_indexed")
    c.write("item", keyedData, indexCols = Seq("index"), npartitions = Some(4))
    val itemPath = c.path.resolve("item")
    assert(!SkipIndexes.anyIndexed(Seq(itemPath), Seq("key", "tag")))
    c.buildBloomIndex("item", Seq("key"))
    assert(SkipIndexes.anyIndexed(Seq(itemPath), Seq("key")))
    assert(SkipIndexes.anyIndexed(Seq(itemPath), Seq("tag", "key")))
    assert(!SkipIndexes.anyIndexed(Seq(itemPath), Seq("tag")))
    // sharded layout: the manifest name answers
    c.buildBloomIndex("item", Seq("key"), singleDocMaxBytes = 0L)
    assert(SkipIndexes.anyIndexed(Seq(itemPath), Seq("key")))
    // the range index answers through the same listing
    c.buildFileStatsIndex("item", Seq("value"))
    assert(SkipIndexes.anyIndexed(Seq(itemPath), Seq("value")))
    // an unlistable root contributes nothing
    assert(!SkipIndexes.anyIndexed(
      Seq(c.path.resolve("no_such_item")), Seq("key")))
    cleanup(c)
  }
}
