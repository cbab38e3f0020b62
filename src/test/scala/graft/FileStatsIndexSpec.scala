package graft

import org.apache.spark.sql.functions._

import graft.store._

/** Per-file MIN/MAX data-skipping index: range pruning on sorted
  * files, exactness, generation validity, incremental maintenance,
  * the bloom intersection, and the SQL surface. Assertion style is
  * `df.inputFiles` — the files the PLANNED scan actually reads. */
class FileStatsIndexSpec extends SparkSpec {

  /** 400 rows, sorted long index → write's range partitioning gives 8
    * files with disjoint [min,max] index (and correlated value)
    * intervals — the locality shape this index exists for. */
  private def sortedData = {
    import spark.implicits._
    (0 until 400).map { i =>
      (i.toLong, i.toDouble, s"key_$i", s"tag_${i % 5}")
    }.toDF("index", "value", "key", "tag")
  }

  test("range predicates prune to the covering file subset, result identical") {
    val c = tempCollection("fstats_basic")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    val all = c.item("item").data.inputFiles.length
    assert(all == 8)
    c.buildFileStatsIndex("item", Seq("index", "value"))
    // top slice: one file covers index > 350
    val top = c.item("item", filters = Seq(Filters.Pred("index", ">", 350L)))
    assert(top.data.inputFiles.length == 1)
    assert(top.data.count() == 49)
    // a middle band on the correlated DOUBLE column
    val mid = c.item("item", filters = Seq(
      Filters.Pred("value", ">=", 100.0), Filters.Pred("value", "<", 150.0)))
    assert(mid.data.inputFiles.length < all)
    assert(mid.data.count() == 50)
    // equality above every file's max → zero files, typed empty frame
    val none = c.item("item", filters = Seq(Filters.Pred("index", "==", 4000L)))
    assert(none.data.inputFiles.length == 0)
    assert(none.data.count() == 0)
    assert(none.data.schema.fieldNames.toSet ==
      Set("index", "value", "key", "tag"))
    cleanup(c)
  }

  test("no false negatives: every present index value keeps its covering file") {
    val c = tempCollection("fstats_exact")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("index"))
    (0 until 400 by 13).foreach { i =>
      val hits = c.item("item",
        filters = Seq(Filters.Pred("index", "==", i.toLong))).data.collect()
      assert(hits.length == 1 && hits.head.getAs[Long]("index") == i.toLong,
        s"index $i lost by stats pruning")
    }
    cleanup(c)
  }

  test("a commit retires the index; IN prunes; unsupported/unknown columns refuse typed") {
    import spark.implicits._
    val c = tempCollection("fstats_stale")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("index"))
    val in = c.item("item", filters = Seq(
      Filters.Pred("index", "in", Seq(3L, 399L))))
    assert(in.data.count() == 2 && in.data.inputFiles.length == 2)
    c.append("item", Seq((1000L, 1000.0, "key_new", "tag_0"))
      .toDF("index", "value", "key", "tag"), npartitions = Some(8))
    val stale = c.item("item", filters = Seq(Filters.Pred("index", ">", 350L)))
    assert(stale.data.count() == 50) // 49 + the appended row — correct
    assert(stale.data.inputFiles.length ==
      c.item("item").data.inputFiles.length, "stale index must not prune")
    c.buildFileStatsIndex("item", Seq("index"))
    assert(c.item("item", filters = Seq(Filters.Pred("index", ">", 350L)))
      .data.inputFiles.length < 8)
    intercept[ValidationError] { c.buildFileStatsIndex("item", Nil) }
    intercept[ValidationError] { c.buildFileStatsIndex("item", Seq("nope")) }
    intercept[ItemNotFoundError] { c.buildFileStatsIndex("ghost", Seq("index")) }
    assert(c.fileStatsIndexedColumns("item") == Seq("index"))
    assert(c.dropFileStatsIndex("item") == Seq("index"))
    assert(c.fileStatsIndexedColumns("item").isEmpty)
    cleanup(c)
  }

  test("monthly items: incremental refresh after a partial append keeps pruning current") {
    import spark.implicits._
    val monthly = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1 + i % 6, 1 + i % 28).atStartOfDay()),
        i.toLong, i.toDouble)
    }.toDF("index", "seq", "value")
    val c = tempCollection("fstats_incr")
    c.write("item", monthly, indexCols = Seq("index"), monthlyLayout = true)
    c.buildFileStatsIndex("item", Seq("seq"))
    c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), 5000L, 1.0))
      .toDF("index", "seq", "value"))
    val all = c.item("item").data.inputFiles.length
    // the appended outlier seq lives only in March's rewritten file(s);
    // a current index proves the refresh ran without a rebuild
    val probe = c.item("item", filters = Seq(Filters.Pred("seq", ">", 4000L)))
    assert(probe.data.count() == 1)
    assert(probe.data.inputFiles.length < all,
      "refreshed file-stats index should prune the outlier probe")
    cleanup(c)
  }

  test("-0.0 bounds order like Catalyst compares: the ±0.0 file is kept, results match the unindexed read") {
    import spark.implicits._
    val c = tempCollection("fstats_negzero")
    // file 1 (index 0..49) holds only -0.0; file 2 holds 50.0..99.0.
    // Catalyst comparison treats -0.0 = 0.0 (the parquet scan's own
    // row-group stats pruning independently drops such rows — engine
    // behavior the index must not be STRICTER than): zeroNorm'd bounds
    // keep file 1 for every 0.0-literal probe, and each probe's result
    // is byte-identical to the same read without the index.
    val df = (0 until 100).map { i =>
      (i.toLong, if (i < 50) -0.0 else i.toDouble)
    }.toDF("index", "value")
    c.write("item", df, indexCols = Seq("index"), npartitions = Some(2))
    def rows(p: Filters.Pred) =
      c.item("item", filters = Seq(p)).data.collect().map(_.toString).sorted.toSeq
    def files(p: Filters.Pred) =
      c.item("item", filters = Seq(p)).data.inputFiles.length
    val probes = Seq(
      Filters.Pred("value", "==", 0.0),
      Filters.Pred("value", ">=", 0.0),
      Filters.Pred("value", "<=", 0.0),
      Filters.Pred("value", "==", -0.0))
    val unindexed = probes.map(rows)
    c.buildFileStatsIndex("item", Seq("value"))
    probes.zip(unindexed).foreach { case (p, expect) =>
      assert(rows(p) == expect, s"index changed the result of $p")
    }
    // the -0.0 file survives every probe (file 2 prunes where it can't
    // match: equality and <=)
    assert(files(Filters.Pred("value", "==", 0.0)) == 1)
    assert(files(Filters.Pred("value", "<=", 0.0)) == 1)
    assert(files(Filters.Pred("value", "==", -0.0)) == 1)
    assert(files(Filters.Pred("value", ">=", 0.0)) == 2)
    cleanup(c)
  }

  test("range-predicate deleteWhere narrows discovery to zonemap-positive periods") {
    import spark.implicits._
    val c = tempCollection("fstats_delprune")
    // seq grows WITH the month (50 per month over 6 months), so per-
    // period seq intervals separate — the retention-sweep shape
    val monthly = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1 + i / 50, 1 + i % 28).atStartOfDay()),
        i.toLong, i.toDouble)
    }.toDF("index", "seq", "value")
    c.write("item", monthly, indexCols = Seq("index"), monthlyLayout = true)
    c.buildFileStatsIndex("item", Seq("seq"))
    // seq is NOT the index column: without the zonemap, discovery for a
    // seq predicate reads all 6 periods; with it, exactly the covering ones
    def discParts(pred: org.apache.spark.sql.Column): Int =
      deletePeriodsOpened(c, "item", pred).size
    assert(discParts(col("seq") >= 250L) == 1,
      "range-delete discovery should read exactly the zonemap-positive period")
    assert(discParts(col("seq") >= 100L && col("seq") < 150L) == 1)
    // the delete itself lands exactly and never under-deletes
    assert(c.deleteWhere("item", col("seq") >= 250L) == 50L)
    assert(c.item("item").data.count() == 250)
    cleanup(c)
  }

  test("rebalanceZOrder(reindex = true) re-arms the zonemap against the clustered layout") {
    val c = tempCollection("fstats_zorder")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("value"))
    // z-order clusters `value` per file — exactly where the zonemap
    // pays — and the reindex flag rebuilds it against the NEW files
    c.rebalanceZOrder("item", Seq("index", "value"), npartitions = Some(8),
      reindex = true)
    val all = c.item("item").data.inputFiles.length
    val band = c.item("item", filters = Seq(
      Filters.Pred("value", ">=", 100.0), Filters.Pred("value", "<", 150.0)))
    assert(band.data.count() == 50)
    assert(band.data.inputFiles.length < all,
      "re-armed zonemap should prune the z-ordered read")
    cleanup(c)
  }

  test("null-aware zonemap: IS NULL skips zero-null files, IS NOT NULL drops all-null files") {
    import spark.implicits._
    val c = tempCollection("fstats_nulls")
    // 4 files by index range: file 1 all-null opt, file 2 mixed
    // (every 10th null), files 3-4 zero-null
    val df = (0 until 400).map { i =>
      val opt =
        if (i < 100) null
        else if (i < 200 && i % 10 == 0) null
        else s"v_$i"
      (i.toLong, opt)
    }.toDF("index", "opt")
    c.write("item", df, indexCols = Seq("index"), npartitions = Some(4))
    c.buildFileStatsIndex("item", Seq("opt"))
    val all = c.item("item").data.inputFiles.length
    assert(all == 4)
    val isNull = c.item("item", filters = Seq(Filters.Pred("opt", "isnull", null)))
    assert(isNull.data.count() == 110)
    assert(isNull.data.inputFiles.length == 2,
      "IS NULL should read exactly the two files holding nulls")
    val notNull = c.item("item", filters = Seq(Filters.Pred("opt", "notnull", null)))
    assert(notNull.data.count() == 290)
    assert(notNull.data.inputFiles.length == 3,
      "IS NOT NULL should drop the all-null file")
    // SQL face: pushed IsNull narrows the V2 scan the same way
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW fstats_nulls_v USING graft " +
      s"OPTIONS (path '${c.path.resolve("item")}')")
    val q = spark.sql("SELECT index FROM fstats_nulls_v WHERE opt IS NULL")
    assert(q.collect().length == 110)
    assert(v2ScanFiles(q) == 2, "SQL IS NULL read not null-pruned")
    // conjunction: a range over the zero-null files + IS NULL = nothing
    val none = c.item("item", filters = Seq(
      Filters.Pred("opt", "isnull", null), Filters.Pred("index", ">=", 200L)))
    assert(none.data.count() == 0)
    cleanup(c)
  }

  test("pre-null-aware sidecars still serve comparisons; IS NULL conservatively keeps") {
    import org.json4s._
    import spark.implicits._
    val c = tempCollection("fstats_legacy")
    val df = (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("index", "value")
    c.write("item", df, indexCols = Seq("index"), npartitions = Some(2))
    c.buildFileStatsIndex("item", Seq("value"))
    // rewrite the sidecar in the OLD 2-element [lo, hi] shape
    val p = c.path.resolve("item").resolve(FileStatsIndex.sidecarName("value"))
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(c.path.fs.readBytes(p.raw), "UTF-8")).asInstanceOf[JObject]
    val legacy = JObject(json.obj.map {
      case ("files", JObject(fs)) => "files" -> (JObject(fs.map {
        case (f, JArray(List(lo, hi, _))) => f -> (JArray(List(lo, hi)): JValue)
        case other                        => other
      }): JValue)
      case other => other
    })
    c.path.fs.writeBytesAtomic(p.raw, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(legacy)).getBytes("UTF-8"))
    // comparisons still prune through the legacy shape
    val top = c.item("item", filters = Seq(Filters.Pred("value", ">=", 90.0)))
    assert(top.data.count() == 10 && top.data.inputFiles.length == 1)
    // IS NULL has no count to consult: kept everywhere (correct, unpruned)
    val isNull = c.item("item", filters = Seq(Filters.Pred("value", "isnull", null)))
    assert(isNull.data.count() == 0)
    assert(isNull.data.inputFiles.length == 2)
    cleanup(c)
  }

  test("convertLayout(reindex = true) re-arms across the layout change (flat -> monthly keys)") {
    import spark.implicits._
    val c = tempCollection("fstats_convert")
    val monthly = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1 + i / 50, 1 + i % 28).atStartOfDay()),
        i.toLong)
    }.toDF("index", "seq")
    c.write("item", monthly, indexCols = Seq("index"), npartitions = Some(6))
    c.buildFileStatsIndex("item", Seq("seq"))
    c.buildBloomIndex("item", Seq("seq"))
    // the conversion rewrites every file under __month=<p>/ dirs — the
    // re-arm must record the NEW relative keys or pruning goes dark
    c.convertLayout("item", Some("monthly"), reindex = true)
    val all = c.item("item").data.inputFiles.length
    assert(all >= 6)
    val probe = c.item("item", filters = Seq(Filters.Pred("seq", ">=", 250L)))
    assert(probe.data.count() == 50)
    assert(probe.data.inputFiles.length < all,
      "re-armed zonemap should prune under the new monthly layout")
    val eq = c.item("item", filters = Seq(Filters.Pred("seq", "==", 123L)))
    assert(eq.data.count() == 1)
    assert(eq.data.inputFiles.length < all,
      "re-armed bloom should prune under the new monthly layout")
    cleanup(c)
  }

  test("bloom and file-stats prunings intersect on one read") {
    val c = tempCollection("fstats_both")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("index"))
    c.buildBloomIndex("item", Seq("key"))
    // the bloom keeps key_60's file (plus false positives); the range
    // keeps files covering [0, 100); the intersection is exactly the
    // one file holding both
    val it = c.item("item", filters = Seq(
      Filters.Pred("key", "==", "key_60"),
      Filters.Pred("index", "<", 100L)))
    val rows = it.data.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("index") == 60L)
    assert(it.data.inputFiles.length == 1,
      s"expected the bloom ∩ range intersection to pin 1 file, " +
        s"got ${it.data.inputFiles.length}")
    // contradictory pair: key_60's file is outside index > 300
    val none = c.item("item", filters = Seq(
      Filters.Pred("key", "==", "key_60"),
      Filters.Pred("index", ">", 300L)))
    assert(none.data.count() == 0)
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

  private def withCatalog(c: Collection, tag: String)(body: String => Unit): Unit = {
    val cat = s"gfstats_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", c.path.parent.toString)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("advisor: sorted/correlated columns -> filestats, scattered unique -> bloom, low-card -> none") {
    import spark.implicits._
    val c = tempCollection("fstats_advise")
    // index sorted (range layout); value correlated with index; key
    // ("key_<i>") zero-pad-free so it still LEXICALLY tracks the file
    // order (partially separated — a zonemap genuinely serves it); fp
    // md5-scattered (every file's interval covers everything — only a
    // bloom helps); tag 5 values everywhere
    c.write("item", sortedData.withColumn("fp", md5($"key")),
      indexCols = Seq("index"), npartitions = Some(8))
    val advice = c.adviseIndexes("item").map(a => a.column -> a).toMap
    assert(advice("index").advice == "filestats")
    assert(advice("value").advice == "filestats",
      s"correlated double should zonemap: ${advice("value")}")
    assert(advice("value").fileOverlap <= 0.5)
    assert(advice("key").advice == "filestats",
      s"lexically file-tracking key genuinely separates: ${advice("key")}")
    assert(advice("fp").advice == "bloom",
      s"md5-scattered unique string should bloom: ${advice("fp")}")
    assert(advice("fp").distinctRatio > 0.9 && advice("fp").fileOverlap > 0.5)
    assert(advice("tag").advice == "none",
      s"5-value column should advise none: ${advice("tag")}")
    assert(advice.values.forall(_.nullFrac == 0.0))
    // advisory only: nothing was built
    assert(c.fileStatsIndexedColumns("item").isEmpty)
    assert(c.bloomIndexedColumns("item").isEmpty)
    // SQL face returns the same classification
    withCatalog(c, "advise") { cat =>
      val rows = spark.sql(s"CALL $cat.system.advise_indexes('c', 'item')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows == Map("index" -> "filestats", "value" -> "filestats",
        "key" -> "filestats", "fp" -> "bloom", "tag" -> "none"))
    }
    // typed refusals
    intercept[ItemNotFoundError] { c.adviseIndexes("ghost") }
    cleanup(c)
  }

  test("dir-snapshot range reads prune through the snapshot's OWN hardlinked zonemap after the live index moves past the pin") {
    import spark.implicits._
    val c = tempCollection("fstats_dirpin")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("value"))
    val snap = c.createSnapshot(Some("fsdirpin"), manifest = Some(false))
    // the rebuild after the append re-keys the LIVE zonemap to the new
    // generation — only the snapshot's hardlinked sidecar still speaks
    // for the pin (same chain as the bloom twin in BloomIndexSpec)
    c.append("item", Seq((1000L, 1000.0, "key_new", "tag_0"))
      .toDF("index", "value", "key", "tag"), npartitions = Some(8))
    c.buildFileStatsIndex("item", Seq("value"))
    val all = c.item("item", snapshot = Some(snap)).data.inputFiles.length
    val pinned = c.item("item", snapshot = Some(snap),
      filters = Seq(Filters.Pred("value", ">", 350.0)))
    assert(pinned.data.count() == 49)
    assert(pinned.data.inputFiles.length < all,
      "V1 snapshot range read should prune via the snapshot's own zonemap")
    withCatalog(c, "fsdirpin") { cat =>
      val q = spark.sql(
        s"SELECT index FROM $cat.c.item VERSION AS OF '$snap' WHERE value > 350.0")
      assert(q.count() == 49)
      assert(v2ScanFiles(q) < all,
        "V2 snapshot range read should prune via the snapshot's own zonemap")
    }
    cleanup(c)
  }

  test("advisor overlap is the exact interval-containment mean (pins the sort-and-sweep arithmetic)") {
    import spark.implicits._
    val c = tempCollection("fstats_sweep")
    // 8 monthly files keyed by id % 8, so per-file bounds are exactly
    // known: bucket8/ts are per-file POINT intervals (disjoint ->
    // overlap exactly 1/8), id has contiguous los {0..7} under
    // all-covering his (-> exactly (1+2+...+8)/64 = 0.5625), konst is
    // one identical interval everywhere (-> exactly 1.0). The sweep
    // (#{lo <= p} - #{hi < p}) must reproduce these to the bit.
    val df = (0L until 400L).toDF("id").select(
      add_months(to_date(lit("2024-01-01")), ($"id" % 8).cast("int"))
        .cast("timestamp").as("ts"),
      $"id", ($"id" % 8).as("bucket8"), lit("x").as("konst"))
    c.write("m", df, indexCols = Seq("ts"), timeLayout = Some("monthly"))
    assert(c.item("m").data.inputFiles.length == 8)
    val a = c.adviseIndexes("m").map(x => x.column -> x).toMap
    assert(a("bucket8").fileOverlap == 0.125, a("bucket8"))
    assert(a("ts").fileOverlap == 0.125, a("ts"))
    assert(a("id").fileOverlap == 0.5625, a("id"))
    assert(a("konst").fileOverlap == 1.0, a("konst"))
    cleanup(c)
  }

  test("SQL front door: CALL builds, range WHERE prunes, $filestats reports, CALL drops") {
    val c = tempCollection("fstats_sql")
    c.write("item", sortedData, indexCols = Seq("index"), npartitions = Some(8))
    withCatalog(c, "sql") { cat =>
      val built = spark.sql(
        s"CALL $cat.system.build_file_stats_index('c', 'item', 'index,value')")
        .collect().map(_.getString(0))
      assert(built.toSeq == Seq("index", "value"))
      val range = spark.sql(
        s"SELECT index FROM $cat.c.item WHERE index > 350")
      assert(range.collect().length == 49)
      assert(v2ScanFiles(range) == 1, "SQL range read not stats-pruned")
      val band = spark.sql(
        s"SELECT index FROM $cat.c.item WHERE value >= 100.0 AND value < 150.0")
      assert(band.collect().length == 50)
      assert(v2ScanFiles(band) < 8 && v2ScanFiles(band) > 0)
      val st = spark.sql(s"SELECT * FROM $cat.c.`item$$filestats` ORDER BY column")
        .collect()
      assert(st.length == 2 && st.head.getString(0) == "index" &&
        st.head.getBoolean(1) && st.head.getLong(2) == 8L)
      // null-awareness surfaces: fresh sidecars carry counts (0 nulls here)
      assert(st.forall(r => r.getBoolean(3) && r.getLong(4) == 0L))
      val dropped = spark.sql(
        s"CALL $cat.system.drop_file_stats_index('c', 'item')")
        .collect().map(_.getString(0))
      assert(dropped.toSeq == Seq("index", "value"))
      assert(spark.sql(s"SELECT * FROM $cat.c.`item$$filestats`").count() == 0)
      assert(v2ScanFiles(
        spark.sql(s"SELECT index FROM $cat.c.item WHERE index > 350")) == 8)
    }
    cleanup(c)
  }
}
