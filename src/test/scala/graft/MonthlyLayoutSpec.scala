package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store._

/** Monthly directory layout: partition-dir structure, read pruning,
  * and PARTIAL append (untouched months' files must not be rewritten). */
class MonthlyLayoutSpec extends SparkSpec {

  private def frame(startDay: String, days: Int, value: Double) = {
    import spark.implicits._
    val start = java.time.LocalDate.parse(startDay)
    (0 until days).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), value)
    }.toDF("index", "value")
  }

  private def monthDirs(c: Collection, item: String): Map[String, Seq[(String, Long)]] = {
    val dataDir = java.nio.file.Paths.get(c.path.resolve(item).resolve(Item.DataDir).raw)
    Files.list(dataDir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(Collection.MonthCol + "="))
      .map { p =>
        val files = Files.list(p).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => (f.getFileName.toString, Files.getLastModifiedTime(f).toMillis))
          .toSeq.sortBy(_._1)
        p.getFileName.toString -> files
      }.toMap
  }

  /** Files the V2 scan of `df` reads — `DataFrame.inputFiles` is empty
    * for DSv2 relations, so walk the executed plan to the parquet scan. */
  private def v2InputFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan match {
        case g: graft.sources.GraftScan => g.parquet.fileIndex.inputFiles.toSeq
        case other => fail(s"expected a GraftScan, got $other")
      }
    }.flatten
  }

  /** Every file a read opens lies under the item's `period` dir. */
  private def assertOnlyPeriod(files: Seq[String], period: String): Unit = {
    assert(files.nonEmpty, "the read must open the matching period's files")
    val dir = s"/${Collection.MonthCol}=$period/"
    assert(files.forall(_.contains(dir)), s"expected only $dir files, got:\n${files.mkString("\n")}")
  }

  test("monthly write creates one directory per month; reads are complete") {
    val c = tempCollection("monthly_write")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    val dirs = monthDirs(c, "item")
    assert(dirs.keySet == Set("__month=2024-01", "__month=2024-02", "__month=2024-03"))
    val back = c.item("item").data
    assert(!back.columns.contains(Collection.MonthCol))
    assert(back.count() == 90)
    cleanup(c)
  }

  test("index time filters prune whole month directories") {
    val c = tempCollection("monthly_prune")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    val it = c.item("item", filters = Seq(
      Filters.Pred("index", ">=", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))))
    assert(it.data.count() == 31 + 90 - 31 - 29 - 31) // march days only
    // pruned months are never opened, through either front door
    assertOnlyPeriod(it.data.inputFiles.toSeq, "2024-03")
    val v2 = spark.read.format("graft").load(c.path.resolve("item").toString)
      .filter(col("index") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    assert(v2.count() == 30)
    assertOnlyPeriod(v2InputFiles(v2), "2024-03")
    cleanup(c)
  }

  test("reads at a period boundary under a session zone other than the layout zone keep every matching row") {
    import spark.implicits._
    val c = tempCollection("monthly_zone_boundary")
    // hourly rows across the feb/mar boundary, laid out monthly in UTC
    val start = java.time.Instant.parse("2024-02-28T00:00:00Z")
    c.write("item", (0 until 96).map { h =>
      (java.sql.Timestamp.from(start.plusSeconds(3600L * h)), h.toDouble)
    }.toDF("index", "value"), monthlyLayout = true)
    val itemPath = c.path.resolve("item").toString
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      // a Date bound casts at the SESSION zone's midnight (feb 29 15:00
      // UTC, inside the UTC february period); a Timestamp bound is an
      // instant at the UTC month start
      for (bound <- Seq[Any](java.sql.Date.valueOf("2024-03-01"),
                             java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")))) {
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select("index", "value").collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSet
        val want = rows(c.item("item").data.filter(col("index") >= lit(bound)))
        assert(want.nonEmpty && want.size < 96)
        val item = c.item("item", filters = Seq(Filters.Pred("index", ">=", bound))).data
        val viaItem = rows(item)
        assert(viaItem == want, s"Item read with bound $bound: ${viaItem.size} rows, want ${want.size}")
        val v2 = spark.read.format("graft").load(itemPath).filter(col("index") >= lit(bound))
        val viaV2 = rows(v2)
        assert(viaV2 == want, s"V2 read with bound $bound: ${viaV2.size} rows, want ${want.size}")
        // an instant bound maps to its period in the layout zone whatever
        // the session zone, so it still prunes
        if (bound.isInstanceOf[java.sql.Timestamp]) {
          assertOnlyPeriod(item.inputFiles.toSeq, "2024-03")
          assertOnlyPeriod(v2InputFiles(v2), "2024-03")
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
    cleanup(c)
  }

  test("partial append rewrites ONLY touched month directories") {
    val c = tempCollection("monthly_partial")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    val before = monthDirs(c, "item")
    Thread.sleep(1100) // mtime resolution guard
    // batch touches only March (overlap) and April (new month)
    c.append("item", frame("2024-03-15", 30, 2.0), DuplicateHandling.KeepLast)
    val after = monthDirs(c, "item")
    assert(after.keySet ==
      Set("__month=2024-01", "__month=2024-02", "__month=2024-03", "__month=2024-04"))
    assert(after("__month=2024-01") == before("__month=2024-01"),
      "january files must be byte-identical (not rewritten)")
    assert(after("__month=2024-02") == before("__month=2024-02"))
    assert(after("__month=2024-03") != before("__month=2024-03"))
    // semantics: march 15+ replaced by value 2.0, earlier march intact
    val out = c.item("item").data
    // original span is jan1..mar30 (90 days, leap feb); batch covers
    // mar15..apr13, overlapping 16 stored days (mar15..mar30)
    assert(out.count() == 90 - 16 + 30)
    assert(out.filter(col("value") === 2.0).count() == 30)
    cleanup(c)
  }

  test("monthly keep_first and error strategies behave like flat") {
    val c = tempCollection("monthly_strategies")
    c.write("item", frame("2024-01-01", 31, 1.0), monthlyLayout = true)
    c.append("item", frame("2024-01-20", 20, 9.0), DuplicateHandling.KeepFirst)
    val out = c.item("item").data
    assert(out.filter(col("value") === 9.0).count() == 8) // feb 1-8 only (jan 20-31 kept old)
    intercept[DataIntegrityError] {
      c.append("item", frame("2024-01-05", 2, 3.0), DuplicateHandling.ErrorOnDuplicate)
    }
    cleanup(c)
  }

  test("monthly salt spreads a hot month over several sorted files") {
    val c = tempCollection("monthly_salt")
    c.write("item", frame("2024-01-01", 60, 1.0),
      monthlyLayout = true, monthlySalt = 4)
    val dirs = monthDirs(c, "item")
    assert(dirs("__month=2024-01").size > 1, s"expected several files: $dirs")
    assert(c.item("item").data.count() == 60)
    // appends reuse the recorded salt and stay correct
    c.append("item", frame("2024-01-05", 3, 2.0))
    assert(c.item("item").data.count() == 60) // keep_last replaced 3 days
    assert(Meta.unjv(c.metadata("item")("_monthly_salt")) == 4L)
    cleanup(c)
  }

  test("daily/quarterly/yearly layouts: dirs, pruning, partial append") {
    for ((layout, dirsExpect) <- Seq(
        ("daily", 90), ("quarterly", 1), ("yearly", 1))) {
      val c = tempCollection(s"layout_$layout")
      c.write("item", frame("2024-01-01", 90, 1.0), timeLayout = Some(layout))
      val dirs = monthDirs(c, "item")
      assert(dirs.size == dirsExpect, s"$layout: ${dirs.keySet}")
      assert(c.item("item").data.count() == 90)
      // append stays incremental and correct under the recorded layout
      c.append("item", frame("2024-02-01", 3, 2.0))
      assert(c.item("item").data.count() == 90) // keep_last replaced 3 days
      cleanup(c)
    }
    // pruning: daily layout + equality filter reads one day dir
    val c = tempCollection("layout_daily_prune")
    c.write("item", frame("2024-01-01", 90, 1.0), timeLayout = Some("daily"))
    val it = c.item("item", filters = Seq(
      Filters.Pred("index", "==", java.sql.Timestamp.valueOf("2024-02-10 00:00:00"))))
    assert(it.data.count() == 1)
    assertOnlyPeriod(it.data.inputFiles.toSeq, "2024-02-10")
    cleanup(c)
  }

  test("deleteWhere rewrites only touched months; emptied months disappear") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("monthly_delete")
    c.write("item", frame("2024-01-01", 90, 1.0)
      .withColumn("value", when(dayofmonth(col("index")) === 5, 9.0).otherwise(col("value"))),
      monthlyLayout = true)
    val before = monthDirs(c, "item")
    // partial delete: value=9.0 rows exist in each month (day 5) — all
    // three months are touched, 3 rows go
    assert(c.deleteWhere("item", col("value") === 9.0) == 3L)
    assert(c.item("item").data.count() == 87)
    // no-match delete: returns 0 and commits nothing (file mtimes equal)
    val mid = monthDirs(c, "item")
    assert(c.deleteWhere("item", col("value") === 123.0) == 0L)
    assert(monthDirs(c, "item") == mid)
    // month-wipe: every February row goes -> the dir itself must go,
    // and January/March files are NOT rewritten (same names + mtimes)
    assert(c.deleteWhere("item",
      month(col("index")) === 2 && year(col("index")) === 2024) == 28L) // 29 minus deleted day 5
    val after = monthDirs(c, "item")
    assert(!after.keySet.exists(_.startsWith(Collection.MonthCol + "=2024-02")), after.keySet.toString)
    assert(after(Collection.MonthCol + "=2024-01") == mid(Collection.MonthCol + "=2024-01"))
    assert(after(Collection.MonthCol + "=2024-03") == mid(Collection.MonthCol + "=2024-03"))
    assert(c.item("item").data.count() == 87 - 28)
    assert(before.keySet.size == 3)
    cleanup(c)
  }

  test("expireBefore drops pre-cutoff months by name, rewrites only the boundary") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("monthly_expire")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    val before = monthDirs(c, "item")
    val r = c.expireBefore("item",
      java.sql.Timestamp.valueOf("2024-02-10 00:00:00"))
    // january removed by name; feb 1-9 deleted from the rewritten boundary
    assert(r.removedPeriods == Seq("2024-01") && r.boundaryDeleted == 9L)
    val after = monthDirs(c, "item")
    assert(!after.contains(Collection.MonthCol + "=2024-01"))
    // march untouched: identical file names + mtimes (not rewritten)
    assert(after(Collection.MonthCol + "=2024-03") == before(Collection.MonthCol + "=2024-03"))
    assert(c.item("item").data.count() == 90 - 31 - 9)
    // cutoff before all data: structural no-op
    val r2 = c.expireBefore("item",
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    assert(r2.removedPeriods.isEmpty && r2.boundaryDeleted == 0L)
    assert(monthDirs(c, "item") == after)
    // cutoff exactly at a period start: boundary rewrite deletes nothing,
    // the prior month goes by name
    val r3 = c.expireBefore("item",
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(r3.removedPeriods == Seq("2024-02") && r3.boundaryDeleted == 0L)
    assert(c.item("item").data.count() == 30) // 90 days = 31 Jan + 29 Feb (leap) + 30 Mar
    // flat fallback: delegates to deleteWhere on the index
    val cf = tempCollection("flat_expire")
    cf.write("item", frame("2024-01-01", 30, 1.0))
    val rf = cf.expireBefore("item",
      java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
    assert(rf.removedPeriods.isEmpty && rf.boundaryDeleted == 10L)
    assert(cf.item("item").data.count() == 20)
    cleanup(cf)
    cleanup(c)
  }

  test("deleteWhere on a flat item rewrites once; stored rows match the filter") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("flat_delete")
    c.write("item", frame("2024-01-01", 30, 1.0))
    assert(c.deleteWhere("item", dayofmonth(col("index")) <= 10) == 10L)
    assert(c.item("item").data.count() == 20)
    assert(c.deleteWhere("item", lit(false)) == 0L)
    cleanup(c)
  }

  test("deleteWhere/expireBefore work on daily and yearly layouts (partition type inference)") {
    import org.apache.spark.sql.functions._
    // daily keys ('2024-01-05') infer as DATE and yearly keys ('2024')
    // as INT in spark.read.parquet — the discovery collect must not
    // assume string-typed partition values
    for (layout <- Seq("daily", "yearly")) {
      val c = tempCollection(s"delete_$layout")
      c.write("item", frame("2024-01-01", 40, 1.0), timeLayout = Some(layout))
      assert(c.deleteWhere("item", dayofmonth(col("index")) === 5) == 2L) // jan 5 + feb 5
      assert(c.item("item").data.count() == 38)
      val r = c.expireBefore("item",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      val expectBoundary = if (layout == "daily") 0L else 30L // jan 5 already deleted
      assert(r.boundaryDeleted == expectBoundary, s"$layout: $r")
      assert(c.item("item").data.count() == 8) // feb 1-9 remain minus deleted feb 5
      cleanup(c)
    }
  }

  test("rebalance preserves a time layout (partitioned re-lay, not a flat rewrite)") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("rebalance_layout")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    // accumulate append generations → multiple files per month
    c.append("item", frame("2024-01-05", 2, 2.0))
    c.append("item", frame("2024-02-07", 2, 3.0))
    val before = c.item("item").data.orderBy("index").collect().toSeq
    c.rebalance("item")
    val dirs = monthDirs(c, "item")
    assert(dirs.keySet == Set("__month=2024-01", "__month=2024-02", "__month=2024-03"),
      dirs.keySet.toString)
    assert(dirs.values.forall(_.size == 1), s"expected 1 file/month after compaction: $dirs")
    assert(c.item("item").data.orderBy("index").collect().toSeq == before)
    // the incremental machinery still works after the re-lay
    c.append("item", frame("2024-03-10", 1, 4.0))
    assert(c.item("item").data.count() == 90)
    val r = c.expireBefore("item", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(r.removedPeriods == Seq("2024-01"))
    cleanup(c)
  }

  private def condOf(df: org.apache.spark.sql.DataFrame,
                     pred: org.apache.spark.sql.Column) =
    df.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get

  test("candidatePeriods bounds the period interval from conjunctive index predicates only") {
    import org.apache.spark.sql.functions._
    val utc = java.time.ZoneId.of("UTC")
    val months = Seq("2024-01", "2024-02", "2024-03", "2024-04", "2024-05", "2024-06")
    val df = frame("2024-01-01", 10, 1.0)
    def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))
    def cands(pred: org.apache.spark.sql.Column, layout: String = "monthly",
              periods: Seq[String] = months) =
      Collection.candidatePeriods(periods, condOf(df, pred), "index", layout, utc)
    // range lower bound (and a non-index conjunct contributes nothing)
    assert(cands(col("index") >= ts("2024-03-10 00:00:00") && col("value") === 9.0)
      == Seq("2024-03", "2024-04", "2024-05", "2024-06"))
    // equality pins one period; flipped operand order works
    assert(cands(col("index") === ts("2024-02-05 00:00:00")) == Seq("2024-02"))
    assert(cands(ts("2024-05-01 00:00:00") <= col("index")) == Seq("2024-05", "2024-06"))
    // a STRICT upper bound at exactly a period's start excludes that
    // period (nothing below midnight feb 1 lives in 2024-02); an
    // interior strict bound keeps its own period
    assert(cands(col("index") < ts("2024-02-01 00:00:00")) == Seq("2024-01"))
    assert(cands(col("index") < ts("2024-02-15 00:00:00")) == Seq("2024-01", "2024-02"))
    assert(cands(col("index") <= ts("2024-02-01 00:00:00")) == Seq("2024-01", "2024-02"))
    // dual: a strict lower bound at a period's LAST instant excludes it
    assert(cands(col("index") > ts("2024-03-31 23:59:59.999999"))
      == Seq("2024-04", "2024-05", "2024-06"))
    // two-sided range
    assert(cands(col("index") >= ts("2024-02-15 00:00:00") &&
      col("index") < ts("2024-04-02 00:00:00")) == Seq("2024-02", "2024-03", "2024-04"))
    // shapes the analyzer cannot bound widen to ALL periods
    assert(cands(col("index") >= ts("2024-03-01 00:00:00") || col("value") === 1.0) == months)
    assert(cands(col("value") === 9.0) == months)
    assert(cands(year(col("index")) === 2024) == months) // computed index expr
    // other layouts: key arithmetic follows the layout
    assert(cands(col("index") >= ts("2024-02-10 00:00:00"),
      layout = "daily", periods = Seq("2024-02-09", "2024-02-10", "2024-02-11"))
      == Seq("2024-02-10", "2024-02-11"))
    assert(cands(col("index") < ts("2023-06-01 00:00:00"),
      layout = "yearly", periods = Seq("2022", "2023", "2024")) == Seq("2022", "2023"))
    assert(cands(col("index") === ts("2024-05-05 00:00:00"),
      layout = "quarterly", periods = Seq("2024-Q1", "2024-Q2", "2024-Q3"))
      == Seq("2024-Q2"))
    // IN-lists bound by their extreme members (multi-key purge shape)
    assert(cands(col("index").isin(
      java.sql.Timestamp.valueOf("2024-02-10 00:00:00"),
      java.sql.Timestamp.valueOf("2024-04-02 00:00:00")))
      == Seq("2024-02", "2024-03", "2024-04"))
    // null-safe equality pins like equality
    assert(cands(col("index") <=> ts("2024-03-03 00:00:00")) == Seq("2024-03"))
  }

  test("deleteWhere's discovery scan partition-prunes on index range predicates") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val c = tempCollection("delete_pruned")
    c.write("item", frame("2024-01-01", 180, 1.0), monthlyLayout = true) // jan-jun
    val pred = col("index") >= lit(java.sql.Timestamp.valueOf("2024-05-01 00:00:00")) &&
      dayofmonth(col("index")) === 3
    val disc = c.deleteDiscoveryFrame("item", pred)
    val scan = disc.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "expected a partition filter on the discovery scan")
    assert(scan.selectedPartitions.partitionCount == 2, // may + june only
      s"expected 2 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    // the delete itself: only may/june rewritten, earlier months untouched
    val before = monthDirs(c, "item")
    assert(c.deleteWhere("item", pred) == 2L) // may 3 + june 3
    val after = monthDirs(c, "item")
    for (m <- Seq("2024-01", "2024-02", "2024-03", "2024-04"))
      assert(after(Collection.MonthCol + s"=$m") == before(Collection.MonthCol + s"=$m"),
        s"month $m must not be rewritten")
    assert(c.item("item").data.count() == 178)
    // a predicate the analyzer cannot bound still deletes correctly
    assert(c.deleteWhere("item", dayofmonth(col("index")) === 4) == 6L)
    assert(c.item("item").data.count() == 172)
    cleanup(c)
  }

  test("per-period stats sidecar prunes deleteWhere on non-index range predicates") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val c = tempCollection("period_stats")
    // value grows with the month (jan≈1.x, feb≈2.x, ...), so a range
    // predicate on value maps cleanly onto a period subset
    val df = frame("2024-01-01", 180, 0.0)
      .withColumn("value", month(col("index")).cast("double") + dayofmonth(col("index")) / 100.0)
    c.write("item", df, monthlyLayout = true, statsColumns = Seq("value"))
    // sidecar recorded per-period intervals
    val ps = Meta.unjv(c.metadata("item")("_period_stats"))
      .asInstanceOf[Map[String, Any]]
    assert(ps.keySet == Set("2024-01", "2024-02", "2024-03", "2024-04", "2024-05", "2024-06"))
    val jan = ps("2024-01").asInstanceOf[Map[String, Any]]("value").asInstanceOf[Seq[Double]]
    assert(jan == Seq(1.01, 1.31), jan.toString)
    // a value-range predicate prunes the discovery scan to may+june
    val pred = col("value") >= 5.0
    val scan = c.deleteDiscoveryFrame("item", pred).queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 stats-pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    val before = monthDirs(c, "item")
    assert(c.deleteWhere("item", pred) == 31 + 28) // all of may + june 1-28 (180 days from jan 1)
    for (m <- Seq("2024-01", "2024-02", "2024-03", "2024-04"))
      assert(monthDirs(c, "item")(Collection.MonthCol + s"=$m")
        == before(Collection.MonthCol + s"=$m"), s"month $m must not be rewritten")
    // emptied periods dropped their stats entries
    val ps2 = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    assert(ps2.keySet == Set("2024-01", "2024-02", "2024-03", "2024-04"))
    // a partial append refreshes ONLY the touched period's interval
    c.append("item", frame("2024-02-10", 1, 99.0))
    val ps3 = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    val feb = ps3("2024-02").asInstanceOf[Map[String, Any]]("value").asInstanceOf[Seq[Double]]
    assert(feb(1) == 99.0, feb.toString)
    assert(ps3("2024-01") == ps2("2024-01"))
    // stats columns must exist and be numeric
    intercept[graft.store.ValidationError](
      c.write("bad", frame("2024-01-01", 3, 1.0), monthlyLayout = true,
        statsColumns = Seq("nope"), overwrite = true))
    cleanup(c)
  }

  test("date, timestamp_ntz, and string stats columns prune the discovery scan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val c = tempCollection("period_stats_typed")
    // d (DateType) and nt (NTZ) trail the index by 10 days; s groups by
    // month — all three correlate with the period so ranges prune
    val df = frame("2024-01-01", 180, 0.0)
      .withColumn("d", date_add(col("index").cast("date"), 10))
      .withColumn("nt", (col("index") + expr("INTERVAL 10 DAYS")).cast("timestamp_ntz"))
      .withColumn("s", format_string("grp-%02d", month(col("index"))))
    c.write("item", df, monthlyLayout = true, statsColumns = Seq("d", "nt", "s"))
    val ps = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    val jan = ps("2024-01").asInstanceOf[Map[String, Any]]
    // temporal bounds live in the wall-clock-micros Double domain,
    // strings in their own
    assert(jan("d").asInstanceOf[Seq[Double]] ==
      Seq(java.time.LocalDate.parse("2024-01-11").toEpochDay * 86400e6,
          java.time.LocalDate.parse("2024-02-10").toEpochDay * 86400e6), jan("d").toString)
    assert(jan("s") == Seq("grp-01", "grp-01"), jan("s").toString)
    val janNt = jan("nt").asInstanceOf[Seq[Double]]
    assert(janNt.head == java.time.LocalDate.parse("2024-01-11").toEpochDay * 86400e6)
    def prunedCount(pred: org.apache.spark.sql.Column): Int =
      c.deleteDiscoveryFrame("item", pred).queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head
        .selectedPartitions.partitionCount
    // date range: period P records d ∈ [P.start+10, P.end+10]; a bound
    // of may 10 keeps apr (max may 10), may, jun — 3 of 6
    assert(prunedCount(col("d") >= lit(java.sql.Date.valueOf("2024-05-10"))) == 3)
    // NTZ literal prunes in the same micros domain: jun 5 keeps may
    // (nt max jun 10) + jun
    assert(prunedCount(col("nt") >=
      lit(java.time.LocalDateTime.parse("2024-06-05T00:00:00"))) == 2)
    // string range: only periods whose recorded [min,max] can overlap
    assert(prunedCount(col("s") >= lit("grp-05")) == 2)
    assert(prunedCount(col("s") === lit("grp-02")) == 1)
    // the deletes themselves stay exact (180 days end jun 28)
    assert(c.deleteWhere("item", col("s") === lit("grp-06")) == 28L)
    // remaining jan1..may31; d ≥ may 20 ⇔ index ≥ may 10 → 22 rows
    assert(c.deleteWhere("item", col("d") >= lit(java.sql.Date.valueOf("2024-05-20"))) == 22L)
    cleanup(c)
  }

  test("period stats refresh after evolution appends and survive emptying every period") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("period_stats_evolve")
    c.write("item", frame("2024-01-01", 60, 1.0), monthlyLayout = true,
      statsColumns = Seq("value"))
    // schema-evolution append takes the FULL-rewrite path; the batch
    // carries an out-of-range value into january — stale stats would
    // prune january and silently skip this row on delete
    val batch = frame("2024-01-10", 1, 500.0)
      .withColumn("note", lit("evolved"))
    c.append("item", batch,
      evolution = Some(graft.evolution.EvolutionStrategy.AddOnly))
    assert(c.deleteWhere("item", col("value") === 500.0) == 1L,
      "stale period stats must not hide the evolved row from a pruned delete")
    assert(c.item("item").data.count() == 60) // evolution appends bypass dedup
    // emptying EVERY period: the delete succeeds and clears the map
    assert(c.deleteWhere("item", lit(true)) == 60L)
    assert(c.item("item").data.count() == 0)
    val ps = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    assert(ps.isEmpty, ps.toString)
    cleanup(c)
  }

  test("tz mismatch: pruned discovery falls back to the full scan; expiry rejects typed") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("tz_mismatch")
    c.write("item", frame("2024-01-01", 90, 1.0), monthlyLayout = true)
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      // discovery pruning is forfeited (full period list), the delete
      // itself stays correct — instants compare tz-independently
      val disc = c.deleteDiscoveryFrame("item",
        col("index") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      val scan = disc.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.partitionFilters.isEmpty,
        "mismatched session tz must not partition-prune the discovery scan")
      assert(c.deleteWhere("item", dayofmonth(col("index")) === 7) == 3L)
      // name-dropping periods under the wrong zone could destroy
      // post-cutoff rows: typed rejection, like appends
      val e = intercept[graft.store.ValidationError](c.expireBefore("item",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
      assert(e.getMessage.contains("timezone"))
    } finally spark.conf.set(tzKey, orig)
    cleanup(c)
  }

  test("convertLayout migrates flat→monthly→flat in place, preserving content and metadata") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("convert_layout")
    c.write("item", frame("2024-01-01", 90, 1.0), metadata = Map("source" -> "api"))
    val before = c.item("item").data.orderBy("index").collect().toSeq
    // flat → monthly: period dirs appear, content and user metadata survive
    c.convertLayout("item", Some("monthly"))
    assert(monthDirs(c, "item").keySet ==
      Set("__month=2024-01", "__month=2024-02", "__month=2024-03"))
    assert(c.item("item").data.orderBy("index").collect().toSeq == before)
    assert(c.metadata("item").get("source").map(graft.store.Meta.unjv) == Some("api"))
    // the incremental machinery works on the CONVERTED item: a partial
    // append touches only its month; expiry drops a month by name
    c.append("item", frame("2024-02-10", 2, 5.0))
    assert(c.item("item").data.filter(col("value") === 5.0).count() == 2)
    val r = c.expireBefore("item", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(r.removedPeriods == Seq("2024-01"))
    // monthly → flat: dirs collapse, content preserved, appends still work
    val midRows = c.item("item").data.orderBy("index").collect().toSeq
    c.convertLayout("item")
    assert(monthDirs(c, "item").isEmpty)
    assert(c.item("item").data.orderBy("index").collect().toSeq == midRows)
    c.append("item", frame("2024-03-25", 1, 7.0))
    assert(c.item("item").data.filter(col("value") === 7.0).count() == 1)
    // converting to the current layout is a no-op; daily works too
    c.convertLayout("item")
    c.convertLayout("item", Some("daily"))
    assert(monthDirs(c, "item").size == 29 + 30) // feb 1-29 + mar 1-30 (90 days started jan 1)
    cleanup(c)
  }

  test("convertLayout preserves a manifest snapshot taken on the OLD layout") {
    val c = tempCollection("convert_snapshot")
    c.write("item", frame("2024-01-01", 60, 1.0))
    val snap = c.createSnapshot(Some("pre_convert"), manifest = Some(true))
    c.convertLayout("item", Some("monthly"))
    c.append("item", frame("2024-02-05", 2, 9.0))
    // the snapshot still serves the pre-conversion flat state
    val snapRows = c.item("item", snapshot = Some(snap)).data
    assert(snapRows.count() == 60)
    assert(snapRows.filter(org.apache.spark.sql.functions.col("value") === 9.0).count() == 0)
    cleanup(c)
  }

  test("convertLayout rejects a non-temporal index and unknown layouts") {
    import spark.implicits._
    val c = tempCollection("convert_reject")
    c.write("item", Seq((1L, "a"), (2L, "b")).toDF("index", "v"))
    intercept[graft.store.ValidationError](c.convertLayout("item", Some("monthly")))
    intercept[graft.store.ValidationError](c.convertLayout("item", Some("hourly")))
    intercept[graft.store.ItemNotFoundError](c.convertLayout("nope", Some("monthly")))
    cleanup(c)
  }

  test("rebalanceZOrder rejects time-layout items with a typed error") {
    val c = tempCollection("zorder_reject")
    c.write("item", frame("2024-01-01", 40, 1.0), monthlyLayout = true)
    val e = intercept[graft.store.ValidationError](
      c.rebalanceZOrder("item", Seq("value")))
    assert(e.getMessage.contains("time layout"))
    // the item is untouched
    assert(c.item("item").data.count() == 40)
    cleanup(c)
  }

  test("rebalance rejects an explicit npartitions on a time-layout item (typed)") {
    val c = tempCollection("rebalance_nparts_reject")
    c.write("item", frame("2024-01-01", 40, 1.0), monthlyLayout = true)
    val e = intercept[graft.store.ValidationError](
      c.rebalance("item", npartitions = Some(4)))
    assert(e.getMessage.contains("npartitions"))
    assert(c.item("item").data.count() == 40) // untouched
    c.rebalance("item") // without npartitions the re-lay still works
    assert(c.item("item").data.count() == 40)
    cleanup(c)
  }

  test("crash between commit and stats refresh leaves NO stale period intervals") {
    import org.apache.spark.sql.functions._
    val c = tempCollection("stats_crash_window")
    val df = frame("2024-01-01", 60, 0.0)
      .withColumn("value", month(col("index")).cast("double"))
    c.write("item", df, monthlyLayout = true, statsColumns = Seq("value"))
    val ps0 = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    assert(ps0.keySet == Set("2024-01", "2024-02"))
    // simulate a crash in the commit→refresh window of a partial append
    // carrying an out-of-range value (99.0) into february
    c.simulateCrashBeforeStatsRefresh = true
    try c.append("item", frame("2024-02-05", 1, 99.0))
    finally c.simulateCrashBeforeStatsRefresh = false
    c.clearMetadataCache()
    val ps1 = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    // the COMMIT itself dropped february's entry (absent = unprunable);
    // a stale [2.0, 2.0] interval here would let the pruned delete below
    // skip the 99.0 row — the silent-under-delete ADVICE finding
    assert(!ps1.contains("2024-02"), ps1.toString)
    assert(ps1.contains("2024-01"))
    assert(c.deleteWhere("item", col("value") === 99.0) == 1L,
      "post-crash pruned delete must still see the uncovered row")
    // a full-rewrite commit (rebalance) under the same crash drops ALL entries
    c.simulateCrashBeforeStatsRefresh = true
    try c.rebalance("item")
    finally c.simulateCrashBeforeStatsRefresh = false
    c.clearMetadataCache()
    assert(!c.metadata("item").contains("_period_stats"))
    // the refresh read-back re-establishes the full map
    c.refreshPeriodStats("item", Seq("value"), None, Meta.read(c.path.resolve("item")))
    c.clearMetadataCache()
    val ps2 = Meta.unjv(c.metadata("item")("_period_stats")).asInstanceOf[Map[String, Any]]
    assert(ps2.keySet == Set("2024-01", "2024-02"), ps2.toString)
    cleanup(c)
  }

  test("emptied codec-encoded item: fallback serves the ENCODED schema, like non-empty reads") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val c = tempCollection("empty_encoded")
    // a timedelta-hinted interval column stores as int64 — the ENCODED
    // type every non-empty read serves
    val df = frame("2024-01-01", 20, 1.0)
      .withColumn("dur", col("index") - lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    c.write("item", df, monthlyLayout = true, dtypeHints = Map("dur" -> "timedelta"))
    val nonEmptyType = c.item("item").data.schema("dur").dataType
    assert(nonEmptyType == LongType, nonEmptyType.toString)
    assert(c.deleteWhere("item", lit(true)) == 20L)
    val it = c.item("item")
    assert(it.data.count() === 0)
    assert(it.data.schema("dur").dataType == nonEmptyType,
      "empty fallback must serve the ENCODED (stored) schema, like non-empty reads")
    // restoration behaves identically on the fallback (timedelta is a
    // presentation marker: restored type == stored type, no inversion)
    assert(it.dataRestored.schema("dur").dataType == nonEmptyType)
    cleanup(c)
  }
}
