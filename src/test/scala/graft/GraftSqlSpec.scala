package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

import graft.store._

/** DataSource V2 front door (`spark.read.format("graft")` / `CREATE
  * TABLE ... USING graft`): schema, result parity with the Scala read
  * path, and — the 100 TB story — period pruning as PATH SELECTION plus
  * parquet filter pushdown / column pruning through the V2 scan. */
class GraftSqlSpec extends SparkSpec {

  private def frame(startDay: String, days: Int) = {
    import spark.implicits._
    val start = java.time.LocalDate.parse(startDay)
    (0 until days).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), i.toDouble, s"r$i")
    }.toDF("index", "value", "tag")
  }

  private def v2Scan(df: org.apache.spark.sql.DataFrame): ParquetScan = {
    // AQE wraps plans with exchanges; the wrapped plan is a field, not
    // a child, so unwrap before collecting
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectFirst {
      case b: BatchScanExec => b.scan match {
        case g: graft.sources.GraftScan => g.parquet
        case p: ParquetScan             => p // footer-aggregate path
      }
    }.getOrElse(fail("expected a BatchScanExec (V2 scan) in the plan:\n" + plan))
  }

  test("format(graft) reads flat and time-layout items identically to the Scala API") {
    val c = tempCollection("sql_read")
    c.write("flat", frame("2024-01-01", 40))
    c.write("monthly", frame("2024-01-01", 90), monthlyLayout = true)
    for (item <- Seq("flat", "monthly")) {
      val viaSql = spark.read.format("graft")
        .load(c.path.resolve(item).toString)
      val viaApi = c.item(item).data
      assert(viaSql.schema == viaApi.schema, s"$item schema")
      assert(viaSql.orderBy("index").collect().toSeq ==
        viaApi.orderBy("index").collect().toSeq, s"$item rows")
      assert(!viaSql.columns.contains(Collection.MonthCol))
    }
    cleanup(c)
  }

  test("index predicates prune period directories out of the V2 file index") {
    val c = tempCollection("sql_prune")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    val all = spark.read.format("graft").load(c.path.resolve("item").toString)
    assert(v2Scan(all).fileIndex.rootPaths.size == 3) // jan feb mar
    val march = all.filter(col("index") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    assert(march.count() == 30) // mar 1..30 (90 days from jan 1, leap feb)
    val scan = v2Scan(march)
    assert(scan.fileIndex.rootPaths.size == 1,
      s"expected 1 pruned period root, got ${scan.fileIndex.rootPaths}")
    assert(scan.fileIndex.rootPaths.head.toString.endsWith(s"${Collection.MonthCol}=2024-03"))
    // pushed filters reach the parquet scan (row-group skipping)
    assert(scan.pushedFilters.nonEmpty, "expected PushedFilters on the V2 scan")
    // equality pins a single period; a disjunction keeps everything (conservative)
    val eq = all.filter(col("index") === lit(java.sql.Timestamp.valueOf("2024-02-10 00:00:00")))
    assert(v2Scan(eq).fileIndex.rootPaths.size == 1)
    assert(eq.count() == 1)
    val or = all.filter(col("value") === 0.0 ||
      col("index") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    assert(v2Scan(or).fileIndex.rootPaths.size == 3)
    assert(or.count() == 31)
    cleanup(c)
  }

  test("an index column that is not a plain identifier still prunes V2 reads") {
    val c = tempCollection("sql_prune_quoted")
    c.write("item", frame("2024-01-01", 90).withColumnRenamed("index", "trade day"),
      indexCols = Seq("trade day"), monthlyLayout = true)
    // Spark pushes the filter on `trade day` with a backtick-quoted name
    val march = spark.read.format("graft").load(c.path.resolve("item").toString)
      .filter(col("trade day") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    assert(march.count() == 30)
    assert(v2Scan(march).fileIndex.rootPaths.size == 1)
    cleanup(c)
  }

  test("_period_stats prune V2 reads on covered non-index columns") {
    val c = tempCollection("sql_stats_prune")
    val df = frame("2024-01-01", 90)
      .withColumn("value", month(col("index")).cast("double"))
    c.write("item", df, monthlyLayout = true, statsColumns = Seq("value"))
    val t = spark.read.format("graft").load(c.path.resolve("item").toString)
    val pruned = t.filter(col("value") >= 3.0)
    assert(v2Scan(pruned).fileIndex.rootPaths.size == 1) // march only
    assert(pruned.count() == 30)
    cleanup(c)
  }

  test("column pruning reaches the V2 parquet scan") {
    val c = tempCollection("sql_colprune")
    c.write("item", frame("2024-01-01", 40), monthlyLayout = true)
    val t = spark.read.format("graft").load(c.path.resolve("item").toString)
    val two = t.select("index", "value")
    assert(v2Scan(two).readDataSchema.fieldNames.toSeq == Seq("index", "value"),
      "projection must prune the read schema down to the selected columns")
    assert(two.count() == 40)
    cleanup(c)
  }

  test("CREATE TABLE ... USING graft serves SQL with pruning intact") {
    val c = tempCollection("sql_ddl")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_item " +
      s"USING graft OPTIONS (path '${c.path.resolve("item")}')")
    val out = spark.sql(
      "SELECT count(*) AS n, round(sum(value), 2) AS sv FROM graft_sql_item " +
      "WHERE index >= timestamp'2024-03-01 00:00:00'")
    val row = out.collect().head
    assert(row.getLong(0) == 30)
    // pruning holds through the SQL surface too
    val scan = v2Scan(spark.sql(
      "SELECT * FROM graft_sql_item WHERE index >= timestamp'2024-03-01 00:00:00'"))
    assert(scan.fileIndex.rootPaths.size == 1)
    cleanup(c)
  }

  test("emptied and tz-mismatched items stay correct through the V2 path") {
    val c = tempCollection("sql_edge")
    c.write("item", frame("2024-01-01", 31), monthlyLayout = true)
    // a session tz differing from the recorded layout tz forfeits
    // pruning but must not change results
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val t = spark.read.format("graft").load(c.path.resolve("item").toString)
      val f = t.filter(col("index") >= lit(java.sql.Timestamp.valueOf("2024-01-30 00:00:00")))
      assert(v2Scan(f).fileIndex.rootPaths.size == 1, "pruning forfeited, full root list")
    } finally spark.conf.set(tzKey, orig)
    // emptied of every period: sidecar schema serves an empty frame
    assert(c.deleteWhere("item", lit(true)) == 31L)
    val empty = spark.read.format("graft").load(c.path.resolve("item").toString)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("index", "value", "tag"))
    cleanup(c)
  }

  test("missing path and non-item dirs fail typed") {
    intercept[GraftError](spark.read.format("graft").load())
    val e = intercept[ItemNotFoundError](
      spark.read.format("graft").load("/tmp/definitely_not_a_graft_item").schema)
    assert(e.getMessage.contains("no graft item"))
  }

  // ------------------------------------------------------------ catalog

  /** Register a GraftCatalog over the collection's store under a
    * test-unique name (CatalogManager caches instances per name, so
    * reusing one across tests would pin the first root). */
  private def withCatalog(c: Collection, tag: String)(body: String => Unit): Unit = {
    val cat = s"gstore_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", c.path.parent.toString)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("catalog: collections are namespaces, items are tables, reads prune") {
    val c = tempCollection("cat_read")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    c.write("other", frame("2024-01-01", 5))
    withCatalog(c, "read") { cat =>
      val ns = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
      assert(ns.toSeq == Seq("c"))
      val tbls = spark.sql(s"SHOW TABLES IN $cat.c").collect().map(_.getString(1))
      assert(tbls.toSeq == Seq("item", "other"))
      val df = spark.sql(
        s"SELECT * FROM $cat.c.item WHERE index >= timestamp'2024-03-01 00:00:00'")
      assert(df.count() == 30)
      // period pruning holds when the item is reached by NAME, not path
      assert(v2Scan(df).fileIndex.rootPaths.size == 1)
      val missing = intercept[Exception](spark.sql(s"SELECT * FROM $cat.c.nope").collect())
      assert(missing.getMessage.toLowerCase.contains("table"))
    }
    cleanup(c)
  }

  test("catalog: VERSION AS OF serves manifest snapshots with pinned periods pruned") {
    val c = tempCollection("cat_snap")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true)
    c.createSnapshot(Some("v1"), manifest = Some(true))
    // mutate AFTER the cut: extend an existing period and add a new one
    c.append("item", frame("2024-02-25", 20)) // feb overlap + march
    withCatalog(c, "snap") { cat =>
      val live = spark.sql(s"SELECT count(*) AS n FROM $cat.c.item").head().getLong(0)
      val pinned = spark.sql(s"SELECT * FROM $cat.c.item VERSION AS OF 'v1'")
      assert(live > 60 && pinned.count() == 60,
        s"live $live must see the append; snapshot must not")
      // snapshot parity with the Scala read path, row for row
      assert(pinned.orderBy("index").collect().toSeq ==
        c.item("item", snapshot = Some("v1")).data.orderBy("index").collect().toSeq)
      // pinned periods prune like live ones: feb-only predicate → 1 root
      val feb = spark.sql(s"SELECT * FROM $cat.c.item VERSION AS OF 'v1' " +
        "WHERE index >= timestamp'2024-02-01 00:00:00'")
      assert(v2Scan(feb).fileIndex.rootPaths.size == 1)
      assert(feb.count() == 29) // jan 1 + 60 days: feb 1..29 (leap)
      // TIMESTAMP AS OF t at the v1 cut → the commit log resolves the
      // write generation (since rewritten), and v1 is the manifest
      // created while it was current — exact, not stamp-approximate
      val v1At = graft.store.Snapshots.manifestCreatedAt(c.path, "v1").get
      val micros = v1At.getEpochSecond * 1000000L + v1At.getNano / 1000L
      val byTs = spark.sql(s"SELECT count(*) AS n FROM $cat.c.item " +
        s"TIMESTAMP AS OF timestamp_micros(${micros}L)").head().getLong(0)
      assert(byTs == 60, s"timestamp travel at the v1 cut must serve v1, got $byTs")
      // a timestamp predating every manifest AND the commit log refuses typed
      val ts = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat.c.item TIMESTAMP AS OF '2000-01-01'").collect())
      assert(ts.getMessage.contains("no manifest snapshot"), ts.getMessage)
      // internal pin manifests (txn / RTAS, __-prefixed) must NEVER
      // anchor timestamp travel — and travel at NOW is the LIVE state
      // (the commit log proves the last commit is current; round 8
      // served the stale v1 here because only manifests could anchor)
      graft.store.Snapshots.createManifest(c.path, "__txn_rtas_999", Seq("item"))
      val afterPin = spark.sql(s"SELECT count(*) AS n FROM $cat.c.item " +
        "TIMESTAMP AS OF current_timestamp()").head().getLong(0)
      assert(afterPin == live,
        s"timestamp travel at now must serve the live state ($live), got $afterPin")
      // nor can VERSION AS OF reach it by name
      val pinRead = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat.c.item VERSION AS OF '__txn_rtas_999'").collect())
      assert(pinRead.getMessage.contains("internal pin"), pinRead.getMessage)
      graft.store.Snapshots.deleteManifest(c.path, "__txn_rtas_999")
    }
    cleanup(c)
  }

  test("item$history commit log: one row per atomic commit, snapshot-free " +
      "timestamp travel, rollback logged") {
    val c = tempCollection("cat_hist")
    c.write("item", frame("2024-01-01", 31), monthlyLayout = true)
    c.append("item", frame("2024-02-01", 10))
    c.deleteWhere("item",
      col("index") < lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
    withCatalog(c, "hist") { cat =>
      // the log names the verbs and the touched periods, in commit order
      val rows = spark.sql(s"SELECT op, periods FROM $cat.c.`item$$history` " +
        "ORDER BY committed_at").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("write", "append", "delete_where"),
        rows.mkString(", "))
      assert(rows(0).getString(1) == "2024-01")         // birth laid january
      assert(rows(1).getString(1) == "2024-02")         // periodic append: feb only
      assert(rows(2).getString(1) == "2024-01")         // pruned delete: jan only
      // snapshot-free timestamp travel: NO manifest exists, yet AS OF
      // now serves the live state — the commit log is the anchor
      assert(Snapshots.userManifestStamps(c.path).isEmpty)
      val liveN = c.item("item").data.count()
      assert(liveN == 37) // 31 + 10 - 4 deleted
      val nowN = spark.sql(s"SELECT count(*) AS n FROM $cat.c.item " +
        "TIMESTAMP AS OF current_timestamp()").head().getLong(0)
      assert(nowN == liveN)
      // an instant whose state was rewritten with no snapshot pinning it
      // refuses with the honest error naming the rewrite
      val writeAt = History.entriesOf(Meta.read(c.path.resolve("item"))).head.at
      val wMicros = writeAt.getEpochSecond * 1000000L + writeAt.getNano / 1000L
      val gone = intercept[Exception](spark.sql(s"SELECT * FROM $cat.c.item " +
        s"TIMESTAMP AS OF timestamp_micros(${wMicros}L)").collect())
      assert(gone.getMessage.contains("was rewritten at") &&
        gone.getMessage.contains("no manifest snapshot pinned it"), gone.getMessage)
      // the row-level COW verbs log their SQL names
      spark.sql(s"UPDATE $cat.c.item SET value = value + 1 WHERE tag = 'r7'")
      // a rollback is a commit like any other: logged, and travel at NOW
      // serves the restored state
      spark.sql(s"CALL $cat.system.create_snapshot('c', 'cut', manifest => true)")
      c.append("item", frame("2024-03-01", 5))
      spark.sql(s"CALL $cat.system.rollback_to('c', 'cut')")
      // order by wall clock, not generation: the rollback entry REUSES
      // the restored generation (that is the point), so gens are not
      // monotonic across an undo
      val ops = spark.sql(s"SELECT op FROM $cat.c.`item$$history` " +
        "ORDER BY committed_at").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("write", "append", "delete_where", "update", "append",
        "rollback"), ops)
      val afterRb = spark.sql(s"SELECT count(*) AS n FROM $cat.c.item " +
        "TIMESTAMP AS OF current_timestamp()").head().getLong(0)
      assert(afterRb == 37, s"travel at now after rollback must serve the restored 37, got $afterRb")
    }
    // the log is capped: appending to a full log drops the oldest entry
    val full = (1 to History.MaxEntries).foldLeft(Map.empty[String, org.json4s.JValue]) {
      (m, i) => m + (History.Key -> History.appended(m, s"op$i", i.toLong, Nil))
    }
    val capped = Map(History.Key ->
      History.appended(full, "newest", 9999L, Nil))
    val entries = History.entriesOf(capped)
    assert(entries.size == History.MaxEntries)
    assert(entries.head.op == "op2" && entries.last.op == "newest")
    cleanup(c)
  }

  test("reader option snapshot= and dir snapshots serve the frozen cut") {
    val c = tempCollection("cat_dirsnap")
    c.write("item", frame("2024-01-01", 40), monthlyLayout = true)
    c.createSnapshot(Some("d1"), manifest = Some(false)) // physical dir snapshot
    c.append("item", frame("2024-02-10", 10))
    val snap = spark.read.format("graft").option("snapshot", "d1")
      .load(c.path.resolve("item").toString)
    assert(snap.count() == 40)
    assert(snap.orderBy("index").collect().toSeq ==
      c.item("item", snapshot = Some("d1")).data.orderBy("index").collect().toSeq)
    // a dir snapshot carries the full time layout — pruning still works
    val feb = snap.filter(col("index") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(v2Scan(feb).fileIndex.rootPaths.size == 1)
    val gone = intercept[SnapshotNotFoundError](
      spark.read.format("graft").option("snapshot", "nope")
        .load(c.path.resolve("item").toString).schema)
    assert(gone.getMessage.contains("does not exist"))
    cleanup(c)
  }

  test("min/max/count answer from parquet footers when aggregate pushdown is on") {
    val c = tempCollection("sql_aggpush")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    val key = "spark.sql.parquet.aggregatePushdown"
    try {
      spark.conf.set(key, "true")
      val t = spark.read.format("graft").load(c.path.resolve("item").toString)
      val agg = t.agg(max(col("value")).as("mx"), count(lit(1)).as("n"))
      val scan = v2Scan(agg)
      assert(scan.pushedAggregate.isDefined,
        s"expected a pushed aggregate on the V2 scan:\n${agg.queryExecution.executedPlan}")
      val row = agg.collect().head
      assert(row.getDouble(0) == 89.0 && row.getLong(1) == 90L)
      // with a data filter the aggregate must NOT push (footer stats
      // cannot see row-level filters) — and the result stays correct
      val filtered = t.filter(col("tag") =!= "r0")
        .agg(count(lit(1)).as("n"))
      assert(v2Scan(filtered).pushedAggregate.isEmpty)
      assert(filtered.collect().head.getLong(0) == 89L)
    } finally spark.conf.unset(key)
    cleanup(c)
  }

  test("aggregate pushdown OFF never constructs the delegate (no root listing)") {
    val c = tempCollection("sql_agggate")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    val key = "spark.sql.parquet.aggregatePushdown"
    val counter = graft.sources.GraftScanBuilder.aggDelegateListings
    // default is OFF — an aggregate-shaped query must not pay the
    // delegate's full recursive file listing for a guaranteed refusal
    assert(spark.conf.get(key) == "false")
    val t = spark.read.format("graft").load(c.path.resolve("item").toString)
    val before = counter.get()
    val agg = t.agg(max(col("value")).as("mx"), count(lit(1)).as("n"))
    assert(v2Scan(agg).pushedAggregate.isEmpty) // before collect: AQE hides stages after
    val row = agg.collect().head
    assert(row.getDouble(0) == 89.0 && row.getLong(1) == 90L)
    assert(counter.get() == before,
      "aggregate-pushdown delegate was constructed (full root listing) with the conf off")
    // with the conf ON the same query builds the delegate exactly once
    try {
      spark.conf.set(key, "true")
      val agg2 = t.agg(max(col("value")).as("mx"))
      assert(agg2.collect().head.getDouble(0) == 89.0)
      assert(counter.get() > before)
    } finally spark.conf.unset(key)
    cleanup(c)
  }

  test("metadata tables: $periods / $stats / $snapshots serve sidecar state as SQL rows") {
    val c = tempCollection("sql_meta_tables")
    c.write("m", frame("2024-01-01", 60), monthlyLayout = true,
      statsColumns = Seq("value"))
    c.write("f", frame("2024-01-01", 10))
    c.createSnapshot(Some("cut"), manifest = Some(true))
    c.createSnapshot(Some("frozen"), manifest = Some(false))
    withCatalog(c, "meta") { cat =>
      // $periods: the live period -> generation map; flat items use the
      // reserved whole-item key (the CDC convention)
      val periods = spark.sql(s"SELECT * FROM $cat.c.`m$$periods` ORDER BY period")
      assert(periods.columns.toSeq == Seq("period", "generation"))
      assert(periods.collect().map(_.getString(0)).toSeq == Seq("2024-01", "2024-02"))
      assert(spark.sql(s"SELECT period FROM $cat.c.`f$$periods`")
        .collect().map(_.getString(0)).toSeq == Seq("__item"))
      // generations in $periods match what CDC/streaming use: append a
      // period, only its generation is new
      val gensBefore = periods.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      c.append("m", frame("2024-03-01", 5))
      val gensAfter = spark.sql(s"SELECT * FROM $cat.c.`m$$periods`")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gensAfter.keySet == Set("2024-01", "2024-02", "2024-03"))
      assert(gensAfter("2024-01") == gensBefore("2024-01"))
      // $stats: per-period pruning bounds of the declared stats column
      val stats = spark.sql(
        s"SELECT * FROM $cat.c.`m$$stats` WHERE column = 'value' ORDER BY period")
      assert(stats.columns.toSeq == Seq("period", "column", "min_value", "max_value"))
      val statRows = stats.collect()
      assert(statRows.map(_.getString(0)).toSeq ==
        Seq("2024-01", "2024-02", "2024-03"))
      assert(statRows.forall(r => r.getString(2).toDouble <= r.getString(3).toDouble))
      // $snapshots: manifest snapshots carry their creation stamp, dir
      // snapshots a null one
      val snaps = spark.sql(s"SELECT * FROM $cat.c.`m$$snapshots` ORDER BY snapshot")
        .collect().map(r => (r.getString(0), r.getString(1), r.isNullAt(2)))
      assert(snaps.toSeq == Seq(("cut", "manifest", false), ("frozen", "dir", true)))
      // $detail: the one-row DESCRIBE DETAIL summary
      val detail = spark.sql(s"SELECT * FROM $cat.c.`m$$detail`").collect()
      assert(detail.length == 1)
      val d = detail(0)
      assert(d.getString(0) == "m" && d.getString(1) == "monthly")
      assert(d.getString(2) == "index" && d.getLong(3) == 3L)
      assert(spark.sql(s"SELECT layout, num_periods FROM $cat.c.`f$$detail`")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("flat", 1L)))
      // typed edges: unknown item, time travel, writes
      val e1 = intercept[Exception](
        spark.sql(s"SELECT * FROM $cat.c.`nope$$periods`").collect())
      assert(e1.getMessage.contains("does not exist"))
      val e2 = intercept[Exception](spark.sql(
        s"SELECT * FROM $cat.c.`m$$periods` VERSION AS OF 'cut'").collect())
      assert(e2.getMessage.contains("time travel"))
      val e3 = intercept[Exception](spark.sql(
        s"INSERT INTO $cat.c.`m$$periods` VALUES ('x', 1)").collect())
      assert(e3 != null) // read-only: no write capability
    }
    cleanup(c)
  }

  test("the remaining DDL refusals stay typed (alter namespace, non-empty drop)") {
    // round 9 completed the CREATE/DROP/RENAME lifecycle (GraftSqlWriteSpec
    // covers the success paths); what REMAINS refused must stay typed
    val c = tempCollection("cat_ro")
    c.write("item", frame("2024-01-01", 5))
    withCatalog(c, "ro") { cat =>
      val e = intercept[Exception](spark.sql(
        s"ALTER NAMESPACE $cat.c SET DBPROPERTIES ('k'='v')").collect())
      assert(e.getMessage.toLowerCase.contains("not support"), e.getMessage)
      // DROP NAMESPACE without CASCADE refuses while items exist
      val ne = intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.c").collect())
      assert(ne.getMessage.toLowerCase.contains("empty") ||
        ne.getMessage.toLowerCase.contains("cascade"), ne.getMessage)
      assert(c.hasItem("item"))
    }
    cleanup(c)
  }
}
