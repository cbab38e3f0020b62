package graft

import org.apache.spark.sql.functions._

import graft.store._

/** SQL write surface (V1Write fallback through the typed Collection
  * API): `INSERT INTO` = append with duplicate handling, `INSERT
  * OVERWRITE` = truncating rewrite preserving the item's structural
  * config, plus the typed refusals (snapshot pins, codec-marked
  * overwrite, unknown duplicates option). */
class GraftSqlWriteSpec extends SparkSpec {

  private def frame(startDay: String, days: Int, tagPrefix: String = "r") = {
    import spark.implicits._
    val start = java.time.LocalDate.parse(startDay)
    (0 until days).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), i.toDouble, s"$tagPrefix$i")
    }.toDF("index", "value", "tag")
  }

  private def registerCatalog(name: String, c: Collection): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", c.path.parent.toString)
  }

  test("INSERT INTO appends with KeepLast semantics, same as the Scala API") {
    val c = tempCollection("sql_ins")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true)
    registerCatalog("wcat1", c)
    // days 31..89 overlap days 31..59 of the stored frame: KeepLast
    // keeps the incoming row for every collided index value
    frame("2024-02-01", 59, tagPrefix = "n").createOrReplaceTempView("incoming")
    spark.sql("INSERT INTO wcat1.c.item SELECT * FROM incoming")
    val got = c.item("item").data.orderBy("index").collect()
    assert(got.length == 90) // jan 1 .. mar 30, one row per day
    // collided range serves the incoming batch's rows
    val feb1 = got.find(_.getTimestamp(0).toString.startsWith("2024-02-01")).get
    assert(feb1.getString(2) == "n0", s"KeepLast must keep the incoming row, got $feb1")
    // pre-existing non-collided rows survive
    assert(got.head.getString(2) == "r0")
    cleanup(c)
  }

  test("writer API append honors the duplicates option (keep_all, error)") {
    val c = tempCollection("sql_opt")
    c.write("item", frame("2024-01-01", 10))
    val path = c.path.resolve("item").toString
    frame("2024-01-05", 10, tagPrefix = "n").write.format("graft")
      .option("duplicates", "keep_all").mode("append").save(path)
    assert(c.item("item").data.count() == 20) // nothing dropped
    val e = intercept[DataIntegrityError] {
      frame("2024-01-05", 3).write.format("graft")
        .option("duplicates", "error").mode("append").save(path)
    }
    assert(e.getMessage.contains("duplicate"))
    val bad = intercept[ValidationError] {
      frame("2024-01-05", 3).write.format("graft")
        .option("duplicates", "bogus").mode("append").save(path)
    }
    assert(bad.getMessage.contains("unknown duplicates option"))
    cleanup(c)
  }

  test("INSERT OVERWRITE truncate-rewrites preserving layout and index config") {
    val c = tempCollection("sql_ovw")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true,
      statsColumns = Seq("value"))
    registerCatalog("wcat2", c)
    frame("2025-06-01", 40, tagPrefix = "o").createOrReplaceTempView("replacement")
    spark.sql("INSERT OVERWRITE wcat2.c.item SELECT * FROM replacement")
    val item = c.item("item")
    assert(item.data.count() == 40)
    assert(item.data.orderBy("index").head().getString(2) == "o0")
    // structural config survived the truncate: still monthly, stats col kept
    assert(item.metadata.get("_layout").map(Meta.unjv) == Some("monthly"))
    assert(item.metadata.get("_stats_cols").map(Meta.unjv) == Some(Seq("value")))
    val dirs = c.path.resolve("item").resolve(Item.DataDir).listDirs
      .filter(_.startsWith(Collection.MonthCol + "="))
    assert(dirs.size == 2, s"jun+jul period dirs expected, got $dirs") // 40 days from jun 1
    cleanup(c)
  }

  test("mode(overwrite) through the path-based writer truncates too") {
    val c = tempCollection("sql_ovw2")
    c.write("item", frame("2024-01-01", 20))
    frame("2024-05-01", 5, tagPrefix = "x").write.format("graft")
      .mode("overwrite").save(c.path.resolve("item").toString)
    assert(c.item("item").data.count() == 5)
    cleanup(c)
  }

  test("snapshot-pinned tables refuse writes") {
    val c = tempCollection("sql_snap")
    c.write("item", frame("2024-01-01", 20))
    c.createSnapshot(Some("v1"))
    val e = intercept[GraftError] {
      frame("2024-02-01", 5).write.format("graft")
        .option("snapshot", "v1").mode("append")
        .save(c.path.resolve("item").toString)
    }
    assert(e.getMessage.contains("immutable"))
    cleanup(c)
  }

  test("codec-marked items refuse INSERT OVERWRITE but accept append") {
    val c = tempCollection("sql_codec")
    c.write("item", frame("2024-01-01", 10), epochdate = true)
    val path = c.path.resolve("item").toString
    val t = spark.read.format("graft").load(path)
    // encoded schema: epoch-nanos long index — append in that rep works
    assert(t.schema("index").dataType == org.apache.spark.sql.types.LongType)
    val shifted = t.withColumn("index", col("index") + expr("86400000000000 * 30"))
    shifted.write.format("graft").mode("append").save(path)
    assert(c.item("item").data.count() == 20)
    val e = intercept[ValidationError] {
      shifted.write.format("graft").mode("overwrite").save(path)
    }
    assert(e.getMessage.contains("_epochdate"))
    cleanup(c)
  }

  test("DELETE FROM removes matching rows through the pruned deleteWhere path") {
    val c = tempCollection("sql_del")
    c.write("item", frame("2024-01-01", 90), monthlyLayout = true)
    registerCatalog("wdel1", c)
    // index range: only march rows qualify — the discovery scan prunes
    // to the march period (the Scala-path pruning MonthlyLayoutSpec
    // plan-asserts; here we prove the SQL surface reaches it)
    spark.sql("DELETE FROM wdel1.c.item WHERE index >= TIMESTAMP '2024-03-01 00:00:00'")
    val left = c.item("item").data
    assert(left.count() == 60) // jan + feb survive
    assert(left.agg(max(col("index"))).head().getTimestamp(0).toString.startsWith("2024-02-29"))
    // period dir for march is gone outright (emptied periods are removed)
    val dirs = c.path.resolve("item").resolve(Item.DataDir).listDirs
      .filter(_.startsWith(Collection.MonthCol + "="))
    assert(dirs.size == 2, s"only jan+feb period dirs expected, got $dirs")
    // compound predicate with OR / string ops translates too
    spark.sql("DELETE FROM wdel1.c.item WHERE tag = 'r0' OR tag LIKE 'r1%'")
    assert(c.item("item").data.count() == 60 - 1 - 11) // r0, r1, r10..r19
    cleanup(c)
  }

  test("deleteWhere and DELETE FROM keep the rows where the predicate is NULL") {
    import spark.implicits._
    val c = tempCollection("sql_del_null")
    registerCatalog("wdel3", c)
    val rows = Seq(("2024-01-01", Some(1.0)), ("2024-01-02", None), ("2024-02-01", Some(9.0)))
      .map { case (d, v) => (java.sql.Timestamp.valueOf(s"$d 00:00:00"), v) }
      .toDF("index", "value")
    for (monthly <- Seq(false, true)) {
      val (api, sql) = (s"api_$monthly", s"sql_$monthly")
      c.write(api, rows, monthlyLayout = monthly)
      c.write(sql, rows, monthlyLayout = monthly)
      assert(c.deleteWhere(api, col("value") > 5.0) == 1L, api)
      spark.sql(s"DELETE FROM wdel3.c.$sql WHERE value > 5")
      for (item <- Seq(api, sql)) {
        val left = c.item(item).data.select("value").collect().map(r => Option(r.get(0))).toSet
        assert(left == Set(Some(1.0), None), s"$item kept $left")
      }
    }
    cleanup(c)
  }

  test("TRUNCATE TABLE empties the item through delete-all") {
    val c = tempCollection("sql_trunc")
    c.write("item", frame("2024-01-01", 40), monthlyLayout = true)
    registerCatalog("wdel2", c)
    spark.sql("TRUNCATE TABLE wdel2.c.item")
    assert(c.item("item").data.count() == 0)
    // structural config survives — a later append re-populates in layout
    assert(c.item("item").metadata.get("_layout").map(Meta.unjv) == Some("monthly"))
    cleanup(c)
  }

  test("snapshot-pinned tables refuse DELETE") {
    val c = tempCollection("sql_del_snap")
    c.write("item", frame("2024-01-01", 10))
    c.createSnapshot(Some("v1"))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", c.path.resolve("item").toString, "snapshot", "v1"))
    val t = graft.sources.GraftTable.resolve(opts)
    val fs: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("value", 1.0))
    assert(!t.canDeleteWhere(fs),
      "snapshot-pinned table must refuse DELETE at analysis")
    intercept[GraftError] {
      t.deleteWhere(Array.empty[org.apache.spark.sql.sources.Filter])
    }
    cleanup(c)
  }

  test("SHOW TBLPROPERTIES serves the item sidecar metadata") {
    val c = tempCollection("sql_props")
    c.write("item", frame("2024-01-01", 10), monthlyLayout = true,
      metadata = Map("source" -> "api"))
    registerCatalog("wprop", c)
    val props = spark.sql("SHOW TBLPROPERTIES wprop.c.item")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("_layout") == Some("monthly"))
    assert(props.get("source") == Some("api"))
    assert(props.get("index_names").exists(_.contains("index")))
    // bulky machine keys stay out of the SQL surface
    assert(!props.contains("schema_json_encoded") && !props.contains("_period_stats"))
    cleanup(c)
  }

  test("CTAS creates a flat item through the typed write pipeline") {
    val c = tempCollection("sql_ctas_flat")
    c.write("seed", frame("2024-01-01", 30)) // collection must exist for the catalog root
    registerCatalog("wctas1", c)
    frame("2024-01-01", 30).createOrReplaceTempView("src_flat")
    // no USING clause: the session default provider (parquet) is accepted
    spark.sql("CREATE TABLE wctas1.c.made AS SELECT * FROM src_flat")
    val item = c.item("made")
    assert(item.data.count() == 30)
    assert(item.indexCols == Seq("index")) // 'index' column present → default index
    // SQL-born item is immediately readable back through SQL
    assert(spark.sql("SELECT count(*) AS n FROM wctas1.c.made").head().getLong(0) == 30L)
    // CREATE on an existing item refuses at analysis
    val e = intercept[Exception](
      spark.sql("CREATE TABLE wctas1.c.made AS SELECT * FROM src_flat"))
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    cleanup(c)
  }

  test("CTAS refuses reserved $-suffixed names; aborted C-OR-R on a fresh name cleans up") {
    val c = tempCollection("sql_ctas_edge")
    c.write("seed", frame("2024-01-01", 5))
    registerCatalog("wctas9", c)
    frame("2024-01-01", 5).createOrReplaceTempView("src_edge")
    // an item named x$periods would be shadowed by metadata-table
    // resolution forever — refused at analysis, nothing written
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE wctas9.c.`x$periods` AS SELECT * FROM src_edge"))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    assert(chain(e).contains("reserved metadata-table"), chain(e))
    assert(!c.path.resolve("x$periods").isDir)
    // abort of CREATE OR REPLACE on a NONEXISTENT target removes the
    // item its write created (plain-CREATE cleanup semantics); on an
    // EXISTING target the pre-write state was pinned and abort restores
    // it — a failed REPLACE never keeps its replacement
    val cat = spark.sessionState.catalogManager.catalog("wctas9")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.StagingTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("c"), "born")
    def stageAndWrite(tagPrefix: String): org.apache.spark.sql.connector.catalog.StagedTable = {
      val st = cat.stageCreateOrReplace(ident,
        frame("2024-01-01", 5).schema, Array.empty,
        new java.util.HashMap[String, String]())
      val rel = st.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null).build()
        .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
        .toInsertableRelation
      rel.insert(frame("2024-01-01", 5, tagPrefix), overwrite = false)
      st
    }
    def tags(): Seq[String] =
      c.item("born").data.orderBy("index").collect().map(_.getString(2)).toSeq
    val first = stageAndWrite("a")
    assert(c.hasItem("born"))
    first.abortStagedChanges()
    assert(!c.hasItem("born"), "aborted C-OR-R on a fresh name must clean up")
    // commit an 'a' generation, then REPLACE it with 'b' and abort:
    // the 'a' state must come back (and the internal pin must be gone)
    stageAndWrite("a").commitStagedChanges()
    assert(tags() == Seq("a0", "a1", "a2", "a3", "a4"))
    val replaced = stageAndWrite("b")
    assert(tags().head == "b0") // the swap is live pre-commit (atomic write)
    replaced.abortStagedChanges()
    assert(tags() == Seq("a0", "a1", "a2", "a3", "a4"),
      "aborted REPLACE must restore the pre-write state")
    assert(!Snapshots.listManifests(c.path).exists(_.startsWith("__txn_rtas")),
      "the pre-state pin must be dropped after the abort restored it")
    // a committed replace releases the pin and keeps the new state
    stageAndWrite("b").commitStagedChanges()
    assert(tags().head == "b0")
    // a REPLACE whose WRITE fails (pin created, nothing committed):
    // abort must still drop the pin — a leaked internal manifest would
    // retain an extra generation on every later overwrite
    val failing = cat.stageCreateOrReplace(ident,
      frame("2024-01-01", 5).schema, Array.empty,
      new java.util.HashMap[String, String]())
    intercept[Exception] {
      val rel = failing.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null).build()
        .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
        .toInsertableRelation
      val dup = frame("2024-01-01", 5)
      rel.insert(dup.select(dup("index"), dup("value"), dup("value")), overwrite = false)
    }
    failing.abortStagedChanges()
    assert(tags().head == "b0", "failed write must leave the item untouched")
    assert(!Snapshots.listManifests(c.path).exists(_.startsWith("__txn_rtas")),
      "a failed write's pin must not leak past abort")
    cleanup(c)
  }

  test("CTAS with layout properties / PARTITIONED BY builds time-layout items") {
    val c = tempCollection("sql_ctas_layout")
    c.write("seed", frame("2024-01-01", 1))
    registerCatalog("wctas2", c)
    frame("2024-01-01", 90).createOrReplaceTempView("src_layout")
    spark.sql("CREATE TABLE wctas2.c.bytbl USING graft " +
      "TBLPROPERTIES('index'='index','layout'='monthly','stats_cols'='value'," +
      "'origin'='ctas-test') AS SELECT * FROM src_layout")
    val item = c.item("bytbl")
    assert(item.metadata.get("_layout").map(Meta.unjv) == Some("monthly"))
    assert(item.metadata.get("_stats_cols").map(Meta.unjv) == Some(Seq("value")))
    // non-structural TBLPROPERTIES land as user metadata
    assert(item.metadata.get("origin").map(Meta.unjv) == Some("ctas-test"))
    val dirs = c.path.resolve("bytbl").resolve(Item.DataDir).listDirs
      .filter(_.startsWith(Collection.MonthCol + "="))
    assert(dirs.size == 3, s"jan-mar period dirs expected, got $dirs")
    // PARTITIONED BY months(col) implies layout AND index column
    spark.sql("CREATE TABLE wctas2.c.bypart USING graft PARTITIONED BY (months(index)) " +
      "AS SELECT * FROM src_layout")
    assert(c.item("bypart").metadata.get("_layout").map(Meta.unjv) == Some("monthly"))
    // conflicting layout spellings refuse at analysis
    val e = intercept[ValidationError](
      spark.sql("CREATE TABLE wctas2.c.clash USING graft TBLPROPERTIES('layout'='daily') " +
        "PARTITIONED BY (months(index)) AS SELECT * FROM src_layout"))
    assert(e.getMessage.contains("conflicts"))
    assert(!c.hasItem("clash"))
    cleanup(c)
  }

  test("CTAS index defaulting: first timestamp column when no 'index' column") {
    val c = tempCollection("sql_ctas_idx")
    c.write("seed", frame("2024-01-01", 1))
    registerCatalog("wctas3", c)
    frame("2024-01-01", 20).toDF("ts", "value", "tag").createOrReplaceTempView("src_ts")
    spark.sql("CREATE TABLE wctas3.c.tsidx AS SELECT * FROM src_ts")
    assert(c.item("tsidx").indexCols == Seq("ts"))
    // a time layout on a non-temporal declared index refuses at analysis
    val e = intercept[ValidationError](
      spark.sql("CREATE TABLE wctas3.c.badidx USING graft " +
        "TBLPROPERTIES('index'='tag','layout'='monthly') AS SELECT * FROM src_ts"))
    assert(e.getMessage.contains("timestamp/date index"))
    cleanup(c)
  }

  test("RTAS overwrites; bare REPLACE and missing-table REPLACE refuse typed") {
    val c = tempCollection("sql_rtas")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true)
    registerCatalog("wrtas", c)
    frame("2025-06-01", 10, tagPrefix = "o").createOrReplaceTempView("src_rtas")
    // REPLACE ... AS SELECT is a NEW definition (unlike INSERT OVERWRITE,
    // which preserves the old structural config): the replacement is flat
    spark.sql("REPLACE TABLE wrtas.c.item AS SELECT * FROM src_rtas")
    val item = c.item("item")
    assert(item.data.count() == 10)
    assert(item.data.orderBy("index").head().getString(2) == "o0")
    assert(item.metadata.get("_layout").map(Meta.unjv) != Some("monthly"))
    // REPLACE of a missing table refuses; the item is not created
    intercept[Exception](
      spark.sql("REPLACE TABLE wrtas.c.nope AS SELECT * FROM src_rtas"))
    assert(!c.hasItem("nope"))
    // CREATE OR REPLACE works on both missing and existing items
    spark.sql("CREATE OR REPLACE TABLE wrtas.c.fresh AS SELECT * FROM src_rtas")
    assert(c.item("fresh").data.count() == 10)
    spark.sql("CREATE OR REPLACE TABLE wrtas.c.fresh AS SELECT * FROM src_rtas LIMIT 4")
    assert(c.item("fresh").data.count() == 4)
    // schema-only REPLACE refuses (item state is data)
    val e = intercept[Exception](
      spark.sql("REPLACE TABLE wrtas.c.item (x INT) USING graft"))
    assert(e.getMessage.contains("AS SELECT"), e.getMessage)
    assert(c.item("item").data.count() == 10, "failed schema-only REPLACE must not clobber")
    cleanup(c)
  }

  test("SQL commits are per-statement: a failed statement never rolls back an earlier one") {
    val c = tempCollection("sql_txn")
    c.write("item", frame("2024-01-01", 10))
    c.write("enc", frame("2024-03-01", 8), epochdate = true) // codec-marked
    registerCatalog("wtxn", c)
    frame("2024-02-01", 5, tagPrefix = "a").createOrReplaceTempView("txn_b1")
    spark.sql("INSERT INTO wtxn.c.item SELECT * FROM txn_b1") // statement 1 commits
    assert(c.item("item").data.count() == 15)
    // statement 2 fails at EXECUTION (codec-marked overwrite refusal,
    // raised inside the write pipeline, past analysis)
    val encCols = spark.table("wtxn.c.enc").columns.map(x => s"`$x`").mkString(", ")
    intercept[Exception](spark.sql(
      s"INSERT OVERWRITE wtxn.c.enc SELECT $encCols FROM wtxn.c.enc"))
    // the failed statement rolled back NOTHING: its own item is intact
    // (atomic per-statement commit) and statement 1's append persists
    assert(c.item("enc").data.count() == 8)
    assert(c.item("item").data.count() == 15,
      "a failed second statement must not roll back the first")
    cleanup(c)
  }

  test("bare CREATE TABLE births an empty typed item; INSERT then lands in it") {
    val c = tempCollection("sql_bare_create")
    c.write("seed", frame("2024-01-01", 1)) // anchor the collection dir
    registerCatalog("wbc", c)
    // declared schema + layout + index from TBLPROPERTIES, zero rows —
    // the round-8 typed refusal flips to a success path
    spark.sql("CREATE TABLE wbc.c.fresh (index TIMESTAMP, value DOUBLE, tag STRING) " +
      "USING graft TBLPROPERTIES(index='index', layout='monthly', note='born empty')")
    assert(c.hasItem("fresh"))
    val empty = spark.table("wbc.c.fresh")
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("index", "value", "tag"))
    assert(Meta.unjv(c.metadata("fresh")("_layout")) == "monthly")
    assert(Meta.unjv(c.metadata("fresh")("note")) == "born empty")
    // the empty item is immediately INSERT-able and stays periodic
    frame("2024-02-01", 40, tagPrefix = "i").createOrReplaceTempView("bare_src")
    spark.sql("INSERT INTO wbc.c.fresh SELECT * FROM bare_src")
    assert(c.item("fresh").data.count() == 40)
    val dirs = c.path.resolve("fresh").resolve(Item.DataDir).listDirs
      .filter(_.startsWith(Collection.MonthCol + "="))
    assert(dirs.sorted == Seq(s"${Collection.MonthCol}=2024-02",
      s"${Collection.MonthCol}=2024-03"), dirs)
    // duplicate birth refuses; metadata-suffix names refuse at analysis
    intercept[Exception](spark.sql(
      "CREATE TABLE wbc.c.fresh (x INT) USING graft"))
    val meta = intercept[Exception](spark.sql(
      "CREATE TABLE wbc.c.`oops$history` (x INT) USING graft"))
    assert(meta.getMessage.contains("reserved metadata-table"), meta.getMessage)
    // a bad layout/index config still fails eagerly with zero side effects
    val bad = intercept[Exception](spark.sql(
      "CREATE TABLE wbc.c.badidx (a INT) USING graft " +
        "TBLPROPERTIES(index='missing_col')"))
    assert(bad.getMessage.contains("index column"), bad.getMessage)
    assert(!c.hasItem("badidx"))
    cleanup(c)
  }

  test("DROP TABLE deletes the item; pinned generations survive for VERSION AS OF") {
    val c = tempCollection("sql_drop")
    c.write("item", frame("2024-01-01", 20))
    c.write("keep", frame("2024-01-01", 3))
    registerCatalog("wdrop", c)
    // plain drop: the item is gone from listings and reads
    spark.sql("DROP TABLE wdrop.c.item")
    assert(!c.hasItem("item"))
    assert(intercept[Exception](spark.table("wdrop.c.item").collect())
      .getMessage.toLowerCase.contains("table"))
    // IF EXISTS contract on a missing table
    spark.sql("DROP TABLE IF EXISTS wdrop.c.item")
    // a pinned item's generations outlive the drop
    c.write("pinned", frame("2024-01-01", 15))
    spark.sql("CALL wdrop.system.create_snapshot('c', 'cut', manifest => true)")
    spark.sql("DROP TABLE wdrop.c.pinned")
    assert(!c.hasItem("pinned"))
    val viaSnap = spark.sql(
      "SELECT count(*) AS n FROM wdrop.c.pinned VERSION AS OF 'cut'").head().getLong(0)
    assert(viaSnap == 15, "VERSION AS OF must keep serving a dropped pinned item")
    // metadata-table projections cannot be dropped
    val e = intercept[Exception](spark.sql("DROP TABLE wdrop.c.`keep$periods`"))
    assert(e.getMessage.contains("metadata-table projection"), e.getMessage)
    assert(c.hasItem("keep"))
    cleanup(c)
  }

  test("RENAME TABLE renames in place; manifest pins follow; cross-namespace refuses") {
    val c = tempCollection("sql_rename")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true)
    registerCatalog("wren", c)
    spark.sql("ALTER TABLE wren.c.item RENAME TO renamed")
    assert(!c.hasItem("item") && c.hasItem("renamed"))
    // data, layout, and the commit log ride the rename untouched
    assert(spark.table("wren.c.renamed").count() == 60)
    assert(Meta.unjv(c.metadata("renamed")("_layout")) == "monthly")
    assert(History.entriesOf(Meta.read(c.path.resolve("renamed"))).map(_.op) == Seq("write"))
    val pruned = spark.sql("SELECT * FROM wren.c.renamed " +
      "WHERE index >= timestamp'2024-02-01 00:00:00'")
    assert(pruned.count() == 29)
    // a manifest pin FOLLOWS the rename (round 12; previously refused):
    // the snapshot's entry re-keys, so VERSION AS OF resolves the
    // pinned pre-rename state under the new name
    spark.sql("CALL wren.system.create_snapshot('c', 'hold', manifest => true)")
    spark.sql("ALTER TABLE wren.c.renamed RENAME TO moved")
    assert(c.hasItem("moved") && !c.hasItem("renamed"))
    assert(Snapshots.manifestPins(c.path, "hold", "moved").isDefined)
    assert(Snapshots.manifestPins(c.path, "hold", "renamed").isEmpty)
    assert(spark.sql("SELECT * FROM wren.c.moved VERSION AS OF 'hold'").count() == 60)
    spark.sql("CALL wren.system.delete_snapshot('c', 'hold')")
    spark.sql("ALTER TABLE wren.c.moved RENAME TO free")
    assert(c.hasItem("free"))
    // cross-collection moves and collisions refuse typed
    c.write("other", frame("2024-01-01", 2))
    assert(intercept[Exception](
      spark.sql("ALTER TABLE wren.c.free RENAME TO other")).getMessage.contains("exists"))
    val x = intercept[Exception](
      spark.sql("ALTER TABLE wren.c.free RENAME TO c2.free"))
    assert(x.getMessage.contains("physical"), x.getMessage)
    cleanup(c)
  }

  test("CREATE/DROP NAMESPACE birth and delete collections") {
    val c = tempCollection("sql_ns")
    c.write("seed", frame("2024-01-01", 1))
    registerCatalog("wns", c)
    spark.sql("CREATE NAMESPACE wns.born")
    assert(spark.sql("SHOW NAMESPACES IN wns").collect()
      .map(_.getString(0)).contains("born"))
    // a table can be born into it straight away
    frame("2024-01-01", 5).createOrReplaceTempView("ns_src")
    spark.sql("CREATE TABLE wns.born.t AS SELECT * FROM ns_src")
    assert(spark.table("wns.born.t").count() == 5)
    // non-cascade drop refuses while items exist; cascade wipes
    intercept[Exception](spark.sql("DROP NAMESPACE wns.born"))
    spark.sql("DROP NAMESPACE wns.born CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN wns").collect()
      .map(_.getString(0)).contains("born"))
    // user namespace properties refuse typed
    val e = intercept[Exception](
      spark.sql("CREATE NAMESPACE wns.p WITH DBPROPERTIES (k='v')"))
    assert(e.getMessage.contains("namespace properties"), e.getMessage)
    cleanup(c)
  }
}
