package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store._

/** Metadata-only schema widening: `ALTER TABLE ... ADD COLUMNS` /
  * `Collection.addColumns` (one sidecar write, zero data files), the
  * declared-schema read pin that makes mixed file generations read
  * correctly, `SET/UNSET TBLPROPERTIES`, and the evolved-append sidecar
  * schema refresh. */
class GraftAlterSpec extends SparkSpec {

  private def frame(startDay: String, days: Int) = {
    import spark.implicits._
    val start = java.time.LocalDate.parse(startDay)
    (0 until days).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()), i.toDouble)
    }.toDF("index", "value")
  }

  private def registerCatalog(name: String, c: Collection): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", c.path.parent.toString)
  }

  private def dataFiles(c: Collection, item: String): Set[String] =
    c.path.fs.listFilesRecursively(c.path.resolve(item).resolve(Item.DataDir).raw)
      .filter(_.endsWith(".parquet")).toSet

  test("ADD COLUMNS is metadata-only; old rows read NULL, new appends fill it") {
    val c = tempCollection("alter_add")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true) // jan feb
    val filesBefore = dataFiles(c, "item")
    registerCatalog("acat1", c)
    spark.sql("ALTER TABLE acat1.c.item ADD COLUMNS (score DOUBLE, tag STRING)")
    // zero data files changed — the lakehouse metadata-only contract
    assert(dataFiles(c, "item") == filesBefore)
    // both read paths serve the widened schema, old rows as NULLs
    val viaApi = c.item("item").data
    assert(viaApi.columns.toSeq == Seq("index", "value", "score", "tag"))
    assert(viaApi.filter(col("score").isNotNull).count() == 0)
    val viaSql = spark.sql("SELECT * FROM acat1.c.item")
    assert(viaSql.columns.toSeq == Seq("index", "value", "score", "tag"))
    assert(viaSql.count() == 60)
    // a post-ALTER append carries the column: mixed file generations
    // read correctly against the declared pin
    import spark.implicits._
    val withCol = (0 until 10).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i).atStartOfDay()),
        i.toDouble, i * 1.5, s"t$i")
    }.toDF("index", "value", "score", "tag")
    c.append("item", withCol)
    val all = c.item("item").data
    assert(all.count() == 70)
    assert(all.filter(col("score").isNotNull).count() == 10)
    assert(all.filter(col("tag") === "t3").count() == 1)
    // index-period pruning still works through the pinned read
    assert(all.filter(col("index") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .count() == 10)
    cleanup(c)
  }

  test("ADD COLUMNS typed refusals: collisions, non-nullable, reserved, drops, positions") {
    val c = tempCollection("alter_refuse")
    c.write("item", frame("2024-01-01", 10))
    registerCatalog("acat2", c)
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE acat2.c.item ADD COLUMNS (VALUE DOUBLE)"))
    assert(dup.getMessage.contains("already exists"))
    val nn = intercept[ValidationError](
      c.addColumns("item", Seq(StructField("x", DoubleType, nullable = false))))
    assert(nn.getMessage.contains("nullable"))
    val res = intercept[ValidationError](
      c.addColumns("item", Seq(StructField("__month", StringType))))
    assert(res.getMessage.contains("reserved"))
    // RENAME COLUMN is supported (staged rewrite — own arms below);
    // retypes still refuse toward a user-written migration
    val ret = intercept[Exception](
      spark.sql("ALTER TABLE acat2.c.item ALTER COLUMN value TYPE STRING"))
    assert(ret.getMessage.contains("migration"))
    val pos = intercept[Exception](
      spark.sql("ALTER TABLE acat2.c.item ADD COLUMNS (z DOUBLE FIRST)"))
    assert(pos.getMessage.contains("FIRST/AFTER"))
    cleanup(c)
  }

  test("SET/UNSET TBLPROPERTIES updates user metadata; structural keys refuse") {
    val c = tempCollection("alter_props")
    c.write("item", frame("2024-01-01", 5), metadata = Map("team" -> "ops"))
    registerCatalog("acat3", c)
    // ('owner' is a Spark-reserved table property — parser refuses it)
    spark.sql("ALTER TABLE acat3.c.item SET TBLPROPERTIES ('source' = 'nyse', 'team' = 'data')")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES acat3.c.item").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("source").contains("nyse"))
    assert(props().get("team").contains("data"))
    // metadata equality search (P3) sees the SQL-set property
    assert(c.listItems(Map("source" -> "nyse")).contains("item"))
    spark.sql("ALTER TABLE acat3.c.item UNSET TBLPROPERTIES ('source')")
    assert(!props().contains("source"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE acat3.c.item SET TBLPROPERTIES ('_layout' = 'daily')"))
    assert(e.getMessage.contains("structural"))
    cleanup(c)
  }

  test("DROP COLUMN is metadata-only; snapshots and VERSION AS OF serve the frozen pre-drop schema") {
    val c = tempCollection("alter_drop")
    import spark.implicits._
    val df = frame("2024-01-01", 60).withColumn("score", col("value") * 2.0)
    c.write("item", df, monthlyLayout = true)
    c.createSnapshot(Some("predrop"), manifest = Some(true))
    val filesBefore = dataFiles(c, "item")
    registerCatalog("dcat1", c)
    spark.sql("ALTER TABLE dcat1.c.item DROP COLUMN score")
    // zero data files changed — the mask is a sidecar write only
    assert(dataFiles(c, "item") == filesBefore)
    // both live read paths serve the masked shape
    assert(c.item("item").data.columns.toSeq == Seq("index", "value"))
    val viaSql = spark.sql("SELECT * FROM dcat1.c.item")
    assert(viaSql.columns.toSeq == Seq("index", "value"))
    assert(viaSql.count() == 60)
    // the pre-drop snapshot serves the FROZEN schema — column intact
    val snap = c.item("item", snapshot = Some("predrop")).data
    assert(snap.columns.toSeq == Seq("index", "value", "score"))
    assert(snap.filter(col("score").isNull).count() == 0)
    val viaTravel = spark.sql("SELECT * FROM dcat1.c.item VERSION AS OF 'predrop'")
    assert(viaTravel.columns.toSeq == Seq("index", "value", "score"))
    assert(viaTravel.agg(sum("score")).as[Double].head() ==
      (0 until 60).map(_ * 2.0).sum)
    // the dropped name is remembered for purge-on-re-add
    assert(Meta.read(c.path.resolve("item")).contains(Collection.DroppedColsKey))
    cleanup(c)
  }

  test("re-adding a dropped name purges the masked bytes: fresh NULLs, never the old values") {
    val c = tempCollection("alter_readd")
    import spark.implicits._
    c.write("item", frame("2024-01-01", 60).withColumn("score", col("value") + 100.0),
      monthlyLayout = true)
    registerCatalog("dcat2", c)
    spark.sql("ALTER TABLE dcat2.c.item DROP COLUMN score")
    // a partial monthly append between drop and re-add: the mask must
    // survive the partial commit (untouched months still hold masked bytes)
    c.append("item", frame("2024-03-01", 5))
    assert(Collection.droppedColsOf(Meta.read(c.path.resolve("item")))
      .map(_.toLowerCase).contains("score"))
    val filesBefore = dataFiles(c, "item")
    spark.sql("ALTER TABLE dcat2.c.item ADD COLUMNS (score DOUBLE)")
    // the re-add paid the purge rewrite (data files DID change this time)
    assert(dataFiles(c, "item") != filesBefore)
    val after = c.item("item").data
    assert(after.columns.toSeq == Seq("index", "value", "score"))
    assert(after.count() == 65)
    // every row reads the re-added column as a typed NULL — the pre-drop
    // bytes (value+100) never resurrect
    assert(after.filter(col("score").isNotNull).count() == 0)
    // and the mask is cleared: the purge committed a full rewrite
    assert(!Meta.read(c.path.resolve("item")).contains(Collection.DroppedColsKey))
    // a full rewrite also clears the mask for free (no purge needed)
    spark.sql("ALTER TABLE dcat2.c.item DROP COLUMN score")
    c.write("item", frame("2024-01-01", 10), monthlyLayout = true, overwrite = true)
    assert(!Meta.read(c.path.resolve("item")).contains(Collection.DroppedColsKey))
    cleanup(c)
  }

  test("dropping a codec-marked column takes its _type_info marker with it (re-add is marker-free)") {
    import spark.implicits._
    val c = tempCollection("alter_drop_marker")
    // evt carries nanosecond epochs with the epoch_ns codec marker:
    // dataRestored serves it as timestamps
    val df = Seq((1, 1717243200000000000L), (2, 1717329600000000000L))
      .toDF("index", "evt")
    c.write("it", df, indexCols = Seq("index"),
      typeMarkers = Map("evt" -> Codecs.TypeMarker("epoch_ns")))
    assert(c.item("it").dataRestored.schema("evt").dataType == TimestampType)
    c.dropColumns("it", Seq("evt"))
    // the marker left with the column — both reads serve the masked shape
    assert(!c.item("it").data.columns.contains("evt"))
    assert(!c.item("it").dataRestored.columns.contains("evt"))
    assert(!Codecs.markersFromMeta(c.metadata("it").getOrElse("_type_info",
      org.json4s.JObject(Nil))).contains("evt"))
    // re-adding the NAME as a plain long must serve fresh NULL longs —
    // a stale epoch_ns marker would reinterpret it as timestamps
    c.addColumns("it", Seq(StructField("evt", LongType, nullable = true)))
    val re = c.item("it").dataRestored
    assert(re.schema("evt").dataType == LongType,
      s"stale codec marker resurrected: ${re.schema("evt").dataType}")
    assert(re.filter(col("evt").isNotNull).count() == 0)
    cleanup(c)
  }

  test("an evolved append re-introducing a dropped name serves fresh values (full rewrite clears the mask)") {
    import spark.implicits._
    val c = tempCollection("alter_drop_evolve")
    c.write("it", Seq((1, 1.0, 7L), (2, 2.0, 7L)).toDF("index", "value", "cc"),
      indexCols = Seq("index"))
    c.dropColumns("it", Seq("cc")) // masked; old part-files keep the 7s
    // evolution adds the name back — the evolved append takes the FULL
    // path (old = the MASKED read, so the pre-drop bytes feed nothing)
    // and its full rewrite clears the mask for free
    c.append("it", Seq((3, 3.0, 9L)).toDF("index", "value", "cc"),
      evolution = Some(graft.evolution.EvolutionStrategy.AddOnly))
    val rows = c.item("it").data.orderBy("index")
      .select("index", "cc").as[(Int, Option[Long])].collect().toSeq
    assert(rows == Seq(1 -> None, 2 -> None, 3 -> Some(9L)),
      s"pre-drop bytes must never resurrect through evolution: $rows")
    assert(Collection.droppedColsOf(Meta.read(c.path.resolve("it"))).isEmpty)
    cleanup(c)
  }

  test("DROP COLUMN typed refusals: index, declared stats column, unknown; IF EXISTS skips") {
    val c = tempCollection("alter_drop_refuse")
    import spark.implicits._
    c.write("item", frame("2024-01-01", 40).withColumn("qty", col("value") * 3.0),
      monthlyLayout = true)
    c.analyzeItem("item", Seq("qty"))
    registerCatalog("dcat3", c)
    val idx = intercept[ValidationError](c.dropColumns("item", Seq("index")))
    assert(idx.getMessage.contains("index"))
    val st = intercept[Exception](
      spark.sql("ALTER TABLE dcat3.c.item DROP COLUMN qty"))
    assert(st.getMessage.contains("stats"))
    // unknown names stop at the ANALYZER (it resolves the column against
    // the table schema before the catalog sees the change); the Scala
    // API's own typed refusal covers the catalog-independent path
    val unk = intercept[Exception](
      spark.sql("ALTER TABLE dcat3.c.item DROP COLUMN nope"))
    assert(unk.getMessage.contains("cannot be resolved"))
    val unkApi = intercept[ValidationError](c.dropColumns("item", Seq("nope")))
    assert(unkApi.getMessage.contains("does not exist"))
    // IF EXISTS on an absent name is a silent no-op
    spark.sql("ALTER TABLE dcat3.c.item DROP COLUMN IF EXISTS nope")
    assert(c.item("item").data.columns.toSeq == Seq("index", "value", "qty"))
    // undeclaring the stats column unlocks the drop
    c.analyzeItem("item", Nil)
    spark.sql("ALTER TABLE dcat3.c.item DROP COLUMN IF EXISTS qty")
    assert(c.item("item").data.columns.toSeq == Seq("index", "value"))
    cleanup(c)
  }

  test("an evolved append refreshes the declared schemas (SQL readers see the new column)") {
    val c = tempCollection("alter_evolve")
    c.write("item", frame("2024-01-01", 10))
    import spark.implicits._
    val widened = (0 until 5).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 2, 1).plusDays(i).atStartOfDay()),
        i.toDouble, s"n$i")
    }.toDF("index", "value", "note")
    c.append("item", widened, evolution = Some(graft.evolution.EvolutionStrategy.AddOnly))
    registerCatalog("acat4", c)
    // before the fix the V2 table served the stale pre-evolution sidecar
    // schema and the new column was invisible to SQL
    val viaSql = spark.sql("SELECT * FROM acat4.c.item")
    assert(viaSql.columns.toSeq == Seq("index", "value", "note"))
    assert(viaSql.filter(col("note").isNotNull).count() == 5)
    assert(c.item("item").data.columns.contains("note"))
    cleanup(c)
  }

  test("RENAME COLUMN is a staged atomic rewrite: data rides the new name; snapshots serve the frozen pre-rename name") {
    import spark.implicits._
    val c = tempCollection("alter_rename")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true) // jan feb
    c.createSnapshot(Some("pre"), manifest = Some(true))
    registerCatalog("rcat1", c)
    val before = dataFiles(c, "item")
    spark.sql("ALTER TABLE rcat1.c.item RENAME COLUMN value TO amount")
    // columns map by NAME: the rename must rewrite every part-file
    assert(dataFiles(c, "item").intersect(before).isEmpty,
      "a rename must rewrite the data files")
    val expected = (0 until 60).map(_.toDouble).sum
    val df = c.item("item").data
    assert(df.columns.toSeq == Seq("index", "amount"))
    assert(df.agg(sum("amount")).head.getDouble(0) == expected,
      "the values must ride the rename")
    assert(spark.sql("SELECT sum(amount) AS s FROM rcat1.c.item")
      .head.getDouble(0) == expected)
    // the pinned snapshot serves the FROZEN pre-rename name and values
    val snap = c.item("item", snapshot = Some("pre")).data
    assert(snap.columns.toSeq == Seq("index", "value"))
    assert(snap.agg(sum("value")).head.getDouble(0) == expected)
    assert(spark.sql("SELECT * FROM rcat1.c.item VERSION AS OF 'pre'")
      .columns.toSeq == Seq("index", "value"))
    // appends keep working under the new name; the old name is gone
    c.append("item", Seq((java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), 99.0))
      .toDF("index", "amount"))
    assert(c.item("item").data.count() == 61)
    intercept[Exception](c.item("item").data.select("value").collect())
    cleanup(c)
  }

  test("RENAME COLUMN re-keys the _type_info codec marker (the codec serves under the new name)") {
    import spark.implicits._
    val c = tempCollection("alter_rename_marker")
    val df = Seq((1, 1717243200000000000L), (2, 1717329600000000000L))
      .toDF("index", "evt")
    c.write("it", df, indexCols = Seq("index"),
      typeMarkers = Map("evt" -> Codecs.TypeMarker("epoch_ns")))
    val restoredBefore = c.item("it").dataRestored
      .select("evt").collect().map(_.getTimestamp(0)).toSet
    c.renameColumn("it", "evt", "evt2")
    val markers = Codecs.markersFromMeta(c.metadata("it")
      .getOrElse("_type_info", org.json4s.JObject(Nil)))
    assert(!markers.contains("evt") && markers.contains("evt2"),
      s"the codec marker must re-key with the column, got ${markers.keys}")
    val re = c.item("it").dataRestored
    assert(re.schema("evt2").dataType == TimestampType,
      "the epoch_ns codec must keep serving under the new name")
    assert(re.select("evt2").collect().map(_.getTimestamp(0)).toSet
      == restoredBefore)
    cleanup(c)
  }

  test("RENAME COLUMN typed refusals: index, stats column, unknown, collision, reserved; refusals change nothing") {
    val c = tempCollection("alter_rename_refuse")
    c.write("item", frame("2024-01-01", 40).withColumn("qty", col("value") * 3.0),
      monthlyLayout = true)
    c.analyzeItem("item", Seq("qty"))
    val filesBefore = dataFiles(c, "item")
    val idx = intercept[ValidationError](c.renameColumn("item", "index", "idx2"))
    assert(idx.getMessage.contains("index"))
    val st = intercept[ValidationError](c.renameColumn("item", "qty", "qty2"))
    assert(st.getMessage.contains("stats"))
    val unk = intercept[ValidationError](c.renameColumn("item", "nope", "x"))
    assert(unk.getMessage.contains("does not exist"))
    val coll = intercept[ValidationError](c.renameColumn("item", "value", "qty"))
    assert(coll.getMessage.contains("already exists"))
    val res = intercept[ValidationError](c.renameColumn("item", "value", "__v"))
    assert(res.getMessage.contains("reserved"))
    assert(dataFiles(c, "item") == filesBefore,
      "a refused rename must not touch the data")
    assert(c.item("item").data.columns.toSeq == Seq("index", "value", "qty"))
    // undeclaring the stats column unlocks the rename
    c.analyzeItem("item", Nil)
    c.renameColumn("item", "qty", "qty2")
    assert(c.item("item").data.columns.toSeq == Seq("index", "value", "qty2"))
    cleanup(c)
  }

  test("RENAME COLUMN stages outside the locks: a writer landing mid-rewrite serializes cleanly, nothing lost") {
    // the round-13 shape held the DDL + cross-process item locks across
    // the full Spark rewrite, so a concurrent process appending the
    // same item polled processLockTimeoutMs and failed with a spurious
    // LockTimeoutError. Staged-outside-locks, the append lands
    // immediately; the rename's publish fence refuses the now-stale
    // staging and retryOnConflict re-stages over the fresh state.
    import spark.implicits._
    val c = tempCollection("alter_rename_race")
    c.write("item", Seq((1, 1.0), (2, 2.0)).toDF("index", "value"),
      indexCols = Seq("index"))
    c.enableMultiprocess()
    val other = Collection.at(spark, c.path)
    @volatile var sawLockDuringStage = false
    @volatile var injected = false
    Collection.commitSeamHook = name =>
      if (name == "staged_pre_publish:item" && !injected) {
        injected = true
        // the rewrite job just finished with NO cross-process item
        // lock held — the contract ADVICE r13 flagged
        sawLockDuringStage = c.path.listDirs.exists(_.startsWith("__itemlock_"))
        other.append("item", Seq((3, 3.0)).toDF("index", "value"))
      }
    try c.renameColumn("item", "value", "amount")
    finally Collection.commitSeamHook = _ => ()
    assert(injected, "the mid-rename append must have fired")
    assert(!sawLockDuringStage,
      "the rename rewrite must not run under the cross-process item lock")
    val df = c.item("item").data
    assert(df.columns.toSeq == Seq("index", "amount"))
    assert(df.select("index").collect().map(_.getInt(0)).toSet == Set(1, 2, 3),
      "the mid-rename append's row must survive the retried rename")
    cleanup(c)
  }

  test("RENAME COLUMN's sidecar fence: a metadata-only DDL landing mid-rewrite is never reverted") {
    // metadata-only DDL (properties, column mask) writes the sidecar
    // WITHOUT advancing the generation, so the gen fence alone cannot
    // see it — publishing the rename's stale sidecar merge would
    // silently revert the DDL (and resurrect the dropped column's
    // bytes). The sidecar-equality fence refuses; the retry re-reads.
    import spark.implicits._
    val c = tempCollection("alter_rename_meta_race")
    c.write("item", Seq((1, 1.0, "x"), (2, 2.0, "y")).toDF("index", "value", "note"),
      indexCols = Seq("index"))
    val other = Collection.at(spark, c.path)
    @volatile var injected = false
    Collection.commitSeamHook = name =>
      if (name == "staged_pre_publish:item" && !injected) {
        injected = true
        other.setItemProperties("item", Map("owner" -> "pipeline-a"))
        other.dropColumns("item", Seq("note"))
      }
    try c.renameColumn("item", "value", "amount")
    finally Collection.commitSeamHook = _ => ()
    assert(injected, "the mid-rename DDL must have fired")
    assert(c.metadata("item").get("owner") == Some(org.json4s.JString("pipeline-a")),
      "the property set mid-rename must survive the rename's publish")
    val cols = c.item("item").data.columns.toSeq
    assert(cols == Seq("index", "amount"),
      s"'note' must stay dropped and 'value' renamed, got $cols")
    cleanup(c)
  }

  // Run over a flat item (full commit) and a monthly item (period
  // commit): both scopes stage through the same seam and publish through
  // the same fences.
  for ((suffix, monthly) <- Seq("" -> false, " (monthly layout)" -> true))
  test("APPEND's sidecar fence: a metadata-only DDL landing mid-staging is never reverted" + suffix) {
    // round 14 generalized the rename-only sidecar-equality fence to
    // EVERY read-modify-write publisher: an append whose staging job
    // races a property-set + DROP COLUMN (both gen-preserving) must
    // refuse its stale merge and retry over the fresh sidecar — before
    // the fence, the publish silently erased the mask (resurrecting
    // the dropped column's bytes) and the property.
    import spark.implicits._
    // a monthly item's index is a day in January 2024 per integer id
    def rows(df: DataFrame): DataFrame =
      if (!monthly) df
      else df.withColumn("index", timestamp_seconds(col("index") * 86400L + 1704067200L))
    val c = tempCollection("alter_append_meta_race" + (if (monthly) "_monthly" else ""))
    c.write("item", rows(Seq((1, 1.0, "x"), (2, 2.0, "y")).toDF("index", "value", "note")),
      indexCols = Seq("index"), monthlyLayout = monthly)
    val other = Collection.at(spark, c.path)
    @volatile var injected = false
    Collection.commitSeamHook = name =>
      if (name == "staged_pre_publish:item" && !injected) {
        injected = true
        other.setItemProperties("item", Map("owner" -> "pipeline-b"))
        other.dropColumns("item", Seq("note"))
      }
    // the batch still carries 'note': the retry re-reads the POST-drop
    // state and surfaces the mismatch typed — the legal serialization
    // of appending a dropped column after the drop. Before the fence,
    // the publish landed and silently REVERTED the drop instead.
    val e = intercept[SchemaValidationError](
      try c.append("item", rows(Seq((3, 3.0, "z")).toDF("index", "value", "note")))
      finally Collection.commitSeamHook = _ => ())
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    assert(injected, "the mid-append DDL must have fired")
    // read the sidecar directly: c's TTL metadata cache predates the DDL
    assert(Meta.read(c.path.resolve("item")).get("owner") ==
        Some(org.json4s.JString("pipeline-b")),
      "the property set mid-append must survive")
    val cols = c.item("item").data.columns.toSeq
    assert(cols == Seq("index", "value"),
      s"'note' must stay dropped (never reverted by the stale merge), got $cols")
    assert(c.item("item").data.count() == 2, "the refused append must land nothing")
    // a batch matching the POST-DDL shape retries clean: the re-staged
    // merge carries the property and the mask
    @volatile var injected2 = false
    Collection.commitSeamHook = name =>
      if (name == "staged_pre_publish:item" && !injected2) {
        injected2 = true
        other.setItemProperties("item", Map("stage" -> "curated"))
      }
    try c.append("item", rows(Seq((3, 3.0)).toDF("index", "value")))
    finally Collection.commitSeamHook = _ => ()
    assert(injected2)
    assert(Meta.read(c.path.resolve("item")).get("stage") ==
        Some(org.json4s.JString("curated")),
      "the property set mid-append must survive the retried publish")
    assert(c.item("item").data.count() == 3,
      "the appended row must land through the retry")
    cleanup(c)
  }

  test("analyzeItem's backfill scan holds no lock: a concurrent setItemProperties completes mid-scan") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val c = tempCollection("analyze_unlocked")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true) // jan feb
    val sc = spark.sparkContext
    val slots = sc.defaultParallelism
    AnalyzeScanGate.started = new CountDownLatch(slots)
    AnalyzeScanGate.release = new CountDownLatch(1)
    val analyzeJobStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "analyze_scan"))
          analyzeJobStarted.countDown()
    }
    sc.addSparkListener(listener)
    // occupy every task slot, so analyze's scan job, once submitted,
    // stays in flight until the gate opens
    val hog = Future(sc.parallelize(1 to slots, slots).foreach { _ =>
      AnalyzeScanGate.started.countDown()
      AnalyzeScanGate.release.await()
    })
    val analyze = try {
      assert(AnalyzeScanGate.started.await(60, TimeUnit.SECONDS), "slot hog never ran")
      val analyze = Future {
        sc.setJobGroup("analyze_scan", "analyzeItem backfill")
        try c.analyzeItem("item", Seq("value")) finally sc.clearJobGroup()
      }
      assert(analyzeJobStarted.await(60, TimeUnit.SECONDS), "analyze's scan job never started")
      // the scan job is in flight: the item's other sidecar writers must
      // not wait for it
      Await.result(Future(c.setItemProperties("item", Map("owner" -> "ops"))), 30.seconds)
      analyze
    } finally {
      AnalyzeScanGate.release.countDown()
      sc.removeSparkListener(listener)
    }
    assert(Await.result(analyze, 120.seconds) == 2)
    Await.result(hog, 60.seconds)
    c.clearMetadataCache()
    val meta = c.metadata("item")
    assert(Meta.unjv(meta("owner")) == "ops")
    assert(Collection.statsColumnsOf(meta) == Seq("value"))
    assert(Collection.periodStatsOf(meta).keySet == Set("2024-01", "2024-02"))
    cleanup(c)
  }

  test("analyzeItem's backfill keeps the stats of a period an append changed during its scan") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    val c = tempCollection("analyze_race")
    c.write("item", frame("2024-01-01", 60), monthlyLayout = true) // values 0..59, jan feb
    val scanned = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = new AtomicBoolean(true)
    // hold analyze between its backfill scan and its stats merge (the
    // append's own refresh passes the seam unheld)
    Collection.commitSeamHook = seam =>
      if (seam == "stats_scanned:item" && first.getAndSet(false)) {
        scanned.countDown(); release.await()
      }
    val analyze = try {
      val analyze = Future(c.analyzeItem("item", Seq("value")))
      assert(scanned.await(60, TimeUnit.SECONDS), "analyze's backfill scan never finished")
      // february gains a value above every one the scan saw
      c.append("item", Seq((java.sql.Timestamp.valueOf("2024-02-15 12:00:00"), 1000.0))
        .toDF("index", "value"))
      analyze
    } finally {
      release.countDown()
      Collection.commitSeamHook = _ => ()
    }
    Await.result(analyze, 120.seconds)
    c.clearMetadataCache()
    Collection.periodStatsOf(c.metadata("item")).get("2024-02").flatMap(_.get("value"))
      .foreach { case (_, mx) => assert(mx.asInstanceOf[Double] >= 1000.0,
        s"february's stats $mx miss the appended row") }
    assert(c.item("item", filters = Seq(Filters.Pred("value", ">=", 1000.0))).data.count() == 1,
      "a stats-pruned read must keep the appended row")
    cleanup(c)
  }
}

/** Task-side gate of the analyzeItem lock test: tasks run in the test
  * JVM (local mode), so they reach these latches statically. */
private object AnalyzeScanGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(0)
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
}
