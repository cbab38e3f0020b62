package graft

import org.apache.spark.sql.functions._

import graft.store._

/** Append semantics — mirrors reference tests/test_append.py:14-234. */
class AppendSpec extends SparkSpec {

  private def ts(day: Int) =
    java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, day).atStartOfDay())

  private def frame(days: Range, value: Double) = {
    import spark.implicits._
    days.map(d => (ts(d), value)).toDF("index", "value")
  }

  test("append to missing item raises ItemNotFoundError") {
    val c = tempCollection("append_missing")
    intercept[ItemNotFoundError] { c.append("nope", frame(1 to 3, 1.0)) }
    cleanup(c)
  }

  /** What a commit changes: generation, history and data files. */
  private def committed(c: Collection, item: String) = {
    val meta = Meta.read(c.path.resolve(item))
    (meta.get("_generation"), meta.get(History.Key),
      c.path.fs.listFilesRecursively(c.path.resolve(item).resolve(Item.DataDir).raw).sorted)
  }

  test("empty append is a no-op") {
    import spark.implicits._
    val c = tempCollection("append_empty")
    c.write("item", frame(1 to 5, 1.0))
    c.append("item", frame(1 to 5, 1.0).limit(0))
    assert(c.item("item").data.count() == 5)
    c.write("monthly", frame(1 to 5, 1.0), monthlyLayout = true)
    val mismatched = Seq.empty[(Long, String)].toDF("a", "b")
    val cases =
      Seq(DuplicateHandling.KeepAll, DuplicateHandling.KeepFirst,
        DuplicateHandling.KeepLast).map(h => ("item", frame(1 to 5, 1.0).limit(0), h)) ++
      Seq(("monthly", frame(1 to 5, 1.0).limit(0), DuplicateHandling.KeepLast),
        ("item", mismatched, DuplicateHandling.KeepLast),
        ("monthly", mismatched, DuplicateHandling.KeepLast))
    for ((item, batch, how) <- cases) {
      val before = committed(c, item)
      c.append(item, batch, how)
      assert(committed(c, item) == before, s"$item under $how")
      assert(!c.path.listDirs.exists(_.startsWith("__tmp_")),
        s"$item under $how left a staging dir")
    }
    assert(c.item("monthly").data.count() == 5)
    cleanup(c)
  }

  /** Jobs and shuffle-writing stages `body` runs on this thread,
    * counted by job group. Listener events arrive asynchronously, so a
    * marker job in a second group fences them. */
  private def jobsAndShuffles(body: => Unit): (Int, Int) = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val shuffles = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("append_budget") =>
            jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some("append_budget_fence") => fenced.countDown()
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffles.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("append_budget", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("append_budget_fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
    } finally sc.removeSparkListener(listener)
    (jobs.get, shuffles.get)
  }

  test("a KeepAll append to a one-file flat item runs at most two jobs and one shuffle") {
    import spark.implicits._
    val c = tempCollection("append_budget")
    c.write("item", spark.range(32000).select(col("id").as("index"),
      (col("id") % 97).cast("double").as("value")))
    assert(Meta.unjv(c.metadata("item")("_partitions")) == 1L)
    val batch = (32000L until 32400L).map(i => (i, 0.5)).toDF("index", "value")
    val (jobs, shuffles) =
      jobsAndShuffles(c.append("item", batch, DuplicateHandling.KeepAll))
    assert(jobs <= 2, s"$jobs jobs")
    assert(shuffles == 1, s"$shuffles shuffles")
    assert(c.item("item").data.count() == 32400)
    cleanup(c)
  }

  test("an append of a batch from another session (a streaming micro-batch's) completes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val c = tempCollection("append_other_session")
    c.write("item", spark.range(100).select(col("id").as("index"),
      col("id").cast("double").as("value")))
    val other = spark.newSession()
    val batch = other.range(100, 150).select(col("id").as("index"),
      col("id").cast("double").as("value"))
    // a batch stats observation registered in the wrong session never
    // completes: bound the wait so that shows as a failure, not a hang
    Await.result(Future(c.append("item", batch, DuplicateHandling.KeepAll)), 120.seconds)
    assert(Meta.unjv(c.metadata("item")("_rows")) == 150L)
    assert(c.item("item").data.count() == 150)
    cleanup(c)
  }

  test("_rows grows by the raw batch rows under every duplicate handling") {
    import spark.implicits._
    val c = tempCollection("append_rows")
    val longs = (0L until 20L).map(i => (i, 1.0)).toDF("index", "value")
    // 5 colliding indexes, 2 of them full-row duplicates, 10 new ones
    val longBatch = ((15L until 30L).map(i => (i, if (i < 17) 1.0 else 2.0)))
      .toDF("index", "value")
    val handlings = Seq(DuplicateHandling.KeepAll, DuplicateHandling.KeepFirst,
      DuplicateHandling.KeepLast, DuplicateHandling.ErrorOnDuplicate)
    for ((base, batch, tag) <- Seq((longs, longBatch, "long"),
                                   (frame(1 to 20, 1.0), frame(16 to 30, 2.0), "timestamp"));
         how <- handlings) {
      val item = s"${tag}_$how"
      c.write(item, base)
      // the error strategy takes only the batch rows past the item
      val rows = if (how == DuplicateHandling.ErrorOnDuplicate)
        batch.filter(col("index") > base.agg(max("index")).head().get(0)) else batch
      val prior = Meta.unjv(c.metadata(item)("_rows")).asInstanceOf[Long]
      c.append(item, rows, how)
      assert(Meta.unjv(c.metadata(item)("_rows")) == prior + rows.count(), item)
    }
    cleanup(c)
  }

  test("an append to a multi-file flat item keeps its files range-disjoint and sorted") {
    import spark.implicits._
    val c = tempCollection("append_multifile")
    val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    def halfHours(from: Int, until: Int, value: Double) =
      (from until until).map(i =>
        (java.sql.Timestamp.valueOf(start.plusMinutes(30L * i)), value))
        .toDF("index", "value")
    c.write("item", halfHours(0, 11600, 1.0))
    c.append("item", halfHours(11500, 12000, 2.0), DuplicateHandling.KeepLast)
    val meta = c.metadata("item")
    assert(Meta.unjv(meta("_partition_strategy")) == "time")
    assert(Meta.unjv(meta("_partitions")) == 9L)
    val dataDir = c.path.resolve("item").resolve(Item.DataDir)
    val files = c.path.fs.listFilesRecursively(dataDir.raw)
      .filter(_.endsWith(".parquet")).sorted.map(dataDir.resolve(_).raw)
    assert(files.size > 1, s"${files.size} files")
    val ranges = files.map { f =>
      val ix = spark.read.parquet(f).collect().map(_.getTimestamp(0).getTime).toSeq
      assert(ix == ix.sorted, s"$f is not sorted")
      (ix.head, ix.last)
    }
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap or are out of order: $ranges")
    }
    val out = c.item("item").data
    assert(out.count() == 12000)
    assert(out.filter(col("value") === 2.0).count() == 500)
    cleanup(c)
  }

  test("appends laid out over several files keep them range-disjoint for every index dtype") {
    import spark.implicits._
    val c = tempCollection("append_dtypes")
    val base = (0 until 300).map(i => (i, i * 0.5)).toDF("i", "value")
    // the batch overlaps the item: 20 identical rows collapse, 20 collide
    val batch = (260 until 340).map(i => (i, if (i < 280) i * 0.5 else -1.0))
      .toDF("i", "value")
    val keys = Seq(
      "long" -> col("i").cast("long"),
      "double" -> (col("i") / 7.0),
      "string" -> format_string("k%05d", col("i")),
      "date" -> date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("i")),
      "timestamp" -> timestamp_seconds(col("i") * 3600L))
    for ((tag, key) <- keys; how <- Seq(DuplicateHandling.KeepAll, DuplicateHandling.KeepLast)) {
      val item = s"${tag}_$how"
      c.write(item, base.withColumn("index", key).drop("i"))
      c.append(item, batch.withColumn("index", key).drop("i"), how, npartitions = Some(3))
      val dataDir = c.path.resolve(item).resolve(Item.DataDir)
      val files = c.path.fs.listFilesRecursively(dataDir.raw)
        .filter(_.endsWith(".parquet")).sorted.map(dataDir.resolve(_).raw)
      assert(files.size > 1, s"$item: ${files.size} files")
      // (file, position in file, index) in the index's own ordering:
      // files sorted within, in ascending order, no value in two files
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val rows = files.zipWithIndex.flatMap { case (f, fi) =>
        spark.read.parquet(f).select("index").collect().toSeq.zipWithIndex
          .map { case (r, j) => Row(fi, j, r.get(0)) }
      }
      val all = spark.createDataFrame(spark.sparkContext.parallelize(rows),
        StructType(Seq(StructField("f", IntegerType), StructField("j", IntegerType),
          c.item(item).data.schema("index"))))
      assert(all.orderBy("f", "j").select("f", "j").collect().toSeq ==
        all.orderBy("index", "f", "j").select("f", "j").collect().toSeq,
        s"$item: files are not sorted in index order")
      assert(all.groupBy("index").agg(countDistinct("f").as("nf"))
        .filter(col("nf") > 1).isEmpty, s"$item: an index value spans files")
      val expectRows = if (how == DuplicateHandling.KeepAll) 300 + 60 else 340
      assert(all.count() == expectRows, item)
    }
    cleanup(c)
  }

  test("keep_last: new rows win on index collision") {
    val c = tempCollection("keep_last")
    c.write("item", frame(1 to 10, 1.0))
    c.append("item", frame(5 to 12, 2.0), DuplicateHandling.KeepLast)
    val out = c.item("item").data.orderBy("index").collect()
    assert(out.length == 12)
    assert(out.take(4).forall(_.getDouble(1) == 1.0))   // days 1-4 original
    assert(out.drop(4).forall(_.getDouble(1) == 2.0))   // days 5-12 new
    cleanup(c)
  }

  test("keep_first: existing rows win on index collision") {
    val c = tempCollection("keep_first")
    c.write("item", frame(1 to 10, 1.0))
    c.append("item", frame(5 to 12, 2.0), DuplicateHandling.KeepFirst)
    val out = c.item("item").data.orderBy("index").collect()
    assert(out.length == 12)
    assert(out.take(10).forall(_.getDouble(1) == 1.0))  // days 1-10 original
    assert(out.drop(10).forall(_.getDouble(1) == 2.0))  // days 11-12 new only
    cleanup(c)
  }

  test("keep_all keeps collided rows; identical full rows still collapse (#69)") {
    val c = tempCollection("keep_all")
    c.write("item", frame(1 to 5, 1.0))
    // days 1-3 identical to stored rows -> collapse; days 4-5 new value -> both kept
    c.append("item", frame(1 to 3, 1.0).unionByName(frame(4 to 5, 9.0)),
      DuplicateHandling.KeepAll)
    val out = c.item("item").data
    assert(out.count() == 7)
    assert(out.filter(col("value") === 9.0).count() == 2)
    cleanup(c)
  }

  test("error strategy raises on overlap, passes when disjoint") {
    val c = tempCollection("error_strategy")
    c.write("item", frame(1 to 5, 1.0))
    intercept[DataIntegrityError] {
      c.append("item", frame(5 to 6, 2.0), DuplicateHandling.ErrorOnDuplicate)
    }
    c.append("item", frame(6 to 8, 2.0), DuplicateHandling.ErrorOnDuplicate)
    assert(c.item("item").data.count() == 8)
    cleanup(c)
  }

  test("schema mismatch raises unless evolution enabled") {
    import spark.implicits._
    val c = tempCollection("schema_mismatch")
    c.write("item", frame(1 to 5, 1.0))
    val extra = Seq((ts(6), 1.0, "x")).toDF("index", "value", "note")
    intercept[SchemaValidationError] { c.append("item", extra) }
    c.append("item", extra, evolution = Some(graft.evolution.EvolutionStrategy.AddOnly))
    val out = c.item("item").data
    assert(out.columns.contains("note"))
    assert(out.filter(col("note").isNull).count() == 5)
    cleanup(c)
  }

  test("appended item stays globally sorted on disk by index") {
    val c = tempCollection("sorted")
    c.write("item", frame(1 to 20, 1.0))
    c.append("item", frame(21 to 25, 2.0))
    // read WITHOUT sorting: row order = file order = range-partitioned order
    val idx = c.item("item").data.collect().map(_.getTimestamp(0).getTime).toSeq
    assert(idx == idx.sorted, "on-disk order should be globally index-sorted")
    cleanup(c)
  }

  test("append preserves user metadata") {
    val c = tempCollection("meta_preserve")
    c.write("item", frame(1 to 5, 1.0), metadata = Map("source" -> "api"))
    c.append("item", frame(6 to 7, 1.0))
    assert(Meta.unjv(c.metadata("item")("source")) == "api")
    cleanup(c)
  }

  test("appendStream accumulates chunks; first chunk creates the item") {
    val c = tempCollection("append_stream")
    val chunks = Iterator(frame(1 to 3, 1.0), frame(4 to 6, 1.0), frame(7 to 9, 1.0))
    val total = c.appendStream("item", chunks)
    assert(total == 9)
    assert(c.item("item").data.count() == 9)
    cleanup(c)
  }
}
