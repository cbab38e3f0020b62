package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.FsOps
import graft.streaming.StreamAppend

/** Native V2 streaming sink: `writeStream.format("graft")` — the
  * streaming twin of INSERT INTO, flowing through the typed append
  * pipeline (dedup strategies, periodic pruned rewrite, atomic
  * commit) with a per-query epoch guard in the item sidecar. */
class GraftStreamingSinkSpec extends SparkSpec {

  private def events(n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until from + n).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.parse("2024-01-01")
        .plusDays(i).atStartOfDay()), i.toDouble, s"r$i")
    }.toDF("index", "value", "tag")
  }

  test("writeStream.format(graft) appends micro-batches through the typed pipeline") {
    val c = tempCollection("stream_v2sink")
    val src = Files.createTempDirectory("graft_stream_v2")
    c.write("ev", events(20))
    val itemPath = c.path.resolve("ev").toString

    // batch 1: 10 new days + 5 overlapping (KeepLast replaces them)
    events(15, from = 15).withColumn("tag", concat(col("tag"), lit("!")))
      .write.mode("overwrite").parquet(s"$src/in")
    val stream = spark.readStream.schema(events(1).schema).parquet(s"$src/in")
    StreamAppend.runToCompletion(
      stream.writeStream.format("graft").option("path", itemPath)
        .option("checkpointLocation", s"$src/ckpt").outputMode("append"))

    val got = c.item("ev").data.orderBy("index").collect()
    assert(got.length == 30) // 20 + 15 - 5 overlap
    assert(got(15).getString(2) == "r15!", "KeepLast must keep the streamed row")
    assert(got(0).getString(2) == "r0")

    // a fresh checkpoint re-delivers the same batch (new queryId → new
    // epoch key); the index-dedup append keeps the item idempotent —
    // same guarantee the foreachBatch helper documents
    StreamAppend.runToCompletion(
      stream.writeStream.format("graft").option("path", itemPath)
        .option("checkpointLocation", s"$src/ckpt2").outputMode("append"))
    assert(c.item("ev").data.count() == 30)

    // the epoch mark landed in the sidecar and staging is gone
    assert(c.metadata("ev").keys.exists(_.startsWith("_stream_epoch_")))
    assert(!c.path.listDirs.exists(_.startsWith("__cow_stream_")))
    FsOps.deleteRecursively(src)
    cleanup(c)
  }

  test("epoch mark rides the append's atomic commit: one sidecar write, " +
      "and checkpoint-replay under keep_all never duplicates") {
    val c = tempCollection("stream_v2sink_eo")
    val src = Files.createTempDirectory("graft_stream_v2eo")
    c.write("ev", events(10))
    val itemPath = c.path.resolve("ev").toString

    events(10, from = 20).write.mode("overwrite").parquet(s"$src/in")
    val stream = spark.readStream.schema(events(1).schema).parquet(s"$src/in")
    def writer = stream.writeStream.format("graft").option("path", itemPath)
      .option("duplicates", "keep_all")
      .option("checkpointLocation", s"$src/ckpt").outputMode("append")

    // Structural exactly-once: the whole sink commit performs EXACTLY
    // one sidecar write (the append's own atomic commit — flat items
    // write once in publish), and that one write carries BOTH the
    // fresh generation and the epoch mark. The old shape (append commit
    // + trailing Meta.write of the mark) would count 2 and leave a
    // crash window where the data landed but the mark didn't.
    val genBefore = store.Snapshots.generationOf(store.Meta.read(c.path.resolve("ev")))
    val before = store.Meta.writes.get()
    StreamAppend.runToCompletion(writer)
    assert(store.Meta.writes.get() - before == 1,
      "the epoch mark must ride the append's ONE atomic sidecar write")
    // read the sidecar directly: `c`'s TTL metadata cache was populated
    // above and the sink committed through its OWN Collection instance
    val meta = store.Meta.read(c.path.resolve("ev"))
    assert(store.Snapshots.generationOf(meta) != genBefore)
    assert(meta.keys.exists(_.startsWith("_stream_epoch_")))
    assert(c.item("ev").data.count() == 20)

    // Crash-replay: a restart that re-delivers the last epoch (the
    // driver died after the sink committed but before the CHECKPOINT
    // recorded the batch — simulate by deleting the commit record) must
    // skip it via the in-commit mark. Under keep_all the append itself
    // would NOT dedup, so a replay that reached append would duplicate
    // all 10 rows — the count staying 20 proves the mark gated it.
    val commits = java.nio.file.Paths.get(s"$src/ckpt/commits")
    val latest = java.nio.file.Files.list(commits).iterator().next()
    java.nio.file.Files.delete(latest)
    StreamAppend.runToCompletion(writer)
    assert(c.item("ev").data.count() == 20,
      "replayed epoch must skip on the in-commit mark (keep_all would duplicate)")
    FsOps.deleteRecursively(src)
    cleanup(c)
  }

  test("streaming into a bare-created EMPTY item works: CREATE TABLE then writeStream") {
    // the ingest-job shape for a brand-new item: SQL births the typed
    // empty item (declared schema + layout), the sink fills it — no
    // Scala seed write needed anywhere
    val c = tempCollection("stream_v2sink_fresh")
    val src = Files.createTempDirectory("graft_stream_v2fresh")
    spark.conf.set("spark.sql.catalog.sinkfresh",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sinkfresh.root", c.path.parent.toString)
    spark.sql("CREATE TABLE sinkfresh.c.ev (index TIMESTAMP, value DOUBLE, tag STRING) " +
      "USING graft TBLPROPERTIES(index='index', layout='monthly')")
    events(40).write.mode("overwrite").parquet(s"$src/in") // jan + part of feb
    val stream = spark.readStream.schema(events(1).schema).parquet(s"$src/in")
    StreamAppend.runToCompletion(
      stream.writeStream.format("graft")
        .option("path", c.path.resolve("ev").toString)
        .option("checkpointLocation", s"$src/ckpt").outputMode("append"))
    assert(c.item("ev").data.count() == 40)
    val dirs = c.path.resolve("ev").resolve(store.Item.DataDir).listDirs
      .filter(_.startsWith(store.Collection.MonthCol + "="))
    assert(dirs.sorted == Seq(s"${store.Collection.MonthCol}=2024-01",
      s"${store.Collection.MonthCol}=2024-02"),
      s"streamed batches must honor the declared monthly layout, got $dirs")
    spark.conf.unset("spark.sql.catalog.sinkfresh")
    spark.conf.unset("spark.sql.catalog.sinkfresh.root")
    FsOps.deleteRecursively(src)
    cleanup(c)
  }

  test("streaming into a monthly item stays periodic; keep_all honors the option") {
    val c = tempCollection("stream_v2sink_m")
    val src = Files.createTempDirectory("graft_stream_v2m")
    c.write("ev", events(40), monthlyLayout = true) // jan + part of feb
    val itemPath = c.path.resolve("ev").toString

    events(10, from = 60).write.mode("overwrite").parquet(s"$src/in") // march days
    val stream = spark.readStream.schema(events(1).schema).parquet(s"$src/in")
    StreamAppend.runToCompletion(
      stream.writeStream.format("graft").option("path", itemPath)
        .option("duplicates", "keep_all")
        .option("checkpointLocation", s"$src/ckpt").outputMode("append"))

    assert(c.item("ev").data.count() == 50)
    val dirs = c.path.resolve("ev").resolve(store.Item.DataDir).listDirs
      .filter(_.startsWith(store.Collection.MonthCol + "="))
      .map(_.stripPrefix(store.Collection.MonthCol + "="))
    assert(dirs.sorted == Seq("2024-01", "2024-02", "2024-03"),
      s"streamed march batch must extend the layout periodically, got $dirs")
    FsOps.deleteRecursively(src)
    cleanup(c)
  }
}
