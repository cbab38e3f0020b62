package graft.store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions.{col, input_file_name, when, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s._

/** Per-file bloom-filter data-skipping index — point-lookup file
  * pruning on arbitrary columns, the complement of the `_period_stats`
  * zonemap (which prunes RANGES on time layouts; a bloom prunes
  * EQUALITY on high-cardinality, unsorted columns, where min/max
  * intervals cover everything and skip nothing).
  *
  * The reference has no secondary indexing at all (its only pruning is
  * the fastparquet row-filter, pystore/item.py:60-80); this is the
  * beyond-parity needle-in-a-haystack accelerator: at 100 TB an
  * equality probe on a key column reads the handful of part-files
  * whose bloom MIGHT contain the value instead of every file.
  *
  * Design:
  *  - one JSON sidecar per indexed column at the item root
  *    (`__bloom_<col>.json`), mapping each data file's RELATIVE path
  *    (`<file>` or `__month=<p>/<file>`) to a base64
  *    [[org.apache.spark.util.sketch.BloomFilter]] over
  *    `xxhash64(column)` of every row in that file. The build is ONE
  *    distributed pass: hashes pre-aggregate into per-file blooms
  *    inside each task (map-side combine — the shuffle moves blooms,
  *    never rows) and merge by file.
  *  - validity is keyed on the item's committed GENERATION, captured
  *    before the build's scan: any data commit moves the generation
  *    and the whole index is silently ignored (reads stay correct,
  *    just unpruned) until `buildBloomIndex` runs again. A build that
  *    races a commit self-invalidates the same way — the index can
  *    only ever be exactly-current or dead, never wrong.
  *  - PARTIAL-month commits (append/deleteWhere/expire/COW on a
  *    time-layout item) maintain the index incrementally instead of
  *    retiring it: [[refreshAfterPartialCommit]] re-blooms only the
  *    touched period dirs and carries every untouched file's bloom
  *    forward, re-keyed to the commit's own generation — a daily
  *    append to a 100 TB item costs one scan of the new day, never a
  *    rebuild. Full rewrites retire the index by design.
  *  - pruning is DRIVER-side planning, like the period-dir selection:
  *    equality predicates hash their literal through the same
  *    [[XxHash64]] the build used (coerced to the column's stored
  *    type — a literal the filter would cast differently skips
  *    pruning conservatively) and drop files whose bloom says
  *    definitely-absent. No false negatives ⇒ the skip is exact; a
  *    false positive just reads one extra file. Files the index does
  *    not know (raced listings) are kept.
  *
  * Scale notes: the index holds ~`1.2 · expectedItemsPerFile · ln(1/fpp)`
  * BITS per file (default 100k items @ 1% ≈ 120 KB raw; files holding
  * fewer rows than provisioned gzip down to their actual fill).
  * Because one JSON document degrades super-linearly on the driver as
  * it grows (measured, near-full blooms at defaults: 80 MB ≈ 1.0 s
  * cold parse, 800 MB ≈ 15 s, 1.6 GB ≈ 99 s GC-bound — see
  * [[graft.store.tools.BloomSidecarScaleProbe]]), [[writeSidecar]]
  * automatically SHARDS past [[SingleDocMaxBytes]]: one shard document
  * per period (time layouts) or stable hash bucket (flat items) under
  * `__bloomshard_<col>/`, plus a tiny root manifest
  * (`__bloomshard_<col>.json`) carrying the generation, the sizing
  * knobs, and the shard list — staleness stays one stat + one small
  * read, and planning parses ONLY the shards covering the candidate
  * file set (after zonemap/period narrowing, a selective 100 TB probe
  * touches 1–2 shards, so driver cost rides the probe's selectivity,
  * not the item size). The generation contract is unchanged: the
  * MANIFEST's generation is the validity key and all shards re-key
  * together through it; shard documents record only the generation
  * they were written at (a partial-commit refresh rewrites touched
  * periods' shards + the manifest, carrying untouched shard files
  * forward by name — file names embed their creation generation, so a
  * shard name's content never changes).
  */
object BloomIndex {

  /** Format tag — bump on any change to the hash or serialization. */
  val AlgoTag = "xxhash64-sketch-v1"

  private val SidecarPrefix = "__bloom_"
  private val ShardPrefix = "__bloomshard_"

  def sidecarName(column: String): String =
    SidecarPrefix + java.net.URLEncoder.encode(column, "UTF-8") + ".json"

  /** Root manifest of a SHARDED index (generation + shard list). */
  def manifestName(column: String): String =
    ShardPrefix + java.net.URLEncoder.encode(column, "UTF-8") + ".json"

  /** Directory holding a sharded index's per-key shard documents. */
  def shardDirName(column: String): String =
    ShardPrefix + java.net.URLEncoder.encode(column, "UTF-8")

  /** Serialized-payload size above which [[writeSidecar]] publishes the
    * sharded layout instead of one JSON document. Probe evidence
    * (BloomSidecarScaleProbe): one document cold-parses at ~12 ms/MB up
    * to a few hundred MB, then GC-degrades super-linearly (15 s at
    * 800 MB, 99 s at 1.6 GB); 16 MB keeps the worst single-document
    * parse ~0.2 s while small items stay one sidecar file. */
  val SingleDocMaxBytes: Long = 16L << 20

  /** Greedy split point for ONE shard key's documents — a hot period
    * with thousands of files never produces an unbounded document. */
  private val ShardSplitBytes: Long = 48L << 20

  /** Target payload per hash bucket when sharding a FLAT (non-period)
    * item; sizes the bucket count at write time. */
  private val FlatBucketTargetBytes: Long = 8L << 20
  private val MaxFlatBuckets = 512

  /** Column types the index supports: exactly those whose stored value
    * hashes deterministically through xxhash64 AND whose equality
    * filter compares un-cast against the stored representation. */
  def supportedType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
        LongType | FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | BinaryType => true
    case _ => false
  }

  // ---------------------------------------------------------------- build

  /** One distributed pass over `raw` (the item's ENCODED frame — the
    * same representation read-side filters compare against) building a
    * per-file bloom for every column in `columns`. Returns
    * column → (relative file → serialized bloom). */
  private[store] def buildBlooms(raw: DataFrame, columns: Seq[String],
                                 fpp: Double, expectedItemsPerFile: Long)
      : Map[String, Map[String, Array[Byte]]] = {
    val perFile = perFileBloomRdd(raw, columns, fpp, expectedItemsPerFile)
      .collect()
    columns.indices.map { i =>
      columns(i) -> perFile.collect { case ((f, ci), b) if ci == i => f -> b }.toMap
    }.toMap
  }

  /** The shared distributed pass: per-(file, column-index) serialized
    * blooms, map-side combined. */
  private def perFileBloomRdd(raw: DataFrame, columns: Seq[String],
                              fpp: Double, expectedItemsPerFile: Long)
      : org.apache.spark.rdd.RDD[((String, Int), Array[Byte])] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val n = columns.size
    // null rows must genuinely SKIP the insert: xxhash64 itself returns
    // the seed for NULL input (non-nullable), so nullability has to be
    // reintroduced here for the isNullAt guard below to see it
    val projected = raw.select(
      input_file_name().as("__f") +:
        columns.map(c => when(col(c).isNotNull, xxhash64(col(c)))): _*)
    projected
      .mapPartitions { rows =>
        // map-side combine: one bloom per (file, column) seen in this
        // task — the shuffle below moves blooms, not row hashes
        val local = scala.collection.mutable.HashMap
          .empty[(String, Int), BloomFilter]
        rows.foreach { r =>
          val f = relKeyOf(r.getString(0))
          var i = 0
          while (i < n) {
            // the bloom exists for every file SEEN (an all-null file
            // keeps an empty bloom and stays prunable — no equality
            // can match its null rows); only non-null values insert
            val bf = local.getOrElseUpdate((f, i),
              BloomFilter.create(expectedItemsPerFile, fpp))
            if (!r.isNullAt(i + 1)) bf.putLong(r.getLong(i + 1))
            i += 1
          }
        }
        local.iterator.map { case (k, bf) => (k, serialize(bf)) }
      }
      .rdd
      .reduceByKey { (a, b) =>
        val bf = deserialize(a)
        bf.mergeInPlace(deserialize(b))
        serialize(bf)
      }
  }

  /** Build AND publish `columns`' indexes in one distributed pass
    * without ever materializing a whole index on the driver — the
    * build-side twin of the sharded read path. Per-file blooms gzip on
    * the EXECUTORS; one skinny aggregate (a few longs per column)
    * sizes each column to pick its layout; a small column collects its
    * entries and publishes one sidecar document, a large one streams
    * shard documents through a key-sorted `toLocalIterator`, so the
    * driver holds ONE shard key's entries at a time — peak build
    * memory rides the hottest period, not the item (the collect of a
    * 10k-near-full-file index would otherwise be the same ~1.2 GB the
    * sharded PARSE path exists to avoid). Used by the full-build verbs
    * (buildBloomIndex, rebuildIndexes); the partial-commit refresh
    * keeps the collected path — it is bounded by the touched periods
    * by construction. */
  private[store] def buildAndWriteAll(raw: DataFrame, columns: Seq[String],
                                      fpp: Double, expectedItemsPerFile: Long,
                                      itemPath: SPath, generation: Long,
                                      singleDocMaxBytes: Long = SingleDocMaxBytes): Unit = {
    val perFile = perFileBloomRdd(raw, columns, fpp, expectedItemsPerFile)
      .mapValues(gzip)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per column: (serialized payload, every file period-prefixed)
      val stats: Map[Int, (Long, Boolean)] = perFile
        .map { case ((f, ci), gz) =>
          (ci, (b64Size(gz) + f.length + 8L,
            f.startsWith(Collection.MonthCol + "=")))
        }
        .reduceByKey((x: (Long, Boolean), y: (Long, Boolean)) =>
          (x._1 + y._1, x._2 && y._2))
        .collect().toMap
      columns.indices.foreach { ci =>
        val column = columns(ci)
        val (payload, periodKeyed) = stats.getOrElse(ci, (0L, false))
        if (payload <= singleDocMaxBytes) {
          // includes the empty-item build: a valid empty index
          writeSingleGz(itemPath, column, generation, fpp,
            expectedItemsPerFile, singleDocMaxBytes,
            perFile.filter(_._1._2 == ci)
              .map { case ((f, _), gz) => f -> gz }.collect().toSeq)
        } else {
          val buckets = if (periodKeyed) 0 else flatBuckets(payload)
          val sorted = perFile.filter(_._1._2 == ci)
            .map { case ((f, _), gz) => ((shardKeyOf(f, buckets), f), gz) }
            .sortBy(_._1)
          streamSharded(itemPath, column, generation, fpp,
            expectedItemsPerFile, singleDocMaxBytes, buckets,
            sorted.toLocalIterator)
        }
      }
    } finally { perFile.unpersist(); () }
  }

  /** Relative index key from an executor-reported file URI: the file
    * name, prefixed by its period partition dir when present. Segment
    * names (part-file UUIDs, zero-padded period keys) are URI-safe, so
    * plain splitting needs no decoding. */
  private def relKeyOf(uri: String): String = {
    val segs = uri.split('/')
    val name = segs.last
    if (segs.length >= 2 && segs(segs.length - 2).startsWith(Collection.MonthCol + "="))
      segs(segs.length - 2) + "/" + name
    else name
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def deserialize(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  /** Sidecar-boundary compression: a bloom sized for
    * `expectedItemsPerFile` but holding fewer rows is mostly zero
    * bits, which gzip collapses — the sidecar pays for what each file
    * actually holds, not for the provisioned ceiling (the in-memory /
    * shuffle representation stays raw; only the persisted JSON wraps). */
  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(b))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Atomically publish one column's index, choosing the layout by
    * payload size: one sidecar document up to `singleDocMaxBytes`
    * (default [[SingleDocMaxBytes]]), the sharded layout beyond it.
    * Either publish point is atomic (single doc: one rename; sharded:
    * shard files first, manifest rename last — a reader never sees a
    * manifest referencing unwritten shards), and each path cleans the
    * OTHER layout's artifacts after its own publish, so a format
    * transition is safe at every instant: the superseded layout's
    * generation no longer matches once the data moves, and during the
    * brief overlap both describe the same build. */
  private[store] def writeSidecar(itemPath: SPath, column: String,
                                  generation: Long, fpp: Double,
                                  expectedItemsPerFile: Long,
                                  files: Map[String, Array[Byte]],
                                  singleDocMaxBytes: Long = SingleDocMaxBytes): Unit = {
    val gz = files.toSeq.sortBy(_._1).map { case (f, b) => f -> gzip(b) }
    val payload = gz.iterator.map(e => b64Size(e._2) + e._1.length + 8L).sum
    if (payload <= singleDocMaxBytes || gz.size <= 1)
      writeSingleGz(itemPath, column, generation, fpp, expectedItemsPerFile,
        singleDocMaxBytes, gz)
    else
      writeSharded(itemPath, column, generation, fpp, expectedItemsPerFile,
        singleDocMaxBytes, gz, payload)
  }

  private def b64Size(gz: Array[Byte]): Long = (gz.length.toLong + 2) / 3 * 4

  /** Publish one column's index as a single document (pre-gzipped
    * entries), then clean any superseded sharded layout. */
  private def writeSingleGz(itemPath: SPath, column: String, generation: Long,
                            fpp: Double, expectedItemsPerFile: Long,
                            singleDocMaxBytes: Long,
                            gz: Seq[(String, Array[Byte])]): Unit = {
    val p = itemPath.resolve(sidecarName(column))
    itemPath.fs.writeBytesAtomic(
      p.raw, renderDoc(column, generation, fpp, expectedItemsPerFile,
        singleDocMaxBytes, gz))
    evictCached(p.raw)
    dropShardedArtifacts(itemPath, column)
    ()
  }

  /** Bucket count for a flat (non-period) item's sharded layout. */
  private def flatBuckets(payload: Long): Int =
    math.min(MaxFlatBuckets.toLong,
      math.max(2L, payload / FlatBucketTargetBytes + 1L)).toInt

  /** One sidecar/shard document over PRE-gzipped blooms — shard files
    * reuse the sidecar schema (a shard is a mini sidecar whose
    * recorded generation is informational; the manifest's is the
    * validity key). `single_doc_max_bytes` rides along with the other
    * sizing knobs so maintenance rebuilds and incremental refreshes
    * reproduce a user-forced layout instead of silently reverting to
    * the 16 MB default. */
  private def renderDoc(column: String, generation: Long, fpp: Double,
                        expectedItemsPerFile: Long, singleDocMaxBytes: Long,
                        gzFiles: Seq[(String, Array[Byte])]): Array[Byte] = {
    val enc = Base64.getEncoder
    val json = JObject(List(
      "algo" -> JString(AlgoTag),
      "column" -> JString(column),
      "generation" -> JLong(generation),
      "fpp" -> JDouble(fpp),
      "expected_items_per_file" -> JLong(expectedItemsPerFile),
      "single_doc_max_bytes" -> JLong(singleDocMaxBytes),
      "files" -> JObject(gzFiles.sortBy(_._1).toList.map {
        case (f, gzb) => f -> (JString(enc.encodeToString(gzb)): JValue)
      })))
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(json))
      .getBytes(StandardCharsets.UTF_8)
  }

  /** Shard key of a relative file path — derivable from the path
    * alone, so the reader needs only the manifest's bucket count: the
    * file's period for time layouts (`buckets == 0`), else a stable
    * hash bucket. */
  private def shardKeyOf(relPath: String, buckets: Int): String =
    if (buckets <= 0) {
      val slash = relPath.indexOf('/')
      if (slash > 0 && relPath.startsWith(Collection.MonthCol + "="))
        relPath.substring(Collection.MonthCol.length + 1, slash)
      else "flat"
    } else "b%03d".format(Math.floorMod(relPath.hashCode, buckets))

  private def writeSharded(itemPath: SPath, column: String, generation: Long,
                           fpp: Double, expectedItemsPerFile: Long,
                           singleDocMaxBytes: Long,
                           gz: Seq[(String, Array[Byte])],
                           payload: Long): Unit = {
    val periodKeyed = gz.forall(_._1.startsWith(Collection.MonthCol + "="))
    val buckets = if (periodKeyed) 0 else flatBuckets(payload)
    streamSharded(itemPath, column, generation, fpp, expectedItemsPerFile,
      singleDocMaxBytes, buckets,
      gz.map { case (f, b) => ((shardKeyOf(f, buckets), f), b) }
        .sortBy(_._1).iterator)
  }

  /** Publish a sharded index from (shardKey, file)-SORTED pre-gzipped
    * entries — the iterator may stream from an RDD, and parts flush
    * GREEDILY as the running size crosses [[ShardSplitBytes]], so the
    * driver holds at most ONE part's entries (~48 MB) at a time: peak
    * build memory is bounded by the split size, not by the hottest
    * period's full payload. The manifest publishes last and the
    * superseded single document drops after it. */
  private def streamSharded(itemPath: SPath, column: String, generation: Long,
                            fpp: Double, expectedItemsPerFile: Long,
                            singleDocMaxBytes: Long, buckets: Int,
                            entries: Iterator[((String, String), Array[Byte])]): Unit = {
    val dir = itemPath.resolve(shardDirName(column))
    itemPath.fs.mkdirs(dir.raw)
    val shards =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Vector[String])]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var bufBytes = 0L
    var curKey: String = null
    var partIdx = 0
    def flushPart(): Unit = if (buf.nonEmpty) {
      val name = writeOnePart(dir, column, generation, fpp,
        expectedItemsPerFile, singleDocMaxBytes, curKey, partIdx, buf.toSeq)
      val (n, parts) = shards.getOrElse(curKey, (0L, Vector.empty[String]))
      shards(curKey) = (n + buf.size, parts :+ name)
      partIdx += 1; buf.clear(); bufBytes = 0L
    }
    entries.foreach { case ((k, f), gzb) =>
      if (k != curKey) { flushPart(); curKey = k; partIdx = 0 }
      val sz = b64Size(gzb) + f.length + 8L
      if (buf.nonEmpty && bufBytes + sz > ShardSplitBytes) flushPart()
      buf += ((f, gzb)); bufBytes += sz
    }
    flushPart()
    writeManifest(itemPath, column, generation, fpp, expectedItemsPerFile,
      singleDocMaxBytes, buckets, shards.toMap)
    dropSingleArtifact(itemPath, column)
    ()
  }

  /** Write one shard key's documents (greedy-split at
    * [[ShardSplitBytes]]); names embed the creation generation, so a
    * name's content is immutable — carried-forward references from a
    * refreshed manifest can never read rewritten bytes. Bounded
    * callers only (the partial-commit refresh); the full build streams
    * through [[writeOnePart]] directly. */
  private def writeShardParts(dir: SPath, column: String, generation: Long,
                              fpp: Double, expectedItemsPerFile: Long,
                              singleDocMaxBytes: Long, key: String,
                              entries: Seq[(String, Array[Byte])]): Seq[String] = {
    val names = Seq.newBuilder[String]
    var cur = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var bytes = 0L
    var i = 0
    def flush(): Unit = if (cur.nonEmpty) {
      names += writeOnePart(dir, column, generation, fpp, expectedItemsPerFile,
        singleDocMaxBytes, key, i, cur.toSeq)
      i += 1; cur.clear(); bytes = 0L
    }
    entries.foreach { e =>
      val sz = b64Size(e._2) + e._1.length + 8L
      if (cur.nonEmpty && bytes + sz > ShardSplitBytes) flush()
      cur += e; bytes += sz
    }
    flush()
    names.result()
  }

  /** One shard document (part `idx` of `key` at `generation`). */
  private def writeOnePart(dir: SPath, column: String, generation: Long,
                           fpp: Double, expectedItemsPerFile: Long,
                           singleDocMaxBytes: Long, key: String, idx: Int,
                           entries: Seq[(String, Array[Byte])]): String = {
    val name =
      s"${java.net.URLEncoder.encode(key, "UTF-8")}.$idx.g$generation.json"
    val p = dir.resolve(name)
    dir.fs.writeBytesAtomic(
      p.raw, renderDoc(column, generation, fpp, expectedItemsPerFile,
        singleDocMaxBytes, entries))
    evictCached(p.raw)
    name
  }

  private def writeManifest(itemPath: SPath, column: String, generation: Long,
                            fpp: Double, expectedItemsPerFile: Long,
                            singleDocMaxBytes: Long, buckets: Int,
                            shards: Map[String, (Long, Seq[String])]): Unit = {
    val json = JObject(List(
      "algo" -> JString(AlgoTag),
      "column" -> JString(column),
      "generation" -> JLong(generation),
      "fpp" -> JDouble(fpp),
      "expected_items_per_file" -> JLong(expectedItemsPerFile),
      "single_doc_max_bytes" -> JLong(singleDocMaxBytes),
      "buckets" -> JLong(buckets.toLong),
      "shards" -> JObject(shards.toList.sortBy(_._1).map {
        case (k, (n, partNames)) => k -> (JObject(List(
          "n" -> JLong(n),
          "parts" -> JArray(partNames.toList.map(JString(_): JValue)))): JValue)
      })))
    val p = itemPath.resolve(manifestName(column))
    itemPath.fs.writeBytesAtomic(
      p.raw,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(json))
        .getBytes(StandardCharsets.UTF_8))
    manifestCache.remove(p.raw)
    // best-effort: drop shard files the new manifest no longer
    // references (superseded versions of rewritten keys). A racing
    // reader still holding the OLD manifest that loses a file to this
    // sweep fails that shard's parse and keeps its files unpruned —
    // conservative, never wrong.
    val referenced = shards.valuesIterator.flatMap(_._2).toSet
    val dir = itemPath.resolve(shardDirName(column))
    dir.fs.listFiles(dir.raw).filterNot(referenced).foreach { f =>
      val sp = dir.resolve(f)
      try {
        sp.deleteRecursively(); evictCached(sp.raw); lastParse.remove(sp.raw)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def dropSingleArtifact(itemPath: SPath, column: String): Boolean = {
    val p = itemPath.resolve(sidecarName(column))
    if (!p.exists) return false
    p.deleteRecursively()
    evictCached(p.raw)
    lastParse.remove(p.raw)
    true
  }

  private def dropShardedArtifacts(itemPath: SPath, column: String): Boolean = {
    val man = itemPath.resolve(manifestName(column))
    val dir = itemPath.resolve(shardDirName(column))
    val had = man.exists || dir.exists
    if (man.exists) { man.deleteRecursively(); manifestCache.remove(man.raw) }
    if (dir.exists) {
      dir.fs.listFiles(dir.raw).foreach { f =>
        val sp = dir.resolve(f)
        evictCached(sp.raw)
        lastParse.remove(sp.raw)
      }
      dir.deleteRecursively()
    }
    had
  }

  // ---------------------------------------------------------------- load

  private final case class Loaded(generation: Long, fpp: Double,
                                  expectedItemsPerFile: Long,
                                  singleDocMaxBytes: Long,
                                  files: Map[String, BloomFilter])

  /** mtime-keyed parse cache: the planning path may consult the same
    * sidecar for every query; one stat replaces a full parse+decode.
    * Bounded by eviction of everything on overflow (indexes are few).
    * Each entry carries its own byte size so removal and replacement
    * subtract from the shared counter instead of growing it forever. */
  private val cache = TrieMap.empty[String, (java.time.Instant, Long, Loaded)]

  /** Remove + byte-release under the SAME lock as the insert path: an
    * unlocked remove racing the overflow clear()+set(parsedBytes)
    * could subtract its bytes AFTER the reset, driving the counter
    * negative and disarming MaxCacheBytes until the next overflow.
    * The lock is reentrant, so the call inside load's synchronized
    * insert block stays safe; write/drop callers are rare paths. */
  private def evictCached(key: String): Unit = cache.synchronized {
    cache.remove(key).foreach { case (_, b, _) => cachedBytes.addAndGet(-b) }
  }

  /** Last COLD parse cost per document path: (millis, deserialized
    * bitset bytes). The visible planning-cost number whose probe
    * measurements (BloomSidecarScaleProbe) justified the sharded
    * layout; still worth watching — sustained growth here now means a
    * HOT shard, cured by more splits, not a format change. The mtime
    * cache hides this cost from per-query timings. A metric, not a
    * cache — it survives cache eviction and leaves only with
    * dropSidecars. */
  private val lastParse = TrieMap.empty[String, (Long, Long)]

  /** Aggregate last-cold-parse cost of a column's index: the single
    * document's, or the sum over every shard document parsed so far. */
  private[graft] def lastParseCost(itemPath: SPath,
                                   column: String): Option[(Long, Long)] = {
    val single = lastParse.get(itemPath.resolve(sidecarName(column)).raw)
    val prefix = itemPath.resolve(shardDirName(column)).raw + "/"
    val shards = lastParse.readOnlySnapshot().iterator.collect {
      case (k, v) if k.startsWith(prefix) => v
    }.toSeq
    val all = single.toSeq ++ shards
    if (all.isEmpty) None
    else Some((all.iterator.map(_._1).sum, all.iterator.map(_._2).sum))
  }

  /** The column's single-document sidecar, if present and readable. */
  private def load(itemPath: SPath, column: String): Option[Loaded] =
    loadDoc(itemPath.fs, itemPath.resolve(sidecarName(column)).raw)

  /** mtime-cached parse of ONE sidecar-schema document — the single
    * sidecar or any shard file (both use the same schema; a shard's
    * recorded generation is its creation generation, informational
    * only — the manifest's is the validity key). */
  private def loadDoc(fs: StoreFs, raw: String): Option[Loaded] = {
    val mtime = fs.modifiedAt(raw).getOrElse(return None)
    cache.get(raw) match {
      case Some((m, _, l)) if m == mtime => return Some(l)
      case _ => ()
    }
    val parseT0 = System.nanoTime()
    val parsed =
      try {
        val json = org.json4s.jackson.JsonMethods.parse(
          new String(fs.readBytes(raw), StandardCharsets.UTF_8))
        val fields = json.asInstanceOf[JObject].obj.toMap
        if (!fields.get("algo").contains(JString(AlgoTag))) return None
        def long(k: String): Option[Long] = fields.get(k).collect {
          case JLong(g) => g
          case JInt(g)  => g.toLong
        }
        val gen = long("generation").getOrElse(return None)
        val fpp = fields.get("fpp") match {
          case Some(JDouble(d)) => d
          case _                => return None
        }
        val expected = long("expected_items_per_file").getOrElse(return None)
        // sizing knob persisted since it became user-settable; absent in
        // older sidecars, which were written at the built-in default
        val sdmb = long("single_doc_max_bytes").getOrElse(SingleDocMaxBytes)
        val dec = Base64.getDecoder
        val files = fields("files").asInstanceOf[JObject].obj.map {
          case (f, JString(b64)) => f -> deserialize(gunzip(dec.decode(b64)))
          case other => return None
        }.toMap
        Loaded(gen, fpp, expected, sdmb, files)
      } catch { case scala.util.control.NonFatal(_) => return None }
    // Eviction bounds BYTES, not entries: one Loaded holds a document's
    // every deserialized bitset (up to SingleDocMaxBytes for a single
    // sidecar, ShardSplitBytes for a hot shard), so a few dozen large
    // documents could exhaust the driver long before 256 entries.
    // Everything clears on overflow — a re-parse is one document read.
    val parsedBytes = parsed.files.valuesIterator.map(_.bitSize() / 8).sum
    lastParse.put(raw, ((System.nanoTime() - parseT0) / 1000000L, parsedBytes))
    // insert + accounting under one lock: two planners racing the same
    // uncached sidecar would otherwise both add parsedBytes while the
    // cache stores one entry, drifting the counter up until a spurious
    // full clear. evictCached takes the same (reentrant) lock, so the
    // overflow clear()+set() can never interleave with a removal's
    // byte release.
    cache.synchronized {
      evictCached(raw) // same-path replacement releases the stale bytes
      if (cache.size > 256 ||
          cachedBytes.addAndGet(parsedBytes) > MaxCacheBytes) {
        cache.clear()
        cachedBytes.set(parsedBytes)
      }
      cache.put(raw, (mtime, parsedBytes, parsed))
    }
    Some(parsed)
  }

  /** Cache byte ceiling (sum of deserialized bloom bitsets). */
  private val MaxCacheBytes: Long = 1L << 30
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  // ------------------------------------------------------------- manifest

  /** Root manifest of a sharded index: the validity generation, the
    * sizing knobs, and per shard key its file count + document names. */
  private final case class Manifest(generation: Long, fpp: Double,
                                    expectedItemsPerFile: Long,
                                    singleDocMaxBytes: Long, buckets: Int,
                                    shards: Map[String, (Long, Seq[String])]) {
    def numFiles: Long = shards.valuesIterator.map(_._1).sum
    def numParts: Int = shards.valuesIterator.map(_._2.size).sum
  }

  /** Manifests are tiny (one line per shard key) — a plain mtime cache
    * without byte accounting; cleared whole on entry overflow. */
  private val manifestCache =
    TrieMap.empty[String, (java.time.Instant, Manifest)]

  private def loadManifest(itemPath: SPath, column: String): Option[Manifest] = {
    val p = itemPath.resolve(manifestName(column))
    val mtime = itemPath.fs.modifiedAt(p.raw).getOrElse(return None)
    manifestCache.get(p.raw) match {
      case Some((m, man)) if m == mtime => return Some(man)
      case _ => ()
    }
    val parsed =
      try {
        val json = org.json4s.jackson.JsonMethods.parse(
          new String(itemPath.fs.readBytes(p.raw), StandardCharsets.UTF_8))
        val fields = json.asInstanceOf[JObject].obj.toMap
        if (!fields.get("algo").contains(JString(AlgoTag))) return None
        def long(k: String): Option[Long] = fields.get(k).collect {
          case JLong(g) => g
          case JInt(g)  => g.toLong
        }
        val gen = long("generation").getOrElse(return None)
        val fpp = fields.get("fpp") match {
          case Some(JDouble(d)) => d
          case _                => return None
        }
        val expected = long("expected_items_per_file").getOrElse(return None)
        val sdmb = long("single_doc_max_bytes").getOrElse(SingleDocMaxBytes)
        val buckets = long("buckets").getOrElse(return None).toInt
        val shards = fields("shards").asInstanceOf[JObject].obj.map {
          case (k, JObject(o)) =>
            val om = o.toMap
            val n = om.get("n") match {
              case Some(JLong(v)) => v
              case Some(JInt(v))  => v.toLong
              case _              => return None
            }
            val parts = om.get("parts") match {
              case Some(JArray(vs)) if vs.forall(_.isInstanceOf[JString]) =>
                vs.map(_.asInstanceOf[JString].s)
              case _ => return None
            }
            k -> (n, parts)
          case _ => return None
        }.toMap
        Manifest(gen, fpp, expected, sdmb, buckets, shards)
      } catch { case scala.util.control.NonFatal(_) => return None }
    if (manifestCache.size > 256) manifestCache.clear()
    manifestCache.put(p.raw, (mtime, parsed))
    Some(parsed)
  }

  // ------------------------------------------------------------------ open

  /** A usable index for ONE column, abstracting the two layouts behind
    * the per-file membership question. A sharded index loads shard
    * documents LAZILY, memoized per key — planning cost rides the
    * candidate file set's period/bucket spread (after zonemap/period
    * narrowing, a selective probe touches 1–2 shards), never the item
    * size. */
  private sealed trait Idx {
    /** Whether `f` might hold every candidate value (per conjunct, any
      * of its hashes); files unknown to the index always might. */
    def fileMightMatch(f: String, hs: Seq[Long]): Boolean
  }

  private final class SingleIdx(files: Map[String, BloomFilter]) extends Idx {
    def fileMightMatch(f: String, hs: Seq[Long]): Boolean =
      files.get(f).forall(bf => hs.exists(bf.mightContainLong))
  }

  private final class ShardedIdx(dir: SPath, man: Manifest) extends Idx {
    private val byKey =
      scala.collection.mutable.HashMap.empty[String, Option[Map[String, BloomFilter]]]
    /** Shard-parse millis paid by THIS planning pass (memoized keys
      * re-cost ~0) — the caller WARNs past a threshold so an
      * unnarrowed-probe pattern (planning parsing linearly in item
      * size) surfaces in logs instead of user complaints. */
    private[BloomIndex] var planParseMs: Long = 0L
    def fileMightMatch(f: String, hs: Seq[Long]): Boolean = {
      val k = shardKeyOf(f, man.buckets)
      man.shards.get(k) match {
        case None => true // key unknown to the index (raced listing): keep
        case Some((_, parts)) =>
          byKey.getOrElseUpdate(k, {
            val t0 = System.nanoTime()
            val docs = parts.map(n => loadDoc(dir.fs, dir.resolve(n).raw))
            planParseMs += (System.nanoTime() - t0) / 1000000L
            if (docs.exists(_.isEmpty)) None // unreadable shard: keep its files
            else Some(docs.iterator.flatMap(_.get.files).toMap)
          }) match {
            case None => true
            case Some(files) =>
              files.get(f).forall(bf => hs.exists(bf.mightContainLong))
          }
      }
    }
  }

  /** The column's index iff readable and recorded at exactly `wantGen`,
    * in either layout. Manifest first: its staleness check is a tiny
    * read, while a stale single document would pay a full parse just
    * to be refused. */
  private def openIndex(itemPath: SPath, column: String,
                        wantGen: Long): Option[Idx] =
    loadManifest(itemPath, column).filter(_.generation == wantGen)
      .map(m => new ShardedIdx(itemPath.resolve(shardDirName(column)), m): Idx)
      .orElse(load(itemPath, column).filter(_.generation == wantGen)
        .map(l => new SingleIdx(l.files)))

  // ---------------------------------------------------------------- prune

  /** IN-lists longer than this skip pruning: each value is one hash +
    * one bloom probe per file, all driver-side — a thousand-value IN
    * belongs in a semi-join, not a planning loop. */
  val MaxInValues = 64

  /** `column -> candidate values` for the predicate shapes a bloom can
    * serve: equality (one value) and bounded IN (any-of). A pred with
    * an un-servable shape contributes nothing (conservative). */
  private def candidateValues(preds: Seq[Filters.Pred]): Seq[(String, Seq[Any])] =
    preds.flatMap {
      case Filters.Pred(c, "==" | "=", v) if v != null => Some(c -> Seq(v))
      case Filters.Pred(c, "in", vs: Iterable[_])
          if vs.nonEmpty && vs.size <= MaxInValues && !vs.exists(_ == null) =>
        Some(c -> vs.toSeq.map(_.asInstanceOf[Any]))
      case _ => None
    }

  /** Driver-side file pruning for a live or pinned read. Returns
    *  - `None` when pruning does not apply (no equality/IN predicates
    *    on indexed columns, stale index, any load/coercion doubt) or
    *    would not shrink the file set — the caller reads the whole
    *    file set exactly as before;
    *  - `Some(kept)` (possibly empty) when at least one file is
    *    definitely value-free: `kept` are the RELATIVE paths to read.
    *
    * `allFiles` supplies the candidate file set (relative paths) — a
    * memoized single listing shared with [[FileStatsIndex]] via
    * [[SkipIndexes]], or a pinned manifest's file list for time-travel
    * reads. `generation` is the validity key: the generation of the
    * sidecar governing the read (the committed one for a live read, the
    * pin's for a time-travel read) — a read pinned at generation G may
    * use a sidecar recorded at exactly G even after later commits moved
    * the live generation. */
  private[graft] def prunedFiles(itemPath: SPath,
                                 preds: Seq[Filters.Pred],
                                 encodedSchema: StructType,
                                 allFiles: () => Seq[String],
                                 generation: Long): Option[Seq[String]] = {
    val cands = candidateValues(preds)
    if (cands.isEmpty) return None
    // (index, candidate-hashes) pairs that are usable: a valid
    // same-generation index on the column AND every candidate literal
    // coercing losslessly to the stored type (anything else skips
    // pruning for that predicate — never wrong, only unpruned). Hash
    // first: coercion is free and refuses before any sidecar read.
    val usable: Seq[(Idx, Seq[Long])] = cands.flatMap {
      case (c, vs) =>
        encodedSchema.fields.find(_.name == c).flatMap { f =>
          val hs = vs.flatMap(v => hashOf(v, f.dataType))
          if (hs.size != vs.size) None
          else openIndex(itemPath, c, generation).map(idx => (idx, hs))
        }
    }
    if (usable.isEmpty) return None
    val all = allFiles()
    if (all.isEmpty) return None
    val kept = all.filter(f =>
      usable.forall { case (idx, hs) => idx.fileMightMatch(f, hs) })
    warnIfSlowPlan(itemPath, all.size, usable.map(_._1))
    if (kept.size == all.size) None else Some(kept)
  }

  /** Planning-time visibility for the one designed-cost pattern that
    * stays linear: an equality probe over a huge sharded item whose
    * candidate set was NOT narrowed first (no zonemap/period help)
    * parses every shard — measured at ~32.5 s for 10k near-full files
    * (BloomSidecarScaleProbe). Real probes ride the zonemap's kept
    * list by construction (SkipIndexes), so when a single planning
    * pass pays more than [[SlowPlanWarnMs]] of cold shard parses,
    * surface it: that is the signal to narrow the query (or, if a
    * bench number ever shows sustained pain, to parallelize the shard
    * parse — evidence first). `$bloom`'s last_parse_ms carries the
    * same number per column for programmatic access. */
  private val SlowPlanWarnMs = 2000L
  private lazy val planLog =
    org.slf4j.LoggerFactory.getLogger("graft.store.BloomIndex")
  private def warnIfSlowPlan(itemPath: SPath, candidates: Int,
                             idxs: Seq[Idx]): Unit = {
    val ms = idxs.iterator
      .collect { case s: ShardedIdx => s.planParseMs }.sum
    if (ms > SlowPlanWarnMs)
      planLog.warn(
        s"bloom planning for item '${itemPath.name}' parsed shard documents " +
          s"for ${ms} ms over $candidates candidate files — the probe was " +
          "not narrowed by period/range predicates, so shard planning " +
          "scales with item size; add a time/range predicate or query " +
          "the `$bloom` table (last_parse_ms) to monitor")
  }

  /** xxhash64 of the literal as the BUILD hashed it: the value coerced
    * to the column's stored type, hashed through the same Catalyst
    * expression `functions.xxhash64` plans (seed 42). A value the
    * equality filter would only match through a column-side cast (or
    * not at all) returns None — pruning is skipped, never wrong. */
  private[store] def hashOf(value: Any, dt: DataType): Option[Long] =
    coerce(value, dt).map { v =>
      XxHash64(Seq(Literal.create(v, dt)), 42L).eval(null).asInstanceOf[Long]
    }

  private def coerce(v: Any, dt: DataType): Option[Any] = (dt, v) match {
    case (StringType, s: String) => Some(s)
    case (LongType, n: Byte)     => Some(n.toLong)
    case (LongType, n: Short)    => Some(n.toLong)
    case (LongType, n: Int)      => Some(n.toLong)
    case (LongType, n: Long)     => Some(n)
    case (IntegerType, n: Byte)  => Some(n.toInt)
    case (IntegerType, n: Short) => Some(n.toInt)
    case (IntegerType, n: Int)   => Some(n)
    case (IntegerType, n: Long)  => if (n.isValidInt) Some(n.toInt) else None
    case (ShortType, n: Byte)    => Some(n.toShort)
    case (ShortType, n: Short)   => Some(n)
    case (ShortType, n: Int)     => if (n.isValidShort) Some(n.toShort) else None
    case (ByteType, n: Byte)     => Some(n)
    case (DoubleType, d: Double) => Some(d)
    case (DoubleType, f: Float)  => Some(f.toDouble)
    case (DoubleType, n: Int)    => Some(n.toDouble)
    case (DoubleType, n: Long)   => Some(n.toDouble)
    case (FloatType, f: Float)   => Some(f)
    case (FloatType, d: Double)  =>
      if (d.toFloat.toDouble == d) Some(d.toFloat) else None
    case (BooleanType, b: Boolean) => Some(b)
    case (DateType, d: java.sql.Date)       => Some(d)
    case (DateType, d: java.time.LocalDate) => Some(d)
    case (TimestampType, t: java.sql.Timestamp) => Some(t)
    case (TimestampType, t: java.time.Instant)  => Some(t)
    case (TimestampNTZType, t: java.time.LocalDateTime) => Some(t)
    case (BinaryType, b: Array[Byte]) => Some(b)
    case _ => None
  }

  // ------------------------------------------------------------- refresh

  /** Incremental maintenance after a PARTIAL-month commit — the scale
    * path that keeps a 100 TB time-layout item's index alive across
    * daily appends without ever re-scanning the item. For every column
    * whose sidecar was exactly-current at the commit's replaced
    * generation (`oldGen`), drop the touched periods' file entries,
    * re-bloom ONLY the touched period dirs (one scan per distinct
    * sizing-knob group), merge, and publish keyed to the commit's own
    * `newGen` — untouched files' blooms carry over because a partial
    * commit by definition did not change their bytes. Anything
    * uncertain (stale sidecar, missing encoded schema, scan failure)
    * leaves the old sidecar in place, whose old generation no longer
    * matches — retired, never wrong. Full rewrites do NOT refresh:
    * every file changed, so an incremental merge has nothing to carry;
    * rebuild explicitly.
    *
    * SHARDED indexes refresh cheaper still: the untouched periods'
    * shard FILES carry forward by name (no parse, no rewrite — only
    * touched periods get new shard documents) and one new manifest
    * re-keys the whole index to `newGen`. A bucket-keyed (flat-item)
    * manifest cannot express a per-period delta and is left stale —
    * retired, never wrong (flat items see only full rewrites anyway). */
  private[store] def refreshAfterPartialCommit(spark: SparkSession,
                                               itemPath: SPath,
                                               months: Seq[String],
                                               oldGen: Long,
                                               newGen: Long): Unit = {
    if (months.isEmpty) return
    val valid: Seq[(String, Either[Loaded, Manifest])] =
      indexedColumns(itemPath).flatMap { c =>
        loadManifest(itemPath, c)
          .filter(m => m.generation == oldGen && m.buckets == 0)
          .map(m => c -> (Right(m): Either[Loaded, Manifest]))
          .orElse(load(itemPath, c).filter(_.generation == oldGen)
            .map(l => c -> (Left(l): Either[Loaded, Manifest])))
      }
    if (valid.isEmpty) return
    val enc = Meta.read(itemPath).get("schema_json_encoded") match {
      case Some(JString(sj)) =>
        DataType.fromJson(sj).asInstanceOf[StructType]
      case _ => return // pre-encode item: indexes require the declared schema
    }
    val dataDir = itemPath.resolve(Item.DataDir)
    val touchedDirs = months
      .map(m => dataDir.resolve(s"${Collection.MonthCol}=$m"))
      .filter(_.isDir) // a removed (emptied) month has no dir — entries just drop
    val prefixes = months.map(m => s"${Collection.MonthCol}=$m/")
    // group by ALL recorded sizing knobs — including the persisted
    // single-document ceiling, so a user-forced layout (0 = always
    // sharded, MaxValue = always single) survives maintenance instead
    // of reverting to the default on the next refresh
    def knobs(e: Either[Loaded, Manifest]): (Double, Long, Long) =
      e.fold(l => (l.fpp, l.expectedItemsPerFile, l.singleDocMaxBytes),
        m => (m.fpp, m.expectedItemsPerFile, m.singleDocMaxBytes))
    valid.groupBy(v => knobs(v._2)).foreach {
      case ((fpp, expected, sdmb), group) =>
        val gcols = group.map(_._1).filter(c => enc.fields.exists(_.name == c))
        val fresh: Map[String, Map[String, Array[Byte]]] =
          if (touchedDirs.isEmpty || gcols.isEmpty) Map.empty
          else buildBlooms(
            spark.read.schema(enc).parquet(touchedDirs.map(_.toString): _*),
            gcols, fpp, expected)
        group.foreach {
          case (c, Left(l)) =>
            val carried = l.files.view
              .filterKeys(f => !prefixes.exists(f.startsWith))
              .map { case (f, bf) => f -> serialize(bf) }.toMap
            writeSidecar(itemPath, c, newGen, fpp, expected,
              carried ++ fresh.getOrElse(c, Map.empty), sdmb)
          case (c, Right(man)) =>
            refreshSharded(itemPath, c, man, months, newGen, fpp, expected,
              sdmb, fresh.getOrElse(c, Map.empty))
        }
    }
  }

  /** Sharded-index arm of the partial refresh: new shard documents for
    * the touched periods only (every fresh key IS a touched period —
    * the build scanned exactly those dirs), untouched entries carried
    * by NAME, one manifest publish re-keying to `newGen`. The manifest
    * write's reference sweep then drops the touched periods'
    * superseded shard files. */
  private def refreshSharded(itemPath: SPath, column: String, man: Manifest,
                             months: Seq[String], newGen: Long,
                             fpp: Double, expected: Long, singleDocMax: Long,
                             fresh: Map[String, Array[Byte]]): Unit = {
    val dir = itemPath.resolve(shardDirName(column))
    itemPath.fs.mkdirs(dir.raw)
    val rebuilt: Map[String, (Long, Seq[String])] =
      fresh.toSeq.sortBy(_._1).map { case (f, b) => f -> gzip(b) }
        .groupBy(e => shardKeyOf(e._1, 0))
        .map { case (k, es) =>
          k -> (es.size.toLong,
            writeShardParts(dir, column, newGen, fpp, expected, singleDocMax,
              k, es))
        }
    writeManifest(itemPath, column, newGen, fpp, expected, singleDocMax, 0,
      (man.shards -- months) ++ rebuilt)
  }

  /** Per-column index state for the `$bloom` metadata table:
    * (column, generation, fpp, expectedItemsPerFile, numFiles,
    * numShards) — numShards 0 = single-document layout. Sharded state
    * comes entirely from the manifest (no shard parses).
    * Unreadable/foreign-format sidecars are omitted, like every other
    * consumer of [[load]]. */
  private[graft] def sidecarStates(itemPath: SPath)
      : Seq[(String, Long, Double, Long, Int, Int)] =
    indexedColumns(itemPath).flatMap { c =>
      loadManifest(itemPath, c).map(m =>
        (c, m.generation, m.fpp, m.expectedItemsPerFile,
          m.numFiles.toInt, m.numParts))
        .orElse(load(itemPath, c).map(l =>
          (c, l.generation, l.fpp, l.expectedItemsPerFile, l.files.size, 0)))
    }

  /** The persisted single-document ceiling of a column's index (either
    * layout), defaulting for pre-persistence sidecars — maintenance
    * rebuilds reuse it so a user-forced layout (0 = always sharded,
    * MaxValue = always one document) survives rebuildIndexes instead
    * of silently reverting to the 16 MB default. */
  private[store] def recordedSingleDocMax(itemPath: SPath,
                                          column: String): Long =
    loadManifest(itemPath, column).map(_.singleDocMaxBytes)
      .orElse(load(itemPath, column).map(_.singleDocMaxBytes))
      .getOrElse(SingleDocMaxBytes)

  /** Indexed columns present on an item (decoded names, both layouts). */
  private[store] def indexedColumns(itemPath: SPath): Seq[String] =
    itemPath.fs.listFiles(itemPath.raw)
      .flatMap { f =>
        val stem =
          if (f.startsWith(SidecarPrefix) && f.endsWith(".json"))
            Some(f.stripPrefix(SidecarPrefix).stripSuffix(".json"))
          else if (f.startsWith(ShardPrefix) && f.endsWith(".json"))
            Some(f.stripPrefix(ShardPrefix).stripSuffix(".json"))
          else None
        stem.map(java.net.URLDecoder.decode(_, "UTF-8"))
      }
      .distinct.sorted

  /** Vacuum hook: reclaim shard files no manifest references — the
    * residue of a build/refresh crashed between its shard writes and
    * its manifest publish (the next successful publish of that column
    * sweeps them itself, but a column never rebuilt would leak them
    * forever). Only files whose mtime predates `cutoff` are swept: an
    * IN-FLIGHT build stages its shard files deliberately before its
    * manifest, so fresh files are spared — the same write-activity
    * gate as root staging; an unreadable mtime also spares. A
    * manifest-less shard dir left empty is removed whole.
    *
    * A manifest that is PRESENT but fails to read or parse (transient
    * IO error, mid-write glimpse on a non-atomic backend) skips the
    * column entirely: its shard files may all still be referenced, and
    * sweeping them on a read hiccup would silently destroy a healthy
    * index (queries would degrade to unpruned until a rebuild). Only a
    * definitively ABSENT manifest (the stat says so) treats the whole
    * dir as unreferenced. */
  private[store] def sweepOrphanShards(itemPath: SPath,
                                       cutoff: java.time.Instant): Seq[String] =
    itemPath.fs.listDirs(itemPath.raw)
      .filter(_.startsWith(ShardPrefix)).flatMap { dn =>
        val column =
          java.net.URLDecoder.decode(dn.stripPrefix(ShardPrefix), "UTF-8")
        val manifestPresent = itemPath.fs
          .modifiedAt(itemPath.resolve(manifestName(column)).raw).isDefined
        val loaded = loadManifest(itemPath, column)
        if (manifestPresent && loaded.isEmpty) Nil // unreadable ≠ absent
        else {
          val referenced: Set[String] =
            loaded.map(_.shards.valuesIterator.flatMap(_._2).toSet)
              .getOrElse(Set.empty)
          val dir = itemPath.resolve(dn)
          val swept = dir.fs.listFiles(dir.raw)
            .filterNot(referenced)
            .filter(f =>
              dir.fs.modifiedAt(dir.resolve(f).raw).exists(_.isBefore(cutoff)))
            .map { f =>
              val sp = dir.resolve(f)
              sp.deleteRecursively()
              evictCached(sp.raw)
              lastParse.remove(sp.raw)
              s"orphan_bloom_shard:${itemPath.name}/$dn/$f"
            }
          if (!itemPath.resolve(manifestName(column)).exists &&
              dir.fs.listFiles(dir.raw).isEmpty && dir.listDirs.isEmpty)
            dir.deleteRecursively()
          swept
        }
      }

  private[store] def dropSidecars(itemPath: SPath, columns: Seq[String]): Seq[String] = {
    val targets =
      if (columns.nonEmpty) columns
      else indexedColumns(itemPath)
    targets.flatMap { c =>
      val droppedSingle = dropSingleArtifact(itemPath, c)
      val droppedSharded = dropShardedArtifacts(itemPath, c)
      if (droppedSingle || droppedSharded) Some(c) else None
    }
  }
}
