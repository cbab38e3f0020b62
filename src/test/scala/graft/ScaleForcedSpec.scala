package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex}

/** Forces the code paths a 100 TB deployment runs but the sf0.1 bench
  * never reaches, on a spark.range-derived synthetic corpus ~10× the
  * sf0.001 fixture — no fixtures, no wall-time assertions: plan shape
  * and result equality against the small-path twin only.
  *
  * Paths forced here:
  *  - ngramJaccardPairs' stats auto-switch to the prefix-filter branch
  *    (Dedup: estimatedBytes > 1 GiB) — plan-asserted without
  *    executing the big plan, plus branch equality at 10×.
  *  - probeMinhashIndex's localization arms (DedupIndex): bands-scan
  *    IN-localization, candidate-id IN-pushdown, and BOTH collect-guard
  *    join fallbacks (maxProbeIds exceeded).
  *  - monthlySalt > 1 hot-period writes (Collection.withTimeLayout):
  *    one hot month spread across salt files, appends preserved.
  *  - distributed connected components at REAL diameter (chain graphs,
  *    label must propagate hop by hop), not just small cycles.
  */
class ScaleForcedSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic corpus: `n` docs of `words` pseudo-words
    * drawn id-dependently from a small vocabulary, so shingle overlap
    * between distinct docs is negligible while near-dup copies (last
    * word dropped) stay above any reasonable jaccard threshold. */
  private def corpus(n: Long, words: Int = 24): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(words - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 41 + i), lit(50000))))).as("text"))

  private def dropLastWord(df: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    df.withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1)))
  }

  test("ngram jaccard auto-switches to the prefix branch on >1GiB plan stats") {
    // 60M-row range with a string column: plan STATS cross 1 GiB without
    // materializing anything — the branch pick is a driver-side stats
    // probe, so the un-executed plan's shape is the assertion. The
    // prefix branch is the only one with a row_number Window.
    val big = corpus(60L * 1000 * 1000)
    assert(graft.store.Partitioner.estimatedBytes(big) > (1L << 30),
      "synthetic stats must exceed the switch threshold")
    val autoPlan = Dedup.ngramJaccardPairs(big, threshold = 0.8)
      .queryExecution.logical.toString
    assert(autoPlan.contains("row_number"),
      s"expected the prefix-filter branch (Window/row_number) for big stats:\n$autoPlan")
    val small = corpus(1000)
    val smallPlan = Dedup.ngramJaccardPairs(small, threshold = 0.8)
      .queryExecution.logical.toString
    assert(!smallPlan.contains("row_number"),
      "expected the plain inverted-index branch for small stats")
  }

  test("prefix and plain ngram branches agree on the 10x synthetic corpus") {
    val base = corpus(10000)
    val aug = base.unionByName(
      dropLastWord(base.filter($"doc_id" < 200)
        .withColumn("doc_id", $"doc_id" + 1000000L)))
    def pairs(prefix: Boolean) =
      Dedup.ngramJaccardPairs(aug, threshold = 0.8, usePrefixFilter = Some(prefix))
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val plain = pairs(prefix = false)
    val pref = pairs(prefix = true)
    assert(plain == pref, s"plain-only=${plain -- pref} prefix-only=${pref -- plain}")
    // every planted copy pair is found (copy docs share 21/22 shingles)
    assert(plain.size >= 200, s"expected >=200 true pairs, got ${plain.size}")
  }

  test("localized and direct Jaccard-verify plans agree (minhash + simhash)") {
    val base = corpus(8000)
    val aug = base.unionByName(
      dropLastWord(base.filter($"doc_id" < 200)
        .withColumn("doc_id", $"doc_id" + 1000000L)))
    def mh(loc: Boolean) = Dedup.minhashLshPairs(aug, threshold = 0.8,
        localizeVerify = Some(loc))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val mhLoc = mh(true); val mhDir = mh(false)
    assert(mhLoc == mhDir, s"minhash verify diverged: ${(mhLoc -- mhDir) ++ (mhDir -- mhLoc)}")
    assert(mhLoc.size >= 200, s"fixture too small: ${mhLoc.size}")
    def sh(loc: Boolean) = Dedup.simhashPairs128(aug, radius = 15,
        verifyJaccard = Some(0.5), localizeVerify = Some(loc))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val shLoc = sh(true); val shDir = sh(false)
    assert(shLoc == shDir, s"simhash verify diverged: ${(shLoc -- shDir) ++ (shDir -- shLoc)}")
  }

  test("minhash probe localization arms and collect-guard fallbacks agree") {
    val c = tempCollection("scale_probe")
    val base = corpus(10000)
    val idx = DedupIndex.buildAndSaveMinhashIndex(base, c, "mh")
    val batch = dropLastWord(base.filter($"doc_id" < 300)
        .withColumn("doc_id", $"doc_id" + 1000000L))
      .unionByName(corpus(200).withColumn("doc_id", $"doc_id" + 2000000L)
        .withColumn("text", concat_ws(" ", lit("zz"), col("text"))))
    def probe(maxProbeIds: Int, localizeBytes: Long) =
      DedupIndex.probeMinhashIndex(idx, batch, threshold = 0.8,
        maxProbeIds = maxProbeIds, localizeBytes = localizeBytes)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // reference: stats-driven defaults (small item -> direct joins)
    val ref = probe(maxProbeIds = 10000, localizeBytes = 256L << 20)
    // forced localization: bands IN-filter + candidate-id IN-pushdown
    val localized = probe(maxProbeIds = 1000000, localizeBytes = 0L)
    // forced fallbacks: localization wanted but the collect guards trip
    // (band-key count and candidate count both exceed maxProbeIds = 0),
    // so BOTH arms must take the join path and still agree
    val fallback = probe(maxProbeIds = 0, localizeBytes = 0L)
    assert(ref == localized, s"localized diverged: ${(ref -- localized) ++ (localized -- ref)}")
    assert(ref == fallback, s"fallback diverged: ${(ref -- fallback) ++ (fallback -- ref)}")
    assert(ref.size >= 300, s"expected >=300 batch-corpus pairs, got ${ref.size}")
    cleanup(c)
  }

  test("winnow and hamming probe localization arms and fallbacks agree") {
    val c = tempCollection("scale_probe2")
    val base = corpus(5000, words = 40)
    // winnow index over the corpus; batch = 150 near-copies + 100 fresh
    val widx = DedupIndex.buildAndSaveWinnowIndex(base, c, "wn")
    val wBatch = dropLastWord(base.filter($"doc_id" < 150)
        .withColumn("doc_id", $"doc_id" + 1000000L))
      .unionByName(corpus(100).withColumn("doc_id", $"doc_id" + 2000000L)
        .withColumn("text", concat_ws(" ", lit("qq"), col("text"))))
    def wProbe(maxFps: Int, localizeBytes: Long) =
      DedupIndex.probeWinnowIndex(widx, wBatch, minShared = 3,
        maxProbeFps = maxFps, localizeBytes = localizeBytes)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val wRef = wProbe(100000, 256L << 20)
    assert(wRef == wProbe(1000000, 0L), "winnow localized diverged")
    assert(wRef == wProbe(0, 0L), "winnow fallback diverged")
    assert(wRef.size >= 100, s"winnow fixture too small: ${wRef.size}")
    // hamming index over synthetic 64-bit signatures; batch = near
    // copies (1-2 bit flips) + far signatures
    val hashes = spark.range(4000).select($"id",
      xxhash64($"id").as("h"))
    val hidx = DedupIndex.buildAndSaveHammingIndex(hashes, c, "hm",
      radius = 3, idCol = "id", hashCol = "h")
    val hBatch = spark.range(300).select(($"id" + 1000000L).as("id"),
        xxhash64($"id").bitwiseXOR(lit(1L)).as("h")) // 1-bit flips: match
      .unionByName(spark.range(200).select(($"id" + 2000000L).as("id"),
        xxhash64($"id" + 777777L).as("h"))) // unrelated
    def hProbe(maxKeys: Int, localizeBytes: Long) =
      DedupIndex.probeHammingIndex(hidx, hBatch, idCol = "id", hashCol = "h",
        maxProbeKeys = maxKeys, localizeBytes = localizeBytes)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val hRef = hProbe(10000, 256L << 20)
    assert(hRef == hProbe(1000000, 0L), "hamming localized diverged")
    assert(hRef == hProbe(0, 0L), "hamming fallback diverged")
    assert(hRef.size >= 300, s"hamming fixture too small: ${hRef.size}")
    cleanup(c)
  }

  test("hot-month salted write spreads one 10x period over salt files; appends keep it") {
    val c = tempCollection("scale_salt")
    // one HOT month: 10k rows in january, a cold february tail
    val hot = spark.range(10000).select(
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("long") +
        col("id") * 240).cast("timestamp").as("index"),
      (col("id") % 97).cast("double").as("value"))
    c.write("item", hot, monthlyLayout = true, monthlySalt = 8)
    val dataDir = java.nio.file.Paths.get(
      c.path.resolve("item").resolve(graft.store.Item.DataDir).raw)
    val janFiles = java.nio.file.Files.list(dataDir.resolve("__month=2024-01"))
      .iterator()
    val nJan = Iterator.continually(janFiles).takeWhile(_.hasNext)
      .map(_.next()).count(_.getFileName.toString.endsWith(".parquet"))
    // exact spread depends on how the 8 salt keys hash into the shuffle
    // partitions (and AQE coalescing at test scale); the invariant is
    // the hot month SPREADS over several files, capped by the salt
    assert(nJan > 1 && nJan <= 8, s"expected 2..8 salted files in the hot month, got $nJan")
    assert(c.item("item").data.count() == 10000)
    // a partial append to the hot month keeps the salt and the data
    val add = spark.range(100).select(
      (lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")).cast("long") +
        col("id") * 7 + 1).cast("timestamp").as("index"),
      lit(123.0).as("value"))
    c.append("item", add)
    assert(c.item("item").data.filter($"value" === 123.0).count() == 100)
    assert(c.item("item").data.count() == 10100)
    cleanup(c)
  }

  test("the DEFAULT 16 MB bloom ceiling auto-shards a real multi-hundred-file item, prunes and refreshes") {
    // Pins the auto-trigger BOUNDARY itself: every other sharded-bloom
    // test forces the layout via singleDocMaxBytes=0 on an 8-file
    // fixture; here NO override is passed — 512 daily files of 4096
    // distinct keys at fpp=1e-15 serialize to ~25 MB of near-full
    // (incompressible) bloom payload, so writeSidecar's size dispatch
    // must cross BloomIndex.SingleDocMaxBytes on its own and publish
    // the sharded layout end to end: manifest + per-day shards,
    // pruning, and the carry-by-name incremental refresh.
    val c = tempCollection("scale_bloom_threshold")
    val days = 512
    val perDay = 4096
    val rows = spark.range(days.toLong * perDay).select(
      (lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).cast("long") +
        (col("id") / perDay).cast("long") * 86400L +
        (col("id") % perDay) * 20).cast("timestamp").as("index"),
      concat(lit("k"), col("id")).as("key"),
      (col("id") % 97).cast("double").as("value"))
    c.write("item", rows, timeLayout = Some("daily"))
    val itemPath = c.path.resolve("item")
    val all = c.item("item").data.inputFiles.length
    assert(all == days, s"expected one file per day, got $all")

    c.buildBloomIndex("item", Seq("key"), fpp = 1e-15,
      expectedItemsPerFile = perDay.toLong) // NO singleDocMaxBytes override
    assert(itemPath.resolve(graft.store.BloomIndex.manifestName("key")).exists &&
      !itemPath.resolve(graft.store.BloomIndex.sidecarName("key")).exists,
      "the default 16 MB ceiling must dispatch this payload to the sharded layout")
    val st = graft.store.BloomIndex.sidecarStates(itemPath)
    assert(st.length == 1 && st.head._5 == days && st.head._6 == days,
      s"expected $days files over $days period shards: $st")

    // planning rides selectivity: a key probe reads exactly its file
    Seq(0L, 12345L, days.toLong * perDay - 1).foreach { id =>
      val hit = c.item("item",
        filters = Seq(graft.store.Filters.Pred("key", "==", s"k$id")))
      assert(hit.data.collect().map(_.getAs[String]("key")).toSeq == Seq(s"k$id"))
      assert(hit.data.inputFiles.length == 1,
        s"k$id should probe exactly its own file at fpp=1e-15")
    }

    // incremental refresh at this file count: untouched shard FILES
    // carry by name, the index stays sharded and current
    val dir = itemPath.resolve(graft.store.BloomIndex.shardDirName("key"))
    val before = dir.fs.listFiles(dir.raw).toSet
    c.append("item", Seq(
      (java.sql.Timestamp.valueOf("2020-06-01 12:00:00"), "k_fresh", 1.0))
      .toDF("index", "key", "value"))
    val after = dir.fs.listFiles(dir.raw).toSet
    assert((before -- after).forall(_.startsWith("2020-06-01")) &&
      (after -- before).forall(_.startsWith("2020-06-01")),
      "only the touched day's shard may change")
    assert((before & after).size == before.size - 1,
      "untouched days' shard files must carry by name")
    val fresh = c.item("item",
      filters = Seq(graft.store.Filters.Pred("key", "==", "k_fresh")))
    assert(fresh.data.count() == 1 && fresh.data.inputFiles.length == 1)
    val old = c.item("item",
      filters = Seq(graft.store.Filters.Pred("key", "==", "k9999")))
    assert(old.data.count() == 1 && old.data.inputFiles.length == 1,
      "untouched periods must still prune after the refresh")
    cleanup(c)
  }

  test("bounds-path flat layout: collision-free carriers, disjoint sorted files, twin-equal content") {
    import graft.store.Partitioner
    // carrierValues must be a bucket→partition bijection at every size
    for (b <- 2 to Partitioner.MaxBoundsPartitions) {
      val cs = Partitioner.carrierValues(b)
      val parts = cs.map(v => java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), b))
      assert(parts == (0 until b), s"b=$b carriers must own their partitions: $parts")
    }
    // skewed long-key frame + some nulls: the bounds path must place
    // nulls first (RangePartitioner's rule) and keep ranges disjoint
    val df = spark.range(100000).select(
        when(col("id") % 1000 === 0, lit(null).cast("long"))
          .otherwise(pmod(col("id") * col("id"), lit(1000003L))).as("k"),
        (col("id") % 97).cast("double").as("value"))
      .localCheckpoint(true) // pin content: the comparison needs one dataset
    val plan = Partitioner.planFlat(df, "k", 8)
    assert(plan.stats.rows == 100000 && plan.cuts.nonEmpty)
    val bounded = Partitioner.layout(df, Seq("k"), 8, plan.cuts)
    // plan shape: hash exchange on the carrier, no range exchange anywhere
    val phys = bounded.queryExecution.executedPlan.toString
    assert(phys.contains("hashpartitioning") && !phys.contains("rangepartitioning"),
      s"expected the carrier hash exchange:\n$phys")
    // the layout moves rows, never changes them
    def content(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), r.getDouble(1))).sortBy(_.toString).toSeq
    assert(content(bounded) == content(df))
    // per-partition: sorted, ranges disjoint in partition order, nulls in p0
    val perPart = bounded
      .select(spark_partition_id().as("p"), col("k"))
      .groupBy("p").agg(min("k").as("mn"), max("k").as("mx"),
        count(lit(1)).as("n"), count(col("k")).as("nonnull"))
      .orderBy("p").collect()
    assert(perPart.length == 8, s"expected 8 occupied partitions: ${perPart.length}")
    assert(perPart.head.getLong(3) < perPart.head.getLong(2),
      "nulls must land in partition 0")
    val spans = perPart.map(r => (r.getLong(1), r.getLong(2)))
    for (i <- 1 until spans.length)
      assert(spans(i - 1)._2 < spans(i)._1,
        s"partition ranges must be disjoint and ascending: ${spans.toSeq}")
    // balance: no partition above ~3x the mean (a sampled exchange's class)
    val counts = perPart.map(_.getLong(3).toDouble)
    assert(counts.max < 3.0 * counts.sum / counts.length,
      s"bounds must balance: ${counts.toSeq}")
  }

  test("oversized quantizer literals fall back to broadcast-join twins with identical results") {
    import graft.operators.Similarity
    val corpus = spark.range(1500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => sin(col("id") * (i + lit(1))).cast("double")).as("embedding"))
      .localCheckpoint(true)
    val queries = corpus.filter($"vec_id" % 300 === 0)
    def ivf() = Similarity.ivfTopK(corpus, queries, k = 5, nlist = 8,
        nprobe = 3, kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def ivfpq() = {
      val idx = Similarity.buildIvfPqIndex(corpus, nlist = 8, kmeansIters = 1,
        m = 4, ksub = 8, pqIters = 1, residual = true)
      Similarity.ivfPqSearch(idx, queries, k = 5, nprobe = 3, rerank = 64)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    // assignment plan shape under each regime
    def assignPlan() = {
      val cents = corpus.orderBy($"vec_id").limit(8)
        .select($"vec_id".cast("long").as("cid"), $"embedding".as("centroid"))
        .localCheckpoint(true)
      Similarity.assignToCentroids(corpus, cents)
        .queryExecution.executedPlan.toString
    }
    val litIvf = ivf(); val litPq = ivfpq()
    val litPlan = assignPlan()
    assert(!litPlan.contains("BroadcastExchange"),
      s"literal path must not broadcast:\n$litPlan")
    sys.props("graft.similarity.maxLitDoubles") = "1"
    try {
      val forcedPlan = assignPlan()
      assert(forcedPlan.contains("BroadcastExchange"),
        s"guarded path must broadcast the quantizer:\n$forcedPlan")
      assert(ivf() == litIvf, "IVF results diverged under the size guard")
      assert(ivfpq() == litPq, "IVF-PQ results diverged under the size guard")
    } finally sys.props.remove("graft.similarity.maxLitDoubles")
    assert(litIvf.nonEmpty && litPq.nonEmpty)
  }

  test("distributed connected components converge at real chain diameter") {
    // 50 chains of length 20: the min label must PROPAGATE 19 hops —
    // cycles of size 4 (the round-5 test) never exercise convergence
    // depth. maxLocalEdges = 0 skips the driver probe entirely.
    val chains = spark.range(50L * 19).select(
      (col("id") / 19).cast("long").as("chain"),
      (col("id") % 19).cast("long").as("pos"))
      .select(($"chain" * 100 + $"pos").as("id_a"),
        ($"chain" * 100 + $"pos" + 1).as("id_b"))
    val cc = Dedup.connectedComponents(chains, maxIter = 25, maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 50 * 20)
    for (chain <- 0L until 50L; pos <- 0L to 19L)
      assert(cc(chain * 100 + pos) == chain * 100,
        s"node ${chain * 100 + pos} labeled ${cc(chain * 100 + pos)}")
    // twin check: the driver union-find path agrees exactly
    val local = Dedup.connectedComponents(chains, maxLocalEdges = 1000000)
      .as[(Long, Long)].collect().toMap
    assert(local == cc)
  }
}
