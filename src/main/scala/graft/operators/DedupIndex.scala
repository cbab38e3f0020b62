package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH dedup index — incremental corpus dedup, the
  * shape a 100 TB ingestion pipeline actually runs: the corpus is
  * fingerprinted ONCE (band keys + shingle sets persisted through the
  * store), and every incoming batch is deduplicated against it by
  * probing the band index — cost O(batch + matched candidates), never
  * a corpus re-scan or re-tokenize. Accepted survivors append in
  * O(batch) ([[appendToMinhashIndex]]), the Lucene-segment/FAISS-add
  * contract the ANN and BM25 indexes already follow.
  *
  * This is the build-once/probe-many split of [[Dedup.minhashLshPairs]]
  * (whose single-shot within-corpus semantics it reuses verbatim: same
  * band keys, same exact-Jaccard verification — so the recall argument
  * and the exhaustive-SQL oracle port unchanged). Reference semantics:
  * pystore's append-dedup (pystore collection.py append) is EXACT
  * row-level; this extends the same "new data vs existing item" contract
  * to near-duplicate text at scale.
  *
  * Index layout through the store:
  *  - `name__bands`   (band, bh, id)  — one row per (doc, band); the
  *    probe's equi-join keys. Uniform by construction (minhash of
  *    uniform 64-bit hashes), so the probe shuffle has no hot buckets.
  *  - `name__shingles` (id, sh)       — the verification payload,
  *    id-indexed so a bounded candidate list prunes parquet row groups
  *    (the IVF probe-list lesson applied to text verification).
  */
object DedupIndex {

  /** A built MinHash index: band rows + shingle sets + the LSH shape
    * that produced them (persisted as metadata so probes can never run
    * with mismatched banding). */
  final case class MinhashIndex(bands: DataFrame, shingles: DataFrame,
                                numHashes: Int, numBands: Int, shingleK: Int) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit =
      Similarity.parallelWrites(Seq(
        // bh-indexed: band hashes are uniform, so sorting by bh gives
        // every row group a tight bh range — a probe's bounded band-key
        // list then prunes the bands scan to matching row groups
        () => c.write(s"${name}__bands", bands, indexCols = Seq("bh"),
          overwrite = overwrite),
        () => c.write(s"${name}__shingles", shingles, indexCols = Seq("id"),
          metadata = Map("minhash_num_hashes" -> numHashes,
            "minhash_bands" -> numBands, "minhash_shingle_k" -> shingleK),
          overwrite = overwrite)))
  }

  object MinhashIndex {
    def load(c: graft.store.Collection, name: String): MinhashIndex = {
      val (numHashes, numBands, shingleK) = shapeOf(c, name)
      MinhashIndex(c.item(s"${name}__bands").data,
        c.item(s"${name}__shingles").data, numHashes, numBands, shingleK)
    }

    /** The persisted LSH shape (numHashes, numBands, shingleK), read
      * from the shingles item's sidecar alone. */
    private[DedupIndex] def shapeOf(c: graft.store.Collection,
                                    name: String): (Int, Int, Int) = {
      val meta = c.metadata(s"${name}__shingles")
      def intOf(key: String): Int = meta.get(key) match {
        case Some(org.json4s.JInt(i)) => i.toInt
        case other => throw new IllegalStateException(
          s"bad $key in minhash index metadata: $other")
      }
      (intOf("minhash_num_hashes"), intOf("minhash_bands"),
        intOf("minhash_shingle_k"))
    }
  }

  private def shingleFrame(docs: DataFrame, shingleK: Int,
                           textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      Dedup.shingles(col(textCol), shingleK).as("sh"))

  private def bandFrame(sh: DataFrame, numHashes: Int,
                        numBands: Int): DataFrame =
    sh.select(col("id"),
      posexplode(graft.functions.expressions.minhash_bands(
        col("sh"), numHashes, numBands)).as(Seq("band", "bh")))

  def buildMinhashIndex(docs: DataFrame,
                        numHashes: Int = 64,
                        numBands: Int = 16,
                        shingleK: Int = 3,
                        textCol: String = "text",
                        idCol: String = "doc_id"): MinhashIndex = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sh = shingleFrame(docs, shingleK, textCol, idCol)
    MinhashIndex(bandFrame(sh, numHashes, numBands), sh,
      numHashes, numBands, shingleK)
  }

  /** Build + persist, holding the shingle cache through the (parallel)
    * item writes so the corpus tokenizes exactly ONCE end to end. */
  def buildAndSaveMinhashIndex(docs: DataFrame,
                               c: graft.store.Collection,
                               name: String,
                               numHashes: Int = 64,
                               numBands: Int = 16,
                               shingleK: Int = 3,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               overwrite: Boolean = true): MinhashIndex = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sh = shingleFrame(docs, shingleK, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MinhashIndex(bandFrame(sh, numHashes, numBands), sh,
      numHashes, numBands, shingleK).save(c, name, overwrite)
    sh.unpersist(blocking = false)
    MinhashIndex.load(c, name)
  }

  /** Near-dup pairs of a NEW batch against the indexed corpus, plus
    * pairs within the batch itself — (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard ≥ threshold, same contract as
    * [[Dedup.minhashLshPairs]].
    *
    * Plan shape (the 100 TB path): the batch is shingled once and
    * banded; band keys equi-join the persisted band item (uniform
    * keys, skinny rows — the only index-sized scan, 3 longs per row);
    * candidate verification reads shingle payloads for MATCHED corpus
    * ids only — localized to an IN-pushdown when the candidate id set
    * is driver-bounded (≤ maxProbeIds, row-group-pruned scan), else a
    * shuffle semi-join (still candidates-only rows out). The corpus
    * text is never touched. */
  /** One-shot probe (caches stay behind for the plan's lifetime — fine
    * for a query; a LOOP over batches should use
    * [[probeMinhashIndexRetained]] and unpersist between batches). */
  def probeMinhashIndex(index: MinhashIndex,
                        newDocs: DataFrame,
                        threshold: Double,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        maxProbeIds: Int = 10000,
                        localizeBytes: Long = 256L << 20): DataFrame =
    probeMinhashIndexRetained(index, newDocs, threshold, textCol, idCol,
      maxProbeIds, localizeBytes)._1

  /** Probe variant returning the batch-lifetime caches alongside the
    * pair plan, so ingest loops ([[graft.streaming.StreamAppend
    * .intoMinhashIndex]]) can unpersist once the batch's results are
    * materialized — per-batch cache turnover instead of accumulation. */
  def probeMinhashIndexRetained(index: MinhashIndex,
                                newDocs: DataFrame,
                                threshold: Double,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                maxProbeIds: Int = 10000,
                                localizeBytes: Long = 256L << 20)
      : (DataFrame, Seq[DataFrame]) = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // batch-sized (and candidate-sized) caches: the shingle kernel runs
    // once per batch doc instead of once per downstream consumer, and
    // the banded keys feed both the cross and the self candidate joins
    val newSh = shingleFrame(newDocs, index.shingleK, textCol, idCol).persist(mem)
    val newBanded = bandFrame(newSh, index.numHashes, index.numBands).persist(mem)

    // Bands-scan localization (same stats-adaptive rule as the shingle
    // verify below): the batch contributes exactly |batch|·numBands band
    // keys, so when the persisted band item is large, its scan prunes to
    // the row groups covering the batch's bh values (the item is
    // bh-sorted) instead of streaming corpus·bands rows per probe.
    val oldBands =
      if (graft.store.Partitioner.estimatedBytes(index.bands) >= localizeBytes) {
        val bhs = newBanded.select(col("bh")).distinct()
          .limit(maxProbeIds + 1).collect().map(_.getLong(0)).toSeq
        if (bhs.size <= maxProbeIds && bhs.nonEmpty)
          index.bands.filter(col("bh").isin(bhs: _*))
        else index.bands
      } else index.bands
    val crossRaw = newBanded.as("n").join(oldBands.as("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh") &&
          col("n.id") =!= col("o.id"))
      .select(col("n.id").as("new_id"), col("o.id").as("old_id"))
      .distinct()
    // Candidate-bounded LOCALIZATION, decided from plan statistics (the
    // spread/components pattern): when the shingle item is big enough
    // that scanning it would dominate (the 100 TB case), materialize
    // the candidate old-id set (O(true near dups of the batch) —
    // driver-bounded in any real ingest) and push it into the shingle
    // scan as an `id IN (...)` row-group-pruned filter. Below the
    // threshold the verify joins the item directly — ONE materialization
    // for the whole probe instead of three, and the join output is
    // candidates-only rows either way. maxProbeIds guards the collect;
    // a pathological batch falls back to the join.
    val localize =
      graft.store.Partitioner.estimatedBytes(index.shingles) >= localizeBytes
    val cross = if (localize) crossRaw.persist(mem) else crossRaw
    var retained = Seq(newSh, newBanded) ++ (if (localize) Seq(cross) else Nil)
    val oldSh =
      if (localize) {
        val oldIds = cross.select(col("old_id")).distinct().persist(mem)
        retained :+= oldIds
        val nOld = oldIds.count()
        if (nOld <= maxProbeIds) {
          val ids = oldIds.collect().map(_.getLong(0)).toSeq
          if (ids.isEmpty) index.shingles.limit(0)
          else index.shingles.filter(col("id").isin(ids: _*))
        } else index.shingles
      } else index.shingles
    val crossVerified = cross
      .join(oldSh.withColumnsRenamed(Map("id" -> "old_id", "sh" -> "sh_o")),
        Seq("old_id"))
      .join(newSh.withColumnsRenamed(Map("id" -> "new_id", "sh" -> "sh_n")),
        Seq("new_id"))
      .withColumn("jaccard", Dedup.jaccard(col("sh_o"), col("sh_n")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"), col("jaccard"))

    val self = newBanded.as("a").join(newBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val selfVerified = self
      .join(newSh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")),
        Seq("id_a"))
      .join(newSh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")),
        Seq("id_b"))
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

    (crossVerified.unionByName(selfVerified)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      retained)
  }

  /** First-batch ingest rule of [[graft.streaming.StreamAppend
    * .intoMinhashIndex]], factored out so a batch replay query can
    * anchor the streaming matrix to the DuckDB oracle: in-batch
    * self-dedup where the LARGER id of every qualifying pair dies
    * (minhashLshPairs emits id_a < id_b). */
  def minhashSelfSurvivors(batch: DataFrame,
                           threshold: Double,
                           numHashes: Int = 64,
                           numBands: Int = 16,
                           shingleK: Int = 3,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val pairs = Dedup.minhashLshPairs(batch, threshold,
      numHashes, numBands, shingleK, textCol, idCol)
    val drops = pairs.select(col("id_b").as("drop_id")).distinct()
    batch.join(drops, batch(idCol) === drops("drop_id"), "left_anti")
  }

  /** Steady-state ingest gate of [[graft.streaming.StreamAppend
    * .intoMinhashIndex]] (shared by sink and batch replay): probe the
    * persisted index, then drop — batch-batch pair: the larger id
    * dies; batch-corpus pair: the batch side dies whichever end of the
    * (least, greatest)-canonicalized pair it lands on. Returns the
    * survivor frame plus the probe's batch-lifetime caches for the
    * caller to unpersist after materializing. */
  def minhashGateSurvivors(index: MinhashIndex,
                           batch: DataFrame,
                           threshold: Double,
                           textCol: String = "text",
                           idCol: String = "doc_id"): (DataFrame, Seq[DataFrame]) = {
    val (pairs, retained) = probeMinhashIndexRetained(
      index, batch, threshold, textCol, idCol)
    val bIds = batch.select(col(idCol).as("bid"))
    val drops = pairs
      .join(bIds.select(col("bid").as("id_a"), lit(true).as("a_new")),
        Seq("id_a"), "left")
      .join(bIds.select(col("bid").as("id_b"), lit(true).as("b_new")),
        Seq("id_b"), "left")
      .select(when(col("a_new").isNotNull && col("b_new").isNotNull,
          greatest(col("id_a"), col("id_b")))
        .when(col("a_new").isNotNull, col("id_a"))
        .otherwise(col("id_b")).as("drop_id"))
      .distinct()
    (batch.join(drops, batch(idCol) === drops("drop_id"), "left_anti"), retained)
  }

  // ----------------------------------- persisted winnow-fingerprint index

  /** PERSISTED substring-duplication index — the build/probe split of
    * [[Dedup.substringDuplicationPairs]]: the corpus is winnowed ONCE,
    * its df-capped fingerprint rows persisted fp-indexed (uniform
    * poly-hash values → tight per-row-group fp ranges), and every
    * incoming batch probes by fingerprint equi-join in
    * O(batch + candidates) — corpus text never re-tokenized. The df
    * cap is applied at BUILD time over the corpus (boilerplate
    * fingerprints never enter the index); [[appendToWinnowIndex]]
    * appends new docs' fingerprints WITHOUT re-capping — like a Lucene
    * segment, a compaction/rebuild re-evaluates the cap. Probe emits
    * batch×corpus pairs only; in-batch self-dedup is the one-shot
    * operator's job. */
  final case class WinnowIndex(fps: DataFrame, k: Int, w: Int, maxDocFreq: Int) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit =
      c.write(s"${name}__wfps", fps, indexCols = Seq("fp"),
        metadata = Map("winnow_k" -> k, "winnow_w" -> w,
          "winnow_max_df" -> maxDocFreq), overwrite = overwrite)
  }

  object WinnowIndex {
    def load(c: graft.store.Collection, name: String): WinnowIndex = {
      val meta = c.metadata(s"${name}__wfps")
      def intOf(key: String): Int = meta.get(key) match {
        case Some(org.json4s.JInt(i)) => i.toInt
        case other => throw new IllegalStateException(
          s"bad $key in winnow index metadata: $other")
      }
      WinnowIndex(c.item(s"${name}__wfps").data,
        intOf("winnow_k"), intOf("winnow_w"), intOf("winnow_max_df"))
    }
  }

  private def winnowFpFrame(docs: DataFrame, k: Int, w: Int,
                            textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      explode(graft.functions.expressions.winnow_fp_set(
        TextAnalysis.tokens(TextAnalysis.normalize(col(textCol))), k, w)).as("fp"))

  def buildAndSaveWinnowIndex(docs: DataFrame,
                              c: graft.store.Collection,
                              name: String,
                              maxDocFreq: Int = 50,
                              k: Int = 5,
                              w: Int = 4,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              overwrite: Boolean = true): WinnowIndex = {
    val fps = winnowFpFrame(docs, k, w, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("fp")
    WinnowIndex(fps.join(rare, Seq("fp"), "left_semi"), k, w, maxDocFreq)
      .save(c, name, overwrite)
    fps.unpersist(blocking = false)
    WinnowIndex.load(c, name)
  }

  /** Substring-overlap pairs of a NEW batch against the indexed
    * corpus — (id_a, id_b, n_shared) with id_a < id_b, n_shared ≥
    * `minShared` shared fingerprints. The batch is winnowed once; its
    * bounded fingerprint list prunes the persisted scan (fp-IN
    * row-group pruning when driver-bounded). */
  def probeWinnowIndex(index: WinnowIndex,
                       newDocs: DataFrame,
                       minShared: Int = 5,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       maxProbeFps: Int = 100000,
                       localizeBytes: Long = 256L << 20): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newFps = winnowFpFrame(newDocs, index.k, index.w, textCol, idCol)
      .persist(mem)
    val oldFps =
      if (graft.store.Partitioner.estimatedBytes(index.fps) >= localizeBytes) {
        val keys = newFps.select(col("fp")).distinct()
          .limit(maxProbeFps + 1).collect().map(_.getLong(0)).toSeq
        if (keys.size <= maxProbeFps && keys.nonEmpty)
          index.fps.filter(col("fp").isin(keys: _*))
        else index.fps
      } else index.fps
    newFps.as("n").join(oldFps.as("o"),
        col("n.fp") === col("o.fp") && col("n.id") =!= col("o.id"))
      .select(col("n.id").as("id_n"), col("o.id").as("id_o"))
      .groupBy("id_n", "id_o").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"), col("n_shared"))
  }

  /** Incrementally index new documents — O(new docs): their fingerprint
    * rows APPEND (KeepAll; no df re-cap — rebuild/compaction re-caps,
    * the Lucene-segment contract). */
  def appendToWinnowIndex(newDocs: DataFrame,
                          c: graft.store.Collection,
                          name: String,
                          textCol: String = "text",
                          idCol: String = "doc_id"): WinnowIndex = {
    val idx = WinnowIndex.load(c, name)
    c.append(s"${name}__wfps",
      winnowFpFrame(newDocs, idx.k, idx.w, textCol, idCol),
      graft.store.DuplicateHandling.KeepAll)
    WinnowIndex.load(c, name)
  }

  // ---------------------------------------- persisted Hamming index

  /** PERSISTED pigeonhole Hamming index over any 64-bit signature
    * column — the media-modality twin of the MinHash index above: the
    * corpus's fingerprints (image aHash, audio band-energy, video
    * temporal+spatial, SimHash — any [[Dedup.hammingPairs]]-compatible
    * signature) are chunk-keyed ONCE and persisted; every incoming
    * batch probes by chunk-key equi-join in O(batch + candidates) and
    * appends in O(batch). The chunk rows are key-indexed (uniform hash
    * keys → tight per-row-group key ranges), so a batch's bounded key
    * list prunes the persisted scan to matching row groups. Radius is
    * fixed at build time (chunks = radius+1); probes at radius ≤ the
    * build radius keep certain recall (≤ radius flips still leave ≥ 1
    * agreeing chunk). */
  final case class HammingIndex(chunkRows: DataFrame, radius: Int) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit =
      c.write(s"${name}__hchunks", chunkRows, indexCols = Seq("key"),
        metadata = Map("hamming_radius" -> radius), overwrite = overwrite)
  }

  object HammingIndex {
    def load(c: graft.store.Collection, name: String): HammingIndex =
      HammingIndex(c.item(s"${name}__hchunks").data, radiusOf(c, name))

    /** The persisted radius, read from the chunk item's sidecar alone. */
    private[DedupIndex] def radiusOf(c: graft.store.Collection, name: String): Int =
      c.metadata(s"${name}__hchunks").get("hamming_radius") match {
        case Some(org.json4s.JInt(i)) => i.toInt
        case other => throw new IllegalStateException(
          s"bad hamming_radius in hamming index metadata: $other")
      }
  }

  def buildAndSaveHammingIndex(hashes: DataFrame,
                               c: graft.store.Collection,
                               name: String,
                               radius: Int,
                               idCol: String = "id",
                               hashCol: String = "h",
                               overwrite: Boolean = true): HammingIndex = {
    require(radius >= 0 && radius < 4,
      s"hamming index radius $radius outside [0,3] — chunk keyspaces " +
        "below ~16 bits collide as n²/2^bits at corpus scale")
    HammingIndex(Dedup.hammingChunked(hashes, radius + 1, idCol, hashCol),
      radius).save(c, name, overwrite)
    HammingIndex.load(c, name)
  }

  /** Near-dup pairs of a NEW batch of signatures against the indexed
    * corpus, plus pairs within the batch — (id_a, id_b, hamming) with
    * id_a < id_b, hamming ≤ radius. The corpus fingerprints are never
    * recomputed: batch chunk keys equi-join the persisted chunk item
    * (key-IN row-group pruning when the batch's key set is
    * driver-bounded), and each candidate pays one bit_count verify —
    * the signature h rides in the chunk rows, so no second item read. */
  def probeHammingIndex(index: HammingIndex,
                        newHashes: DataFrame,
                        radius: Int = -1,
                        idCol: String = "id",
                        hashCol: String = "h",
                        maxProbeKeys: Int = 10000,
                        localizeBytes: Long = 256L << 20): DataFrame = {
    val r = if (radius < 0) index.radius else radius
    require(r <= index.radius,
      s"probe radius $r exceeds build radius ${index.radius} — recall would be lost")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newKeyed = Dedup.hammingChunked(newHashes, index.radius + 1,
      idCol, hashCol).persist(mem)
    val oldRows =
      if (graft.store.Partitioner.estimatedBytes(index.chunkRows) >= localizeBytes) {
        val keys = newKeyed.select(col("key")).distinct()
          .limit(maxProbeKeys + 1).collect().map(_.getLong(0)).toSeq
        if (keys.size <= maxProbeKeys && keys.nonEmpty)
          index.chunkRows.filter(col("key").isin(keys: _*))
        else index.chunkRows
      } else index.chunkRows
    val cross = newKeyed.as("n").join(oldRows.as("o"),
        col("n.chunk") === col("o.chunk") && col("n.key") === col("o.key") &&
          col("n.id") =!= col("o.id"))
      .select(col("n.id").as("id_n"), col("o.id").as("id_o"),
        col("n.h").as("h_n"), col("o.h").as("h_o"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_n").bitwiseXOR(col("h_o"))).cast("long"))
      .filter(col("hamming") <= r)
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"), col("hamming"))
    // batch-sized cache stays behind for the plan's lifetime (the
    // one-shot probeMinhashIndex contract); loops should re-probe per
    // batch so turnover stays bounded
    val self = Dedup.hammingPairs(newHashes, r, idCol, hashCol)
    cross.unionByName(self)
  }

  /** Incrementally index new signatures: their chunk rows APPEND to
    * the persisted item (KeepAll; ids are new by caller contract) —
    * one flat append, which rewrites the item in one staging job.
    * Typical media ingest loop: fingerprint the batch → probe → drop
    * matched → append survivors. */
  def appendToHammingIndex(newHashes: DataFrame,
                           c: graft.store.Collection,
                           name: String,
                           idCol: String = "id",
                           hashCol: String = "h"): HammingIndex = {
    c.append(s"${name}__hchunks",
      Dedup.hammingChunked(newHashes, HammingIndex.radiusOf(c, name) + 1, idCol, hashCol),
      graft.store.DuplicateHandling.KeepAll)
    HammingIndex.load(c, name)
  }

  /** Incrementally index new documents: their band rows and shingle
    * sets APPEND to the persisted items (KeepAll: ids are new by caller
    * contract, exactly like FAISS add / BM25 append). Each is one flat
    * append, which rewrites its item in one staging job; the LSH shape
    * comes from the shingles sidecar. Typical ingest loop: probe →
    * drop matched batch docs → append survivors. */
  def appendToMinhashIndex(newDocs: DataFrame,
                           c: graft.store.Collection,
                           name: String,
                           textCol: String = "text",
                           idCol: String = "doc_id"): MinhashIndex = {
    val (numHashes, numBands, shingleK) = MinhashIndex.shapeOf(c, name)
    val sh = shingleFrame(newDocs, shingleK, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    c.append(s"${name}__bands", bandFrame(sh, numHashes, numBands),
      graft.store.DuplicateHandling.KeepAll)
    c.append(s"${name}__shingles", sh, graft.store.DuplicateHandling.KeepAll)
    sh.unpersist(blocking = false)
    MinhashIndex.load(c, name)
  }
}
