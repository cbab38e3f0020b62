package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north star).
  *
  * Two tiers:
  *  - `bruteForceTopK` — exact cosine top-k: broadcast the (small)
  *    query set against the corpus, rank per query. The corpus side
  *    streams through executors once; per-partition partial top-k
  *    happens inside the window's sort. This is the correctness
  *    baseline the oracle checks.
  *  - `lshTopK` — scale path: hyperplane-LSH bucket the corpus into
  *    `bands` independent signature tables (`bits`-bit sign patterns),
  *    candidates = bucket collisions in ANY band (OR-amplification),
  *    exact-rank inside the candidates. At 100 TB the banded corpus
  *    signature table is computed once and reused across query
  *    batches; each query touches ~bands/2^bits of the data.
  */
object Similarity {

  /** Submit store writes concurrently from driver threads (the
    * writeBatch/M4 pattern): Spark interleaves the jobs' stages across
    * executor slots, so a multi-item index save costs ~the slowest
    * item, not the sum. Item names are distinct, which is the store's
    * concurrent-writer contract. */
  private[operators] def parallelWrites(ops: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(ops)(op => Future(op())), Duration.Inf)
  }

  /** Hyperplane-signature width sized from plan statistics, so bucket
    * occupancy stays roughly constant as the corpus grows: bits ≈
    * log₂(corpus bytes / bytesPerBucket). At the bench SFs this lands
    * at 6–7 bits (2⁶–2⁷ buckets per band, ~10–20 vectors each); at
    * 100 TB it grows to the cap. Fixed small constants would make every
    * bucket O(n) — banding would degenerate to brute force; this is the
    * same plan-stats sizing trick as Dedup's `spread`.
    *
    * Recall economics (hyperplane LSH, per-band collision probability
    * p = (1−θ/π)^bits, OR-amplified over `bands`): for NEAR-DUPLICATE
    * pairs (cos ≥ 0.9 ⇒ 1−θ/π ≥ 0.857; at cos 0.995, 0.985) recall
    * stays ≈1.0 across the whole bits range with 8 bands. For
    * moderate-similarity neighbors (cos ≈ 0.4 — uniform-random data's
    * top-k) no honest constant beats brute force: there is no density
    * gap for LSH to exploit, which is why the shipped ANN-LSH query
    * measures recall on the near-duplicate regime it is built for. */
  def sizedBits(df: DataFrame,
                bytesPerBucket: Long = 8L << 10,
                minBits: Int = 6,
                maxBits: Int = 24): Int = {
    val bytes = graft.store.Partitioner.estimatedBytes(df)
    val ratio = math.max(1L, bytes / math.max(1L, bytesPerBucket))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(ratio) // ceil(log2)+1 for powers
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Exact cosine top-k neighbors for each query vector.
    * Ranking key is (round(cos,9) DESC, id ASC) — rounded so that
    * float summation differences can't flip ranks between engines. */
  def bruteForceTopK(corpus: DataFrame,
                     queries: DataFrame,
                     k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cos", round(graft.functions.expressions.cosine_sim(col("cv"), col("qv")), 9))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  /** Driver-local centroid table: (cid, centroid as exact doubles).
    * Bounded by contract — a coarse quantizer is nlist rows, broadcast-
    * sized by definition; holding it on the driver is the same memory
    * class as the broadcast the old plan shipped every iteration. */
  private[operators] type LocalCents = Seq[(Long, Seq[Double])]

  /** Exact double lift of a collected vector cell (float parquet
    * arrays round-trip exactly through (double) widening — the same
    * cast the cosine kernel's codegen applies per element). */
  private[operators] def toDoubles(xs: Seq[Any]): Seq[Double] = xs.map {
    case d: Double => d
    case f: Float  => f.toDouble
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  private[operators] def collectCents(centroids: DataFrame): LocalCents =
    centroids.select(col("cid").cast("long"), col("centroid")).collect().toSeq
      .map(r => (r.getLong(0), toDoubles(r.getSeq[Any](1))))

  /** Ceiling for embedding a quantizer as a plan LITERAL, in doubles
    * held by the expression tree. A typedLit ships inside EVERY
    * serialized task binary and plan, and very large literals defeat
    * codegen — where a broadcast ships once per executor. Contract-
    * sized quantizers (nlist ≲ thousands) sit far below the default
    * 1M doubles (~8 MB of plan payload, e.g. nlist 8192 × dim 128);
    * above it every literal-quantizer path falls back to its
    * broadcast-join twin. Test seam:
    * -Dgraft.similarity.maxLitDoubles=N (ScaleForcedSpec forces 1). */
  private[operators] def maxLitDoubles: Long =
    sys.props.get("graft.similarity.maxLitDoubles").flatMap(_.toLongOption)
      .getOrElse(1L << 20)

  private[operators] def litBytesCeiling: Long = maxLitDoubles * 8

  private[operators] def litFits(cents: LocalCents): Boolean =
    cents.iterator.map(_._2.size.toLong).sum <= maxLitDoubles

  private def centsDF(cents: LocalCents,
                      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "centroid")
  }

  /** Per-row nearest-centroid struct (ccos, -cid, cid) against a
    * LITERAL centroid array — ONE codegen loop over nlist centroids,
    * no cross join, no shuffle (guide §2.4: the assignment decision
    * needs no data movement at all when the quantizer is driver-held).
    * array_max's struct ordering = (highest cosine, then lowest cid),
    * the exact tie-break the old max_by(struct(ccos, -cid)) applied. */
  private[operators] def nearestCentroidStruct(v: Column,
                                               cents: LocalCents): Column = {
    import graft.functions.expressions.cosine_sim
    array_max(transform(typedLit(cents), c => struct(
      cosine_sim(v, c.getField("_2")).as("c"),
      (-c.getField("_1")).as("n"),
      c.getField("_1").as("cid"))))
  }

  /** Spherical k-means, LOCAL form: the fitted (cid, centroid) rows on
    * the driver (they are localized per iteration anyway — broadcast-
    * sized by definition). Assignment is a per-row argmax expression
    * against the literal centroid table (no cross-join explosion, no
    * per-iteration shuffle of the points — guide §2.4); the only
    * shuffle per Lloyd iteration is the map-side-combined
    * (cid, pos) mean aggregation. */
  private[operators] def kmeansCentroidsLocal(corpus: DataFrame,
                                              nlist: Int,
                                              iters: Int,
                                              vecCol: String = "embedding",
                                              idCol: String = "vec_id",
                                              sampleFraction: Double = 1.0): LocalCents = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val all = corpus.select(col(idCol).as("pid"), col(vecCol).as("pv"))
    val pts = (if (sampleFraction < 1.0) all.sample(sampleFraction, 42) else all).cache()
    // deterministic init: first nlist by id (exact doubles of the raw
    // vectors — (double) widening is what the cosine kernel applies)
    var cents: LocalCents = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long"), col(vecCol)).collect().toSeq
      .map(r => (r.getLong(0), toDoubles(r.getSeq[Any](1))))
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 0 until iters if cents.nonEmpty) {
      // per-row nearest cid (no shuffle), then ONE aggregation with a
      // per-position avg column (no posexplode row blow-up, ONE
      // exchange instead of the old two-level (cid,pos)→(cid) pair);
      // means rounded to 6 decimals so aggregation-order float jitter
      // can't flip downstream assignment ranks between runs. Empty
      // clusters simply produce no row — exactly like the old groupBy.
      val means = (0 until dim).map(i =>
        round(avg(element_at(col("pv"), i + 1)), 6).as(s"m$i"))
      // size-guarded assignment: literal argmax below the ceiling, the
      // broadcast-join max_by twin (identical (ccos, -cid) comparator
      // over the same collected doubles) above it
      val assigned =
        if (litFits(cents))
          pts.select(
            nearestCentroidStruct(col("pv"), cents).getField("cid").as("cid"),
            col("pv"))
        else {
          import graft.functions.expressions.cosine_sim
          pts.crossJoin(broadcast(centsDF(cents, spark)))
            .withColumn("ccos", cosine_sim(col("pv"), col("centroid")))
            .groupBy(col("pid"))
            .agg(max_by(struct(col("cid"), col("pv")),
              struct(col("ccos"), -col("cid"))).as("best"))
            .select(col("best.cid").as("cid"), col("best.pv").as("pv"))
        }
      val rows = assigned
        .groupBy(col("cid"))
        .agg(means.head, means.tail: _*)
        .collect().toSeq
        .map(r => (r.getLong(0), (0 until dim).map(i => r.getDouble(i + 1)): Seq[Double]))
      cents = rows.sortBy(_._1)
    }
    if (iters > 0) pts.unpersist(blocking = false)
    cents
  }

  /** Spherical k-means coarse quantizer (Lloyd's iterations). Init is
    * deterministic (first nlist by id); each iteration assigns points
    * to their max-cosine centroid via a per-row argmax against the
    * driver-held centroid literal (no cross join, no assignment
    * shuffle) and recomputes centroids as the element-wise mean of
    * their members — one map-side-combined aggregation per iteration.
    * Means are rounded to 6 decimals so aggregation-order float jitter
    * can't flip downstream assignment ranks between runs.
    *
    * At 100 TB: fit on a bounded `sampleFraction` (the standard IVF
    * recipe — centroid quality needs a sample, not the corpus); the
    * per-iteration shuffle is the combined (cid, pos, partial-avg)
    * triples only — the points themselves never move. */
  def kmeansCentroids(corpus: DataFrame,
                      nlist: Int,
                      iters: Int = 5,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      sampleFraction: Double = 1.0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (iters <= 0)
      corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(idCol).cast("long").as("cid"), col(vecCol).as("centroid"))
    else
      kmeansCentroidsLocal(corpus, nlist, iters, vecCol, idCol, sampleFraction)
        .toDF("cid", "centroid")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into lists; queries probe their `nprobe`
    * nearest lists and rank exactly within them.
    *
    * `kmeansIters > 0` fits the quantizer with `kmeansCentroids`
    * (recall follows centroid quality); 0 falls back to deterministic
    * first-nlist sampling. At 100 TB the assignment is computed once
    * and stored alongside the embeddings (a bucketed/partitioned
    * column), so query cost is nprobe/nlist of the corpus. */
  def ivfTopK(corpus: DataFrame,
              queries: DataFrame,
              k: Int,
              nlist: Int = 16,
              nprobe: Int = 4,
              vecCol: String = "embedding",
              idCol: String = "vec_id",
              kmeansIters: Int = 0,
              kmeansSample: Double = 1.0): DataFrame =
    ivfSearch(buildIvfIndex(corpus, nlist, kmeansIters, kmeansSample, vecCol, idCol),
      queries, k, nprobe, vecCol, idCol)

  /** A prebuilt IVF index: the broadcast-sized centroid table plus the
    * corpus assignment (one row per vector: vector, id, list id).
    * Build ONCE per corpus, search many query batches — the 100 TB
    * usage pattern. `save` persists both frames through the store
    * layer with `cid` as the index, so the assignment lands
    * range-partitioned and sorted BY LIST: a later search's probe-list
    * filter prunes parquet row groups to the nprobe lists it needs. */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit = parallelWrites(Seq(
      () => c.write(s"${name}__centroids", centroids, indexCols = Seq("cid"),
        overwrite = overwrite),
      () => c.write(s"${name}__assigned", assigned, indexCols = Seq("cid"),
        overwrite = overwrite)))
  }

  object IvfIndex {
    def load(c: graft.store.Collection, name: String): IvfIndex =
      IvfIndex(c.item(s"${name}__centroids").data,
        c.item(s"${name}__assigned").data)
  }

  /** Fit the quantizer and assign every corpus vector to its nearest
    * centroid (rank-1 over a broadcast cross join). */
  def buildIvfIndex(corpus: DataFrame,
                    nlist: Int = 16,
                    kmeansIters: Int = 0,
                    kmeansSample: Double = 1.0,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (kmeansIters > 0) {
      // fit locally, assign with the same local table — no re-collect
      val local = kmeansCentroidsLocal(corpus, nlist, kmeansIters, vecCol, idCol,
        kmeansSample)
      IvfIndex(local.toDF("cid", "centroid"),
        assignToCentroidsLocal(corpus, local, vecCol, idCol))
    } else {
      val cents = corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(idCol).cast("long").as("cid"), col(vecCol).as("centroid"))
      IvfIndex(cents, assignToCentroids(corpus, cents, vecCol, idCol))
    }
  }

  /** Assign every vector to its nearest centroid under a FROZEN
    * quantizer — the step shared by the index build, and by
    * incremental appends ([[appendToIvfIndex]]/[[appendToIvfPqIndex]]).
    * The quantizer is broadcast-sized by contract, so it is collected
    * once and the assignment becomes a per-row argmax expression — a
    * NARROW map: no cross-join explosion and no shuffle at any corpus
    * size (the old max_by plan shuffled every (id, vector) row). */
  def assignToCentroids(df: DataFrame, centroids: DataFrame,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame =
    if (graft.store.Partitioner.estimatedBytes(centroids) > litBytesCeiling) {
      // quantizer too large to even collect: broadcast-join twin on the
      // centroid FRAME (the kernels' per-element (double) casts make
      // the arithmetic identical to the collected-doubles path)
      import graft.functions.expressions.cosine_sim
      df.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
        .crossJoin(broadcast(centroids))
        .withColumn("ccos", cosine_sim(col("cv"), col("centroid")))
        .groupBy(col("nbr_id"))
        .agg(max_by(struct(col("cid"), col("cv")),
          struct(col("ccos"), -col("cid"))).as("best"))
        .select(col("nbr_id"), col("best.cv").as("cv"), col("best.cid").as("cid"))
    } else assignToCentroidsLocal(df, collectCents(centroids), vecCol, idCol)

  private[operators] def assignToCentroidsLocal(df: DataFrame, cents: LocalCents,
                                                vecCol: String,
                                                idCol: String): DataFrame = {
    val base = df.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    // empty quantizer: the old cross join produced zero rows
    if (cents.isEmpty) base.withColumn("cid", lit(null).cast("long")).limit(0)
    else if (litFits(cents))
      base.select(col("nbr_id"), col("cv"),
        nearestCentroidStruct(col("cv"), cents).getField("cid").as("cid"))
    else {
      // size-guarded fallback: the broadcast-join max_by twin — one
      // copy of the quantizer per executor instead of one per task
      // binary; identical (ccos, -cid) comparator over the same
      // collected doubles
      import graft.functions.expressions.cosine_sim
      base.crossJoin(broadcast(centsDF(cents, df.sparkSession)))
        .withColumn("ccos", cosine_sim(col("cv"), col("centroid")))
        .groupBy(col("nbr_id"))
        .agg(max_by(struct(col("cid"), col("cv")),
          struct(col("ccos"), -col("cid"))).as("best"))
        .select(col("nbr_id"), col("best.cv").as("cv"), col("best.cid").as("cid"))
    }
  }

  /** Incrementally add vectors to a PERSISTED IVF index — the FAISS
    * `add()` contract: the coarse quantizer stays FROZEN, new vectors
    * are assigned to their nearest existing centroid and APPENDED to
    * the cid-indexed assignment item (a quantizer refit is an offline
    * rebuild, not an append). The assignment never touches the stored
    * vectors, but the append is a flat one: it rewrites the assignment
    * item in one staging job. Caller contract: ids are new (appending
    * an existing id creates a duplicate, exactly like FAISS add). */
  def appendToIvfIndex(newVectors: DataFrame,
                       c: graft.store.Collection,
                       name: String,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): IvfIndex = {
    val idx = IvfIndex.load(c, name)
    c.append(s"${name}__assigned",
      assignToCentroids(newVectors, idx.centroids, vecCol, idCol),
      graft.store.DuplicateHandling.KeepAll)
    IvfIndex.load(c, name)
  }

  /** Search a prebuilt index: queries pick their nprobe nearest lists,
    * the probed list ids (≤ nlist values — driver-bounded) become an
    * IN-filter on the assignment BEFORE the join, so a store-persisted
    * index reads only the probed lists' row groups; exact cosine
    * ranking runs inside the probed lists only. */
  def ivfSearch(index: IvfIndex,
                queries: DataFrame,
                k: Int,
                nprobe: Int = 4,
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    import graft.functions.expressions.cosine_sim
    val spark = queries.sparkSession
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    // The probe table is BOUNDED (|queries| × nprobe rows of (id, vec,
    // cid)) — localize it once instead of re-executing the centroid-
    // ranking subplan for both the cid collect and the broadcast join.
    // The quantizer is broadcast-sized by contract, so the per-query
    // top-nprobe is a per-row sort of the literal centroid scores —
    // no cross join, no window shuffle; ordering (ccos desc, cid asc)
    // via the (−ccos, cid) struct sort key, the same comparator the
    // old row_number window applied. One job here, then the search
    // itself is a single pass over the pruned assignment scan.
    val localOpt =
      if (graft.store.Partitioner.estimatedBytes(index.centroids) > litBytesCeiling) None
      else Some(collectCents(index.centroids)).filter(litFits)
    val probeRows = (localOpt match {
      case Some(local) =>
        val scored = transform(typedLit(local), c => struct(
          (-cosine_sim(col("qv"), c.getField("_2"))).as("n"),
          c.getField("_1").as("cid")))
        q.select(col("query_id"), col("qv"),
            explode(slice(array_sort(scored), 1, nprobe)).as("p"))
          .select(col("query_id"), col("qv"), col("p.cid").as("cid"))
      case None =>
        // size-guarded fallback: broadcast-join + row_number window —
        // the (ccos desc, cid asc) ranking the (−ccos, cid) struct
        // sort replicates
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("ccos").desc, col("cid"))
        q.crossJoin(broadcast(index.centroids))
          .withColumn("ccos", cosine_sim(col("qv"), col("centroid")))
          .withColumn("crank", row_number().over(wProbe))
          .filter(col("crank") <= nprobe)
          .select(col("query_id"), col("qv"), col("cid"))
    }).collect()
    val probedCids = probeRows.map(_.getLong(2)).distinct.toSeq
    import spark.implicits._
    val probes = probeRows.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSeq
      .toDF("query_id", "qv", "cid")
    val lists = index.assigned.filter(col("cid").isin(probedCids: _*))

    val wRank = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("nbr_id"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", round(cosine_sim(col("cv"), col("qv")), 9))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  // ---------------------------------------- product quantization (PQ)

  /** A product-quantization index over L2-normalized vectors (cosine ≡
    * dot after normalization): `codebooks` is the broadcast-sized table
    * of per-subspace k-means centroids ((sub, code, cv) — m·ksub rows),
    * `codes` holds one row per corpus vector: its id, its m one-byte-ish
    * codes, and the normalized vector (read ONLY by the exact re-rank
    * of the top-ADC candidates — the ADC scan itself touches just the
    * codes column, m ints per vector instead of dim floats: a 64-dim
    * float vector compresses 32× at m=8, which is what makes a 100 TB
    * embedding corpus scannable per query batch).
    *
    * `save` persists both through the store layer; codes are indexed by
    * id so re-rank joins hit a range-partitioned sorted table. */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
                           m: Int, ksub: Int) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit = parallelWrites(Seq(
      () => c.write(s"${name}__codebooks", codebooks, indexCols = Seq("sub"),
        metadata = Map("pq_m" -> m, "pq_ksub" -> ksub),
        overwrite = overwrite),
      () => c.write(s"${name}__codes", codes, indexCols = Seq("nbr_id"),
        overwrite = overwrite)))
  }

  object PqIndex {
    def load(c: graft.store.Collection, name: String): PqIndex = {
      val cb = c.item(s"${name}__codebooks").data
      // shape params from sidecar metadata (zero Spark jobs on the hot
      // search path); codebook-scan agg only as legacy fallback
      val meta = c.metadata(s"${name}__codebooks")
      def intOf(key: String): Option[Int] = meta.get(key) match {
        case Some(org.json4s.JInt(i)) if i > 0 => Some(i.toInt)
        case _ => None
      }
      val (m, ksub) = (intOf("pq_m"), intOf("pq_ksub")) match {
        case (Some(a), Some(b)) => (a, b)
        case _ =>
          val r = cb.agg(max(col("sub")), max(col("code"))).head()
          (r.getInt(0) + 1, r.getInt(1) + 1)
      }
      PqIndex(cb, c.item(s"${name}__codes").data, m, ksub)
    }
  }

  /** L2-normalize an array column (zero vectors stay zero). */
  private def normalized(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.expressions.dot_product
    val nrm = sqrt(dot_product(vec, vec))
    transform(vec, x => when(nrm === 0.0, 0.0).otherwise(x.cast("double") / nrm))
  }

  /** (id, sub, subvector) points: each vector split into m contiguous
    * dsub-wide slices, L2-normalized first unless `normalize = false`
    * (residual vectors must NOT be renormalized — the q·x = q·c + q·r
    * decomposition is linear in r). */
  private def subPoints(df: DataFrame, m: Int, dsub: Int,
                        vecCol: String, idCol: String,
                        normalize: Boolean = true): DataFrame = {
    val v = if (normalize) normalized(col(vecCol))
            else col(vecCol).cast("array<double>")
    df.select(col(idCol).cast("long").as("pid"), v.as("nv"))
      .select(col("pid"), col("nv"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("nv"), s * dsub + 1, lit(dsub)))).as(Seq("sub", "sv")))
  }

  /** Driver-local PQ codebook state: rows (sub, code, centroid) plus
    * the effective code count — m·ksub rows of dsub doubles, broadcast-
    * sized by definition (the old plan broadcast-joined exactly this
    * table every iteration). */
  private[operators] final case class PqFit(cb: Seq[(Int, Int, Seq[Double])],
                                            m: Int, kEff: Int, dsub: Int) {
    /** cb grouped per sub (ordered 0..m−1), each entry carrying its
      * precomputed ‖c‖² (sequential driver sum — the same index-order
      * double accumulation DotProduct's codegen performs). */
    lazy val bySub: Seq[Seq[(Int, Seq[Double], Double)]] = {
      val grouped = cb.groupBy(_._1)
      (0 until m).map(s => grouped.getOrElse(s, Nil).sortBy(_._2)
        .map { case (_, code, cv) =>
          var c2 = 0.0; var i = 0
          while (i < cv.length) { c2 += cv(i) * cv(i); i += 1 }
          (code, cv, c2)
        })
    }
  }

  /** Per-subvector nearest-code struct (score, -code, code) against a
    * literal per-sub codebook — argmin ‖s−c‖² via the dot identity
    * argmax (2·s·c − ‖c‖²), ‖c‖² precomputed on the driver. `cands` is
    * one sub's codebook entries (code, cv, c2). */
  private def nearestCodeExpr(sv: Column,
                              cands: Column): Column = {
    import graft.functions.expressions.dot_product
    array_max(transform(cands, c => struct(
      (lit(2.0) * dot_product(sv, c.getField("_2")) - c.getField("_3")).as("s"),
      (-c.getField("_1")).as("n"),
      c.getField("_1").as("c")))).getField("c")
  }

  /** PQ-encode a vector column in ONE expression: the m sub-slices and
    * their nearest codes, all codegen — no explode, no join, no
    * shuffle (the old encode exploded rows ×m, broadcast-joined the
    * codebooks ×ksub, shuffled a groupBy(pid, sub) AND a groupBy(pid)
    * AND re-joined the corpus — three exchanges for a per-row
    * decision; guide §2.4). `nv` must already be the normalized (or
    * residual) vector expression. */
  private def pqCodesExpr(nv: Column, fit: PqFit): Column = {
    val cbLit = typedLit(fit.bySub)
    val svArr = transform(sequence(lit(0), lit(fit.m - 1)),
      s => slice(nv, s * fit.dsub + 1, lit(fit.dsub)))
    zip_with(svArr, cbLit, (sv, cands) => nearestCodeExpr(sv, cands))
  }

  /** Fit per-subspace k-means codebooks (Lloyd) — all m subspaces
    * trained in ONE aggregation per iteration. Assignment is a per-row
    * argmax expression against the literal codebooks (no ×ksub join
    * explosion, no per-iteration shuffle of the sub-points); the only
    * shuffle per iteration is the map-side-combined
    * (sub, code, pos) mean aggregation. Seeds (first ksub vectors by
    * id) are collected ONCE and sliced/normalized on the driver with
    * the same index-order double arithmetic the kernels generate. */
  private[operators] def fitPq(corpus: DataFrame,
                               m: Int,
                               ksub: Int,
                               iters: Int,
                               vecCol: String,
                               idCol: String,
                               sampleFraction: Double,
                               normalizeInput: Boolean): PqFit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // one bounded collect serves dim + seed ids + seed codebooks (the
    // old path paid a dim head(), a seed-id collect AND a full
    // sub-point scan filtered to the seeds)
    val seedRows = corpus.orderBy(col(idCol))
      .select(col(idCol).cast("long"), col(vecCol)).limit(ksub).collect().toSeq
      .map(r => (r.getLong(0), toDoubles(r.getSeq[Any](1))))
    val dim = seedRows.headOption.map(_._2.length)
      .getOrElse(throw new NoSuchElementException(
        "buildPqIndex: empty corpus — nothing to fit"))
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    def norm(v: Seq[Double]): Seq[Double] = {
      if (!normalizeInput) return v
      var na = 0.0; var i = 0
      while (i < v.length) { na += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(na)
      if (nrm == 0.0) v.map(_ => 0.0) else v.map(_ / nrm)
    }
    val kEff = seedRows.size
    val codeOf = seedRows.map(_._1).sorted.zipWithIndex.toMap
    var fit = PqFit(
      for ((id, v) <- seedRows; nv = norm(v); s <- 0 until m)
        yield (s, codeOf(id), nv.slice(s * dsub, (s + 1) * dsub)),
      m, kEff, dsub)
    if (iters > 0) {
      val allPts = subPoints(corpus, m, dsub, vecCol, idCol, normalizeInput)
      val pts = (if (sampleFraction < 1.0) {
        val ids = corpus.select(col(idCol).cast("long").as("pid"))
          .sample(sampleFraction, 42)
        allPts.join(ids, Seq("pid"), "left_semi")
      } else allPts).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      for (_ <- 0 until iters) {
        val cands = element_at(typedLit(fit.bySub), col("sub") + 1)
        // one exchange: per-position avg columns on the (sub, code)
        // group (no posexplode row blow-up, no second aggregation)
        val means = (0 until dsub).map(i =>
          round(avg(element_at(col("sv"), i + 1)), 6).as(s"c$i"))
        val updated = pts
          .select(col("sub"), nearestCodeExpr(col("sv"), cands).as("code"), col("sv"))
          .groupBy(col("sub"), col("code"))
          .agg(means.head, means.tail: _*)
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            ((0 until dsub).map(i => r.getDouble(i + 2)): Seq[Double])).toMap
        // EMPTY CLUSTERS KEEP THEIR PREVIOUS CENTROID. Rebuilding the
        // codebook from the assignment groupBy alone would silently
        // drop any (sub, code) that won zero points — and the
        // flattened ADC lookup table indexes by lut[sub·ksub + code],
        // so a missing middle code would shift every later entry left
        // and corrupt all downstream ADC scores (plus desync kEff from
        // load's max(code)+1 derivation).
        fit = fit.copy(cb = fit.cb.map { case (s, c, v) =>
          (s, c, updated.getOrElse((s, c), v)) })
      }
      pts.unpersist(blocking = false)
    }
    fit
  }

  /** Fit per-subspace k-means codebooks and PQ-encode the corpus. The
    * fit's per-iteration assignment and the final corpus encode are
    * per-row argmax expressions against the driver-held codebooks
    * (broadcast-sized by definition): the encode is a single NARROW
    * map over the corpus — zero joins, zero shuffles, at any corpus
    * size. The RAW vector rides along for exact re-rank (raw, not
    * normalized: cosine on the original values keeps the re-rank
    * arithmetic bit-identical to bruteForceTopK / the DuckDB oracle
    * formula). At 100 TB: fit on `sampleFraction`, encode the full
    * corpus once, search forever. */
  def buildPqIndex(corpus: DataFrame,
                   m: Int = 8,
                   ksub: Int = 16,
                   iters: Int = 3,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id",
                   sampleFraction: Double = 1.0,
                   normalizeInput: Boolean = true): PqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fit = fitPq(corpus, m, ksub, iters, vecCol, idCol, sampleFraction,
      normalizeInput)
    val nv = if (normalizeInput) normalized(col(vecCol))
             else col(vecCol).cast("array<double>")
    val codes = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("nbr_id"),
        pqCodesExpr(nv, fit).as("codes"),
        col(vecCol).cast("array<double>").as("cv"))
    PqIndex(fit.cb.toDF("sub", "code", "cv"), codes, m, fit.kEff)
  }

  /** Per-query flattened ADC lookup table: lut[sub·ksub + code] =
    * dot(query subvector, codebook centroid). |queries| rows of m·ksub
    * doubles — broadcast-sized. The codebooks are broadcast-sized by
    * contract, so the table is ONE narrow map over the queries (per-sub
    * slice + per-code dot against the codebook literal, flattened in
    * (sub, code) order — the exact layout the old sorted collect_list
    * produced) with the RAW query vector riding along for the exact
    * re-rank: no explode, no join, no aggregation shuffle, and no
    * dsub-probe job. */
  private def pqLuts(codebooks: DataFrame, m: Int, queries: DataFrame,
                     vecCol: String, idCol: String): DataFrame = {
    import graft.functions.expressions.dot_product
    val cbRows = codebooks.select(col("sub"), col("code"), col("cv"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), toDoubles(r.getSeq[Any](2))))
    val dsub = cbRows.headOption.map(_._3.length).getOrElse(0)
    val fit = PqFit(cbRows, m, cbRows.map(_._2).distinct.size, dsub)
    val nv = normalized(col(vecCol))
    val svArr = transform(sequence(lit(0), lit(m - 1)),
      s => slice(nv, s * dsub + 1, lit(dsub)))
    val lut = flatten(zip_with(svArr, typedLit(fit.bySub), (sv, cands) =>
      transform(cands, c => dot_product(sv, c.getField("_2")))))
    queries.select(col(idCol).cast("long").as("query_id"),
      lut.as("lut"),
      col(vecCol).cast("array<double>").as("qv"))
  }

  /** Re-rank depth sized from the codes table's plan statistics:
    * rerank ≈ rows/8, clamped to [128, 4096]. On GAPLESS data (uniform-
    * random vectors, neighbor cos ≈ background cos) the number of
    * distractors whose ADC error lifts them above a true neighbor grows
    * linearly with corpus size, so a fixed depth silently loses recall
    * as the corpus grows — the same honesty argument as `sizedBits`.
    * On gapped corpora (real embeddings, near-dup retrieval) ADC error
    * (σ ≈ quantization noise) cannot bridge the similarity gap and the
    * clamp cap is safe: at 100 TB the depth stays bounded while recall
    * holds on the regime PQ is actually used for. */
  def sizedRerank(codes: DataFrame,
                  bytesPerRow: Long = 300L,
                  minR: Int = 128,
                  maxR: Int = 4096): Int = {
    val rows = graft.store.Partitioner.estimatedBytes(codes) /
      math.max(1L, bytesPerRow)
    math.min(maxR, math.max(minR, (rows / 8L).toInt))
  }

  /** PQ search: ADC scan over the codes table (one lookup-sum per
    * corpus vector — `PqAdc` static-call codegen), keep the top
    * `rerank` candidates per query by approximate score, then exact
    * cosine re-rank of just those. The scan never deserializes corpus
    * vectors; only `rerank` rows per query do. `rerank = 0` (default)
    * sizes the depth from plan statistics via `sizedRerank`. */
  def pqSearch(index: PqIndex,
               queries: DataFrame,
               k: Int,
               rerank: Int = 0,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    import graft.functions.expressions.cosine_sim
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val luts = pqLuts(index.codebooks, index.m, queries, vecCol, idCol)
    val depth = if (rerank > 0) rerank else sizedRerank(index.codes)
    val adc = column(graft.functions.expressions.PqAdc(
      expression(col("codes")), expression(col("lut")), index.ksub))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("nbr_id"))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    index.codes.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= depth)
      .withColumn("cos", round(cosine_sim(col("cv"), col("qv")), 9))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  // -------------------------------------------------- composed IVF-PQ

  /** IVF-PQ: the coarse quantizer restricts each query to its `nprobe`
    * lists, and WITHIN the probed lists the scan reads only PQ codes
    * (ADC lookup-sums) — vectors deserialize solely for the exact
    * re-rank of the top-ADC candidates. This is the composition large
    * ANN deployments actually run: query cost ≈
    * (nprobe/nlist) · corpus · (one lookup-sum per row) + rerank exact
    * distances. Codes are stored cid-indexed, so a store-persisted
    * index prunes parquet row groups to the probed lists before the
    * scan even starts (same pushdown as `ivfSearch`).
    *
    * This variant encodes RAW vectors (IVF restricts, PQ compresses —
    * independent codebooks); FAISS-style residual encoding (PQ over
    * v − centroid[cid], tighter codes at the same m·ksub) is the
    * refinement and would slot into `buildIvfPqIndex` without changing
    * the search plan. */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                              codes: DataFrame, m: Int, ksub: Int,
                              residual: Boolean = false,
                              nlist: Int = 0) {
    def save(c: graft.store.Collection, name: String,
             overwrite: Boolean = true): Unit = parallelWrites(Seq(
      () => c.write(s"${name}__centroids", centroids, indexCols = Seq("cid"),
        overwrite = overwrite),
      () => c.write(s"${name}__codebooks", codebooks, indexCols = Seq("sub"),
        metadata = Map("pq_m" -> m, "pq_ksub" -> ksub, "pq_residual" -> residual,
          "ivf_nlist" -> nlist),
        overwrite = overwrite),
      () => c.write(s"${name}__codes", codes, indexCols = Seq("cid"),
        overwrite = overwrite)))
  }

  object IvfPqIndex {
    def load(c: graft.store.Collection, name: String): IvfPqIndex = {
      val cb = c.item(s"${name}__codebooks").data
      val meta = c.metadata(s"${name}__codebooks")
      def intOf(key: String): Option[Int] = meta.get(key) match {
        case Some(org.json4s.JInt(i)) if i > 0 => Some(i.toInt)
        case _ => None
      }
      // shape params come from the sidecar metadata (zero Spark jobs on
      // the hot search path); the codebook-scan agg is only a fallback
      // for indexes persisted before the metadata carried them
      val (m, ksub) = (intOf("pq_m"), intOf("pq_ksub")) match {
        case (Some(a), Some(b)) => (a, b)
        case _ =>
          val r = cb.agg(max(col("sub")), max(col("code"))).head()
          (r.getInt(0) + 1, r.getInt(1) + 1)
      }
      val residual = meta.get("pq_residual")
        .exists { case org.json4s.JBool(b) => b; case _ => false }
      IvfPqIndex(c.item(s"${name}__centroids").data, cb,
        c.item(s"${name}__codes").data, m, ksub, residual,
        intOf("ivf_nlist").getOrElse(0))
    }
  }

  /** Fit both quantizers over the corpus and tag every PQ code row with
    * its coarse list id.
    *
    * `residual = true` is the FAISS-style refinement: PQ codebooks are
    * fit on r = x̂ − c (the normalized vector minus its coarse
    * centroid) instead of on x̂ itself. Residuals concentrate near the
    * origin — much less variance than raw vectors — so the same m·ksub
    * code budget quantizes tighter. The decomposition is exact and
    * linear: q̂·x̂ = q̂·c + q̂·r, so search just adds the per-(query,
    * probed-list) q̂·c term to the residual ADC sum; residuals are
    * never renormalized. */
  def buildIvfPqIndex(corpus: DataFrame,
                      nlist: Int = 16,
                      kmeansIters: Int = 3,
                      m: Int = 8,
                      ksub: Int = 64,
                      pqIters: Int = 3,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      sampleFraction: Double = 1.0,
                      residual: Boolean = false,
                      coarse: Option[IvfIndex] = None): IvfPqIndex = {
    // `coarse` REUSES an already-fit coarse quantizer (e.g. the one an
    // IVF index of the same corpus persisted) instead of refitting
    // k-means — the production composition: one coarse quantizer
    // serves both the plain-IVF and the IVF-PQ index, and at 100 TB
    // nobody fits it twice. The caller owns parameter consistency
    // (the reused index's nlist wins over the `nlist` argument).
    val spark = corpus.sparkSession
    import spark.implicits._
    val ivf = coarse.getOrElse(
      buildIvfIndex(corpus, nlist, kmeansIters, sampleFraction, vecCol, idCol))
    // the quantizer is broadcast-sized by contract: hold it locally so
    // the per-row list assignment (and the residual subtraction) are
    // expressions — the codes table is ONE narrow map over the corpus,
    // with zero joins and zero shuffles (the old plan joined the PQ
    // encode back to the assignment — a full-corpus exchange pair)
    val local = collectCents(ivf.centroids)
    val assigned = assignToCentroidsLocal(corpus, local, vecCol, idCol)
    if (!residual) {
      val fit = fitPq(corpus, m, ksub, pqIters, vecCol, idCol, sampleFraction,
        normalizeInput = true)
      val codes = assigned.filter(col("cv").isNotNull)
        .select(col("cid"), col("nbr_id"),
          pqCodesExpr(normalized(col("cv")), fit).as("codes"),
          col("cv").cast("array<double>").as("cv"))
      IvfPqIndex(ivf.centroids, fit.cb.toDF("sub", "code", "cv"), codes,
        fit.m, fit.kEff, nlist = nlist)
    } else {
      // residual table: one row per vector, rv = normalized(cv) − centroid
      // (centroid looked up per row from the literal quantizer map;
      // size-guarded: an oversized quantizer joins instead)
      val withCent =
        if (litFits(local))
          assigned.withColumn("__cent",
            element_at(typedLit(local.toMap), col("cid")))
        else assigned.join(broadcast(centsDF(local, spark)), Seq("cid"))
          .withColumnRenamed("centroid", "__cent")
      val residuals = withCent
        .select(col("nbr_id"), col("cid"), col("cv"),
          zip_with(normalized(col("cv")), col("__cent"),
            (a, b) => a - b).as("rv"))
      val fit = fitPq(residuals, m, ksub, pqIters,
        vecCol = "rv", idCol = "nbr_id", sampleFraction = sampleFraction,
        normalizeInput = false)
      // re-rank needs the ORIGINAL vector, not the residual
      val codes = residuals.filter(col("rv").isNotNull)
        .select(col("cid"), col("nbr_id"),
          pqCodesExpr(col("rv"), fit).as("codes"), col("cv"))
      IvfPqIndex(ivf.centroids, fit.cb.toDF("sub", "code", "cv"), codes,
        fit.m, fit.kEff, residual = true, nlist = nlist)
    }
  }

  /** Incrementally add vectors to a PERSISTED IVF-PQ index — the FAISS
    * `add()` contract for the composed index: coarse quantizer AND PQ
    * codebooks stay FROZEN; new vectors are assigned to their nearest
    * list, PQ-encoded with the existing codebooks (residual-aware:
    * codes over x̂ − c when the index was built residual), and APPENDED
    * to the cid-indexed codes item. O(new vectors) — no refit, no
    * rewrite of existing lists. Same id contract as `appendToIvfIndex`. */
  def appendToIvfPqIndex(newVectors: DataFrame,
                         c: graft.store.Collection,
                         name: String,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): IvfPqIndex = {
    val idx = IvfPqIndex.load(c, name)
    // both frozen quantizers are broadcast-sized by contract: collect
    // once, encode the batch as ONE narrow map (list id + residual +
    // PQ codes per row) — no joins, no shuffles, O(new vectors)
    val local = collectCents(idx.centroids)
    val cbRows = idx.codebooks.select(col("sub"), col("code"), col("cv"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), toDoubles(r.getSeq[Any](2))))
    val dsub = cbRows.headOption.map(_._3.length).getOrElse(0)
    val fit = PqFit(cbRows, idx.m, idx.ksub, dsub)
    val assigned = assignToCentroidsLocal(newVectors, local, vecCol, idCol)
    val codes =
      if (idx.residual) {
        // size-guarded centroid lookup, same as buildIvfPqIndex
        val withCent =
          if (litFits(local))
            assigned.withColumn("__cent",
              element_at(typedLit(local.toMap), col("cid")))
          else assigned.join(broadcast(centsDF(local, newVectors.sparkSession)),
            Seq("cid")).withColumnRenamed("centroid", "__cent")
        withCent.filter(col("cv").isNotNull)
          .select(col("cid"), col("nbr_id"),
            pqCodesExpr(zip_with(normalized(col("cv")),
              col("__cent"), (a, b) => a - b), fit).as("codes"),
            col("cv"))
      } else assigned.filter(col("cv").isNotNull)
        .select(col("cid"), col("nbr_id"),
          pqCodesExpr(normalized(col("cv")), fit).as("codes"),
          col("cv").cast("array<double>").as("cv"))
    c.append(s"${name}__codes", codes, graft.store.DuplicateHandling.KeepAll)
    IvfPqIndex.load(c, name)
  }

  /** Search the composed index: coarse-probe (localized, bounded probe
    * table — same pattern as `ivfSearch`), IN-filter the codes table to
    * the probed lists, ADC-scan those lists only, exact re-rank of the
    * per-query top-`rerank`. */
  def ivfPqSearch(index: IvfPqIndex,
                  queries: DataFrame,
                  k: Int,
                  nprobe: Int = 8,
                  rerank: Int = 0,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    import graft.functions.expressions.{cosine_sim, dot_product}
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    // qc = q̂·c rides along for the residual decomposition (ignored by
    // the raw-code variant). Same literal-quantizer per-row top-nprobe
    // as ivfSearch — no cross join, no window shuffle; (−ccos, cid)
    // struct sort = the old (ccos desc, cid asc) ranking.
    val localOpt =
      if (graft.store.Partitioner.estimatedBytes(index.centroids) > litBytesCeiling) None
      else Some(collectCents(index.centroids)).filter(litFits)
    val probeRows = (localOpt match {
      case Some(local) =>
        val scored = transform(typedLit(local), c => struct(
          (-cosine_sim(col("qv"), c.getField("_2"))).as("n"),
          c.getField("_1").as("cid"),
          dot_product(normalized(col("qv")), c.getField("_2")).as("qc")))
        q.select(col("query_id"),
            explode(slice(array_sort(scored), 1, nprobe)).as("p"))
          .select(col("query_id"), col("p.cid").as("cid"), col("p.qc").as("qc"))
      case None =>
        // size-guarded fallback: broadcast-join + window (same ranking)
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("ccos").desc, col("cid"))
        q.crossJoin(broadcast(index.centroids))
          .withColumn("ccos", cosine_sim(col("qv"), col("centroid")))
          .withColumn("qc", dot_product(normalized(col("qv")), col("centroid")))
          .withColumn("crank", row_number().over(wProbe))
          .filter(col("crank") <= nprobe)
          .select(col("query_id"), col("cid"), col("qc"))
    }).collect()
    val probedCids = probeRows.map(_.getLong(1)).distinct.toSeq
    val probePairs = probeRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("query_id", "cid", "qc")

    val luts = pqLuts(index.codebooks, index.m, queries, vecCol, idCol)
    // scan only probed lists; each query joins only ITS lists
    val lists = index.codes.filter(col("cid").isin(probedCids: _*))
    val depth = if (rerank > 0) rerank
      else {
        // sizing only runs on the auto path — an explicit rerank skips
        // it; nlist comes from index metadata when available (zero
        // jobs), falling back to a centroid count for legacy indexes
        val nlist = if (index.nlist > 0) index.nlist
                    else index.centroids.count().toInt
        math.max(128, sizedRerank(index.codes) * math.min(nprobe, nlist) / math.max(nlist, 1))
      }
    val rawAdc = column(graft.functions.expressions.PqAdc(
      expression(col("codes")), expression(col("lut")), index.ksub))
    // residual codes estimate q̂·r; adding the exact q̂·c restores q̂·x̂
    val adc = if (index.residual) col("qc") + rawAdc else rawAdc
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("nbr_id"))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    lists.join(broadcast(probePairs), Seq("cid"))
      .join(broadcast(luts), Seq("query_id"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= depth)
      .withColumn("cos", round(cosine_sim(col("cv"), col("qv")), 9))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  /** Multi-band hyperplane-LSH top-k: `bands` independent signature
    * tables of `bits` bits each (OR-amplification — a neighbor is a
    * candidate if it collides with the query in ANY band), exact cosine
    * ranking within the candidate set. Recall is tunable:
    * P(miss a neighbor at angle θ) = (1 − (1 − θ/π)^bits)^bands.
    *
    * Scale shape: the banded corpus signature table is computed once
    * (persist it alongside the corpus and this is a pure equi-join per
    * query batch); candidates ship as skinny (query, nbr) ids and only
    * the candidate set pays the exact-cosine rank. Bigger corpora want
    * more bits (smaller buckets), more bands buy recall linearly in
    * cost. `bits = 0` (the default) derives the width from corpus plan
    * statistics via `sizedBits` — fixed constants would either blow the
    * bucket size at scale or degenerate banding to brute force. */
  def lshTopK(corpus: DataFrame,
              queries: DataFrame,
              k: Int,
              bits: Int = 0,
              bands: Int = 8,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    import graft.functions.expressions.{cosine_sim, hyperplane_bands}
    val sizedB = if (bits > 0) bits else sizedBits(corpus)
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val cb = c.select(col("nbr_id"),
      posexplode(hyperplane_bands(col("cv"), sizedB, bands)).as(Seq("band", "sig")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qb = q.select(col("query_id"),
      posexplode(hyperplane_bands(col("qv"), sizedB, bands)).as(Seq("band", "sig")))
    val cand = cb.join(broadcast(qb), Seq("band", "sig"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"))
      .distinct()
    val scored = cand
      .join(c, Seq("nbr_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(cosine_sim(col("cv"), col("qv")), 9))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }
}
