package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.json4s._

/** Shared front door for the two per-file skip indexes
  * ([[BloomIndex]] equality, [[FileStatsIndex]] range): one recursive
  * data-dir listing feeds BOTH pruners and their results intersect.
  * Listing once matters twice over — object stores charge per LIST at
  * item scale, and two independent listings racing a commit could
  * diverge, making the intersection narrower than either index alone
  * would justify (still safe with immutable unique file names, but a
  * single snapshot removes the question entirely).
  *
  * The listing is LAZY: it only happens after at least one pruner has
  * a usable (indexed, generation-current, coercible) predicate, so
  * the no-index fast path still costs a couple of stats and nothing
  * more.
  */
private[graft] object SkipIndexes {

  /** Live data files of an item, relative to `dataDir` (period dirs
    * kept; metadata/hidden entries dropped). */
  private[store] def listDataFiles(dataDir: SPath): Seq[String] =
    dataDir.fs.listFilesRecursively(dataDir.raw)
      .filterNot(f => f.split('/').exists(s =>
        (s.startsWith("_") && !s.startsWith(Collection.MonthCol + "=")) ||
          s.startsWith(".")))

  /** A memoized single listing both pruners share. Not thread-safe by
    * design — each query plans on one thread. */
  private final class ListOnce(dataDir: SPath) extends (() => Seq[String]) {
    private var listed: Seq[String] = _
    def apply(): Seq[String] = {
      if (listed == null) listed = listDataFiles(dataDir)
      listed
    }
  }

  /** A memoized single listing to share ACROSS prune attempts: a
    * pinned read ([[ReadRoots]]) tries two sidecar roots — the
    * snapshot's own hardlinked sidecars, then the live root at the
    * pinned generation — over the SAME data dir; one LIST must serve
    * both attempts or the fallback pays the exact double-listing cost
    * this object exists to avoid. */
  private[graft] def listOnce(dataDir: SPath): () => Seq[String] =
    new ListOnce(dataDir)

  /** One LIST per sidecar root answering "does ANY of `columns` carry
    * a skip index in either layout?" — the planning-hot-path precheck
    * before any sidecar/meta READ. Almost every item has no index, so
    * the common case must stay cheap: one listing of the (small —
    * sidecars + the data dir, never data files) item root replaces up
    * to three stat/HEAD calls per (column, root), which object stores
    * bill per call. An unlistable root contributes nothing. */
  private[graft] def anyIndexed(roots: Seq[SPath],
                                columns: Seq[String]): Boolean =
    columns.nonEmpty && roots.exists { r =>
      val names =
        try r.fs.listFiles(r.raw).toSet
        catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
      names.nonEmpty && columns.exists(c =>
        names.contains(BloomIndex.sidecarName(c)) ||
          names.contains(BloomIndex.manifestName(c)) ||
          names.contains(FileStatsIndex.sidecarName(c)))
    }

  /** Driver-side file pruning through both indexes over ONE candidate
    * key list — a data dir's [[listOnce]], or a time-travel read's file
    * set assembled from live + retained period dirs ([[pinnedFileMap]]),
    * keyed the way the index recorded them (`__month=<p>/<name>` /
    * `<name>`). Same contract as each pruner: None = no pruning applies
    * (or no shrink); Some(kept) = read exactly these keys. Validity key:
    * `generation` — only an index recorded at it is consulted. */
  private[graft] def prunedKeys(itemPath: SPath, allFiles: () => Seq[String],
                                preds: Seq[Filters.Pred],
                                encodedSchema: StructType,
                                generation: Long): Option[Seq[String]] = {
    // Zonemap first, and its kept list becomes the bloom's CANDIDATE
    // list: the result is the same intersection as pruning
    // independently (both predicates are per-file), but the bloom now
    // probes only zonemap-positive files — on a sharded bloom that
    // means loading only the shards those files touch (the "planning
    // rides the probe's selectivity" contract), and the zonemap's own
    // sidecar is tiny at any file count.
    val byStats = FileStatsIndex.prunedFiles(itemPath, preds, encodedSchema,
      allFiles, generation)
    val bloomCandidates: () => Seq[String] =
      () => byStats.getOrElse(allFiles())
    val byBloom =
      BloomIndex.prunedFiles(itemPath, preds, encodedSchema, bloomCandidates, generation)
    byBloom.orElse(byStats)
  }

  /** Candidate file map for a PINNED time-layout read: each kept
    * (period, dir) pair's files keyed the way the index recorded them
    * (`__month=<p>/<name>` — built from the PAIR's period name, because
    * a retained dir's on-disk path no longer carries the prefix) →
    * absolute path. */
  private[graft] def pinnedFileMap(keptPairs: Seq[(String, SPath)])
      : Map[String, String] =
    keptPairs.flatMap { case (p, d) =>
      d.fs.listFiles(d.raw)
        .filterNot(f => f.startsWith("_") || f.startsWith("."))
        .map(f => s"${Collection.MonthCol}=$p/$f" -> d.resolve(f).toString)
    }.toMap

  /** Period-granularity narrowing for `deleteWhere`'s discovery scan,
    * through both indexes over one listing: a period survives iff it
    * might hold a matching row under EVERY usable conjunct (bloom
    * equality/IN; zonemap comparison). None leaves discovery's own
    * pruning untouched. Each index lifts its own kept-FILE set to
    * periods and the period sets intersect — slightly coarser than a
    * per-file AND across the two indexes (a period can survive on
    * different files per index), which only ever KEEPS more periods:
    * safe for a delete's discovery, never under-deletes. */
  private[store] def candidateDeletePeriods(
      itemPath: SPath, dataDir: SPath,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      meta: Map[String, JValue],
      encodedSchema: StructType): Option[Set[String]] = {
    val once = new ListOnce(dataDir)
    val byBloom =
      BloomIndex.candidateDeletePeriods(itemPath, cond, meta, encodedSchema, once)
    val byStats =
      FileStatsIndex.candidateDeletePeriods(itemPath, cond, meta, encodedSchema, once)
    (byBloom, byStats) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b)             => a.orElse(b)
    }
  }

  /** Rebuild every sidecar present on an item from its own recorded
    * knobs, keyed to `generation` (the committed generation captured
    * by the caller UNDER its maintenance lock, after the rewrite's
    * publish). This is the re-arm hook for maintenance rewrites —
    * rebalance / z-order / convertLayout / full overwrite retire the
    * indexes by moving the generation; calling this afterwards brings
    * them back without the user re-specifying columns or sizing.
    * Columns no longer in the encoded schema drop their sidecar.
    * Returns the rebuilt column names (bloom ++ filestats). */
  private[store] def rebuildAll(spark: SparkSession, itemPath: SPath,
                                readEncoded: () => org.apache.spark.sql.DataFrame,
                                encodedSchema: StructType,
                                generation: Long): Seq[String] = {
    val bloomCols = BloomIndex.sidecarStates(itemPath)
    val statsCols = FileStatsIndex.sidecarStates(itemPath).map(_._1)
    val present = (c: String) => encodedSchema.fields.exists(_.name == c)

    val (bloomKeep, bloomDrop) = bloomCols.partition(s => present(s._1))
    val (statsKeep, statsDrop) = statsCols.partition(present)
    if (bloomDrop.nonEmpty)
      BloomIndex.dropSidecars(itemPath, bloomDrop.map(_._1))
    if (statsDrop.nonEmpty)
      FileStatsIndex.dropSidecars(itemPath, statsDrop)
    if (bloomKeep.isEmpty && statsKeep.isEmpty) return Nil

    lazy val raw = readEncoded()
    // group by ALL recorded sizing knobs, including the persisted
    // single-document ceiling — a user-forced layout (0 / MaxValue)
    // must survive the rebuild, not revert to the default
    val rebuiltBloom = bloomKeep
      .groupBy(s => (s._3, s._4,
        BloomIndex.recordedSingleDocMax(itemPath, s._1)))
      .toSeq.flatMap { case ((fpp, expected, singleDocMax), group) =>
        val cols = group.map(_._1)
        BloomIndex.buildAndWriteAll(raw, cols, fpp, expected,
          itemPath, generation, singleDocMax)
        cols
      }
    val rebuiltStats =
      if (statsKeep.isEmpty) Nil
      else {
        val stats = FileStatsIndex.buildStats(raw, statsKeep)
        statsKeep.foreach(c => FileStatsIndex.writeSidecar(
          itemPath, c, generation, stats.getOrElse(c, Map.empty)))
        statsKeep
      }
    (rebuiltBloom ++ rebuiltStats).sorted
  }
}
