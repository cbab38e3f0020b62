package graft.store

import java.time.ZoneId

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{DataType, StructType, TimestampType}
import org.json4s.{JString, JValue}

/** The read planner behind both front doors — `Item.data` and the V2
  * source's scans (`spark.read.format("graft")`, SQL, DPP, COW group
  * scans, streaming, CDC). It decides in ONE place which parquet roots
  * a read opens:
  *
  *  1. '''target''' — [[resolve]] maps (item, snapshot) to the live
  *     item, a directory snapshot, a manifest flat pin (live or retained
  *     generation dir) or a manifest period pin (one dir per pinned
  *     period), with the sidecar that governs the read;
  *  2. '''periods''' — [[keptPeriods]] keeps the periods a conjunctive
  *     predicate list can touch ([[Collection.candidatePeriods]]: index
  *     interval with strict-bound tightening, IN-lists, `_period_stats`
  *     on covered non-index columns). Period keys are derived in the
  *     writer's recorded zone, so a session running another zone
  *     prunes only on instant bounds of an instant index (see
  *     [[zoneFree]]): a wall-clock bound mapped in the wrong zone
  *     could drop a true boundary period;
  *  3. '''files''' — [[scanRoots]] narrows the kept dirs to part files
  *     through the skip indexes ([[SkipIndexes]]: bloom equality,
  *     zonemap ranges).
  *
  * Every step only ever over-approximates — a shape it cannot bound
  * keeps the period or file — so callers still apply the row filter.
  * Period pruning is PATH SELECTION: pruned periods are never listed.
  */
private[graft] object ReadRoots {

  private val PeriodPrefix = Collection.MonthCol + "="

  /** Where a read's parquet roots come from:
    *  - [[LiveDirs]] — an item-shaped dir's `data/` (live item, dir
    *    snapshot, retained flat generation); time layouts list and
    *    prune its period subdirs;
    *  - [[PinnedPeriods]] — a FIXED (period → parquet dir) set mixing
    *    live and retained generation dirs (manifest pins, CDC deltas),
    *    pruned by period key exactly like live dirs. */
  sealed trait RootSource
  final case class LiveDirs(dataDir: SPath) extends RootSource
  final case class PinnedPeriods(pairs: Seq[(String, SPath)]) extends RootSource

  /** A resolved read. `itemPath` is the live item root (the skip-index
    * sidecars live there), `dir` the item dir the read resolves to (the
    * live root for a period pin), and `meta` the sidecar governing the
    * read — the dir's own or the one frozen in the manifest — read once,
    * on first use. `pinned` reads (snapshots, CDC) are immutable. */
  final class Target(spark: SparkSession, val itemPath: SPath, val dir: SPath,
                     val roots: RootSource, val pinned: Boolean,
                     readMeta: => Map[String, JValue]) {
    lazy val meta: Map[String, JValue] = readMeta

    lazy val layout: Option[String] = meta.get("_layout").map(j => Meta.unjv(j).toString)
      .filter(Collection.TimeLayouts.contains)

    /** Index column names recorded at write (default Seq("index")). */
    lazy val indexCols: Seq[String] = meta.get("index_names").map(Meta.unjv) match {
      case Some(xs: Seq[_]) if xs.nonEmpty => xs.map(_.toString)
      case _ => Seq(Collection.DefaultIndex)
    }

    /** Zone the period keys were derived in (sidecar `_layout_tz`);
      * items written before the zone was recorded fall back to the
      * session's. */
    lazy val layoutTz: ZoneId = ZoneId.of(
      meta.get("_layout_tz").map(j => Meta.unjv(j).toString)
        .getOrElse(spark.sessionState.conf.sessionLocalTimeZone))

    /** The sidecar's ENCODED schema (what the part-files hold), every
      * column nullable like a parquet read; None on legacy sidecars. */
    lazy val encoded: Option[StructType] = meta.get("schema_json_encoded").collect {
      case JString(sj) => Item.asNullable(DataType.fromJson(sj)).asInstanceOf[StructType]
    }

    lazy val periodStats: Map[String, Map[String, (Any, Any)]] = Collection.periodStatsOf(meta)

    /** Every period of the read, sorted (None: a flat item) — one LIST
      * of a live data dir, or the pin's period names. */
    def periods: Option[Seq[String]] = layout.map { _ =>
      roots match {
        case LiveDirs(d) =>
          d.listDirs.filter(_.startsWith(PeriodPrefix)).map(_.stripPrefix(PeriodPrefix)).sorted
        case PinnedPeriods(pairs) => pairs.map(_._1)
      }
    }

    /** Whether the read resolves (any of) the LIVE item's directories:
      * such a read can race a concurrent commit's swap; one resolved
      * to a physical snapshot dir or to retained dirs is immutable. */
    def touchesLiveDir: Boolean = roots match {
      case LiveDirs(_)          => dir.raw == itemPath.raw
      case PinnedPeriods(pairs) => pairs.exists(_._2.raw.startsWith(itemPath.raw + "/"))
    }
  }

  /** Resolve `itemPath` (a live item root), optionally inside snapshot
    * `snap`: a directory snapshot serves its physical item dir; a
    * manifest pins a flat item to the live dir (generation unchanged)
    * or a retained generation dir, and a time-layout item to one dir
    * per pinned period (live or retained per period). */
  def resolve(spark: SparkSession, itemPath: SPath, snapshot: Option[String]): Target = {
    def dirTarget(dir: SPath, pinned: Boolean, meta: => Map[String, JValue]) =
      new Target(spark, itemPath, dir, LiveDirs(dir.resolve(Item.DataDir)), pinned, meta)
    snapshot match {
      case None => dirTarget(itemPath, pinned = false, Meta.read(itemPath))
      case Some(snap) =>
        Snapshots.requireUserSnapshotName(snap)
        val collectionPath = itemPath.parent
        val name = itemPath.name
        val snapDir = collectionPath.resolve(GraftStore.SnapshotsDir).resolve(snap)
        if (!snapDir.isDir && !Snapshots.manifestExists(collectionPath, snap))
          throw new SnapshotNotFoundError(s"snapshot '$snap' does not exist")
        val dirItem = snapDir.resolve(name)
        if (dirItem.isDir) dirTarget(dirItem, pinned = true, Meta.read(dirItem))
        else Snapshots.resolveManifestItem(collectionPath, snap, name) match {
          case Some(r: Snapshots.FlatResolved) => dirTarget(r.dir, pinned = true, r.sidecar)
          case Some(r: Snapshots.PeriodResolved) =>
            r.periodDirs.find(!_._2.isDir).foreach { case (period, d) =>
              throw new StorageError(s"snapshot period '$period' of item '$name' missing at $d")
            }
            new Target(spark, itemPath, itemPath, PinnedPeriods(r.periodDirs), pinned = true,
              r.sidecar)
          case None =>
            throw new ItemNotFoundError(s"item '$name' not found in snapshot '$snap'")
        }
    }
  }

  /** `all` narrowed to the periods `preds` can touch, sorted, under the
    * zone rule above. `stats` is the target's `_period_stats`, or fresh
    * ones for the streaming source. */
  def prunePeriods(spark: SparkSession, t: Target, all: Seq[String],
                   preds: Seq[Filters.Pred],
                   stats: Map[String, Map[String, (Any, Any)]]): Seq[String] = {
    val sessionTz = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val sound = if (t.layoutTz == sessionTz) preds else preds.filter(zoneFree(t, _))
    Collection.candidatePeriods(all, conjunction(sound), t.indexCols.head, t.layout.get,
      t.layoutTz, stats)
  }

  /** Whether `p` prunes soundly in a session whose zone differs from
    * the recorded one: only an instant bound (Timestamp / Instant) on
    * an instant (TimestampType) index — both the row filter and the
    * period key read it zone-free. A wall-clock bound (Date,
    * LocalDateTime) is read by the row filter at the SESSION zone, an
    * NTZ index compares against instants through the session zone, and
    * `_period_stats` were recorded in the writer's zone. */
  private def zoneFree(t: Target, p: Filters.Pred): Boolean = {
    def instant(v: Any) = v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]
    val idx = t.indexCols.head
    p.column.equalsIgnoreCase(idx) &&
      t.encoded.exists(_.fields.exists(f => f.name.equalsIgnoreCase(idx) && f.dataType == TimestampType)) &&
      (p.value match {
        case vs: Iterable[_] => vs.nonEmpty && vs.forall(instant)
        case v               => instant(v)
      })
  }

  /** Kept period names under `preds`; None = flat item (nothing to prune). */
  def keptPeriods(spark: SparkSession, t: Target,
                  preds: Seq[Filters.Pred]): Option[Seq[String]] =
    t.periods.map(prunePeriods(spark, t, _, preds, t.periodStats))

  /** Parquet dir roots of a kept-period set (None = the flat root or,
    * for a pin, every pinned dir). */
  def dirRoots(t: Target, kept: Option[Seq[String]]): Seq[String] = t.roots match {
    case LiveDirs(dataDir) =>
      kept.fold(Seq(dataDir.toString))(_.map(p => dataDir.resolve(PeriodPrefix + p).toString))
    case PinnedPeriods(pairs) => kept match {
      case None => pairs.map(_._2.toString)
      case Some(ps) =>
        val byPeriod = pairs.toMap
        ps.flatMap(byPeriod.get).map(_.toString)
    }
  }

  /** The roots a filtered read scans: the kept period dirs under
    * `preds ++ runtime`, narrowed to part files by the skip indexes on
    * `preds` when `schema` (the stored types the literals coerce to) is
    * known. `runtime` (DPP filters) prunes periods only. */
  def scanRoots(spark: SparkSession, t: Target, preds: Seq[Filters.Pred],
                schema: Option[StructType],
                runtime: Seq[Filters.Pred] = Nil): Seq[String] = {
    val dirs = dirRoots(t, keptPeriods(spark, t, preds ++ runtime))
    schema.flatMap(narrowed(t, dirs, preds, _)).getOrElse(dirs)
  }

  /** Skip-index narrowing of dir roots to part files; None = the dirs
    * stand (no index on the predicate columns, stale generation,
    * uncoercible literal, or no shrink). Validity key: the governing
    * sidecar's generation — an index recorded at exactly it describes
    * exactly these files (retention renames whole dirs and hardlink
    * snapshots keep names). Sidecars resolve from the pinned dir's own
    * root first (a hardlink snapshot carries the sidecars of its cut),
    * then the live root. */
  private def narrowed(t: Target, dirs: Seq[String], preds: Seq[Filters.Pred],
                       schema: StructType): Option[Seq[String]] = {
    if (dirs.isEmpty || preds.isEmpty) return None
    val ownRoot = t.roots match {
      case LiveDirs(_) if t.dir.raw != t.itemPath.raw => Seq(t.dir)
      case _ => Nil
    }
    val sidecarRoots = ownRoot :+ t.itemPath
    // one LIST per sidecar root before any sidecar READ: almost every
    // item has no skip index, and this runs on every filtered read
    if (!SkipIndexes.anyIndexed(sidecarRoots, preds.map(_.column).distinct)) return None
    val gen = Snapshots.generationOf(t.meta)
    t.roots match {
      case LiveDirs(dataDir) =>
        val once = SkipIndexes.listOnce(dataDir)
        val keptDirs = dirs.map(_ + "/")
        sidecarRoots.iterator
          .map(SkipIndexes.prunedKeys(_, once, preds, schema, gen))
          .collectFirst { case Some(kept) => kept }
          .map(_.map(f => dataDir.resolve(f).toString).filter(f => keptDirs.exists(f.startsWith)))
      case PinnedPeriods(pairs) =>
        val keptDirs = dirs.toSet
        lazy val fileMap = SkipIndexes.pinnedFileMap(pairs.filter(p => keptDirs(p._2.toString)))
        SkipIndexes.prunedKeys(t.itemPath, () => fileMap.keys.toSeq, preds, schema, gen)
          .map(_.flatMap(fileMap.get))
    }
  }

  private def conjunction(preds: Seq[Filters.Pred]): Expression =
    preds.map(expressionOf).reduceOption(And).getOrElse(Literal.TrueLiteral)

  /** A predicate triple in the catalyst shape [[Collection.candidatePeriods]]
    * walks; an op or value it cannot bound is `true` (no constraint).
    * `Literal.create` types the external values (Timestamp / Instant /
    * LocalDateTime / Date / numbers / strings) the way the walker's
    * period and stats extraction expects. */
  private def expressionOf(p: Filters.Pred): Expression = {
    val a = UnresolvedAttribute(Seq(p.column))
    def lit(v: Any): Expression = Literal.create(v)
    try p.op match {
      case "==" | "=" => EqualTo(a, lit(p.value))
      case ">"        => GreaterThan(a, lit(p.value))
      case ">="       => GreaterThanOrEqual(a, lit(p.value))
      case "<"        => LessThan(a, lit(p.value))
      case "<="       => LessThanOrEqual(a, lit(p.value))
      case "in" => p.value match {
        case vs: Iterable[_] => In(a, vs.toSeq.map(lit))
        case v               => In(a, Seq(lit(v)))
      }
      case _ => Literal.TrueLiteral
    } catch { case scala.util.control.NonFatal(_) => Literal.TrueLiteral }
  }
}
