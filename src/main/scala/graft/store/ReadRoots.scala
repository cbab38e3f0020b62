package graft.store

import java.time.{ZoneId, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampNTZType, TimestampType}
import org.json4s.{JString, JValue}

/** The read planner behind both front doors — `Item.data` and the V2
  * source's scans (`spark.read.format("graft")`, SQL, DPP, COW group
  * scans, streaming, CDC) — and behind the store's own
  * read-modify-writes (append, deleteWhere, expiry, the maintenance
  * rewrites, the period-stats refresh), each of which resolves its item
  * once and commits against that one sidecar read. It decides in ONE
  * place which parquet roots a read opens:
  *
  *  1. '''target''' — [[resolve]] maps (item, snapshot) to the live
  *     item, a directory snapshot, a manifest flat pin (live or retained
  *     generation dir) or a manifest period pin (one dir per pinned
  *     period), with the sidecar that governs the read;
  *  2. '''periods''' — [[keptPeriods]] keeps the periods a conjunctive
  *     predicate list can touch ([[Collection.candidatePeriods]]: index
  *     interval with strict-bound tightening, IN-lists, `_period_stats`
  *     on covered non-index columns). Index bounds are first mapped to
  *     the values the row filter compares against ([[rowBound]]), and
  *     period keys are derived in the writer's recorded zone, so a
  *     session running another zone prunes only on bounds of an
  *     instant index;
  *  3. '''files''' — [[scanRoots]] narrows the kept dirs to part files
  *     through the skip indexes ([[SkipIndexes]]: bloom equality,
  *     zonemap ranges).
  *
  * Predicates are [[Filters.Pred]] triples: the Item API's own, or
  * Spark source filters through [[predsOf]] (pushed V2 filters, and a
  * delete's analyzed condition through [[conditionPreds]]).
  *
  * Every step only ever over-approximates — a shape it cannot bound
  * keeps the period or file — so callers still apply the row filter.
  * Period pruning is PATH SELECTION: pruned periods are never listed.
  */
private[graft] object ReadRoots extends PredicateHelper {

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

    /** Hash-salt fan-out of each period (sidecar `_monthly_salt`). */
    lazy val salt: Int = meta.get("_monthly_salt")
      .map(j => Meta.unjv(j).asInstanceOf[Long].toInt).getOrElse(1)

    /** The sidecar's item stats (`_rows`, index min/max epoch-ms). */
    lazy val indexStats: Option[Partitioner.IndexStats] = meta.get("_rows").map { r =>
      def l(k: String) = meta.get(k).map(j => Meta.unjv(j).asInstanceOf[Long])
      Partitioner.IndexStats(Meta.unjv(r).asInstanceOf[Long], l("_index_min_ms"), l("_index_max_ms"))
    }

    /** Every period of the read, sorted (None: a flat item) — one LIST
      * of a live data dir, or the pin's period names. */
    def periods: Option[Seq[String]] = layout.map { _ =>
      roots match {
        case LiveDirs(d) =>
          d.listDirs.filter(_.startsWith(PeriodPrefix)).map(_.stripPrefix(PeriodPrefix)).sorted
        case PinnedPeriods(pairs) => pairs.map(_._1)
      }
    }

    /** Every root of the read: all period dirs, or the flat root. */
    def allRoots: Seq[String] = dirRoots(this, periods)

    /** The stored rows under `paths` (part files or dirs of this read),
      * pinned to [[encoded]]: mixed part-file generations read against
      * the declared shape with absent columns null-filled per file, and
      * a rewrite fed by this frame keeps every declared column (footer
      * inference on a mixed dir samples ONE footer). No paths is the
      * typed empty frame. `period` surfaces the period column as a
      * string, the data dir serving as `basePath`. A legacy sidecar (no
      * encoded schema) infers the shape from the footers — of every
      * root when `paths` is empty, keeping no row. A live item whose
      * data dir is gone is torn: a typed error names the repair. */
    def read(paths: Seq[String], period: Boolean = false): DataFrame = {
      val dataDir = roots match {
        case LiveDirs(d) => Some(d)
        case _           => None
      }
      val opened =
        if (paths.nonEmpty) paths
        else if (dataDir.exists(!_.isDir)) dataDir.toSeq.map(_.toString)
        else if (encoded.isEmpty) allRoots
        else Nil
      val schema = encoded.map(e => if (period) e.add(Collection.MonthCol, StringType) else e)
      val reader = schema.fold(spark.read)(spark.read.schema)
      val df =
        try (if (period && opened.nonEmpty) reader.option("basePath", dataDir.get.toString)
             else reader).parquet(opened: _*)
        catch {
          // a sidecar with NO data directory is a torn item (an
          // interrupted operation on a crashed process) — name the
          // repair instead of surfacing a raw path error
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" && meta.nonEmpty =>
            throw new GraftError(
              s"item '${itemPath.name}' has a metadata sidecar but no data directory — " +
                "an interrupted operation left it torn; run " +
                "Collection.vacuum() (SQL: CALL <catalog>.system.vacuum) " +
                s"to repair, then retry (${e.getMessage})")
        }
      if (paths.isEmpty && opened.nonEmpty) df.filter(lit(false)) else df
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

  /** Spark source filters as conjunctive planner predicates: the
    * comparison, bounded-IN and null-probe shapes the period walker and
    * the skip indexes bound. Anything else contributes no constraint —
    * pruning only ever over-approximates. `a <=> v` with a non-null `v`
    * selects exactly the rows `a = v` does. Attribute names arrive
    * quoted when they are not plain identifiers (`` `my col` ``); a
    * top-level one is unquoted to the stored column name. */
  def predsOf(filters: Array[sources.Filter]): Seq[Filters.Pred] = {
    def pred(a: String, op: String, v: Any) = Seq(Filters.Pred(
      UnresolvedAttribute.parseAttributeName(a) match {
        case Seq(name) => name
        case _         => a
      }, op, v))
    filters.toSeq.flatMap {
      case sources.And(l, r) => predsOf(Array(l, r))
      case sources.EqualTo(a, v) if v != null            => pred(a, "==", v)
      case sources.EqualNullSafe(a, v) if v != null      => pred(a, "==", v)
      case sources.GreaterThan(a, v) if v != null        => pred(a, ">", v)
      case sources.GreaterThanOrEqual(a, v) if v != null => pred(a, ">=", v)
      case sources.LessThan(a, v) if v != null           => pred(a, "<", v)
      case sources.LessThanOrEqual(a, v) if v != null    => pred(a, "<=", v)
      case sources.In(a, vs) if vs.nonEmpty && !vs.contains(null) => pred(a, "in", vs.toSeq)
      case sources.IsNull(a)    => pred(a, "isnull", null)
      case sources.IsNotNull(a) => pred(a, "notnull", null)
      case _ => Nil
    }
  }

  /** An analyzed Catalyst condition as planner predicates: its
    * top-level conjuncts, each translated the way Spark translates a
    * filter it pushes to a source (`Literal op attribute` flipped,
    * `InSet` as `In`, values as external JVM objects); a conjunct it
    * cannot translate contributes no constraint. */
  def conditionPreds(cond: Expression): Seq[Filters.Pred] =
    predsOf(splitConjunctivePredicates(cond)
      .flatMap(org.apache.spark.sql.GraftSessionBridge.translateFilter).toArray)

  /** `all` narrowed to the periods `preds` can touch, sorted, under the
    * zone rule above. `stats` is the target's `_period_stats`, or fresh
    * ones for the streaming source. */
  def prunePeriods(spark: SparkSession, t: Target, all: Seq[String],
                   preds: Seq[Filters.Pred],
                   stats: Map[String, Map[String, (Any, Any)]]): Seq[String] = {
    val sessionTz = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val bound = preds.map(rowBound(t, sessionTz))
    val sound = if (t.layoutTz == sessionTz) bound else bound.filter(zoneFree(t, _))
    Collection.candidatePeriods(all, sound, t.indexCols.head, t.layout.get, t.layoutTz, stats)
  }

  /** The index's stored type, when the sidecar records it. */
  private def indexType(t: Target): Option[DataType] = {
    val idx = t.indexCols.head
    t.encoded.flatMap(_.fields.find(_.name.equalsIgnoreCase(idx))).map(_.dataType)
  }

  /** `p` with each wall-clock bound (Date, LocalDate, LocalDateTime) on
    * a timestamp index replaced by the value the row filter compares
    * against, with Spark's own conversion at the session zone: on an
    * instant (TimestampType) index a date is cast to its midnight
    * (`daysToMicros`) and a date-time through the NTZ→TIMESTAMP cast
    * (`convertTz`); on an NTZ index a date is cast to its midnight wall
    * time. Strict bounds then tighten by one microsecond, not one day.
    * Other predicates pass unchanged. */
  private def rowBound(t: Target, sessionTz: ZoneId)(p: Filters.Pred): Filters.Pred = {
    val asRow: Any => Any = indexType(t) match {
      case Some(TimestampType) => {
        case d: java.sql.Date => DateTimeUtils.microsToInstant(
          DateTimeUtils.daysToMicros(DateTimeUtils.fromJavaDate(d), sessionTz))
        case d: java.time.LocalDate => DateTimeUtils.microsToInstant(
          DateTimeUtils.daysToMicros(DateTimeUtils.localDateToDays(d), sessionTz))
        case l: java.time.LocalDateTime => DateTimeUtils.microsToInstant(DateTimeUtils.convertTz(
          DateTimeUtils.localDateTimeToMicros(l), sessionTz, ZoneOffset.UTC))
        case v => v
      }
      case Some(TimestampNTZType) => {
        case d: java.sql.Date       => d.toLocalDate.atStartOfDay()
        case d: java.time.LocalDate => d.atStartOfDay()
        case v => v
      }
      case _ => identity
    }
    if (!p.column.equalsIgnoreCase(t.indexCols.head)) p
    else p.copy(value = p.value match {
      case vs: Iterable[_] => vs.map(asRow)
      case v               => asRow(v)
    })
  }

  /** Whether `p` (after [[rowBound]]) prunes soundly in a session whose
    * zone differs from the recorded one: only an instant bound
    * (Timestamp / Instant) on an instant index — the row filter and
    * the period key then read the same instant. An NTZ index compares
    * against instants through the session zone, and `_period_stats`
    * were recorded in the writer's zone. */
  private def zoneFree(t: Target, p: Filters.Pred): Boolean = {
    def instant(v: Any) = v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]
    p.column.equalsIgnoreCase(t.indexCols.head) && indexType(t).contains(TimestampType) &&
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
}
