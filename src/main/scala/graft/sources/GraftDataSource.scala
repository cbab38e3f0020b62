package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{Collection, DuplicateHandling, Filters, GraftError, GraftStore, HadoopFs, History, Item, ItemNotFoundError, Meta, NioFs, ReadRoots, SPath, SnapshotNotFoundError, Snapshots, ValidationError}
import graft.store.ReadRoots.{LiveDirs, PinnedPeriods}

/** DataSource V2 front door — the SQL face of the store.
  *
  * The reference's pitch is "hand the caller a lazy frame for arbitrary
  * downstream computation" (reference pystore/item.py:64-65,
  * README.rst:128); in a Spark-native engine the idiomatic analogue is
  * a `TableProvider`, so items are reachable from ANY Spark surface,
  * not just the Scala `Collection` API:
  *
  * {{{
  *   spark.read.format("graft").load("/store/collection/item")
  *   CREATE TABLE prices USING graft OPTIONS (path '/store/coll/item');
  *   SELECT ... FROM prices WHERE index >= '2024-03-01'
  * }}}
  *
  * Scale design — the Scala read path's prunings, planned by the same
  * [[graft.store.ReadRoots]] and driven by Catalyst's V2 pushdown
  * instead of caller-supplied tuples:
  *
  *  - **Period pruning as PATH SELECTION**: pushed index-column
  *    predicates map to a period-key interval (period keys are
  *    zero-padded and lexically chronological), and only the surviving
  *    period DIRECTORIES are listed into the file index — on a 100 TB
  *    item a one-month query never even lists the other months' files,
  *    let alone reads them. `_period_stats` intervals additionally
  *    prune on covered non-index numeric columns (absent stats keep
  *    the period — conservative, like the delete path).
  *  - **Parquet pushdown + column pruning**: the scan delegates to
  *    Spark's own vectorized `ParquetScan` (whole-stage codegen, row-
  *    group stat skipping), with pushed filters and the pruned read
  *    schema forwarded — the plan shows `PushedFilters` / `ReadSchema`
  *    exactly like a native parquet read.
  *
  * The hidden `__month` partition column never surfaces: period dirs
  * are passed as independent roots, so SQL users see the item's
  * logical (encoded) schema only.
  *
  * Writes: `INSERT INTO` / `df.write.format("graft").mode("append")`
  * route through [[graft.store.Collection.append]] via Spark's V1Write
  * fallback — NOT a blind file drop. The incoming rows arrive typed to
  * the table's encoded schema, which is exactly the representation
  * `append` combines with stored data, so validation, duplicate
  * handling (writer option `duplicates` = keep_last | keep_first |
  * keep_all | error; default keep_last like the Scala API), pruned
  * periodic rewrite, atomic commit, and period-stats refresh all apply
  * to SQL writers. `INSERT OVERWRITE` / mode("overwrite") truncates
  * through [[graft.store.Collection.write]] preserving the item's
  * structural config (index, time layout, salt, stats columns);
  * codec-marked items (`_epochdate` / `_type_info`) refuse overwrite
  * with a typed error — their logical types are not expressible in the
  * encoded SQL schema, so only the Scala API can rebuild them.
  * Snapshot-pinned tables refuse all writes.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.resolve(options).schema()

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftTable.resolve(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object GraftTable {

  /** Resolve the `path` option (+ optional `snapshot`) to an item:
    * sidecar metadata, layout, and the ENCODED schema (what the
    * part-files hold — sidecar `schema_json_encoded` when present, else
    * one parquet footer inference). Driver-side metadata only; no data
    * read. Snapshots resolve through [[ReadRoots.resolve]], the Scala
    * read path's resolution. */
  private[graft] def resolve(options: CaseInsensitiveStringMap): GraftTable = {
    val spark = SparkSession.active
    val pathOpt = Option(options.get("path")).getOrElse(
      throw new GraftError("graft datasource requires a path option: " +
        "spark.read.format(\"graft\").load(\"<store>/<collection>/<item>\")"))
    val fs = if (pathOpt.contains(":/")) new HadoopFs(spark.sessionState.newHadoopConf())
             else NioFs
    val snapshot = Option(options.get("snapshot")).filter(_.nonEmpty)
    val since = Option(options.get("changesSince")).filter(_.nonEmpty)
    val sinceTs = Option(options.get("changesSinceTimestamp")).filter(_.nonEmpty)
    (snapshot ++ since).foreach(graft.store.Snapshots.requireUserSnapshotName)
    if (Seq(snapshot, since, sinceTs).count(_.isDefined) > 1)
      throw new GraftError(
        "options 'snapshot', 'changesSince' and 'changesSinceTimestamp' are " +
          "mutually exclusive: one pins a past state, the others serve the " +
          "delta FROM a past state")
    (since, sinceTs) match {
      case (Some(snap), _) => resolveChanges(spark, SPath(fs, pathOpt), snap)
      case (_, Some(raw)) =>
        // CDC anchored at an INSTANT — the timestamp spelling of
        // changesSince. Unlike TIMESTAMP AS OF (which must SERVE the
        // state at t and therefore needs it retained), the delta since
        // t only needs the generation MAP at t — reconstructible from
        // the item's commit log with no snapshot anywhere
        // (History.stateAtOrBefore; conservative: never misses a
        // change, at worst re-serves a whole period). Pre-log instants
        // fall back to the latest manifest ≤ t; nothing anchors →
        // typed error, never a silent whole-item replay.
        val itemP = SPath(fs, pathOpt)
        val t = Meta.parseInstantFlexible(raw, "changesSinceTimestamp")
        val liveMeta = Meta.read(itemP)
        History.stateAtOrBeforeFull(itemP, liveMeta, t) match {
          case Some(pins) => changesFromPins(spark, itemP, liveMeta, pins)
          case None =>
            val snap = Snapshots.latestManifestAtOrBefore(itemP.parent, t)
              .getOrElse(throw new GraftError(
                s"changesSinceTimestamp $t: no manifest snapshot predates it " +
                  s"and the commit log of '${itemP.name}' starts later — the " +
                  "anchor state is unknown (refusing rather than silently " +
                  "replaying the whole item)"))
            resolveChanges(spark, itemP, snap)
        }
      case _ => resolveItem(spark, SPath(fs, pathOpt), snapshot)
    }
  }

  /** Batch CDC — `option("changesSince", "<manifest snapshot>")`: serve
    * only the data that changed since the snapshot's cut, as an
    * ordinary batch DataFrame. The snapshot's pinned (period →
    * generation) map is compared against the live sidecar's — pure
    * driver-side metadata — and the scan's roots become exactly the
    * NEW periods plus the periods whose generation moved (rewritten in
    * place: same-period append / delete / update — served whole, the
    * period-granular replay contract the streaming source's
    * `ignoreChanges` ships). Periods REMOVED since the cut (expiry)
    * have nothing to serve and contribute nothing. "What arrived since
    * last night's snapshot?" on a 100 TB item therefore reads the new
    * periods' files, full stop — unpruned months are never listed, and
    * pushed filters prune the changed-period set further, exactly like
    * a live read.
    *
    * Dir snapshots record no generations, so they cannot anchor change
    * detection — typed refusal pointing at manifest snapshots. A
    * cross-shape item (flat at the cut, time-laid-out now, or the
    * reverse — a convertLayout happened in between) serves the WHOLE
    * live item: the conversion rewrote every row, so everything did
    * change. Beyond the reference (pystore has no change feed at all);
    * `Collection.diffSnapshot` remains the row-accurate diff, this is
    * the scan-level delta that feeds incremental batch jobs. */
  private def resolveChanges(spark: SparkSession, itemPath: SPath,
                             snap: String): GraftTable = {
    val collectionPath = itemPath.parent
    val item = itemPath.name
    val liveMeta = Meta.read(itemPath)
    val pins = Snapshots.manifestPins(collectionPath, snap, item).getOrElse {
      if (collectionPath.resolve(GraftStore.SnapshotsDir).resolve(snap).isDir)
        throw new GraftError(
          s"changesSince requires a MANIFEST snapshot ('$snap' is a directory " +
            "snapshot, which records no generation pins); create one with " +
            "createSnapshot(manifest = true)")
      else if (Snapshots.manifestExists(collectionPath, snap))
        throw new ItemNotFoundError(s"item '$item' not found in snapshot '$snap'")
      else throw new SnapshotNotFoundError(s"snapshot '$snap' does not exist")
    }
    changesFromPins(spark, itemPath, liveMeta, pins)
  }

  /** The classify-and-build half of the CDC read, shared by the
    * snapshot and timestamp spellings: `pins` is the anchor state
    * (a manifest's pins, or the LIVE generations when the anchor
    * instant's state is still current — yielding the empty delta). */
  private def changesFromPins(spark: SparkSession, itemPath: SPath,
                              liveMeta: Map[String, org.json4s.JValue],
                              pins: Either[Long, Map[String, Long]]): GraftTable = {
    val liveData = itemPath.resolve(Item.DataDir)
    if (!liveData.isDir)
      throw new ItemNotFoundError(s"no graft item at $itemPath (missing ${Item.DataDir}/ dir)")
    val liveLayout = liveMeta.get("_layout").map(j => Meta.unjv(j).toString)
      .filter(Collection.TimeLayouts.contains)
    // one rule set shared with list_changes and startingSnapshot streams
    val serve = Snapshots.classifyChanges(pins, liveMeta, liveLayout.isDefined)
      .collect { case (key, kind) if kind != "removed" => key }
    val roots =
      if (serve.contains(Snapshots.WholeItemKey))
        // flat rewrite, or a layout conversion since the cut: whole item
        LiveDirs(liveData)
      else if (liveLayout.isDefined)
        PinnedPeriods(serve.map(p => p -> liveData.resolve(s"${Collection.MonthCol}=$p")))
      else PinnedPeriods(Nil) // flat, unchanged: an empty scan with the item's schema
    fromTarget(spark,
      new ReadRoots.Target(spark, itemPath, itemPath, roots, pinned = true, liveMeta))
  }

  private[graft] def resolveItem(spark: SparkSession, itemPath: SPath,
                                 snapshot: Option[String]): GraftTable = {
    val target = ReadRoots.resolve(spark, itemPath, snapshot)
    target.roots match {
      case LiveDirs(dataDir) if !dataDir.isDir =>
        throw new ItemNotFoundError(
          s"no graft item at ${target.dir} (missing ${Item.DataDir}/ dir)")
      case _ =>
    }
    fromTarget(spark, target)
  }

  private def fromTarget(spark: SparkSession, target: ReadRoots.Target): GraftTable = {
    val meta = target.meta
    val schema = target.encoded.getOrElse {
      // pre-encoded-sidecar item: infer once from the footers of every
      // root (period dirs surface no partition column)
      val roots = ReadRoots.dirRoots(target, target.periods)
      spark.read.parquet((if (roots.nonEmpty) roots
        else Seq(target.itemPath.resolve(Item.DataDir).toString)): _*).schema
    }
    // item sidecar metadata as SQL table properties (SHOW TBLPROPERTIES):
    // user metadata + structural markers, minus the bulky machine keys
    val props: Map[String, String] = meta.collect {
      case (k, v) if k != "schema_json" && k != "schema_json_encoded" &&
        k != "_period_stats" && k != "_period_gens" =>
        k -> String.valueOf(Meta.unjv(v))
    }
    new GraftTable(spark, target, schema, props)
  }

  /** V1 source filters DELETE can hand to [[Collection.deleteWhere]] as
    * a `Column`. Everything Catalyst's filter translation produces for
    * the standard comparison/string/null/boolean shapes qualifies;
    * returning false for anything else makes Spark refuse the DELETE at
    * analysis (no silent partial delete). */
  private[sources] def deleteTranslatable(f: sources.Filter): Boolean = f match {
    case _: sources.EqualTo | _: sources.EqualNullSafe | _: sources.GreaterThan |
         _: sources.GreaterThanOrEqual | _: sources.LessThan |
         _: sources.LessThanOrEqual | _: sources.IsNull | _: sources.IsNotNull |
         _: sources.StringStartsWith | _: sources.StringEndsWith |
         _: sources.StringContains | _: sources.AlwaysTrue | _: sources.AlwaysFalse => true
    case sources.In(_, vs)   => vs != null
    case sources.And(l, r)   => deleteTranslatable(l) && deleteTranslatable(r)
    case sources.Or(l, r)    => deleteTranslatable(l) && deleteTranslatable(r)
    case sources.Not(c)      => deleteTranslatable(c)
    case _ => false
  }

  /** Source filter → `Column` predicate over the item's STORED columns
    * (the same representation the Scala `deleteWhere` evaluates, and
    * the same schema SQL readers see). `lit` round-trips the external
    * values (Timestamp/Instant/Date/numerics/strings) Catalyst's
    * filter translation emits. */
  private[sources] def columnOf(f: sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case sources.EqualTo(a, v)            => col(a) === lit(v)
      case sources.EqualNullSafe(a, v)      => col(a) <=> lit(v)
      case sources.GreaterThan(a, v)        => col(a) > lit(v)
      case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case sources.LessThan(a, v)           => col(a) < lit(v)
      case sources.LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case sources.In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
      case sources.IsNull(a)                => col(a).isNull
      case sources.IsNotNull(a)             => col(a).isNotNull
      case sources.StringStartsWith(a, v)   => col(a).startsWith(v)
      case sources.StringEndsWith(a, v)     => col(a).endsWith(v)
      case sources.StringContains(a, v)     => col(a).contains(v)
      case sources.And(l, r)                => columnOf(l) && columnOf(r)
      case sources.Or(l, r)                 => columnOf(l) || columnOf(r)
      case sources.Not(c)                   => !columnOf(c)
      case _: sources.AlwaysTrue            => lit(true)
      case _: sources.AlwaysFalse           => lit(false)
      case other => throw new GraftError(s"DELETE filter not translatable: $other")
    }
  }
}

final class GraftTable private[sources] (
    spark: SparkSession,
    target: ReadRoots.Target,
    tableSchema: StructType,
    sidecarProps: Map[String, String])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {

  private val itemPath = target.itemPath
  private val snapshotPinned = target.pinned

  override def name(): String = s"graft.`$itemPath`"
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    sidecarProps.foreach { case (k, v) => m.put(k, v) }
    m
  }
  // BATCH_WRITE is what DataFrameWriter's V2 path gates on;
  // V1_BATCH_WRITE is what routes the plan to the V1Write execs — both
  // are needed, and the physical strategy picks the V1 exec by the
  // Write's type, never calling the (absent) distributed-writer factory
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, target, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (snapshotPinned)
      throw new GraftError(
        s"snapshot read of '$itemPath' is immutable: writes must target the " +
          "live item (drop the snapshot/VERSION AS OF clause)")
    new GraftWriteBuilder(spark, itemPath, info)
  }

  /** `DELETE FROM` → [[graft.store.Collection.deleteWhere]] — the
    * right-to-be-forgotten primitive, now reachable from SQL. The
    * pushed filters translate to one `Column` predicate and ride the
    * SAME pruned path the Scala API uses: discovery reads only the
    * roots the read planner keeps (periods by index interval and
    * per-period stats, part files by the skip indexes), only the
    * touched period dirs rewrite through
    * atomic partial commits, and an emptied period is removed outright.
    * Cost scales with touched periods, not item size — a one-month
    * GDPR wipe of a 100 TB item rewrites one month.
    *
    * `TRUNCATE TABLE` arrives through [[SupportsDelete]]'s default
    * `truncateTable()` = delete-all, which drops every period of a
    * time-layout item (name-dropped, no data read beyond discovery)
    * and empties a flat item in one commit. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    !snapshotPinned && filters.forall(GraftTable.deleteTranslatable)

  /** `UPDATE` / `MERGE INTO` / non-translatable `DELETE` → the
    * group-based copy-on-write path ([[GraftRowLevelOperation]]): the
    * scan selects affected PERIODS (pruned, never row-filtered), the
    * write stages replacement parquet on the executors and swaps those
    * periods atomically. Translatable DELETEs never get here — Spark's
    * metadata-delete optimization routes them to [[deleteWhere]]. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (snapshotPinned)
      throw new GraftError(
        s"snapshot read of '$itemPath' is immutable: ${info.command} must " +
          "target the live item (drop the snapshot/VERSION AS OF clause)")
    if (target.layout.isDefined) {
      val sessionTzName = spark.sessionState.conf.sessionLocalTimeZone
      if (target.layoutTz != java.time.ZoneId.of(sessionTzName))
        throw new ValidationError(
          s"item '${itemPath.name}' was laid out in timezone '${target.layoutTz}' but " +
            s"this session runs '$sessionTzName'; set spark.sql.session.timeZone " +
            "to match before row-level SQL writes on a time-layout item")
    }
    new GraftRowLevelOperationBuilder(spark, target, tableSchema, info)
  }

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    if (snapshotPinned)
      throw new GraftError(
        s"snapshot read of '$itemPath' is immutable: DELETE must target the " +
          "live item (drop the snapshot/VERSION AS OF clause)")
    val coll = Collection.at(spark, itemPath.parent)
    val cond = filters.map(GraftTable.columnOf)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    coll.deleteWhere(itemPath.name, cond)
    coll.clearMetadataCache(Some(itemPath.name))
  }
}

/** V2 write builder — a [[V1Write]] fallback, because the mutation
  * pipeline is driver-orchestrated DataFrame logic (the same reason
  * Spark's own JDBC connector uses it): Spark resolves and casts the
  * incoming query to the table's encoded schema, then hands the whole
  * frame to [[GraftWrites.insert]], which routes it through the typed
  * `Collection` API. No distributed-writer machinery is bypassed — the
  * append itself IS a distributed Spark plan with an atomic commit. */
final class GraftWriteBuilder(
    spark: SparkSession,
    itemPath: SPath,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit =
        GraftWrites.insert(spark, itemPath, data,
          truncate = overwrite || doTruncate, info.options())
    }
    // writeStream.format("graft") — the streaming twin of INSERT INTO
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(spark, itemPath, info.schema(), info)
  }
}

private[sources] object GraftWrites {

  /** `INSERT INTO` → [[Collection.append]] (incoming rows are typed to
    * the encoded schema — exactly the representation append combines
    * with stored data, so duplicate handling and the pruned periodic
    * rewrite behave identically to a Scala-API append). `INSERT
    * OVERWRITE` → [[Collection.write]] with overwrite=true, preserving
    * the item's structural config from the sidecar; user metadata is
    * reset, matching the reference's overwrite semantics
    * (reference collection.py:316-350). */
  def insert(spark: SparkSession, itemPath: SPath, data: DataFrame,
             truncate: Boolean, options: CaseInsensitiveStringMap): Unit = {
    val coll = Collection.at(spark, itemPath.parent)
    val item = itemPath.name
    val npartitions = Option(options.get("npartitions")).map(_.trim.toInt)
    if (!truncate) {
      coll.append(item, data,
        duplicateHandling = duplicatesOf(options), npartitions = npartitions)
    } else {
      val meta = Meta.read(itemPath)
      val epochdate = meta.get("_epochdate").exists(j => Meta.unjv(j) == true)
      // auto-detected tz markers are re-derived by write()'s own
      // dispatch; hint-driven codecs (timedelta/period/categorical/
      // interval/complex) and epochdate are NOT recoverable from the
      // encoded SQL schema — a blind rewrite would silently drop them
      val hintMarkers = meta.get("_type_info")
        .map(graft.store.Codecs.markersFromMeta)
        .getOrElse(Map.empty)
        .filter(_._2.kind != "timestamp_tz")
      if (epochdate || hintMarkers.nonEmpty)
        throw new ValidationError(
          s"item '$item' stores codec-encoded logical types " +
            s"(${(hintMarkers.keys ++ (if (epochdate) Seq("_epochdate") else Nil)).mkString(",")}); " +
            "INSERT OVERWRITE cannot re-derive them from the encoded SQL schema — " +
            "rebuild through the Scala API (Collection.write) instead")
      val indexCols = meta.get("index_names").map(Meta.unjv) match {
        case Some(xs: Seq[_]) if xs.nonEmpty => xs.map(_.toString)
        case _ => Seq(Collection.DefaultIndex)
      }
      val layout = meta.get("_layout").map(j => Meta.unjv(j).toString)
        .filter(Collection.TimeLayouts.contains)
      val salt = meta.get("_monthly_salt").map(j => Meta.unjv(j).toString.toInt).getOrElse(1)
      coll.write(item, data, indexCols = indexCols, overwrite = true,
        npartitions = npartitions, timeLayout = layout, monthlySalt = salt,
        statsColumns = Collection.statsColumnsOf(meta))
    }
    coll.clearMetadataCache(Some(item))
  }

  private[sources] def duplicatesOf(options: CaseInsensitiveStringMap): DuplicateHandling =
    Option(options.get("duplicates")).map(_.trim.toLowerCase) match {
      case None | Some("keep_last")  => DuplicateHandling.KeepLast
      case Some("keep_first")        => DuplicateHandling.KeepFirst
      case Some("keep_all")          => DuplicateHandling.KeepAll
      case Some("error")             => DuplicateHandling.ErrorOnDuplicate
      case Some(other) => throw new ValidationError(
        s"unknown duplicates option '$other' " +
          "(supported: keep_last, keep_first, keep_all, error)")
    }
}

/** V2 scan builder: collects Catalyst's pushed filters + required
  * columns, then builds a vectorized `ParquetScan` over the roots the
  * read planner ([[ReadRoots]]) keeps for them. */
final class GraftScanBuilder(
    private[sources] val spark: SparkSession,
    private[sources] val target: ReadRoots.Target,
    private[sources] val tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    rowLevel: Option[GraftRowLevelOperation] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  /** Every pushed filter as planner predicates (period + file pruning). */
  private[sources] var preds: Seq[Filters.Pred] = Nil
  private var required: StructType = tableSchema
  private var aggDelegate: Option[ParquetScanBuilder] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the parquet-convertible shapes for row-group skipping; hand
    // EVERYTHING back as residual (row-group stats are approximate, so
    // Spark must re-evaluate post-scan — same contract as native parquet)
    //
    // GROUP MODE (row-level ops): filters select PERIODS only and are
    // NOT forwarded to parquet — the COW write must see every row of an
    // affected period, so row-group skipping on the condition would
    // silently drop the innocent rows that need copying.
    preds = ReadRoots.predsOf(filters)
    pushed = if (rowLevel.isDefined) Array.empty else filters.filter(parquetSupported)
    filters
  }

  private def parquetSupported(f: Filter): Boolean = f match {
    case _: sources.EqualTo | _: sources.EqualNullSafe | _: sources.GreaterThan |
         _: sources.GreaterThanOrEqual | _: sources.LessThan |
         _: sources.LessThanOrEqual | _: sources.In | _: sources.IsNull |
         _: sources.IsNotNull | _: sources.StringStartsWith |
         _: sources.StringEndsWith | _: sources.StringContains => true
    case sources.And(l, r) => parquetSupported(l) && parquetSupported(r)
    case sources.Or(l, r)  => parquetSupported(l) && parquetSupported(r)
    case sources.Not(c)    => parquetSupported(c)
    case _ => false
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Footer-driven MIN/MAX/COUNT — `SELECT max(index) FROM item` reads
    * zero data pages (the S5 index-only story through SQL). Delegated
    * to Spark's own [[ParquetScanBuilder]] over the item's full root
    * set so type-support rules and the aggregate read schema stay
    * Spark's. Parquet aggregate pushdown is PARTIAL: the scan emits
    * per-split footer stats rows and Spark's final aggregate merges
    * them (supportCompletePushDown stays false, like every parquet
    * table). Refused when data filters are pushed — footer stats
    * cannot see row-level filters (Spark would not offer the combo
    * anyway) — and gated on spark.sql.parquet.aggregatePushdown. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    rowLevel.isEmpty && pushed.isEmpty && aggPushdownEnabled &&
      parquetDelegate().supportCompletePushDown(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (rowLevel.isDefined || pushed.nonEmpty || !aggPushdownEnabled) return false
    val d = parquetDelegate()
    val ok = d.pushAggregation(aggregation)
    if (ok) aggDelegate = Some(d)
    ok
  }

  // Checked BEFORE the delegate exists: with the conf off (the
  // default), the delegate's own pushAggregation would return false
  // anyway — but constructing it costs a full recursive listing of
  // every period root (InMemoryFileIndex). At item scale that is
  // O(files) driver work per aggregate-shaped query for a guaranteed
  // refusal, so the conf gates the delegate's CONSTRUCTION, not just
  // its answer.
  private def aggPushdownEnabled: Boolean =
    spark.sessionState.conf.parquetAggregatePushDown

  // memoized: supportCompletePushDown and pushAggregation both need it,
  // and each InMemoryFileIndex construction is a full recursive listing
  // of the item's roots — once per scan build is the budget
  private lazy val memoDelegate: ParquetScanBuilder = {
    GraftScanBuilder.aggDelegateListings.incrementAndGet()
    new ParquetScanBuilder(
      // the item's full root set, unpruned: aggregate pushdown must see
      // every period's footers
      spark, fileIndexFor(ReadRoots.dirRoots(target, target.periods)), tableSchema,
      tableSchema, options)
  }

  private def parquetDelegate(): ParquetScanBuilder =
    aggDelegate.getOrElse(memoDelegate)

  /** A vectorized parquet scan over an explicit root set, carrying the
    * statically pushed filters and pruned read schema. */
  private[sources] def parquetScanOver(scanRoots: Seq[String]): ParquetScan =
    ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(options.asScala.toMap),
      fileIndexFor(scanRoots),
      dataSchema = tableSchema,
      readDataSchema = required,
      readPartitionSchema = new StructType(),
      pushedFilters = pushed,
      options = options)

  private[sources] def microBatchStream(checkpointLocation: String): GraftMicroBatchStream =
    new GraftMicroBatchStream(this, options)

  private def fileIndexFor(scanRoots: Seq[String]): InMemoryFileIndex =
    new InMemoryFileIndex(
      spark, scanRoots.map(new HPath(_)), options.asScala.toMap, Some(tableSchema))

  override def build(): Scan = {
    aggDelegate match {
      case Some(d) => return d.build() // footer-aggregate scan, zero data pages
      case None    =>
    }
    // runtime filtering can prune on the index column and every
    // _period_stats-covered column; flat items have no lever.
    // Attributes must live in the PRUNED output — Spark resolves
    // filterAttributes against the scan relation's output and a
    // projected-away column would fail analysis
    val runtimeAttrs = target.layout match {
      case None    => Nil
      case Some(_) =>
        val avail = required.fieldNames.toSet
        (target.indexCols.head +: target.periodStats.valuesIterator.flatMap(_.keysIterator).toSeq)
          .distinct.filter(avail)
    }
    rowLevel match {
      case Some(rl) =>
        // COW group scan: kept periods only, never narrowed to files (a
        // COW rewrite must see every row of its periods). The set is
        // RECORDED as the replaced-group set; runtime narrowing goes
        // ONLY through GraftCowScan.filter, which re-records the
        // narrowed set in the same call — scan and replaced groups
        // never diverge.
        val kept = ReadRoots.keptPeriods(spark, target, preds)
        rl.recordScan(kept)
        new GraftCowScan(this, rl, kept, runtimeAttrs)
      case None =>
        // period pruning = path selection: nothing outside the surviving
        // periods is even LISTED into the file index
        new GraftScan(this, ReadRoots.scanRoots(spark, target, preds, Some(tableSchema)),
          runtimeAttrs)
    }
  }
}

object GraftScanBuilder {
  /** Test seam: counts constructions of the aggregate-pushdown parquet
    * delegate (each one is a full recursive root listing). Lets specs
    * assert the conf gate keeps the listing from happening at all when
    * `spark.sql.parquet.aggregatePushdown` is off. */
  private[graft] val aggDelegateListings = new java.util.concurrent.atomic.AtomicLong(0)
}
