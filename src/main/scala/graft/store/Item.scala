package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JValue

object Item {
  /** Subdir of the item dir holding the parquet part-files — kept
    * separate from the JSON sidecar so the dataset dir is pure parquet. */
  val DataDir = "data"

  /** Parquet reads surface every column nullable; sidecar-schema
    * fallbacks (emptied items, the V2 table provider) must serve the
    * same shape or unions/comparisons against real reads break. */
  private[graft] def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}

/** A stored item: a lazy DataFrame over one Parquet dataset directory
  * plus its JSON metadata sidecar (reference: pystore/item.py:36-100).
  *
  * `data` is the analogue of the reference's lazy Dask handle
  * (item.py:64-65) — a declarative plan with the filters/columns folded
  * in, so Catalyst pushes the predicates and pruning into the Parquet
  * scan. Materialization only happens at normal Spark actions; there is
  * no eager `to_pandas` copy (SURVEY §3.2).
  */
final class Item private[store] (
    val spark: SparkSession,
    val collectionPath: SPath,
    val name: String,
    val snapshot: Option[String],
    filters: Seq[Filters.Pred],
    columns: Seq[String]) {

  /** What this read resolves to — the live item, a directory snapshot
    * or a manifest pin — through the read planner the V2 source shares. */
  private val target = ReadRoots.resolve(spark, collectionPath.resolve(name), snapshot)

  /** The resolved item dir (live, directory snapshot, or retained
    * generation; the live root for a manifest period pin). */
  val path: SPath = target.dir

  target.roots match {
    case ReadRoots.LiveDirs(_) if !path.isDir =>
      throw new ItemNotFoundError(s"item '$name' does not exist")
    case _ =>
  }

  lazy val metadata: Map[String, JValue] = target.meta

  /** Whether this read resolves (any of) the LIVE item's directories.
    * A live read, or a manifest pin whose generation is still current
    * (no retained copy exists until something replaces it), can race a
    * concurrent commit's swap and must be generation-fenced by callers
    * that need one-committed-state semantics (export). A read fully
    * resolved to a physical snapshot dir or to `.retained` generation
    * dirs is immutable — fencing it against the live generation would
    * spuriously refuse under a sustained writer. */
  private[graft] def touchesLiveDir: Boolean = target.touchesLiveDir

  /** Index column names recorded at write (default Seq("index")). */
  def indexCols: Seq[String] = target.indexCols

  /** The lazy, pushdown-planned scan, plus whether the emptied-item
    * fallback had to serve the legacy PRE-encode `schema_json` (older
    * sidecars only): that schema is already in decoded/logical types,
    * so [[dataRestored]] must skip marker inversion for it. */
  private lazy val dataWithFallbackKind: (DataFrame, Boolean) = {
    var preEncodeFallback = false
    // The sidecar's ENCODED schema (when present) is authoritative and
    // pins the read: mixed part-file generations (a column ALTER-added
    // or evolution-appended after older files were written, or a pin
    // mixing live and retained dirs) all read against the declared
    // shape, with absent columns null-filled per file by the parquet
    // reader — no mergeSchema multi-footer pass, and ALTER ADD COLUMN
    // stays a pure metadata operation ([[ReadRoots.Target.read]]).
    // Legacy pre-encode sidecars keep footer inference. The planner
    // hands back only the kept period dirs (or skip-index-kept files),
    // so no period column surfaces.
    val roots = ReadRoots.scanRoots(spark, target, filters, target.encoded)
    val base =
      try target.read(roots)
      catch {
        // a legacy (pre-encode) sidecar over zero files — a
        // deleteWhere/expiry can empty EVERY period — leaves nothing to
        // infer a schema from, but the sidecar recorded the logical one:
        // serve it typed and empty, flagged so restoration is skipped
        // (its types are already decoded)
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          metadata.get("schema_json") match {
            case Some(org.json4s.JString(sj)) =>
              preEncodeFallback = true
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                Item.asNullable(org.apache.spark.sql.types.DataType.fromJson(sj))
                  .asInstanceOf[org.apache.spark.sql.types.StructType])
            case _ => throw e
          }
      }
    val filtered = Filters.toColumn(filters).fold(base)(base.filter)
    val projected =
      if (columns.isEmpty) filtered
      else {
        // Projection always retains the index columns, like the reference
        // (the pandas index survives column selection).
        val keep = (indexCols ++ columns).distinct.filter(filtered.columns.contains)
        filtered.select(keep.map(col): _*)
      }
    (projected, preEncodeFallback)
  }

  /** The lazy, pushdown-planned scan. */
  lazy val data: DataFrame = dataWithFallbackKind._1

  /** First n rows in index order (reference item.py:96-98). */
  def head(n: Int = 5): DataFrame =
    data.orderBy(indexCols.map(col): _*).limit(n)

  /** Last n rows in index order (reference item.py:99-100). Planned as
    * TakeOrderedAndProject on the reversed sort — no full sort. */
  def tail(n: Int = 5): DataFrame =
    data.orderBy(indexCols.map(c => col(c).desc): _*).limit(n)
      .orderBy(indexCols.map(col): _*)

  /** Index-only scan (reference collection.py:149-156). Column pruning
    * means the Parquet reader touches only the index column's pages. */
  def index: DataFrame = data.select(indexCols.map(col): _*)

  /** The frame with read-side type restoration applied: epochdate
    * int64-ns indexes come back as (µs-truncated) timestamps, and any
    * `_type_info` markers are inverted (tz restore etc.). Replaces the
    * reference's read-side datetime HEURISTIC (item.py:82-93 guesses
    * from value magnitudes) with metadata-driven determinism. */
  lazy val dataRestored: DataFrame =
    // legacy pre-encode fallback schema is already in decoded types:
    // inverting epochdate/_type_info markers on it would double-decode
    if (dataWithFallbackKind._2) data
    else {
      val epoch = metadata.get("_epochdate").exists(j => Meta.unjv(j) == true)
      val base =
        if (!epoch) data
        else indexCols.foldLeft(data) { (d, c) =>
          if (d.schema(c).dataType == org.apache.spark.sql.types.LongType)
            d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
          else d
        }
      metadata.get("_type_info") match {
        case Some(j) => Codecs.restore(base, Codecs.markersFromMeta(j))
        case None    => base
      }
    }

  /** Per-column data-card stats over this item (count/nulls/min/max/
    * sum/p50/p95) — `graft.operators.Profiler` against the item's lazy,
    * pruned scan. `approx = true` swaps exact percentiles for the
    * single-pass GK sketch (the at-scale default). */
  def profile(cols: Seq[String], approx: Boolean = false): DataFrame =
    graft.operators.Profiler.numericProfile(data, cols, approx)

  /** Categorical data-card stats (count/nulls/distinct/bounds/mode)
    * over the item's pruned scan; `approxDistinct = true` is the HLL
    * at-scale default. */
  def profileCategorical(cols: Seq[String],
                         approxDistinct: Boolean = false): DataFrame =
    graft.operators.Profiler.categoricalProfile(data, cols, approxDistinct)

  /** Max index value — replaces the reference's repr-string parsing hack
    * for `last=True` (collection.py:153-156) with a real aggregate. */
  def lastIndex: Option[Any] = {
    val row = data.agg(max(col(indexCols.head))).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }
}
