package graft.sources

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.store.ReadRoots

/** The driver-side shell [[GraftScan]] and [[GraftCowScan]] share: a
  * scan that delegates everything data-path to the vectorized
  * [[ParquetScan]] in `inner`, which a runtime filter may swap. Batch
  * delegates consult `inner` at CALL time, not capture time —
  * BatchScanExec grabs toBatch before runtime filters arrive, so the
  * indirection is what makes `filter` visible to execution. Statistics
  * delegate too, so AQE/join planning sees post-prune sizes. */
private[sources] abstract class ParquetShell(initial: ParquetScan)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  @volatile protected var inner: ParquetScan = initial

  /** The parquet scan currently serving this shell — what plan
    * assertions (specs, in-query gates) inspect for rootPaths /
    * pushedFilters / readDataSchema. */
  private[graft] def parquet: ParquetScan = inner

  /** Post-runtime-filter root list (period dirs), for plan gates. */
  private[graft] def currentRootCount: Int = inner.fileIndex.rootPaths.size

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()
  override def estimateStatistics(): Statistics = inner.estimateStatistics()
}

/** The graft V2 scan: a thin driver-side shell around Spark's
  * vectorized [[ParquetScan]] that owns WHICH period directories the
  * parquet scan reads, so the root set can shrink after planning.
  *
  * Why a shell instead of returning `ParquetScan` directly (as the
  * first cut of the provider did): the period set must stay mutable
  * until execution for
  *
  *  - **runtime filtering (DPP)** — when the item is the fact side of
  *    a star join, the dimension's selective filter materializes at
  *    runtime as an `IN(index, ...)` filter; [[filter]] re-runs the
  *    SAME period-key/stats arithmetic the static path uses and
  *    rebuilds the parquet scan over the surviving roots. On a 100 TB
  *    item a join against "last month's keys" then reads one month —
  *    the classic partition-pruned star join, without a partition
  *    column ever surfacing in the schema;
  *  - **streaming** ([[toMicroBatchStream]]) — the micro-batch stream
  *    serves period DELTAS between offsets, each batch a fresh root
  *    set (see [[GraftMicroBatchStream]]).
  *
  * Everything data-path — vectorized reading, row-group skipping,
  * whole-stage codegen — stays Spark's: executors only ever see the
  * inner scan's reader factory, and a runtime-pruned fact side can
  * demote itself below the broadcast threshold.
  *
  * The row-level (COW) path uses [[GraftCowScan]] instead: its scan
  * selects the periods the write will REPLACE, so it narrows only in
  * lock-step with the replaced-group set it records.
  */
final class GraftScan private[sources] (
    builder: GraftScanBuilder,
    staticRoots: Seq[String],
    runtimeAttrs: Seq[String])
    extends ParquetShell(builder.parquetScanOver(staticRoots)) {

  private val itemName = builder.target.itemPath.name
  @volatile private var runtimePruned: Option[Int] = None

  /** Join-key attributes whose runtime values can prune periods: the
    * index column (period keys ARE index ranges) plus every column the
    * `_period_stats` sidecar covers. Empty for flat items — offering
    * runtime filtering without a pruning lever would make Spark plan a
    * no-op subquery. */
  override def filterAttributes(): Array[NamedReference] =
    runtimeAttrs.map(Expressions.column).toArray

  /** Runtime filters (DPP `IN`-sets / bloom-backed ranges) → the same
    * conservative period arithmetic as static pruning, ANDed with the
    * statically pushed filters. Only the ROOT SET changes; the pushed
    * parquet filters stay the static ones (runtime IN-sets over
    * thousands of keys would bloat row-group matching for nothing —
    * Spark re-applies the join itself). */
  override def filter(filters: Array[Filter]): Unit = {
    if (filters.nonEmpty) {
      val kept = ReadRoots.scanRoots(builder.spark, builder.target, builder.preds,
        Some(builder.tableSchema), GraftScanBuilder.predsOf(filters))
      if (kept != staticRoots) {
        inner = builder.parquetScanOver(kept)
        runtimePruned = Some(kept.size)
      }
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (builder.target.pinned)
      throw new graft.store.GraftError(
        s"snapshot reads are immutable — streaming from '$itemName' requires " +
          "the live item (drop the snapshot/VERSION AS OF clause)")
    builder.microBatchStream(checkpointLocation)
  }

  override def description(): String = {
    val rt = runtimePruned.map(n => s", runtime-pruned to $n").getOrElse("")
    s"GraftScan item=$itemName roots=${staticRoots.size}$rt ${inner.description()}"
  }

  // value equality on the inner scan → BatchScanExec sameResult works
  // for exchange/subquery reuse across identical reads
  override def equals(other: Any): Boolean = other match {
    case g: GraftScan => inner == g.parquet
    case _ => false
  }
  override def hashCode(): Int = inner.hashCode()
}

/** The COW group scan with runtime group filtering — what turns
  * `MERGE INTO item USING updates ON t.index = s.index` from a
  * full-item copy-on-write into a rewrite of only the periods the
  * source touches.
  *
  * A MERGE/subquery condition is never statically translatable, so the
  * group scan's static pruning widens to every period; Spark's
  * `RowLevelOperationRuntimeGroupFiltering` then plans a light
  * matching-rows subquery and hands the matching index/stats values to
  * [[filter]] at execution. The invariant that makes runtime narrowing
  * SAFE here is lock-step re-recording: the narrowed kept-period set is
  * written to the row-level operation in the same call that narrows the
  * scan, so the write's commit replaces exactly the periods whose rows
  * were read — never a period whose innocent rows were skipped.
  * (Spark only fires the rule for command shapes where group narrowing
  * is sound — e.g. not for NOT MATCHED BY SOURCE merges.)
  *
  * Periods added by the operation (cross-period row moves, MERGE
  * inserts) need no scanning — `replaceCowStaged`'s merge-in arm links
  * staged files into unscanned periods, narrowed or not. Pushed row
  * filters stay OFF the parquet scan for the same reason as the static
  * path: every row of a replaced period must be copied. */
final class GraftCowScan private[sources] (
    builder: GraftScanBuilder,
    rl: GraftRowLevelOperation,
    initialKept: Option[Seq[String]],
    runtimeAttrs: Seq[String])
    extends ParquetShell(
      builder.parquetScanOver(ReadRoots.dirRoots(builder.target, initialKept))) {

  @volatile private var narrowed: Option[Int] = None

  // flat items have one group (the item) — nothing to narrow
  override def filterAttributes(): Array[NamedReference] =
    if (initialKept.isEmpty) Array.empty
    else runtimeAttrs.map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    if (filters.nonEmpty && initialKept.isDefined) {
      val kept = ReadRoots.keptPeriods(builder.spark, builder.target,
        builder.preds ++ GraftScanBuilder.predsOf(filters))
      // scan and replaced-group set move together, atomically from the
      // write's perspective (commit reads scanInfo after execution)
      rl.recordScan(kept)
      inner = builder.parquetScanOver(ReadRoots.dirRoots(builder.target, kept))
      narrowed = kept.map(_.size)
    }
  }

  override def description(): String = {
    val n = narrowed.map(n => s", runtime-narrowed to $n groups").getOrElse("")
    s"GraftCowScan item=${builder.target.itemPath.name}$n ${inner.description()}"
  }
}
