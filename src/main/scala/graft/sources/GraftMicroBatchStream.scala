package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.json4s.{JInt, JObject}
import org.json4s.jackson.JsonMethods

import graft.store.{Collection, GraftError, Item, Meta, ReadRoots, Snapshots, ValidationError}

/** Streaming SOURCE over a graft item — `spark.readStream
  * .format("graft").load(<store>/<coll>/<item>)`: the incremental twin
  * of the streaming sink, completing the loop where one job appends to
  * an item while downstream jobs consume only what arrived.
  *
  * **Offsets are the sidecar's generation stamps** (`_period_gens` for
  * time layouts, `_generation` for flat items) — driver-side metadata
  * the commit protocol already maintains, read without touching data.
  * A micro-batch serves the PERIOD DELTA between two offsets:
  *
  *  - a period present in `end` but not `start` is NEW — its directory
  *    is served whole. Steady time-series ingest lands in fresh
  *    periods, so the common case streams exactly the new data, and a
  *    batch's cost scales with what arrived, never with item size;
  *  - a period whose generation CHANGED was rewritten in place
  *    (same-period append, deleteWhere, update). Generations are
  *    equality tokens, not versions — the delta inside a rewrite is
  *    unrecoverable — so the stream fails by default and re-serves the
  *    whole period under `ignoreChanges=true` (downstream must
  *    tolerate period-level replays — same contract as Delta's option
  *    of the same name);
  *  - a VANISHED period (expiry/retention) fails unless
  *    `ignoreDeletes=true` (implied by ignoreChanges) marks it
  *    consumed with nothing to serve.
  *
  * Backfill is admission-controlled: `maxPeriodsPerTrigger=N` caps
  * each batch to the N chronologically-first unserved periods, so
  * catching up on a 100 TB item is a sequence of bounded batches (in
  * time order — downstream watermarks see ordered arrival), not one
  * monster batch. `Trigger.AvailableNow` pins the catch-up target at
  * start and drains to it in capped steps.
  *
  * `startingOffsets=latest` begins at the current state (serve only
  * future arrivals); the default `earliest` serves the whole item
  * first. Statically pushed index/stats predicates additionally prune
  * which changed periods a batch serves at all.
  *
  * Replay guarantee: a batch serves the GENERATION its end offset
  * names. When the live dir has been rewritten past it (between
  * `latestOffset` and the read, or on a crash replay against a later
  * rewrite), the batch serves the RETAINED generation dir whenever a
  * manifest pin kept it — byte-identical replay. Only an unpinned
  * generation falls back to the live files under the old offset (the
  * remaining at-least-once window; appends into fresh periods — the
  * designed ingest pattern — never hit it). Anchoring with
  * `startingSnapshot` and retaining the anchor manifest therefore
  * gives exact replay for every period the manifest pins.
  */
final class GraftMicroBatchStream(
    builder: GraftScanBuilder,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val itemPath = builder.target.itemPath
  private val layout = builder.target.layout

  private val maxPeriodsPerTrigger: Int =
    Option(options.get("maxPeriodsPerTrigger")).map(_.trim.toInt) match {
      case Some(n) if n < 1 =>
        throw new ValidationError(s"maxPeriodsPerTrigger must be >= 1, got $n")
      case Some(n) => n
      case None    => Int.MaxValue
    }
  private val ignoreChanges =
    Option(options.get("ignoreChanges")).exists(_.trim.toBoolean)
  private val ignoreDeletes = ignoreChanges ||
    Option(options.get("ignoreDeletes")).exists(_.trim.toBoolean)

  /** Current generation map from the live sidecar — one small JSON
    * read, no listing, no data. */
  private def liveGens(): Map[String, Long] = {
    val meta = Meta.read(itemPath)
    layout match {
      case Some(_) =>
        val pg = Snapshots.periodGensOf(meta)
        if (pg.nonEmpty) pg
        else {
          // legacy pre-gen sidecar: stamp every listed period with the
          // item generation so first contact serves everything once
          val dataDir = itemPath.resolve(Item.DataDir)
          val g = Snapshots.generationOf(meta)
          dataDir.listDirs.filter(_.startsWith(Collection.MonthCol + "="))
            .map(d => d.stripPrefix(Collection.MonthCol + "=") -> g).toMap
        }
      case None =>
        Map(GraftSourceOffset.FlatKey -> Snapshots.generationOf(meta))
    }
  }

  // Trigger.AvailableNow: the catch-up target, pinned once at start
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(liveGens())

  override def initialOffset(): Offset = {
    val fromTs = Option(options.get("startingTimestamp")).map(_.trim).filter(_.nonEmpty)
    val fromOffsets = Option(options.get("startingOffsets")).map(_.trim.toLowerCase)
    // `startingTimestamp` is the stream spelling of `TIMESTAMP AS OF`,
    // resolved by the SAME rule ([[Snapshots.resolveAsOf]], commit-log
    // first): state at t still live → anchor at the CURRENT pins (the
    // stream tails commits after t; with the item's commit log this
    // needs NO snapshot at all); rewritten since → anchor at the
    // manifest created while it was current; nothing pinned it / pre-log
    // with no manifest → typed error (never a silent fall-through to
    // 'earliest' — that would replay the whole item). ISO-8601 instants
    // and UTC date-times both parse.
    val rawSnap = Option(options.get("startingSnapshot")).map(_.trim).filter(_.nonEmpty)
    rawSnap.foreach(Snapshots.requireUserSnapshotName)
    // exclusivity FIRST: resolving a timestamp can itself throw
    // ("no manifest predates it") — conflicting options must report
    // the conflict, not send the user chasing snapshots
    if (Seq(rawSnap, fromTs, fromOffsets).count(_.isDefined) > 1)
      throw new ValidationError(
        "options 'startingOffsets', 'startingSnapshot' and 'startingTimestamp' " +
          "are mutually exclusive")
    val resolved: Option[Either[GraftSourceOffset, String]] = rawSnap
      .map(Right(_))
      .orElse(fromTs.map { raw =>
        val t = Meta.parseInstantFlexible(raw, "startingTimestamp")
        Snapshots.resolveAsOf(itemPath.parent, itemPath.name, t) match {
          case Snapshots.AsOfLive =>
            // live at t: the current pins ARE the pins at t (nothing
            // committed since), so the stream starts quiet and tails
            Left(GraftSourceOffset(liveGens()))
          case Snapshots.AsOfSnapshot(snap) => Right(snap)
        }
      })
    resolved match {
      case Some(Left(offsetAtT)) => return offsetAtT
      case _ => ()
    }
    val fromSnap: Option[String] = resolved.collect { case Right(s) => s }
    fromSnap match {
      // Start at a manifest snapshot's cut: the initial offset IS the
      // snapshot's pinned generation map, so the stream's first batch
      // serves exactly what `changesSince` would serve in batch — the
      // bootstrap-with-batch + tail-with-stream composition lines up
      // with no gap and no overlap. Dir snapshots pin no generations
      // and refuse typed, like the batch CDC read.
      case Some(snap) =>
        val pins = Snapshots.manifestPins(itemPath.parent, snap, itemPath.name)
          .getOrElse {
            if (itemPath.parent.resolve(graft.store.GraftStore.SnapshotsDir)
                  .resolve(snap).isDir)
              throw new GraftError(
                s"startingSnapshot requires a MANIFEST snapshot ('$snap' is a " +
                  "directory snapshot, which records no generation pins)")
            else throw new GraftError(
              s"startingSnapshot '$snap' does not exist or lacks item '${itemPath.name}'")
          }
        (pins, layout) match {
          case (Right(periodGens), Some(_)) => GraftSourceOffset(periodGens)
          case (Left(gen), None) => GraftSourceOffset(Map(GraftSourceOffset.FlatKey -> gen))
          case _ =>
            // cross-shape: a convertLayout ran between the cut and the
            // stream start, rewriting every row — everything changed, so
            // start from the empty offset and serve the whole live item
            // as "added", exactly what the batch CDC read serves
            GraftSourceOffset(Map.empty)
        }
      case None => fromOffsets.getOrElse("earliest") match {
        case "earliest" => GraftSourceOffset(Map.empty)
        case "latest"   => GraftSourceOffset(liveGens())
        case other => throw new ValidationError(
          s"unknown startingOffsets '$other' (supported: earliest, latest, " +
            "or the startingSnapshot option)")
      }
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = GraftSourceOffset(liveGens())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Next end offset from `start`: changed/removed periods move in one
    * step (their error/replay semantics are per-batch anyway); NEW
    * periods advance at most `maxPeriodsPerTrigger` per call, oldest
    * first. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = availableNowTarget.getOrElse(liveGens())
    val s = GraftSourceOffset.of(start).gens
    val fresh = (cur.keySet -- s.keySet).toSeq.sorted.take(maxPeriodsPerTrigger)
    val kept = s.filter { case (p, _) => cur.contains(p) } // removed periods leave the offset
    val advanced = kept.map { case (p, _) => p -> cur(p) } ++ // changed gens advance
      fresh.map(p => p -> cur(p))
    GraftSourceOffset(advanced.toMap)
  }

  // the scan planned for the current batch; createReaderFactory is
  // called right after planInputPartitions for the same batch
  @volatile private var planned: Option[ParquetScan] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftSourceOffset.of(start).gens
    val e = GraftSourceOffset.of(end).gens
    val added = (e.keySet -- s.keySet).toSeq.sorted
    val changed = e.keys.filter(p => s.get(p).exists(_ != e(p))).toSeq.sorted
    val removed = (s.keySet -- e.keySet).toSeq.sorted
    if (changed.nonEmpty && !ignoreChanges)
      throw new GraftError(
        s"item '${itemPath.name}' rewrote period(s) ${changed.mkString(", ")} " +
          "mid-stream (same-period append / delete / update). The in-place delta " +
          "is not recoverable; set ignoreChanges=true to re-serve rewritten " +
          "periods whole, or ingest into fresh periods")
    if (removed.nonEmpty && !ignoreDeletes)
      throw new GraftError(
        s"item '${itemPath.name}' dropped period(s) ${removed.mkString(", ")} " +
          "mid-stream (expiry/retention). Set ignoreDeletes=true (or " +
          "ignoreChanges=true) to skip them")
    val serveKeys = (added ++ (if (ignoreChanges) changed else Nil)).sorted
    // Replay-window closure: the end offset names the GENERATION each
    // served key had when the offset was computed. If the live dir has
    // been rewritten past it by plan time (or this is a crash replay
    // against a later rewrite), a manifest pin may have RETAINED the
    // offset's generation — serve the retained dir and the batch is
    // byte-identical to the original. Only when no pin kept it does the
    // documented at-least-once window apply (live files under the old
    // offset). Snapshot-anchored streams (startingSnapshot + a retention
    // policy that keeps the anchor manifest) therefore replay exactly.
    val coll = itemPath.parent
    val roots: Seq[String] =
      if (serveKeys.contains(GraftSourceOffset.FlatKey)) {
        val liveDataDir = itemPath.resolve(Item.DataDir)
        val want = e(GraftSourceOffset.FlatKey)
        if (Snapshots.generationOf(Meta.read(itemPath)) == want) Seq(liveDataDir.toString)
        else {
          val retained = Snapshots.retainedFlatDir(coll, itemPath.name, want)
            .resolve(Item.DataDir)
          Seq(if (retained.isDir) retained.toString else liveDataDir.toString)
        }
      } else {
        // static pushed predicates prune which served periods the batch
        // reads at all — fresh stats (post-commit entries are dropped
        // atomically, so absent = conservatively served)
        if (layout.isEmpty)
          throw new GraftError(s"offset period keys without a time layout on '${itemPath.name}'")
        val meta = Meta.read(itemPath)
        val stats = Collection.periodStatsOf(meta)
        val livePg = Snapshots.periodGensOf(meta)
        // stats describe the LIVE generation only: a period replayed
        // from a RETAINED generation (crash replay after an in-place
        // rewrite) must not be pruned by the rewrite's bounds — the
        // offset's rows could sit outside them and would be silently
        // lost. Replayed periods are served unpruned; the parquet scan
        // still applies the row-level filters.
        val (liveServed, replayServed) =
          serveKeys.partition(p => livePg.get(p).contains(e(p)))
        val kept =
          (ReadRoots.prunePeriods(builder.spark, builder.target, liveServed, builder.preds,
            stats) ++ replayServed).sorted
        val dataDir = itemPath.resolve(Item.DataDir)
        kept.map { p =>
          val liveDir = dataDir.resolve(s"${Collection.MonthCol}=$p")
          if (livePg.get(p).contains(e(p))) liveDir.toString
          else {
            val retained = Snapshots.retainedPeriodDir(coll, itemPath.name, p, e(p))
            if (retained.isDir) retained.toString else liveDir.toString
          }
        }
      }
    val scan = builder.parquetScanOver(roots)
    planned = Some(scan)
    scan.toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planned.getOrElse(throw new IllegalStateException(
      "createReaderFactory before planInputPartitions")).toBatch.createReaderFactory()

  override def deserializeOffset(json: String): Offset = GraftSourceOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftMicroBatchStream[$itemPath, maxPeriodsPerTrigger=" +
      (if (maxPeriodsPerTrigger == Int.MaxValue) "∞" else maxPeriodsPerTrigger.toString) + "]"
}

/** A consumed-state marker: period name → generation stamp (flat items
  * use the single [[GraftSourceOffset.FlatKey]] entry). Generations
  * compare by EQUALITY only — they are commit identity tokens
  * (`System.nanoTime` at commit), not ordered versions, so offsets
  * carry the full map rather than a high-water mark. JSON keys are
  * sorted for a canonical serialized form. */
final case class GraftSourceOffset(gens: Map[String, Long]) extends Offset {
  override def json(): String = JsonMethods.compact(JsonMethods.render(
    JObject(gens.toList.sortBy(_._1).map { case (p, g) => p -> JInt(BigInt(g)) })))
}

object GraftSourceOffset {
  /** Reserved offset key for flat (single-generation) items; period
    * names are date-shaped and can never collide with it. */
  val FlatKey = "__item"

  def fromJson(json: String): GraftSourceOffset =
    JsonMethods.parse(json) match {
      case JObject(fields) => GraftSourceOffset(fields.map {
        case (p, JInt(g)) => p -> g.toLong
        case (p, other) => throw new GraftError(s"bad offset entry $p=$other")
      }.toMap)
      case other => throw new GraftError(s"bad graft offset json: $other")
    }

  def of(o: Offset): GraftSourceOffset = o match {
    case g: GraftSourceOffset => g
    case other                => fromJson(other.json())
  }
}
