package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JObject, JValue}

import graft.validation.DataValidator
import graft.evolution.{EvolutionStrategy, SchemaEvolution}

/** Duplicate-index handling strategies for append
  * (reference semantics from tests/test_append.py:53-163 and
  * collection.py:586-617 — the reference never wires the kwarg through;
  * we implement the *tested* behavior as first-class parameters,
  * SURVEY §2.8 note).
  */
sealed trait DuplicateHandling
object DuplicateHandling {
  /** New rows win on index collision (reference default). */
  case object KeepLast extends DuplicateHandling
  /** Existing rows win on index collision. */
  case object KeepFirst extends DuplicateHandling
  /** Keep every row regardless of index collisions. */
  case object KeepAll extends DuplicateHandling
  /** Raise DataIntegrityError if any index collision exists. */
  case object ErrorOnDuplicate extends DuplicateHandling
}

object Collection {

  /** One column's verdict from [[Collection.adviseIndexes]]. */
  final case class IndexAdvice(column: String, advice: String,
                               fileOverlap: Double, distinctRatio: Double,
                               nullFrac: Double, reason: String)
  val DefaultIndex = "index"

  /** Open an existing collection directory directly — the seam the V2
    * write path (graft.sources) uses to route SQL `INSERT INTO` through
    * the SAME append/write pipeline as the Scala API, so validation,
    * dedup-on-append, atomic commit, and period-stats refresh all apply
    * to SQL writers too. */
  private[graft] def at(spark: SparkSession, path: SPath): Collection =
    new Collection(spark, path)
  /** New logical (pre-encode) sidecar schema after an evolved append:
    * follow the new ENCODED field set, preserving the recorded logical
    * type of any column whose encoded type did not change (codec-marked
    * columns keep their decoded-type contract), and taking the encoded
    * type for added/widened columns (new columns carry no codecs). */
  private[graft] def evolveLogicalSchema(
      oldMeta: Map[String, JValue],
      newEncoded: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def parse(k: String): Option[StructType] = oldMeta.get(k).collect {
      case org.json4s.JString(sj) => DataType.fromJson(sj).asInstanceOf[StructType]
    }
    val oldLogical = parse("schema_json")
    val oldEnc = parse("schema_json_encoded")
    StructType(newEncoded.fields.map { f =>
      // Legacy pre-encode sidecars (schema_json only) recorded the
      // DECODED/logical contract directly — with no encoded schema to
      // compare against, any column name that already existed keeps its
      // recorded logical type rather than being clobbered by the
      // encoded type of this append's frame.
      val keepLogical = oldEnc match {
        case Some(enc) => enc.fields.exists(o =>
          o.name == f.name && o.dataType == f.dataType)
        case None => oldLogical.flatMap(_.fields.find(_.name == f.name)).exists { o =>
          // ...EXCEPT when this append legitimately WIDENED the column
          // (Int→Long, Float→Double, ...): keeping the narrow recorded
          // type would declare Int over Long parquet data and truncate
          // pinned reads. Widening to StringType is excluded — that is
          // the shape of codec-encoded columns (decoded logical type,
          // string/binary encoding), exactly what this branch preserves.
          import org.apache.spark.sql.types.StringType
          val widened = o.dataType != f.dataType && f.dataType != StringType &&
            graft.evolution.SchemaEvolution.canWiden(o.dataType, f.dataType)
          !widened
        }
      }
      if (keepLogical)
        oldLogical.flatMap(_.fields.find(_.name == f.name)).getOrElse(f)
      else f
    })
  }

  /** Hidden directory-partition column for time-layout items (named
    * for the original monthly layout; holds whatever period key the
    * item's recorded layout uses). */
  val MonthCol = "__month"
  private val TmpPrefix = "__tmp_"
  private val SaltCol = "__salt"

  /** Sidecar key remembering column NAMES removed by the metadata-only
    * [[Collection.dropColumns]] mask. Graft maps columns by name (no
    * column IDs), so a later re-introduction of a masked name must NOT
    * resurrect the old bytes still present in pre-drop part-files —
    * [[Collection.addColumns]] consults this list and purges first. */
  val DroppedColsKey = "_dropped_columns"

  /** The masked names recorded in a sidecar (empty when none). */
  private[graft] def droppedColsOf(meta: Map[String, JValue]): Seq[String] =
    meta.get(DroppedColsKey) match {
      case Some(org.json4s.JArray(xs)) => xs.collect {
        case org.json4s.JString(s) => s
      }
      case _ => Nil
    }

  /** Time-period directory layouts (reference L2 supports
    * daily/monthly/quarterly/yearly time partitioning;
    * partition.py via SURVEY §2). Period keys are zero-padded and
    * lexically ordered, so string range predicates prune correctly. */
  val TimeLayouts: Set[String] = Set("daily", "monthly", "quarterly", "yearly")

  /** Item-name suffixes reserved by the SQL metadata tables
    * (`item$periods` / `$stats` / `$snapshots` / `$detail` / `$history`,
    * graft.sources.GraftMetadataTables): an item literally NAMED this
    * way would be shadowed by metadata-table resolution forever, so the
    * write chokepoints refuse it — this closes the Scala-API and
    * streaming-sink entry points in one place (the SQL staging catalog
    * refuses separately at analysis with its own message). */
  val ReservedItemSuffixes: Set[String] =
    Set("periods", "stats", "snapshots", "detail", "history", "bloom", "filestats")

  /** Label a commit's verb for the per-item commit log ([[History]]):
    * merged into the meta map a commit path passes down; the publish
    * chokepoints pop it into the log entry. */
  private[graft] def opTag(op: String): Map[String, JValue] =
    Map(History.OpKey -> Meta.jv(op))

  /** What a [[Collection.publish]] swaps in: the item's whole data dir
    * (`partitioned` when the staging holds period subdirs), or only the
    * listed periods — a listed period absent from the staging is a
    * removal. */
  private[graft] sealed trait CommitScope
  private[graft] final case class Full(partitioned: Boolean) extends CommitScope
  private[graft] final case class Periods(months: Seq[String]) extends CommitScope

  /** What a scope's swap step hands back to [[Collection.publish]]: the
    * periods the history entry names, the sidecar's new `_period_gens`
    * (None keeps what `meta` carries), and the cleanup that may run
    * only once the commit-point sidecar write has landed. */
  private final case class Swapped(touched: Seq[String],
                                   periodGens: Option[Map[String, Long]],
                                   cleanup: () => Unit)

  private[graft] def reservedSuffixOf(name: String): Option[String] = {
    val i = name.lastIndexOf('$')
    if (i <= 0 || i == name.length - 1) None
    else Some(name.substring(i + 1).toLowerCase).filter(ReservedItemSuffixes.contains)
  }

  private[graft] def requireWritableItemName(name: String): Unit =
    reservedSuffixOf(name).foreach { k =>
      throw new ValidationError(
        s"item name '$name' collides with the reserved metadata-table " +
          s"suffix '$$$k' (${ReservedItemSuffixes.toSeq.sorted.mkString(", ")}); " +
          "pick a name without a '$<kind>' suffix")
    }

  /** Period key of a timestamp column under `layout`. */
  private[store] def periodExpr(layout: String, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    layout match {
      case "daily"     => date_format(c, "yyyy-MM-dd")
      case "monthly"   => date_format(c, "yyyy-MM")
      case "quarterly" => concat(date_format(c, "yyyy"), lit("-Q"), quarter(c).cast("string"))
      case "yearly"    => date_format(c, "yyyy")
      case other       => throw new ValidationError(s"unknown time layout '$other'")
    }

  /** Driver-side period key of a literal predicate value (read-side
    * partition pruning). Instants (java.sql.Timestamp) are resolved to a
    * date in the SESSION timezone — the same zone `periodExpr`'s
    * date_format used on the write side — never the JVM default, so a
    * boundary timestamp prunes to the directory it was written to even
    * when host tz != session tz. Wall-clock values (LocalDateTime/Date)
    * carry their date directly. */
  private[store] def periodOfValue(layout: String, v: Any,
                                   sessionTz: java.time.ZoneId): Option[String] = {
    val ld: Option[java.time.LocalDate] = v match {
      case t: java.sql.Timestamp        => Some(t.toInstant.atZone(sessionTz).toLocalDate)
      case i: java.time.Instant         => Some(i.atZone(sessionTz).toLocalDate)
      case ldt: java.time.LocalDateTime => Some(ldt.toLocalDate)
      case d: java.sql.Date             => Some(d.toLocalDate)
      case l: java.time.LocalDate       => Some(l)
      case _ => None
    }
    ld.map { d =>
      layout match {
        case "daily"     => d.toString
        case "monthly"   => f"${d.getYear}%04d-${d.getMonthValue}%02d"
        case "quarterly" => f"${d.getYear}%04d-Q${(d.getMonthValue - 1) / 3 + 1}"
        case "yearly"    => f"${d.getYear}%04d"
        case other       => throw new ValidationError(s"unknown time layout '$other'")
      }
    }
  }
  /** Periods a conjunctive predicate list can possibly touch — no
    * data read. Range/equality/IN constraints on the INDEX column map
    * each bound to its period key (period keys are zero-padded and
    * lexically chronological in every layout, so the key interval is a
    * string interval); every period outside [max lower, min upper] is
    * pruned. Bounds arrive as the row filter reads them
    * ([[ReadRoots.prunePeriods]] maps wall-clock bounds of a timestamp
    * index first); instants map to keys in `layoutTz`. Any other op,
    * and any value without a period, contributes no constraint — the
    * result only ever over-approximates, never drops a touchable
    * period.
    *
    * `periodStats`: per-period min/max of DECLARED stats columns
    * (`_period_stats` sidecar, maintained by the partial-commit paths)
    * — a period also prunes when a range constraint on a covered
    * NON-index column cannot overlap its recorded interval. Numeric and
    * temporal columns compare in the Double domain (temporal =
    * wall-clock epoch micros — the GDPR-shaped date predicate on a
    * non-index column); string columns compare lexicographically. A
    * period with no recorded stats for a bounded column — or a bound
    * whose domain mismatches the recorded one — is kept
    * (conservative). */
  private[graft] def candidatePeriods(periods: Seq[String],
                                      preds: Seq[Filters.Pred],
                                      indexCol: String,
                                      layout: String,
                                      layoutTz: java.time.ZoneId,
                                      periodStats: Map[String, Map[String, (Any, Any)]] = Map.empty)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    // `shift` tightens STRICT bounds by one representable unit (±1 µs /
    // ±1 day) before mapping to a period key: `index < '1997-04-01
    // 00:00:00'` admits at most 1997-03-31 23:59:59.999999, so the
    // upper PERIOD bound is 1997-03 — without the shift the empty
    // boundary period survives pruning (conservative but wasteful; the
    // exclusive-midnight cutoff is the common retention/report shape).
    def keyOf(v: Any, shift: Int = 0): Option[String] = (v match {
      case t: java.sql.Timestamp      => Some(t.toInstant.plusNanos(shift * 1000L))
      case i: java.time.Instant       => Some(i.plusNanos(shift * 1000L))
      case t: java.time.LocalDateTime => Some(t.plusNanos(shift * 1000L))
      case d: java.sql.Date           => Some(d.toLocalDate.plusDays(shift))
      case d: java.time.LocalDate     => Some(d.plusDays(shift))
      case _                          => None
    }).flatMap(periodOfValue(layout, _, layoutTz))
    // Stats-comparable value of a bound: numerics → Double; temporal →
    // wall-clock epoch micros as Double (the domain the refresh
    // writes); strings → String (lexicographic). Instants use their UTC
    // micros — tz-consistent with the write side because stats pruning
    // only runs when session tz == recorded layout tz.
    def numOf(v: Any): Option[Any] = v match {
      case t: java.sql.Timestamp      => Some(DateTimeUtils.fromJavaTimestamp(t).toDouble)
      case i: java.time.Instant       => Some(DateTimeUtils.instantToMicros(i).toDouble)
      case t: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t).toDouble)
      case d: java.sql.Date           => Some(DateTimeUtils.fromJavaDate(d) * 86400000000.0)
      case d: java.time.LocalDate     => Some(d.toEpochDay * 86400000000.0)
      case s: String                  => Some(s)
      case n: Number                  => Some(n.doubleValue())
      case _                          => None
    }
    var lows = List.empty[String]
    var highs = List.empty[String]
    // per non-index column: collected lower/upper bounds (Double or String)
    val numLows = scala.collection.mutable.Map.empty[String, Any]
    val numHighs = scala.collection.mutable.Map.empty[String, Any]
    // bounds of mismatched domains collapse to the unprunable marker
    // (None is not representable here, so keep the TIGHTEST same-domain
    // bound and drop cross-domain collisions conservatively)
    def tighter(a: Any, b: Any, wantMax: Boolean): Any = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        if (wantMax) math.max(x, y) else math.min(x, y)
      case (x: String, y: String) =>
        if ((x > y) == wantMax) x else y
      case _ => a // cross-domain: keep the first (any sound bound suffices)
    }
    def low(c: String, v: Any): Unit = numLows(c) = numLows.get(c).fold(v)(tighter(_, v, wantMax = true))
    def high(c: String, v: Any): Unit = numHighs(c) = numHighs.get(c).fold(v)(tighter(_, v, wantMax = false))
    preds.foreach { case Filters.Pred(c, op, v) =>
      val isIdx = c.equalsIgnoreCase(indexCol)
      // IN-lists bound both ends by their extreme members (an index
      // IN-list is the multi-key GDPR purge shape)
      val members: Seq[Any] = v match {
        case vs: Iterable[_] if op == "in" => vs.toSeq
        case one                           => Seq(one)
      }
      if (v != null && members.nonEmpty && !members.contains(null)) (isIdx, op) match {
        case (true, ">")         => keyOf(v, +1).foreach(lows ::= _)
        case (true, ">=")        => keyOf(v).foreach(lows ::= _)
        case (true, "<")         => keyOf(v, -1).foreach(highs ::= _)
        case (true, "<=")        => keyOf(v).foreach(highs ::= _)
        case (true, "==" | "=" | "in") =>
          val keys = members.flatMap(keyOf(_))
          if (keys.size == members.size) { lows ::= keys.min; highs ::= keys.max }
        case (false, ">" | ">=") => numOf(v).foreach(low(c, _))
        case (false, "<" | "<=") => numOf(v).foreach(high(c, _))
        case (false, "==" | "=" | "in") =>
          members.map(numOf) match {
            case ds if ds.forall(_.exists(_.isInstanceOf[java.lang.Double])) =>
              val d = ds.flatten.map(_.asInstanceOf[Double])
              low(c, d.min); high(c, d.max)
            case ss if ss.forall(_.exists(_.isInstanceOf[String])) =>
              val t = ss.flatten.map(_.asInstanceOf[String])
              low(c, t.min); high(c, t.max)
            case _ => () // unboundable or mixed-domain members: no constraint
          }
        case _ => () // any other op: no constraint
      }
    }
    val lo = lows.maxOption
    val hi = highs.minOption
    // a >= b in the shared domain; cross-domain (or unexpected) pairs
    // are TRUE = cannot prune — never drops a touchable period
    def domGte(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) => x >= y
      case (x: String, y: String) => x >= y
      case _ => true
    }
    def statsPrune(p: String): Boolean = {
      val recorded = periodStats.getOrElse(p, Map.empty)
      (numLows.forall { case (c, bound) =>
        recorded.get(c).forall { case (_, mx) => domGte(mx, bound) } }) &&
      (numHighs.forall { case (c, bound) =>
        recorded.get(c).forall { case (mn, _) => domGte(bound, mn) } })
    }
    periods.filter(p => lo.forall(p >= _) && hi.forall(p <= _) && statsPrune(p)).sorted
  }

  /** The declared pruning-stats columns (`_stats_cols`; Nil = none). */
  private[graft] def statsColumnsOf(meta: Map[String, JValue]): Seq[String] =
    meta.get("_stats_cols").map(Meta.unjv) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }

  /** Parse the `_period_stats` sidecar key (period → stats column →
    * (min, max)) — read by the read planner ([[ReadRoots]]) for
    * every read and every delete's discovery. Numeric and temporal columns record
    * Double bounds (temporal = wall-clock epoch micros); string columns
    * record String bounds (lexicographic domain). A malformed or
    * unknown-shaped entry parses to nothing — absent = unprunable. */
  private[graft] def periodStatsOf(meta: Map[String, JValue])
      : Map[String, Map[String, (Any, Any)]] =
    meta.get("_period_stats") match {
      case Some(org.json4s.JObject(fs)) => fs.map { case (period, v) =>
        period -> (Meta.unjv(v) match {
          case m: Map[_, _] => m.collect {
            case (c: String, Seq(mn: Double, mx: Double)) => c -> ((mn, mx): (Any, Any))
            case (c: String, Seq(mn: String, mx: String)) => c -> ((mn, mx): (Any, Any))
          }.toMap
          case _ => Map.empty[String, (Any, Any)]
        })
      }.toMap
      case _ => Map.empty
    }

  /** Metadata TTL cache — 300 s, same policy the reference credits for
    * its "100× faster metadata access" (collection.py:116-147). */
  val MetaCacheTtlMs: Long = 300 * 1000L

  /** Per-collection-path commit/snapshot coordination (JVM-wide, like
    * the single-writer driver model): mutation commit points take the
    * READ side (they interleave freely — each commit is itself atomic);
    * snapshot capture takes the WRITE side, so the generation cut it
    * pins is consistent across items even while parallel writers
    * (writeBatch, async, streaming) are in flight. Reentrant, so a
    * transaction can hold the read side across ALL its ops and publish
    * them as one atomic unit w.r.t. snapshots. Cross-process
    * coordination stays advisory via CollectionLock (unchanged). */
  private val commitLocks =
    new ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private[store] def commitLockFor(path: SPath): java.util.concurrent.locks.ReentrantReadWriteLock =
    commitLocks.computeIfAbsent(path.toString,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())

  /** Per-ITEM exclusive lock serializing the sidecar read-modify-write
    * paths (addColumns / dropColumns / setItemProperties / analyzeItem
    * / the post-commit stats refresh). The commit lock above is SHARED
    * among commits — two metadata mutations of the same item can
    * interleave read→write under it and silently clobber each other's
    * sidecar (a drop landing between addColumns' mask re-check and its
    * Meta.write would lose the mask and resurrect pre-drop bytes).
    * Lock ORDER is commit lock first, DDL lock innermost — the DDL
    * lock is a leaf, so the shared/exclusive commit sides can never
    * deadlock against it. JVM-scoped like the commit lock;
    * cross-process coordination stays advisory via CollectionLock. */
  private val itemDdlLocks =
    new ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private[store] def itemDdlLockFor(itemPath: SPath): java.util.concurrent.locks.ReentrantLock =
    itemDdlLocks.computeIfAbsent(itemPath.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())

  /** Intent journals (swap/rename/delete repair) act on names read
    * back from JSON files — a damaged or foreign file must never
    * resolve outside the collection root. Plain item-dir names only. */
  private[graft] def plainIntentName(s: String): Boolean =
    s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      s != "." && s != ".." && !s.startsWith("__")

  /** TEST SEAM: invoked at named points inside the commit protocol
    * (`full_staged:<item>`, `full_pre_sidecar:<item>`,
    * `month_aside:<item>:<period>`) so crash tests — a forked JVM that
    * HALTS itself at a seam, the kill -9 equivalent — can prove the
    * recovery invariants: pre-commit state serves after vacuum's swap
    * repair, staging is reclaimed, and the commit log never carries an
    * entry for a commit that didn't publish. Default no-op (a
    * megamorphic-free static call on the driver-side publish path);
    * never set in production. */
  private[graft] var commitSeamHook: String => Unit = _ => ()

  /** Publish-point observer for the CALLING thread: fired with
    * (collection, item, newGeneration) immediately after a commit
    * point lands (the sidecar write in [[Collection.publish]]), BEFORE
    * any post-commit work that may still throw (stats read-back,
    * cleanup). [[graft.transactions
    * .Transaction]] installs it so the generation its own op PRODUCED
    * is recorded even when the op throws after publishing — otherwise
    * rollback's foreign-commit detection would mistake the txn's own
    * partial commit for another writer's and refuse the restore.
    * Scoped to (thread, collection instance): a genuinely foreign
    * writer runs on another thread or process and never fires this
    * thread's observer. Default null (one ThreadLocal read on the
    * driver-side publish path). */
  private[graft] val publishObserver =
    new ThreadLocal[(Collection, String, Long) => Unit]

  /** [[Collection.expireBefore]] outcome: the period directories
    * removed by name (zero rows read) and the rows deleted from the
    * rewritten boundary period. */
  final case class ExpireResult(removedPeriods: Seq[String], boundaryDeleted: Long)

  /** Marker FILE at the collection root that switches the collection
    * into multi-process writer mode — durable so EVERY process opening
    * the collection agrees (an option passed per-session could be
    * forgotten by one writer, silently voiding the protection for
    * all). See [[Collection.enableMultiprocess]]. */
  private[graft] val MultiprocessMarker = "__multiprocess"

  /** Cross-process per-item writer locks live at
    * `<collection>/__itemlock_<item>/` — the `__` prefix keeps them out
    * of item listings; vacuum's junk sweep never touches them (a LIVE
    * writer may hold one — the very situation multiprocess mode
    * exists for). */
  private[graft] val ItemLockPrefix = "__itemlock_"

  /** Item-lock paths held by the CURRENT thread — makes
    * [[Collection.withItemProcessLock]] reentrant (a filesystem lock
    * has no owner-thread notion of its own; the publish path can be
    * reached from verbs that already hold the item's lock, e.g.
    * addColumns → purge rewrite → publish). */
  private val heldProcessLocks =
    new ThreadLocal[scala.collection.mutable.Set[String]] {
      override def initialValue(): scala.collection.mutable.Set[String] =
        scala.collection.mutable.Set.empty[String]
    }

  /** Owner stamp written into a held item lock: host + pid, so a
    * timeout error names the process to inspect. */
  private lazy val processOwnerTag: String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host:pid=${ProcessHandle.current().pid()}"
  }

  /** Count of fence/torn-read retries taken since JVM start — the
    * contention meter the N-writer stress arms read (CrashProbe prints
    * it) to prove liveness is cheap, not just eventual. */
  private[graft] val conflictRetries = new java.util.concurrent.atomic.AtomicLong

  private[graft] final class InterleaveCounter { var n: Long = 0L }

  /** Per-thread count of [[retryOnConflict]] cycles that PROVE a
    * foreign commit interleaved with the retried op — fence refusals
    * and torn reads with an observed generation MOVE (never
    * unchanged-generation tears: those indicate corruption, not
    * progress). Transactions sample it around each op: an op whose
    * publish was fence-refused RE-READ the item and folded the foreign
    * writer's rows into its own successful publish, so the final
    * generation chain reads as purely the op's own (the publish
    * observer records the op's final generation) and the transaction's
    * pre-op generation check can never flag the item — this counter is
    * the only trace such an interleave leaves, and without it a later
    * rollback would rewind the pre-txn pin over the foreign writer's
    * durably-acknowledged commit. */
  private[graft] val foreignInterleaves = new ThreadLocal[InterleaveCounter] {
    override def initialValue(): InterleaveCounter = new InterleaveCounter
  }

  /** Optimistic-concurrency retry: re-run `body` when the publish
    * fence refuses it ([[ConcurrentWriteError]] — the item's committed
    * generation moved between the read and the publish) or when the
    * optimistic READ itself tore (a concurrent commit swapped the data
    * dir away mid-scan — Spark surfaces FILE_NOT_EXIST; the fence
    * would have refused that staging anyway, the read just failed
    * first). Each retry re-reads the CURRENT state, so the interleaved
    * commit's rows are carried, never clobbered.
    *
    * LIVENESS: a fence refusal is PROOF another writer's commit landed
    * (only the fence raises [[ConcurrentWriteError]]), so retrying is
    * always globally productive — it is budgeted by TIME
    * (`fenceBudgetMs`, matching the item-lock timeout), never by a
    * fixed attempt count an N-writer burst could exhaust: under
    * sustained contention each writer loses only to real commits and
    * serializes behind them. Torn reads get the SAME time budget when
    * `genProbe` proves the item's committed generation MOVED since the
    * attempt began (the tear was a foreign commit's swap — e.g. a
    * writer whose lock-free staging keeps racing an exclusive
    * transaction's back-to-back publishes; every data commit advances
    * the generation, so progress is observable); a torn read with an
    * UNCHANGED generation is a genuinely missing file (corruption) and
    * keeps the attempt CAP — it must surface, not spin for two
    * minutes. Backoff is quadratic with jitter so contending processes
    * fall out of lockstep instead of re-colliding every round. */
  private[store] def retryOnConflict[A](maxAttempts: Int = 8,
                                        fenceBudgetMs: Long = 120000L,
                                        genProbe: () => Long = () => -1L)(body: => A): A = {
    val start = System.currentTimeMillis()
    var tornReads = 0
    var attempt = 1
    var genAtAttempt = genProbe()
    def backoff(): Unit = {
      conflictRetries.incrementAndGet()
      val base = math.min(25L * attempt * attempt, 1000L)
      Thread.sleep(base / 2 +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(base / 2 + 1))
      attempt += 1
      genAtAttempt = genProbe()
    }
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriteError =>
          foreignInterleaves.get().n += 1 // a refusal is PROOF of a foreign commit
          if (System.currentTimeMillis() - start > fenceBudgetMs) throw e
          backoff()
        case e: Throwable if isTornRead(e) =>
          // a failed probe (−1, or a thrown one) is NOT proof of
          // movement — per genProbeFor's contract it must count toward
          // the corruption cap, not buy two minutes of time budget for
          // a genuinely unreadable sidecar
          val moved = genAtAttempt >= 0 && {
            val now = try genProbe() catch { case _: Exception => -1L }
            now >= 0 && now != genAtAttempt
          }
          if (moved) { // foreign progress proven — time budget, not the cap
            foreignInterleaves.get().n += 1
            if (System.currentTimeMillis() - start > fenceBudgetMs) throw e
            backoff()
          } else {
            tornReads += 1
            if (tornReads >= maxAttempts) throw e
            backoff()
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A read that raced a concurrent commit's swap: the scanned files
    * vanished under the job. Walks the cause chain — Spark wraps the
    * IO error in task/job failure layers. Three spellings, by WHEN the
    * race hit: mid-scan (FileNotFound inside task failures), at
    * plan-time path resolution (atomicSwap's window between its two
    * renames has NO data dir — Spark raises PATH_NOT_FOUND, which
    * Item types as its torn-item repair pointer), and the raw
    * AnalysisException when the read bypassed Item. Classification by
    * observed generation progress keeps these honest: a mid-swap tear
    * retries on the time budget (the swapping commit moved the
    * generation), while a genuinely torn crashed item (gen unchanged)
    * hits the attempt cap and surfaces the typed repair pointer. */
  private def isTornRead(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 12) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        // Hadoop's checksummed local FS renames a file and its .crc
        // sidecar in TWO steps; a read landing between them sees the
        // new bytes under the old checksum — a swap-race spelling of
        // the torn read, not data corruption (observed once in the
        // forked-JVM HadoopFs race suite). The generation-progress
        // classification keeps real corruption honest: unchanged gen
        // stays on the attempt cap and still surfaces.
        case _: org.apache.hadoop.fs.ChecksumException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition == "PATH_NOT_FOUND" => return true
        case g: GraftError if g.getMessage != null &&
          g.getMessage.contains("no data directory") => return true
        // ANY per-file read failure, not just FILE_NOT_EXIST: part
        // files are immutable once written and vanish only via commit
        // renames, so a FAILED_READ_FILE of any flavor (the NO_HINT
        // wrapper included — seen when the file disappears mid-read
        // rather than at open) during an optimistic read is either a
        // racing swap or corruption, and the generation-progress
        // classification already separates those (unchanged gen keeps
        // the attempt cap, so corruption still surfaces)
        case s if s.getMessage != null &&
          (s.getMessage.contains("FAILED_READ_FILE") ||
            s.getMessage.contains("FileNotFoundException")) => return true
        case _ => ()
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }
}

/** A collection: a namespace of items with write / append / read /
  * snapshot semantics (reference: pystore/collection.py).
  *
  * Every mutation commits through the backend's `atomicSwap` (the reference's
  * M7 protocol) so readers always see either the old or the new item —
  * never the reference's delete-then-move window (SURVEY §3.3).
  *
  * Scale design: all row-level work (dedup anti-joins, unions, window
  * dedup, range repartitioning) is expressed as DataFrame plans and runs
  * on executors; the driver only manages paths and sidecars. Appending
  * to a 100 TB item shuffles ONLY on the index key, and the anti-join
  * against the existing index reads just the index column (column
  * pruning) of the old item.
  */
final class Collection private[store] (val spark: SparkSession, val path: SPath) {
  import Collection._

  def name: String = path.name

  /** TEST SEAM: when true, mutation paths skip the post-commit
    * [[refreshPeriodStats]] read-back — simulating a crash in the
    * commit→refresh window so specs can assert the staleness invariant
    * (touched entries dropped ATOMICALLY with the commit, leaving
    * absent/unprunable stats rather than stale ones). */
  private[graft] var simulateCrashBeforeStatsRefresh = false

  private def maybeRefreshPeriodStats(item: String, cols: Seq[String],
                                      months: Option[Seq[String]],
                                      at: Map[String, JValue]): Unit =
    if (!simulateCrashBeforeStatsRefresh) refreshPeriodStats(item, cols, months, at)

  /** Hold the commit (read) side of the coordination lock — see
    * [[Collection.commitLockFor]]. Reentrant per thread. */
  private[graft] def withCommitLock[A](body: => A): A = {
    val l = Collection.commitLockFor(path).readLock()
    l.lock(); try body finally l.unlock()
  }

  /** Hold the snapshot (write) side: excludes every commit point while
    * the generation cut is captured. Refuses typed when THIS thread
    * already holds the commit (read) side — a read→write upgrade on a
    * ReentrantReadWriteLock self-deadlocks silently, so calling a
    * snapshot-lock verb (createSnapshot, rename, vacuum, rollback)
    * from inside a transaction block must be an error, not a hang. */
  private[graft] def withSnapshotLock[A](body: => A): A = {
    val rw = Collection.commitLockFor(path)
    if (rw.getReadHoldCount > 0)
      throw new GraftError(
        "this operation takes the collection's exclusive snapshot lock " +
          "and cannot run inside a transaction block (the transaction " +
          "holds the commit side) — run it before or after the transaction")
    val l = rw.writeLock()
    l.lock(); try body finally l.unlock()
  }

  /** Hold the item's exclusive DDL lock — see
    * [[Collection.itemDdlLockFor]]. Always taken INSIDE the commit
    * lock (it is a leaf among the JVM locks); reentrant per thread.
    * In multiprocess mode the cross-process item lock wraps it, so
    * every sidecar read-modify-write site (DDL verbs, stats refresh,
    * the publish paths) is exclusive across processes too. */
  private def withItemDdlLock[A](item: String)(body: => A): A =
    withItemProcessLock(item) {
      val l = Collection.itemDdlLockFor(path.resolve(item))
      l.lock(); try body finally l.unlock()
    }

  // ------------------------------------- cross-process writer protection

  @volatile private var mpMode: java.lang.Boolean = null

  /** Whether this collection is in multi-process writer mode — read
    * from the durable [[Collection.MultiprocessMarker]] once per
    * Collection instance (one `exists` check, then cached; the
    * enable/disable verbs refresh the cache). Default OFF: the
    * single-writer assumption costs nothing on the hot path. */
  def multiprocessEnabled: Boolean = {
    var m = mpMode
    if (m == null) {
      m = java.lang.Boolean.valueOf(
        path.resolve(Collection.MultiprocessMarker).exists)
      mpMode = m
    }
    m.booleanValue
  }

  /** Switch the collection into multi-process writer mode, durably:
    * every process that opens it from now on takes a cross-process
    * per-item lock around its commit points (publish, DDL sidecar
    * writes, delete, rename) and fences appends on the committed
    * generation, so concurrent writers SERIALIZE instead of silently
    * losing updates. The reference's lock is advisory only — writers
    * that don't opt in bypass it (transactions.py:289-362); here the
    * commit chokepoints themselves take the lock. Processes that
    * opened the collection BEFORE the marker landed still run
    * unprotected (the mode flag is read once per Collection) — enable
    * the mode before starting concurrent writers. */
  def enableMultiprocess(): Unit = {
    path.fs.writeBytesAtomic(path.resolve(Collection.MultiprocessMarker).raw,
      "multiprocess".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    mpMode = java.lang.Boolean.TRUE
  }

  def disableMultiprocess(): Unit = {
    path.resolve(Collection.MultiprocessMarker).deleteRecursively()
    mpMode = java.lang.Boolean.FALSE
  }

  /** How long a commit waits for another process's item lock before
    * refusing typed. Held sections are short — O(1) renames plus one
    * sidecar write, never a data job — so contention clears in
    * milliseconds unless the holder died. */
  private[graft] var processLockTimeoutMs: Long = 120000L

  /** Multiprocess-mode vacuum: how long a `__tmp_*` staging dir must
    * show NO write activity (newest mtime anywhere inside it — a live
    * Spark job keeps touching its task files, so this is a free
    * heartbeat) before the sweep treats it as a crashed writer's
    * corpse. Staging is deliberately lock-free (it IS the data job),
    * so age is the only evidence; at the 100 TB design point a single
    * write/rewrite job can legitimately run for hours, hence the
    * generous default. Raise it if your longest job (plus any
    * close-on-finish mtime lag on object stores) can exceed it;
    * sweeping live staging loses no data (the publish would fail its
    * rename, classify as a conflict, and re-stage) but fails the
    * in-flight job spuriously. */
  var stagingSweepAgeMs: Long = 24L * 3600 * 1000

  /** Hold the cross-process per-item writer lock (no-op outside
    * multiprocess mode). Atomic first-caller-wins create of
    * `__itemlock_<item>` (POSIX mkdir / Hadoop exclusive owner-file
    * create), polled to a deadline. Lock ORDER: JVM commit/snapshot
    * lock first, this second, the JVM DDL lock innermost — a thread
    * polling here can hold at most the SHARED commit side, and no
    * verb takes a JVM lock while holding this one that it didn't
    * already hold, so neither in-JVM nor cross-process cycles exist
    * (multi-item verbs like rename acquire in sorted name order).
    * Reentrant per thread via [[Collection.heldProcessLocks]]. */
  /** Acquire the item's cross-process lock, or pass through when this
    * thread already holds it (reentrancy). Returns true iff THIS call
    * took the lock and therefore owns its release. */
  private def acquireItemProcessLock(item: String): Boolean = {
    val lock = path.resolve(Collection.ItemLockPrefix + item)
    val key = lock.toString
    val held = Collection.heldProcessLocks.get()
    if (held.contains(key)) return false
    val deadline = System.currentTimeMillis() + processLockTimeoutMs
    while (!path.fs.tryLock(lock.raw, Collection.processOwnerTag)) {
      if (System.currentTimeMillis() > deadline) {
        val owner = try {
          val f = lock.resolve("owner")
          if (f.exists)
            new String(f.fs.readBytes(f.raw), java.nio.charset.StandardCharsets.UTF_8)
          else "unknown"
        } catch { case _: Exception => "unknown" }
        throw new LockTimeoutError(
          s"could not acquire the cross-process writer lock for item '$item' " +
            s"within ${processLockTimeoutMs}ms (held by $owner); if that " +
            "process crashed, clear stale locks with breakItemLocks() — but " +
            "verify it first: a LIVE holder may be an exclusive transaction " +
            "legitimately holding the lock across its data jobs, and breaking " +
            "a live writer's lock destroys its atomicity")
      }
      Thread.sleep(25)
    }
    held += key
    true
  }

  private def releaseItemProcessLock(item: String): Unit = {
    val lock = path.resolve(Collection.ItemLockPrefix + item)
    Collection.heldProcessLocks.get() -= lock.toString
    lock.deleteRecursively()
  }

  private[graft] def withItemProcessLock[A](item: String)(body: => A): A = {
    if (!multiprocessEnabled) return body
    if (!acquireItemProcessLock(item)) return body
    try body finally releaseItemProcessLock(item)
  }

  /** Progress probe for [[Collection.retryOnConflict]]'s torn-read
    * classification: the item's current committed generation, read
    * fresh (never the TTL cache — staleness would misread foreign
    * progress as corruption). Total: any read failure (e.g. the
    * sidecar itself mid-swap) returns −1, which conservatively counts
    * the tear toward the corruption cap instead of the time budget. */
  private def genProbeFor(item: String): () => Long = () =>
    try Snapshots.generationOf(Meta.read(path.resolve(item)))
    catch { case _: Exception => -1L }

  /** Acquire two items' process locks in sorted-name order (the
    * cross-process deadlock discipline for the one two-item verb,
    * rename). */
  private def withItemProcessLocks[A](a: String, b: String)(body: => A): A = {
    val sorted = Seq(a, b).sorted
    withItemProcessLock(sorted.head) { withItemProcessLock(sorted(1)) { body } }
  }

  /** Acquire EVERY listed item's cross-process lock, in sorted-name
    * order (the same global order every multi-lock verb uses, so no
    * cross-process cycle can form), then run `body`. No-op outside
    * multiprocess mode. This is how the collection-level admin verbs
    * (vacuum, createSnapshot's cut, rollbackTo's restore) exclude
    * writers in OTHER processes: an ordinary writer holds its one item
    * lock for an O(1) publish, so each acquisition here usually waits
    * milliseconds; an EXCLUSIVE transaction legitimately holds its
    * items' locks across its data jobs, so acquisition can wait that
    * long too. A dead holder's stale lock times out typed, naming
    * breakItemLocks() (with a live-exclusive-txn caveat). The held
    * section must stay METADATA-scale (sidecar reads, renames,
    * hardlinks — never a data job), same contract as the per-item
    * lock. `private[graft]` so exclusive transactions reuse THIS
    * iterative spelling (Transactions.scala) — a closure-nested
    * acquire would overflow the stack at 10k items. */
  private[graft] def withItemProcessLockAll[A](itemNames: Iterable[String])(body: => A): A = {
    if (!multiprocessEnabled) return body
    // ITERATIVE acquire (sorted) / reverse release — a closure-nested
    // spelling would build a call chain as deep as the item count and
    // a 10k-item collection (routine at 100 TB) would overflow the
    // stack in the middle of vacuum. Only locks THIS call took are
    // released (reentrant holds stay with their outer owner); a
    // mid-acquisition failure (timeout) releases exactly what it took.
    val sorted = itemNames.toSeq.distinct.sorted
    val taken = new scala.collection.mutable.ArrayBuffer[String](sorted.size)
    try {
      sorted.foreach(it => if (acquireItemProcessLock(it)) taken += it)
      body
    } finally taken.reverseIterator.foreach(releaseItemProcessLock)
  }

  /** ADMIN: forcibly clear every per-item writer lock — the remedy for
    * a lock leaked by a holder that died mid-commit (the crash itself
    * is already repaired by vacuum's journaled swap repair; only the
    * lock dir outlives the corpse). Returns the cleared lock names.
    * Must only run when no writer process is live, like vacuum. */
  def breakItemLocks(): Seq[String] = {
    val locks = path.listDirs.filter(_.startsWith(Collection.ItemLockPrefix))
    locks.foreach(l => path.resolve(l).deleteRecursively())
    locks
  }

  // ---------------------------------------------------------------- items

  private val itemSetCache = new java.util.concurrent.atomic.AtomicReference[Set[String]](null)

  private def refreshItems(): Set[String] = {
    val s = path.listDirs
      .filterNot(d => d == GraftStore.SnapshotsDir || d.startsWith("__"))
      .toSet
    itemSetCache.set(s)
    s
  }

  /** Cached item listing, refreshed on every mutation
    * (reference collection.py:55, 86-88). */
  def items: Set[String] = Option(itemSetCache.get).getOrElse(refreshItems())

  def hasItem(item: String): Boolean = path.resolve(item).isDir

  /** List items, optionally AND-matching metadata equality
    * (reference collection.py:90-110): every (k,v) must equal the item's
    * sidecar value; `_updated` is excluded from matching
    * (collection.py:99). Metadata is tiny → evaluated driver-side.
    */
  def listItems(where: Map[String, Any] = Map.empty): Set[String] =
    if (where.isEmpty) refreshItems()
    else refreshItems().filter { it =>
      val meta = metadata(it) - "_updated"
      where.forall { case (k, v) =>
        meta.get(k).exists(j => Meta.unjv(j) == v ||
          Meta.unjv(j).toString == v.toString)
      }
    }

  def item(name: String,
           snapshot: Option[String] = None,
           filters: Seq[Filters.Pred] = Nil,
           columns: Seq[String] = Nil): Item =
    new Item(spark, path, name, snapshot, filters, columns)

  // ------------------------------------------------------- metadata cache

  private val metaCache = new ConcurrentHashMap[String, (Map[String, JValue], Long)]()

  def metadata(item: String): Map[String, JValue] = {
    val now = System.currentTimeMillis()
    val cached = metaCache.get(item)
    if (cached != null && now - cached._2 < MetaCacheTtlMs) cached._1
    else {
      val m = Meta.read(path.resolve(item))
      metaCache.put(item, (m, now))
      m
    }
  }

  def clearMetadataCache(item: Option[String] = None): Unit = item match {
    case Some(i) => metaCache.remove(i)
    case None    => metaCache.clear()
  }

  // --------------------------------------------------------------- write

  /** Full write pipeline (reference collection.py:316-350 / M1):
    * exists-check → validate → index-column default → partition policy →
    * snappy Parquet via atomic commit → metadata sidecar.
    *
    * `indexCols` materializes the pandas index as ordinary columns
    * (SURVEY §1.2); several columns = MultiIndex flattened (§1.3).
    */
  def write(item: String,
            df: DataFrame,
            indexCols: Seq[String] = Seq(DefaultIndex),
            metadata: Map[String, Any] = Map.empty,
            npartitions: Option[Int] = None,
            overwrite: Boolean = false,
            validator: Option[DataValidator] = None,
            epochdate: Boolean = false,
            typeMarkers: Map[String, Codecs.TypeMarker] = Map.empty,
            dtypeHints: Map[String, String] = Map.empty,
            monthlyLayout: Boolean = false,
            monthlySalt: Int = 1,
            timeLayout: Option[String] = None,
            statsColumns: Seq[String] = Nil): Unit = {
    val layoutName = timeLayout.getOrElse(if (monthlyLayout) "monthly" else "flat")
    val isTime = layoutName != "flat"
    if (isTime && !TimeLayouts.contains(layoutName))
      throw new ValidationError(
        s"unknown time layout '$layoutName' (supported: ${TimeLayouts.mkString(",")})")
    if (hasItem(item) && !overwrite)
      throw new ItemExistsError(
        s"item '$item' already exists; use overwrite=true to replace")

    Collection.requireWritableItemName(item)
    validator.foreach(_.validate(df))
    structuralChecks(df)
    statsColumns.foreach { c =>
      if (!df.columns.contains(c))
        throw new ValidationError(s"stats column '$c' not in DataFrame")
      import org.apache.spark.sql.types._
      df.schema(c).dataType match {
        case _: NumericType | TimestampType | TimestampNTZType | DateType | StringType => ()
        case other => throw new ValidationError(
          s"stats column '$c' has unsupported type ${other.simpleString}: declare " +
          "numeric, timestamp, date, or string columns (index-time pruning is free)")
      }
    }

    // Reference parity: an unnamed pandas index is materialized as a
    // column named "index" (collection.py:266-268). When the caller
    // relies on the default index name and no such column exists,
    // synthesize a DENSE 0..n-1 index — true RangeIndex semantics,
    // including collide-on-re-append (two frames that both synthesized
    // their index share ids 0..min(n,m), exactly like pandas).
    val (indexed, releaseIndex) = ensureIndex(df, indexCols)
    try {
    val missing = indexCols.filterNot(indexed.columns.contains)
    if (missing.nonEmpty)
      throw new ValidationError(s"index column(s) not in DataFrame: ${missing.mkString(",")}")

    // ns-fidelity path (reference utils.py:65-75): store the temporal
    // index as int64 epoch-nanos when requested. Spark TimestampType is
    // µs; the LongType column is the only lossless ns representation.
    val epochEncoded =
      if (!epochdate) indexed
      else indexCols.foldLeft(indexed) { (d, c) =>
        d.schema(c).dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            d.withColumn(c, unix_micros(col(c)) * lit(1000L))
          case _ => d
        }
      }

    // Per-dtype codec dispatch (reference collection.py:240-270): tz
    // markers auto-detected from the schema, pandas-only dtypes applied
    // from caller hints; explicit markers win.
    val (encoded, allMarkers) = Codecs.autoDispatch(
      epochEncoded, typeMarkers, dtypeHints,
      spark.conf.get("spark.sql.session.timeZone", "UTC"))

    if (isTime && !Partitioner.isTemporal(encoded, indexCols.head))
      throw new ValidationError("time layouts require a timestamp/date index column")

    // A flat layout plans from ONE narrow index-column scan before the
    // write ([[flatPlan]]): it collects the bounds of a multi-file
    // layout and, for a temporal index under the auto decision, the
    // stats the decision needs. The sidecar's stats are OBSERVED during
    // the commit's own parquet job, so they describe the rows written;
    // a non-deterministic input (unseeded sample, rand()) re-executed
    // by the planning scan only skews its bounds, i.e. file balance.
    val (laidOut0, layoutMeta) =
      if (isTime) (withTimeLayout(encoded, indexCols, monthlySalt, layoutName),
        Meta.obj("_partitions" -> 0, "_partition_strategy" -> Partitioner.TimeBased.name))
      else flatPlan(encoded, indexCols, None, npartitions)
    val (laidOut, observed) = observeStats(laidOut0, indexCols.head)
    // evaluated by publish() AFTER the parquet job ran (meta is by-name)
    def stats: Partitioner.IndexStats = observed()

    def extra = Meta.obj(
      "index_names" -> indexCols,
      "index_dtypes" -> indexCols.map(c => indexed.schema(c).dataType.simpleString),
      "_layout" -> layoutName,
      // period keys were derived via date_format in THIS session's tz;
      // recorded so read-side pruning resolves instants in the same
      // zone (a cross-tz reader would otherwise prune boundary rows
      // into the wrong period directory)
      "_layout_tz" -> spark.conf.get("spark.sql.session.timeZone", "UTC"),
      "_monthly_salt" -> monthlySalt,
      "_epochdate" -> epochdate,
      "schema_json" -> indexed.schema.json,
      // the ENCODED (post-epochdate/post-codec, MonthCol-free) schema:
      // what the parquet files actually hold, so the emptied-item
      // fallback serves a frame dataRestored can invert exactly like a
      // non-empty read (schema_json above is the PRE-encode logical
      // schema, kept for API introspection)
      "schema_json_encoded" -> encoded.schema.json) ++ layoutMeta ++ statsMeta(stats) ++
      (if (allMarkers.isEmpty) Map.empty
       else Map("_type_info" -> Codecs.markersToMeta(allMarkers))) ++
      (if (statsColumns.isEmpty) Map.empty
       else Meta.obj("_stats_cols" -> statsColumns))
    publish(item, stage(item, laidOut, partitioned = isTime), Full(isTime),
      Meta.obj(metadata.toSeq: _*) ++ extra ++ Collection.opTag("write"))
    } finally releaseIndex()
  }

  /** Maintain the `_period_stats` sidecar map (period → stats column →
    * [min, max]) for the item's declared `_stats_cols` (`cols`, from
    * the caller's sidecar — the publish's just-written meta, or
    * analyzeItem's declaration; Nil is a no-op): a narrow
    * post-commit read-back of ONLY the touched periods — a
    * partition-pruned COLUMN SCAN of just the stats columns (column
    * pruning keeps it narrow; it is not footer-only), merged over the
    * previous map. Cost rides the same periods the partial commit just
    * wrote, so it scales with batch span, not item size.
    * `months = None` rebuilds all periods; with a list,
    * the listed periods' entries are replaced (a period the read-back
    * no longer finds was emptied — its entry drops). Cost scales with
    * the touched periods, like the partial commits it follows.
    *
    * Crash safety: the COMMIT itself already dropped the touched
    * periods' entries in its own meta write ([[publish]]), so
    * this read-back only ever re-establishes intervals — a crash
    * anywhere in the commit→refresh window leaves absent (unprunable,
    * conservative) entries, never stale ones.
    *
    * Concurrency: `at` is the sidecar, read under the locks before the
    * scan, whose data state the scan is meant to see. A commit landing
    * during the lock-free scan may swap a period before or after the
    * scan reads it, so the merge keeps a fresh entry only
    * for a period provably unchanged since `at` — same `_generation`,
    * or same `_period_gens` entry — and leaves every other period's
    * entry as that commit (and its own refresh) left it. */
  private[graft] def refreshPeriodStats(item: String, cols: Seq[String],
                                        months: Option[Seq[String]],
                                        at: Map[String, JValue]): Unit = {
    val itemPath = path.resolve(item)
    if (cols.isEmpty) return
    val t = resolveLive(item)
    val periods = t.periods.getOrElse(Nil)
    // a delete/expiry can empty EVERY period: the commit already
    // landed, so an unreadable (dir-less) item must clear the stats
    // map, not throw after the mutation succeeded
    if (periods.isEmpty) {
      withCommitLock { withItemDdlLock(item) {
        Meta.write(itemPath,
          Meta.read(itemPath) + ("_period_stats" -> Meta.jv(Map.empty[String, Any])))
        metaCache.remove(item)
      } }
      return
    }
    // only the listed periods that exist are read
    val raw = t.read(ReadRoots.dirRoots(t, Some(months match {
      case Some(ms) if ms.nonEmpty => periods.filter(ms.toSet)
      case _                       => periods
    })), period = true)
    val present = cols.filter(raw.columns.contains)
    if (present.isEmpty) return
    // Stats domain per dtype: numerics as Double; temporal as
    // wall-clock epoch micros (Double) — instants via unix_micros
    // (tz-free), NTZ via a session-tz round trip (session == recorded
    // layout tz on every mutation path), dates via unix_date; strings
    // lexicographic. The predicate side (candidatePeriods.numOf) maps
    // literals into the same domains.
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
    val sessionTzName = spark.conf.get("spark.sql.session.timeZone", "UTC")
    // an NTZ wall time inside a DST gap of the session zone shifts by
    // up to an hour through the timestamp round trip: widen those
    // intervals below so the shift can never prune a live period
    val ntzDstSlack = !java.time.ZoneId.of(sessionTzName).getRules.isFixedOffset
    def statExpr(c: String): org.apache.spark.sql.Column =
      raw.schema(c).dataType match {
        case TimestampType    => unix_micros(col(c)).cast("double")
        case TimestampNTZType =>
          unix_micros(to_utc_timestamp(col(c).cast("timestamp"), sessionTzName)).cast("double")
        case DateType         => unix_date(col(c)).cast("double") * lit(86400000000.0)
        case StringType       => col(c)
        case _                => col(c).cast("double")
      }
    def widen(c: String, v: Any, up: Boolean): Any = v match {
      case d: java.lang.Double
          if ntzDstSlack && raw.schema(c).dataType == TimestampNTZType =>
        if (up) d + 3600000000.0 else d - 3600000000.0
      case other => other
    }
    val aggs = present.flatMap(c => Seq(
      min(statExpr(c)).as(s"__mn_$c"), max(statExpr(c)).as(s"__mx_$c")))
    val rows = raw.groupBy(col(MonthCol).cast("string").as("__p"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val fresh: Map[String, Any] = rows.map { r =>
      r.getString(0) -> present.flatMap { c =>
        val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
        if (mn == null || mx == null) None
        else Some(c -> Seq(widen(c, mn, up = false), widen(c, mx, up = true)))
      }.toMap
    }.toMap
    Collection.commitSeamHook(s"stats_scanned:$item") // no-op outside tests
    // The expensive column scan above ran lock-free; the sidecar
    // read-modify-write below RE-READS under the per-item DDL lock so a
    // schema mutation (drop/add/properties) landing during the scan is
    // never clobbered by this derived-bookkeeping write.
    withCommitLock { withItemDdlLock(item) {
      val cur = Meta.read(itemPath)
      val old: Map[String, Any] = cur.get("_period_stats") match {
        case Some(org.json4s.JObject(fs)) => fs.map { case (k, v) => k -> Meta.unjv(v) }.toMap
        case _ => Map.empty
      }
      val atGens = Snapshots.periodGensOf(at)
      val curGens = Snapshots.periodGensOf(cur)
      val unchanged: String => Boolean =
        if (Snapshots.generationOf(cur) == Snapshots.generationOf(at)) _ => true
        else p => atGens.get(p).exists(g => curGens.get(p).contains(g))
      // replaced or emptied periods: the listed ones, or every one on a
      // full rebuild
      val rebuilt = months.getOrElse(old.keys ++ fresh.keys).filter(unchanged)
      val merged = (old -- rebuilt) ++ fresh.filter { case (p, _) => unchanged(p) }
      Meta.write(itemPath, cur + ("_period_stats" -> Meta.jv(merged)))
      metaCache.remove(item)
    } }
  }

  /** Materialize the default index when absent (pandas RangeIndex):
    * dense 0..n-1 row ids. Distributed two-phase assignment — the id is
    * partition_offset + within-partition position, with offsets from a
    * per-partition count aggregate (one cheap extra job, O(#partitions)
    * rows to the driver; the zipWithIndex recipe) — no global sort, no
    * single-partition window, correct at any scale.
    *
    * The marked frame is persisted (MEMORY_AND_DISK) before the count
    * collect so the offset-join phase reads the SAME materialized ids —
    * a non-deterministic upstream plan (unseeded sample, post-shuffle
    * coalesce) re-executed twice could otherwise yield non-dense or
    * colliding ids. Returns the indexed frame plus a release handle the
    * caller invokes after the write action. */
  private def ensureIndex(df: DataFrame,
                          indexCols: Seq[String]): (DataFrame, () => Unit) =
    if (!(indexCols == Seq(DefaultIndex) && !df.columns.contains(DefaultIndex)))
      (df, () => ())
    else {
      import spark.implicits._
      // monotonically_increasing_id = partitionId·2³³ + positionInPartition
      val marked = df.withColumn("__mid", monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = marked
        .groupBy(shiftrightunsigned(col("__mid"), 33).as("__pid"))
        .agg(count(lit(1)).as("__cnt"))
        .orderBy("__pid").collect().map(r => (r.getLong(0), r.getLong(1)))
      var acc = 0L
      val offsets = counts.map { case (pid, c) => val t = (pid, acc); acc += c; t }.toSeq
      val indexed = marked
        .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
        .join(broadcast(offsets.toDF("__pid", "__off")), Seq("__pid"))
        .withColumn(DefaultIndex,
          col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)))
        .drop("__pid", "__mid", "__off")
      (indexed, () => { marked.unpersist(blocking = false); () })
    }

  /** The one flat layout plan — write, append, and every flat rewrite
    * (rebalance, convert-to-flat, rename, purge, z-order): `df` laid
    * out over `npartitions` files, or over the count
    * [[Partitioner.decide]] picks from `df`'s Catalyst size estimate
    * and, for a temporal index, `stats` (the caller's, from the
    * sidecar; the planning scan's when absent). Files are sorted with
    * disjoint, ascending ranges of the leading index column
    * ([[Partitioner.layout]]), bounded by the quantile cuts of ONE
    * narrow index-column scan of `scanned` (default `df`), run only
    * when the decision needs its stats or the layout has more than one
    * file. Returns the laid-out frame and its `_partitions` /
    * `_partition_strategy` sidecar keys. */
  private def flatPlan(df: DataFrame, idx: Seq[String],
                       stats: Option[Partitioner.IndexStats], npartitions: Option[Int],
                       scanned: Option[DataFrame] = None,
                       dedupRows: Boolean = false): (DataFrame, Map[String, JValue]) = {
    lazy val plan = Partitioner.planFlat(scanned.getOrElse(df), idx.head,
      npartitions.getOrElse(Partitioner.MaxPartitions))
    val (n, strategy) = npartitions match {
      case Some(k) => (k, Partitioner.SizeBased)
      case None => Partitioner.decide(Partitioner.estimatedBytes(df), stats.getOrElse(
        if (Partitioner.isTemporal(df, idx.head)) plan.stats
        else Partitioner.IndexStats(0L, None, None)))
    }
    (Partitioner.layout(df, idx, n, if (n > 1) plan.cuts else Nil, dedupRows),
      Meta.obj("_partitions" -> n, "_partition_strategy" -> strategy.name))
  }

  /** `df` with its row count (and, for a temporal index, the index
    * min/max) observed by whichever job runs it: the stats
    * [[Partitioner.computeStats]] gives, without a job of their own.
    * The returned thunk blocks until that job has finished. */
  private def observeStats(df: DataFrame, indexCol: String)
      : (DataFrame, () => Partitioner.IndexStats) = {
    val o = new org.apache.spark.sql.Observation()
    val temporal = Partitioner.isTemporal(df, indexCol)
    val observed =
      if (temporal) df.observe(o, count(lit(1)).as("r"),
        min(col(indexCol)).as("mn"), max(col(indexCol)).as("mx"))
      else df.observe(o, count(lit(1)).as("r"))
    (observed, () => {
      val row = o.get
      def ms(k: String): Option[Long] =
        if (!temporal) None
        else row.get(k).filter(_ != null).map(Partitioner.toEpochMs)
      Partitioner.IndexStats(row("r").asInstanceOf[Long], ms("mn"), ms("mx"))
    })
  }

  private def statsMeta(s: Partitioner.IndexStats): Map[String, JValue] =
    Meta.obj("_rows" -> s.rows) ++
      s.minMs.map(v => Meta.obj("_index_min_ms" -> v)).getOrElse(Map.empty) ++
      s.maxMs.map(v => Meta.obj("_index_max_ms" -> v)).getOrElse(Map.empty)

  /** Structural write validation (reference dataframe.py:426-461 / R10):
    * duplicate column names rejected; very wide frames allowed. */
  private def structuralChecks(df: DataFrame): Unit = {
    val dupCols = df.columns.groupBy(identity).collect { case (c, a) if a.length > 1 => c }
    if (dupCols.nonEmpty)
      throw new ValidationError(s"duplicate column names: ${dupCols.mkString(",")}")
  }

  /** Time-period dir layout (daily/monthly/quarterly/yearly): derive
    * the hidden period partition column in the session zone, then
    * [[clusterPeriods]]. */
  private def withTimeLayout(df: DataFrame, indexCols: Seq[String],
                             salt: Int, layout: String,
                             dedupRows: Boolean = false): DataFrame =
    clusterPeriods(df.withColumn(MonthCol, Collection.periodExpr(layout, col(indexCols.head))),
      indexCols, salt, dedupRows)

  /** Hash-cluster rows that carry their period column by period (one
    * write task per period) and sort within so each period dir holds
    * sorted, range-disjoint files. Stored rows read back with their
    * period ([[ReadRoots.Target.read]]) go straight here, so a rewrite
    * leaves each row in the dir it came from, whatever zone the
    * session runs (`periodExpr` keys rows in the session zone, which
    * may differ from the recorded `_layout_tz`).
    *
    * `salt > 1` handles skewed/huge periods: the clustering key gains a
    * deterministic hash-of-index salt term, so a hot period is written
    * by `salt` parallel tasks as `salt` files (each still sorted; the
    * trade is write parallelism + bounded file size for file-level
    * range disjointness inside that period). The salt is recorded in
    * the sidecar so appends reuse it.
    *
    * `dedupRows` collapses identical full rows (the append's D1)
    * between the exchange and the sort, as [[Partitioner.layout]]
    * does: identical rows share their period and salt, both clustering
    * keys are columns the dedup groups on (the salt kept as one through
    * the dedup and dropped after it), so the plan shuffles once. */
  private def clusterPeriods(withPeriod: DataFrame, indexCols: Seq[String],
                             salt: Int, dedupRows: Boolean = false): DataFrame = {
    val clustered =
      if (salt <= 1) {
        val byPeriod = withPeriod.repartition(col(MonthCol))
        if (dedupRows) byPeriod.dropDuplicates() else byPeriod
      } else {
        // explicit partition count: REPARTITION_BY_NUM is exempt from AQE
        // coalescing, so the salt fan-out survives even when the salted
        // partitions are small
        val n = math.max(salt, spark.sessionState.conf.numShufflePartitions)
        val saltExpr = pmod(xxhash64(col(indexCols.head)), lit(salt.toLong))
        if (!dedupRows) withPeriod.repartition(n, col(MonthCol), saltExpr)
        else withPeriod.withColumn(SaltCol, saltExpr)
          .repartition(n, col(MonthCol), col(SaltCol)).dropDuplicates().drop(SaltCol)
      }
    clustered.sortWithinPartitions((MonthCol +: indexCols).map(col): _*)
  }

  /** The live item resolved once through the read planner. Every
    * read-modify-write resolves it once per attempt: that one sidecar
    * read is the commit's fence base and the only source of its layout,
    * salt, index columns, zone, stats and encoded schema, and its
    * stored rows are read from the same target — the Delta rule: read
    * one snapshot, commit against that snapshot. */
  private def resolveLive(item: String): ReadRoots.Target =
    ReadRoots.resolve(spark, path.resolve(item), None)

  /** Writer-unique staging dir: a shared `__tmp_<item>` name lets two
    * concurrent stagings of the same item (threads or processes — the
    * parquet job runs OUTSIDE every lock by design) clobber each
    * other's in-flight part-files; the nonce makes each staging
    * private. Successful commits consume the dir (rename); failed ones
    * leave it for vacuum's `__tmp_*` sweep. */
  private def stagingDir(item: String): SPath =
    path.resolve(TmpPrefix + item + "_" +
      java.util.UUID.randomUUID().toString.take(8))

  /** Stage `df` as parquet in a writer-private dir and return it for
    * [[publish]] — the heavy job of every commit, run OUTSIDE all locks.
    * Part-files sit where the item's `data/` dir will hold them after
    * the swap (under `__month=<p>/` subdirs when `partitioned`), so the
    * parquet dataset dir contains nothing but parquet; the JSON sidecar
    * sits at the item root. */
  private def stage(item: String, df: DataFrame, partitioned: Boolean): SPath = {
    val tmp = stagingDir(item)
    tmp.deleteRecursively()
    val writer = df.write.mode("overwrite").option("compression", "snappy")
    (if (partitioned) writer.partitionBy(MonthCol) else writer).parquet(tmp.toString)
    Collection.commitSeamHook(s"staged_pre_publish:$item") // outside all locks
    tmp
  }

  /** Atomic publication of an already-staged dir: the one commit path
    * of every data mutation (staged by [[stage]], or by the executors
    * for the row-level COW path). Under the commit lock and the item's
    * DDL lock it runs the fences, the scope's swap ([[swapFull]] or
    * [[swapPeriods]]), the commit-point sidecar write, the publish
    * observer and the swap's cleanup; once it releases those locks, the
    * post-commit refresh ([[refreshAfterPublish]]), whose read-backs
    * are Spark jobs.
    *
    * `meta` is BY-NAME and first forced HERE — after the staging job —
    * so write()'s observed index stats (collected during that job) can
    * ride the same sidecar publish without a second input scan, and a
    * crash before this point never publishes stats for data that did
    * not land. */
  private[graft] def publish(item: String, staged: SPath, scope: CommitScope,
                             meta: => Map[String, JValue],
                             expectedGen: Option[Long] = None,
                             expectedMeta: Option[Map[String, JValue]] = None): Unit = {
    val next = meta
    def refuse(why: String): Nothing = {
      staged.deleteRecursively()
      throw new ConcurrentWriteError(why)
    }
    val (gens, written) = withCommitLock { withItemDdlLock(item) {
      // ONE sidecar read serves both fences, the swap and the log.
      val cur = Meta.read(path.resolve(item))
      val oldGen = Snapshots.generationOf(cur)
      // Generation FENCE (compare-and-swap): a read-modify-write path
      // (append, deleteWhere) captured the committed generation when it
      // read the old state; if another writer — thread or process —
      // committed since, publishing this staging would CLOBBER that
      // commit's rows. Refuse typed instead; append retries over the
      // fresh state. Atomic because the check and the sidecar write sit
      // under the same item locks (and, in multiprocess mode, the same
      // cross-process lock).
      expectedGen.filter(_ != oldGen).foreach { base =>
        refuse(s"item '$item' was committed by another writer (generation " +
          s"$oldGen, this mutation read $base) — the staged rewrite would " +
          "lose that commit's rows")
      }
      // SIDECAR fence, for stagings whose `meta` merges over a full
      // sidecar read (every read-modify-write publisher — append,
      // deleteWhere, expire, rebalance, convertLayout, z-order, the COW
      // row ops, renameColumn): metadata-only DDL (add/drop column,
      // properties) writes the sidecar WITHOUT advancing the generation —
      // deliberately, generations identify DATA states — so the gen fence
      // above cannot see it, and publishing this staging's merged meta
      // would silently revert that DDL. Any sidecar write changes the map
      // (history/`_updated` move even when nothing else does), so full
      // equality against the map the staging read is the exact test.
      // Refuse typed; retryOnConflict re-reads and re-stages.
      if (expectedMeta.exists(_ != cur))
        refuse(s"item '$item''s sidecar changed since this rewrite read it " +
          "(a concurrent DDL or metadata write) — publishing would " +
          "revert that change")
      val gen = System.nanoTime()
      val (seam, swapped) = scope match {
        case Full(partitioned) => ("full", swapFull(item, staged, partitioned, gen))
        case Periods(months)   => ("months", swapPeriods(item, staged, months, cur, gen))
      }
      Collection.commitSeamHook(s"${seam}_pre_sidecar:$item")
      // Staleness must be detectable ATOMICALLY with the swap: the
      // swapped periods' `_period_stats` entries drop in THIS write —
      // every entry on a full commit, the listed periods' on a period
      // commit — so absent entries are unprunable (conservative) until
      // the post-commit refresh re-establishes them, and a crash in
      // between disables pruning instead of silently under-deleting.
      // A full commit swapped EVERY data file, all rewritten from the
      // declared-schema (masked) read — no pre-drop bytes survive, so
      // the dropped-column mask has nothing left to purge and clears
      // here for free. Period commits keep it: untouched periods still
      // hold masked bytes.
      val kept = scope match {
        case Full(_) => next - "_period_stats" - Collection.DroppedColsKey
        case Periods(months) => next.get("_period_stats") match {
          case Some(JObject(fs)) => next + ("_period_stats" ->
            JObject(fs.filterNot { case (p, _) => months.contains(p) }))
          case _ => next
        }
      }
      val written = (kept - History.OpKey) + ("_generation" -> Meta.jv(gen)) ++
        swapped.periodGens.map(pg => "_period_gens" -> Meta.jv(pg))
      writeSidecar(item, cur, written, History.opOf(next), gen, swapped.touched)
      Option(Collection.publishObserver.get).foreach(_(this, item, gen))
      Collection.commitSeamHook(s"${seam}_post_sidecar:$item")
      swapped.cleanup()
      refreshItems()
      ((oldGen, gen), written)
    } }
    refreshAfterPublish(item, scope, written, gens)
  }

  /** Full-scope swap: the staged dir replaces the item's whole data dir
    * in one [[StoreFs.atomicSwap]] — the COMMIT POINT of a full commit;
    * the sidecar write trails it as bookkeeping. */
  private def swapFull(item: String, staged: SPath, partitioned: Boolean,
                       gen: Long): Swapped = {
    Collection.commitSeamHook(s"full_staged:$item") // no-op outside crash tests
    path.resolve(item).mkdirs()
    // Copy-on-write for manifest snapshots: pinned old generations are
    // renamed aside (O(1)) instead of destroyed by the swap — the
    // whole data dir for flat items, each pinned period dir for
    // time-layout items (a full rewrite gives every period a new gen).
    // BOTH retention paths run (each no-ops when its pin kind is
    // absent) because the OLD item's layout may differ from this
    // write's: a flat→monthly overwrite must still retain the pinned
    // flat generation, and vice versa.
    Snapshots.retainPeriodsIfPinned(path, item)
    Snapshots.retainIfPinned(path, item)
    Collection.commitSeamHook(s"full_retained:$item")
    // fresh per-period gens for time layouts: the period list is the
    // staged dir's partition dirs (cheap driver listing, no extra job)
    val periods =
      if (!partitioned) Nil
      else staged.listDirs.filter(_.startsWith(MonthCol + "="))
        .map(_.stripPrefix(MonthCol + "=")).sorted
    path.fs.atomicSwap(path.resolve(item).resolve(Item.DataDir).raw, staged.raw)
    Swapped(periods, if (partitioned) Some(periods.map(_ -> gen).toMap) else None,
      () => ())
  }

  /** Period-scope swap for partial commits: ONLY the listed period
    * directories are swapped; every other period's files are untouched.
    * This is what makes appends to a 100 TB item incremental — cost
    * scales with the periods the batch touches, not the item size. Each
    * period dir swaps by O(1) renames; a failure mid-sequence restores
    * the already-swapped periods. The COMMIT POINT is the sidecar write
    * that follows in [[publish]]. */
  private def swapPeriods(item: String, staged: SPath, months: Seq[String],
                          cur: Map[String, JValue], gen: Long): Swapped = {
    val dataDir = path.resolve(item).resolve(Item.DataDir)
    val oldPg = Snapshots.periodGensOf(cur)
    val pinned = Snapshots.pinnedPeriodGens(path, item)
    // O(1) renames only: a replaced month dir moves aside — to the
    // manifest-retained area when its generation is pinned (kept on
    // success: that IS the copy-on-write), to a rollback backup
    // otherwise; the new dir moves in; nothing is copied.
    val swapped = scala.collection.mutable.ArrayBuffer.empty[(SPath, Option[SPath], Boolean)]
    val swappedMonths = scala.collection.mutable.ArrayBuffer.empty[String]
    val removedMonths = scala.collection.mutable.ArrayBuffer.empty[String]
    // INTENT journal, written before the first rename: a multi-month
    // swap killed mid-sequence (kill -9, power loss) leaves some months
    // new and some old — torn. The journal records, per month, where
    // the old dir went (`aside`) and whether that copy is snapshot-
    // retained (kept on success), plus the PRE-commit generation; the
    // sidecar write is the COMMIT POINT, so vacuum's repair can
    // decide exactly: sidecar generation unchanged → roll every month
    // BACK from its aside; generation advanced → roll FORWARD (drop the
    // non-retained asides). One tiny atomic JSON write per partial
    // commit, deleted on completion — the same cost class as the
    // sidecar write the commit already pays.
    val intent = path.resolve(s"__swap_intent_$item.json")
    val intentMonths = scala.collection.mutable.ArrayBuffer.empty[JValue]
    def writeIntent(): Unit = path.fs.writeBytesAtomic(intent.raw,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        JObject(List("item" -> Meta.jv(item),
          "old_gen" -> Meta.jv(Snapshots.generationOf(cur)),
          "months" -> org.json4s.JArray(intentMonths.toList)))))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var plan = Seq.empty[(String, SPath, SPath, SPath, Boolean, Boolean, Boolean)]
    try {
      // one pass to plan (and journal) before any rename happens
      plan = months.flatMap { m =>
        val src = staged.resolve(s"$MonthCol=$m")
        val dst = dataDir.resolve(s"$MonthCol=$m")
        // a month listed but ABSENT from the staging means the new state
        // holds no rows for it (deleteWhere emptied it): the old dir
        // moves aside like any replaced month — pinned generations
        // retained, unpinned backed up for rollback — and nothing moves in
        val srcExists = src.isDir
        if (!srcExists && !dst.isDir) None
        else {
          val isPinned = oldPg.get(m).exists(g => pinned.get(m).exists(_.contains(g)))
          val aside =
            if (isPinned)
              Snapshots.retainedPeriodDir(path, item, m, oldPg(m))
            else path.resolve(s"__backup_month_${item}_$m")
          val hadOld = dst.isDir
          intentMonths += JObject(List("m" -> Meta.jv(m),
            "keep_on_commit" -> Meta.jv(isPinned)) ++
            (if (hadOld) List("aside" -> Meta.jv(aside.raw)) else Nil))
          Some((m, src, dst, aside, srcExists, hadOld, isPinned))
        }
      }
      if (plan.nonEmpty) writeIntent()
      plan.foreach { case (m, src, dst, aside, srcExists, hadOld, isPinned) =>
        if (srcExists) swappedMonths += m else removedMonths += m
        if (hadOld && !(isPinned && aside.isDir)) {
          if (isPinned) path.fs.mkdirs(aside.parent.raw)
          else aside.deleteRecursively()
          path.fs.rename(dst.raw, aside.raw)
          Collection.commitSeamHook(s"month_aside:$item:$m")
        } else if (hadOld) {
          // same (period, gen) already retained (double append
          // between snapshots can't happen — gens change per commit —
          // but be idempotent anyway): drop the live copy
          dst.deleteRecursively()
        }
        if (srcExists) path.fs.rename(src.raw, dst.raw)
        swapped += ((dst, if (hadOld) Some(aside) else None, isPinned))
      }
    } catch {
      case e: Throwable =>
        // Roll back from the PLAN, not just the fully-swapped months:
        // a failure BETWEEN a month's two renames leaves it moved
        // aside with nothing moved in, which the swapped list misses.
        // The per-month logic mirrors vacuum's journal repair (aside
        // present → restore it; fresh add → drop the new dir); if any
        // restore fails the intent journal survives, so the next
        // vacuum finishes the rollback instead of the old failure mode
        // (a stranded aside deleted as junk — data loss).
        var cleanRestore = true
        plan.foreach { case (_, _, dst, aside, _, hadOld, _) =>
          try {
            if (hadOld && aside.isDir) {
              dst.deleteRecursively()
              path.fs.rename(aside.raw, dst.raw)
            } else if (!hadOld && dst.isDir) dst.deleteRecursively()
          } catch { case _: Exception => cleanRestore = false }
        }
        if (cleanRestore)
          try intent.deleteRecursively() catch { case _: Exception => () }
        throw new StorageError(s"partial month commit failed for $item: ${e.getMessage}")
    }
    Swapped((swappedMonths ++ removedMonths).toSeq.sorted,
      Some((oldPg -- removedMonths) ++ swappedMonths.map(_ -> gen).toMap),
      // success: unpinned backups die, retained period dirs stay. The
      // commit PUBLISHED at the sidecar write, so cleanup failures
      // here must not surface as a failed commit — vacuum's repair
      // reclaims whatever survives (the intent records the advanced
      // generation, so it rolls forward, never back).
      () => try {
        swapped.foreach { case (_, b, isPinned) =>
          if (!isPinned) b.foreach(_.deleteRecursively())
        }
        staged.deleteRecursively()
        intent.deleteRecursively()
      } catch { case _: Exception => () })
  }

  /** The one sidecar-and-history write of an item commit — a data
    * publish's commit-point write and every metadata-only DDL write:
    * `next` lands with one `_history` entry (verb `op`, generation
    * `gen`, naming `periods`) appended to the log `prior` carries — the
    * sidecar as read under the same locks, so a fresh-meta overwrite
    * (write() replaces user metadata wholesale) extends the item's
    * commit log instead of truncating it — and the cached meta drops. */
  private def writeSidecar(item: String, prior: Map[String, JValue],
                           next: Map[String, JValue], op: String, gen: Long,
                           periods: Seq[String]): Unit = {
    val itemPath = path.resolve(item)
    Meta.write(itemPath, next + (History.Key ->
      History.appendedSpilling(itemPath, prior, op, gen, periods)))
    metaCache.remove(item)
  }

  /** A metadata-only sidecar mutation (column ADD/DROP, properties,
    * stats declaration): under the commit and item DDL locks, `f` maps
    * the current sidecar to the next one (None: no change), which lands
    * logged at the UNCHANGED generation so DESCRIBE HISTORY records the
    * mutation while timestamp travel stays data-exact — generations
    * identify data states (see resolveAsOf's contract). Returns the
    * sidecar `f` was given, whose data generations the write kept. */
  private def alterSidecar(item: String, op: String)(
      f: Map[String, JValue] => Option[Map[String, JValue]]): Map[String, JValue] =
    withCommitLock { withItemDdlLock(item) {
      val meta = Meta.read(path.resolve(item))
      f(meta).foreach(writeSidecar(item, meta, _, op, Snapshots.generationOf(meta), Nil))
      meta
    } }

  /** Post-commit derived bookkeeping after [[publish]], lock-free (the
    * read-backs are Spark jobs), decided from the meta the publish just
    * wrote (also the state the stats read-back is judged against):
    * `_period_stats` for items declaring stats columns — every period
    * after a partitioned full commit (a full rewrite re-derived
    * every period: stale stats would let a later pruned delete silently
    * skip live rows), the listed ones after a period commit — and the
    * incremental skip-index refresh after a period commit. */
  private def refreshAfterPublish(item: String, scope: CommitScope,
                                  meta: Map[String, JValue],
                                  gens: (Long, Long)): Unit = {
    val statsCols = statsColumnsOf(meta)
    scope match {
      case Full(partitioned) =>
        if (partitioned) maybeRefreshPeriodStats(item, statsCols, None, meta)
      case Periods(months) =>
        maybeRefreshPeriodStats(item, statsCols, Some(months), meta)
        maybeRefreshBloomIndexes(item, months, gens)
    }
  }

  /** Post-commit incremental skip-index maintenance (bloom + file
    * stats, [[BloomIndex.refreshAfterPartialCommit]] /
    * [[FileStatsIndex.refreshAfterPartialCommit]]): O(touched
    * periods), run lock-free AFTER the commit like the stats refresh —
    * a crash or failure here leaves a sidecar at its old generation,
    * which the new committed generation no longer matches (retired,
    * never wrong). Same crash seam as the stats refresh so specs can
    * pin the staleness invariant. `gens` is the (replaced, committed)
    * generation pair of THIS commit — reading the sidecar back instead
    * would race a foreign commit landing right after ours. */
  private def maybeRefreshBloomIndexes(item: String, months: Seq[String],
                                       gens: (Long, Long)): Unit =
    if (!simulateCrashBeforeStatsRefresh) {
      try BloomIndex.refreshAfterPartialCommit(
        spark, path.resolve(item), months, gens._1, gens._2)
      catch { case scala.util.control.NonFatal(_) => () }
      try FileStatsIndex.refreshAfterPartialCommit(
        spark, path.resolve(item), months, gens._1, gens._2)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  // -------------------------------------------------------------- append

  /** Read-modify-write append (reference collection.py:477-527 / M2),
    * with the reference's order of operations (SURVEY §3.3):
    * validate → evolve schema (skips dedup if it changed anything) →
    * index anti-join dedup per strategy → union → full-row dedup (D1) →
    * repartition → atomic swap.
    *
    * Query budget of a flat append: the staging job is the only query
    * a one-file layout runs. It also observes the batch's row count
    * (the sidecar's `_rows`, and the empty-batch no-op: an empty batch
    * deletes its staging dir and commits nothing). A temporal index
    * adds one batch-only stats scan, since the time-based layout
    * decision needs the batch span first; a multi-file layout adds one
    * narrow (item ∪ batch) index-column scan for its bounds, whatever
    * the index dtype ([[flatPlan]]). Shuffle budget: the layout exchange,
    * which clusters on the index, so D1 dedups behind it without a
    * shuffle of its own ([[Partitioner.layout]]), plus, under
    * KeepFirst/KeepLast, the anti-join on the index (broadcast when the
    * batch is small: Catalyst/AQE decides from sizes). The union
    * itself is shuffle-free. Time-layout items take the incremental
    * [[appendPeriodic]] path.
    *
    * `extraMeta` rides the append's OWN atomic sidecar commit — keys a
    * caller needs recorded if-and-only-if the data landed (the streaming
    * sink's per-query epoch mark). A separate post-append `Meta.write`
    * would leave a crash window where the data committed but the mark
    * didn't (re-applying one batch — duplicating rows under `keep_all`)
    * and would race a concurrent writer's commit; in-commit, neither
    * can happen. (An EMPTY batch commits nothing, so its extraMeta is
    * NOT recorded — correct for idempotency marks: the replay of a
    * no-op is a no-op.) */
  def append(item: String,
             df: DataFrame,
             duplicateHandling: DuplicateHandling = DuplicateHandling.KeepLast,
             validateSchema: Boolean = true,
             evolution: Option[EvolutionStrategy] = None,
             npartitions: Option[Int] = None,
             extraMeta: Map[String, JValue] = Map.empty): Unit =
    // Optimistic concurrency: the publish fence refuses a staging whose
    // base generation another writer moved; each retry re-reads the
    // fresh state, so the interleaved commit's rows are carried.
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      appendOnce(item, df, duplicateHandling, validateSchema, evolution,
        npartitions, extraMeta)
    }

  private def appendOnce(item: String,
             df: DataFrame,
             duplicateHandling: DuplicateHandling,
             validateSchema: Boolean,
             evolution: Option[EvolutionStrategy],
             npartitions: Option[Int],
             extraMeta: Map[String, JValue]): Unit = {
    Collection.requireWritableItemName(item)
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist; write it first")
    // schema evolution would rewrite the item's shape even for an empty
    // batch, so it keeps its up-front probe
    if (evolution.isDefined && df.isEmpty) return

    // The fence base and the plan: ONE fresh sidecar read (not the TTL
    // cache — a cached one could miss a foreign process's commit, or
    // plan a layout another handle has since converted).
    val t = resolveLive(item)
    val monthly = t.layout.isDefined
    if (monthly && evolution.isEmpty) {
      appendPeriodic(item, t, df, duplicateHandling, validateSchema, extraMeta)
      return
    }
    // (schema evolution on a time-layout item falls through to the full
    // path below: a schema change must rewrite every period anyway to
    // keep partition files schema-consistent.)

    val storedMeta = t.meta
    val idx = t.indexCols
    val old = t.read(t.allRoots)

    // RangeIndex collide-on-re-append parity: a batch without the
    // synthesized default index gets its own dense 0..m-1 ids, which
    // overlap the stored item's — exactly what pandas does when both
    // frames carried a default RangeIndex.
    val (withIdx, releaseIndex) = ensureIndex(df, idx)
    try {
    var newDf = withIdx
    var evolved = false
    evolution match {
      case Some(strategy) =>
        val (d, changed) = SchemaEvolution.evolveForAppend(old.schema, newDf, strategy)
        newDf = d; evolved = changed
      case None =>
        // An empty batch is a no-op whatever its shape (reference
        // tests/test_append.py); a batch that passes this check learns
        // its emptiness from the staging job, so only a mismatch pays a
        // job to tell "empty" from "refused".
        val mismatch = old.columns.toSet != newDf.columns.toSet
        if (mismatch && df.isEmpty) return
        if (mismatch && validateSchema)
          throw new SchemaValidationError(
            s"schema mismatch: existing ${old.columns.sorted.mkString(",")} vs " +
            s"new ${newDf.columns.sorted.mkString(",")}")
    }

    // A time-based layout decision needs the batch's span before the
    // layout: one batch-only scan. Every other append observes the
    // batch stats on the one branch of the combined plan that carries
    // each raw batch row exactly once, during the staging job.
    val preStats =
      if (!monthly && npartitions.isEmpty && Partitioner.isTemporal(newDf, idx.head))
        Some(Partitioner.computeStats(newDf, idx.head))
      else None
    if (preStats.exists(_.rows == 0)) return
    val (carried, batchStats) = preStats match {
      case Some(s) => (newDf, () => s)
      // the stored frame leads every combined plan, so the staging job
      // runs in this collection's session even for a batch of another
      // (a streaming micro-batch): observe the batch as a frame of it
      case None    =>
        observeStats(org.apache.spark.sql.GraftSessionBridge.inSession(spark, newDf), idx.head)
    }

    // Schema evolution bypasses duplicate filtering — the reference's
    // subtle control flow at collection.py:508-513 (SURVEY §7.4.6).
    val combined: DataFrame =
      if (evolved) old.unionByName(carried, allowMissingColumns = true)
      else combineOnIndex(item, old, newDf, carried, idx, duplicateHandling)

    // Layout decision WITHOUT executing the combined plan: Catalyst's
    // size estimate, plus, for a temporal index, the stored item stats
    // (sidecar) merged with the batch's. Bounds for a multi-file layout
    // come from one narrow (item ∪ batch) index scan: an upper-bound
    // distribution of the combined plan's output (dedup only removes
    // rows), so the combined dedup plan runs once, in the staging job
    // (guide §1.4).
    // D1 (reference collection.py:520): identical FULL rows collapse;
    // same-index-different-value rows survive (regression
    // tests/test_append.py:218-234).
    val (laidOut, layoutMeta) =
      if (monthly) (withTimeLayout(combined, idx, t.salt, t.layout.get, dedupRows = true),
        Map.empty[String, JValue])
      else flatPlan(combined, idx, preStats.flatMap(b => t.indexStats.map(_.merge(b))),
        npartitions, Some(old.select(idx.head).unionByName(newDf.select(idx.head))),
        dedupRows = true)

    val staged = stage(item, laidOut, monthly)
    val batch = batchStats()
    if (batch.rows == 0) { // an empty batch commits nothing
      staged.deleteRecursively()
      return
    }
    // a sidecar without stats (none this store writes) stays without
    val prevMeta = storedMeta ++ layoutMeta ++
      t.indexStats.fold(Map.empty[String, JValue])(s => statsMeta(s.merge(batch))) ++
      // a full rewrite re-derives every period key in THIS session's
      // tz — record it, or later sessions would prune against dirs
      // keyed in a zone the sidecar no longer describes
      (if (monthly) Meta.obj("_layout_tz" ->
        spark.conf.get("spark.sql.session.timeZone", "UTC")) else Map.empty) ++
      // an evolved append changed the stored shape: refresh the
      // declared schemas, or readers that serve the sidecar schema
      // (the V2 table, the declared-schema read pin, the emptied-item
      // fallback) would miss the evolved columns
      (if (!evolved) Map.empty
       else Meta.obj(
         "schema_json_encoded" -> combined.schema.json,
         "schema_json" -> Collection.evolveLogicalSchema(
           storedMeta, combined.schema).json)) ++
      extraMeta ++ Collection.opTag("append")
    publish(item, staged, Full(monthly), prevMeta,
      expectedGen = Some(Snapshots.generationOf(storedMeta)), expectedMeta = Some(storedMeta))
    } finally releaseIndex()
  }

  /** The stored rows `old` combined with an append batch under its
    * duplicate-index strategy (the index-collision half of the
    * append's dedup; full-row dedup D1 follows in the layout). `batch`
    * serves the index lookups; `carried` is the same batch as it
    * enters the result, on exactly one branch, so an observation on it
    * counts every raw batch row once. */
  private def combineOnIndex(item: String, old: DataFrame, batch: DataFrame,
                             carried: DataFrame, idx: Seq[String],
                             how: DuplicateHandling): DataFrame =
    how match {
      case DuplicateHandling.KeepAll => old.unionByName(carried)
      // An anti-join keeps a row iff its key has no match, so its key
      // side needs no `distinct` (which would cost a shuffle of its own).
      case DuplicateHandling.KeepFirst =>
        // old wins: drop incoming rows whose index already exists (J1)
        old.unionByName(carried.join(old.select(idx.map(col): _*), idx, "left_anti"))
      case DuplicateHandling.KeepLast =>
        // new wins: drop existing rows whose index appears in the batch
        old.join(batch.select(idx.map(col): _*), idx, "left_anti")
          .unionByName(carried)
      case DuplicateHandling.ErrorOnDuplicate =>
        if (old.join(batch, idx, "left_semi").limit(1).count() > 0)
          throw new DataIntegrityError(
            s"append to '$item' has duplicate index values (strategy=error)")
        old.unionByName(carried)
    }

  /** Incremental append for time-layout items: the stored side is
    * read from only the periods the batch touches (index collisions can
    * only occur inside a row's own period, so dedup restricted to
    * touched periods is exact), and only those period directories are
    * rewritten. Append cost scales with batch span, not item size. `t`
    * is the attempt's one resolution of the item. */
  private def appendPeriodic(item: String,
                             t: ReadRoots.Target,
                             df: DataFrame,
                             duplicateHandling: DuplicateHandling,
                             validateSchema: Boolean,
                             extraMeta: Map[String, JValue]): Unit = {
    val idx = t.indexCols
    val layout = t.layout.get
    val newDf = df
    // An empty batch is a no-op whatever its shape or zone (reference
    // tests/test_append.py): a batch that passes both checks below
    // learns its emptiness from the period aggregate, so only a refusal
    // pays a job to tell "empty" from "refused".
    // Period keys come from date_format in the CURRENT session tz; the
    // stored dirs were keyed in the writer's recorded tz — a silent
    // mismatch would write a boundary row into a different period dir
    // than pruning later looks in.
    val sessionTz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    val tzClash = t.meta.get("_layout_tz")
      .map(j => Meta.unjv(j).toString).filter(_ != sessionTz)
    val stored = t.read(Nil).columns
    val mismatch = stored.toSet != newDf.columns.toSet
    if ((tzClash.isDefined || mismatch) && newDf.isEmpty) return
    tzClash.foreach { recorded =>
      throw new ValidationError(
        s"item '$item' was laid out in timezone '$recorded' but this " +
        s"session runs '$sessionTz'; set spark.sql.session.timeZone to " +
        "match before appending to a time-layout item")
    }
    if (mismatch && validateSchema)
      throw new SchemaValidationError(
        s"schema mismatch: existing ${stored.sorted.mkString(",")} vs " +
        s"new ${newDf.columns.sorted.mkString(",")}")

    // ONE batch scan serves both the touched-period list and the batch
    // index stats (count + index min/max per period, merged on the
    // driver — min-of-mins ≡ the global min the old separate
    // computeStats pass produced). Guide §1.4: the old plan scanned
    // the batch twice for two aggregates one job can carry.
    val monthRows = newDf
      .groupBy(Collection.periodExpr(layout, col(idx.head)).as("m"))
      .agg(count(lit(1)).as("c"), min(col(idx.head)).as("mn"),
        max(col(idx.head)).as("mx"))
      .collect()
    if (monthRows.isEmpty) return // an empty batch touches no period
    val months = monthRows.map(_.getString(0)).toSeq.sorted
    val batchStats = Partitioner.IndexStats(
      monthRows.map(_.getLong(1)).sum,
      monthRows.flatMap(r => Option(r.get(2)).map(Partitioner.toEpochMs))
        .reduceOption(_ min _),
      monthRows.flatMap(r => Option(r.get(3)).map(Partitioner.toEpochMs))
        .reduceOption(_ max _))
    // Only the touched periods that exist are read: a named period dir
    // that is missing would fail the read's path resolution.
    val existing = t.periods.get.toSet
    val oldTouched = t.read(ReadRoots.dirRoots(t, Some(months.filter(existing))))
      .select(newDf.columns.map(col): _*)

    val combined = combineOnIndex(item, oldTouched, newDf, newDf, idx, duplicateHandling)

    val prevMeta = t.meta ++
      t.indexStats.fold(Map.empty[String, JValue])(s => statsMeta(s.merge(batchStats))) ++
      extraMeta ++ Collection.opTag("append")
    publish(item, stage(item, withTimeLayout(combined, idx, t.salt, layout, dedupRows = true),
        partitioned = true),
      Periods(months), prevMeta, expectedGen = Some(Snapshots.generationOf(t.meta)),
      expectedMeta = Some(t.meta))
  }

  /** Chunked append loop (reference append_stream, collection.py:677-751
    * / M3): iterator of frames, first chunk creates the item. The true
    * Structured Streaming adapter lives in graft.streaming. */
  def appendStream(item: String,
                   chunks: Iterator[DataFrame],
                   duplicateHandling: DuplicateHandling = DuplicateHandling.KeepLast,
                   indexCols: Seq[String] = Seq(DefaultIndex)): Long = {
    var total = 0L
    chunks.foreach { chunk =>
      // One source execution per chunk: the count materializes the
      // cache and the write/append reads from it (was: count, then
      // re-execute the chunk's plan inside the write).
      val cached = chunk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val c = cached.count()
        if (c > 0) {
          if (!hasItem(item)) write(item, cached, indexCols)
          else append(item, cached, duplicateHandling)
          total += c
        }
      } finally cached.unpersist(blocking = false)
    }
    total
  }

  // --------------------------------------------------------------- batch

  /** Parallel multi-item write (reference write_batch, collection.py:753-829
    * / M4). Jobs are submitted concurrently from driver threads; Spark's
    * scheduler interleaves their stages across executor slots. Partial
    * failures are collected into one StorageError like the reference. */
  def writeBatch(items: Seq[(String, DataFrame)],
                 indexCols: Seq[String] = Seq(DefaultIndex),
                 overwrite: Boolean = false,
                 parallel: Boolean = true): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val attempts: Seq[(String, Try[Unit])] =
      if (!parallel) items.map { case (n, d) => n -> Try(write(n, d, indexCols, overwrite = overwrite)) }
      else Await.result(
        Future.traverse(items) { case (n, d) =>
          Future(n -> Try(write(n, d, indexCols, overwrite = overwrite)))
        }, Duration.Inf)
    val failures = attempts.collect { case (n, Failure(e)) => s"$n: ${e.getMessage}" }
    if (failures.nonEmpty)
      throw new StorageError(s"batch write failed for ${failures.size} item(s): " +
        failures.mkString("; "))
  }

  /** Batch read; failures map to None (reference read_batch,
    * collection.py:831-876 / S6). */
  def readBatch(itemNames: Seq[String],
                columns: Seq[String] = Nil,
                filters: Seq[Filters.Pred] = Nil): Map[String, Option[DataFrame]] =
    itemNames.map { n =>
      n -> Try(item(n, filters = filters, columns = columns).data) match {
        case (k, Success(d)) => k -> Some(d)
        case (k, Failure(_)) => k -> None
      }
    }.toMap

  /** Register every item as a temp view so the collection is queryable
    * with `spark.sql` — the SQL face of the store (views are lazy
    * scans, so Catalyst pushdown/pruning applies per query). Returns
    * the view names. */
  def registerViews(prefix: String = ""): Seq[String] =
    items.toSeq.sorted.map { it =>
      val view = (prefix + it).replaceAll("[^A-Za-z0-9_]", "_")
      item(it).data.createOrReplaceTempView(view)
      view
    }

  /** Remove leftover working directories from interrupted operations —
    * `__tmp_*` write staging, `__backup_*` swap backups, `__txn_backup_*`
    * transaction backups. Safe under the single-writer model (same
    * assumption as the reference): these names hold either pre-commit
    * staging or post-crash garbage, never live data; the advisory
    * `__lock` dir is NOT touched. In MULTIPROCESS mode the body runs
    * holding every item's cross-process lock (waiting out live
    * writers; a dead holder's stale lock times out typed, naming
    * breakItemLocks()) and spares `__tmp_*` staging younger than an
    * hour — see the body comments. Returns the removed names. */
  def vacuum(): Seq[String] = withSnapshotLock {
    // In multiprocess mode a held item lock means a writer may be
    // mid-commit IN ANOTHER PROCESS — the junk sweep below would
    // reclaim its in-flight asides (the only rollback copies). The
    // round-13 shape REFUSED while any lock stood, but check-then-
    // sweep is a TOCTOU: a writer acquiring its lock just after the
    // check could still have its asides swept mid-commit. Instead
    // ACQUIRE every item's lock (sorted order, polled): with all of
    // them held, no foreign publish is in flight anywhere in the
    // body, so every `__backup_*`/`__cow_*` aside on disk belongs to
    // a CRASHED commit and the repair/sweep verdicts are sound. Live
    // writers serialize — vacuum waits out their O(1) publishes; a
    // DEAD holder's stale lock times out typed (LockTimeoutError
    // naming breakItemLocks(), the same operator remedy as before).
    // Residual exposure: an item born after this listing holds a lock
    // the sweep never takes — its only on-disk footprint is fresh
    // `__tmp_*` staging, which the age gate below spares.
    // FRESH listing, never the cached item set: an item created by
    // ANOTHER process since this JVM's last refresh must still be
    // locked, or its writer's in-flight asides could be swept
    val lockScope =
      if (!multiprocessEnabled) Nil
      else refreshItems() ++ path.listDirs
        .filter(_.startsWith(Collection.ItemLockPrefix))
        .map(_.stripPrefix(Collection.ItemLockPrefix))
    withItemProcessLockAll(lockScope) {
    // Swap REPAIR first, deletion after: a crash BETWEEN a swap's two
    // renames (old moved aside, new not yet in) leaves the moved-aside
    // dir as the ONLY copy of the committed state — blindly deleting
    // `__backup_*` there would destroy data, and restoring is what
    // makes the kill-anywhere durability contract hold. The snapshot
    // (write) lock covers the WHOLE body — repair AND the junk sweep:
    // a commit starting between them could have its in-flight month
    // asides (the only rollback copies of replaced months) deleted
    // from under it. Cross-process stays the single-writer assumption.
    val repaired = repairInterruptedSwaps()
    // An unreadable/containment-rejected swap journal was left in
    // place by the repair (the only record of a torn pre-commit swap —
    // an operator must inspect it); its month asides must survive the
    // sweep too, and since the journal can't be parsed, no aside can
    // be attributed — spare them all.
    val unreadableJournal = repaired.exists(_.startsWith("unreadable_intent:"))
    // In multiprocess mode, `__tmp_*` staging is the ONE artifact a
    // live writer creates BEFORE taking its item lock (staging is
    // deliberately lock-free — it's the data job), so holding every
    // item lock does not prove a staging dir is dead. AGE-gate it on
    // WRITE ACTIVITY, not creation: a live job keeps touching its
    // task files and `_temporary` tree, so "newest mtime anywhere
    // inside is older than stagingSweepAgeMs" (default 24 h,
    // configurable — a 100 TB rewrite can legitimately run for hours,
    // far past the old one-hour creation-age gate) means the writer
    // is a corpse. Sweeping a live writer's staging would not lose
    // data — its publish would fail the missing rename, classify as a
    // conflict, and re-stage — but it would fail the in-flight Spark
    // job spuriously. Single-process mode keeps the exact sweep. The
    // recursive listing runs only for dirs whose own mtime already
    // reads stale (dead dirs — there are few, and each is swept).
    val stagingCutoff = java.time.Instant.now().minusMillis(stagingSweepAgeMs)
    // "fresh" errs toward sparing: an unreadable mtime (backend cannot
    // say) counts as activity — sweeping on missing evidence could
    // fail a live writer's in-flight job, the exact thing the gate
    // exists to prevent; a genuinely vanished dir is a no-op next
    // sweep. DIRECTORY mtimes count too, not just files: a committing
    // task's rename freshens its parent dir while preserving the
    // moved file's own mtime. Residual: a job that touches NOTHING in
    // its staging for the whole window (e.g. >24 h of pure shuffle
    // before the first task commit) is indistinguishable from a
    // corpse — raise stagingSweepAgeMs for such workloads.
    def freshMtime(p: SPath): Boolean =
      path.fs.modifiedAt(p.raw).forall(!_.isBefore(stagingCutoff))
    def anyActivityIn(d: SPath): Boolean =
      freshMtime(d) || {
        val (files, dirs) =
          try (d.fs.listFiles(d.raw), d.listDirs)
          catch { case _: Exception => return true } // unlistable → spare
        files.exists(f => freshMtime(d.resolve(f))) ||
          dirs.exists(s => anyActivityIn(d.resolve(s)))
      }
    def deadStagingDir(d: String): Boolean =
      (d.startsWith(TmpPrefix) || d.startsWith("__import_tmp_")) &&
        (!multiprocessEnabled || !anyActivityIn(path.resolve(d)))
    val junk = path.listDirs.filter(d =>
      deadStagingDir(d) ||
        (d.startsWith("__backup_") &&
          !(unreadableJournal && d.startsWith("__backup_month_"))) ||
        d.startsWith("__txn_backup_") || d.startsWith("__cow_"))
    junk.foreach(d => path.resolve(d).deleteRecursively())
    // dead dir-snapshot staging (killed mid-copy; never listed). The
    // exact sweep was safe when only createSnapshot staged here (its
    // staging runs under the same locks vacuum holds, so nothing live
    // can be present) — importPystoreSnapshot stages here LOCK-FREE
    // (it is a data job), so in multiprocess mode the sweep honors the
    // same write-activity gate as root staging: a live import in
    // another process is spared, a corpse is reclaimed
    val snapsDir = path.resolve(GraftStore.SnapshotsDir)
    // REPAIR before the sweep: a snapshot-import overwrite killed
    // between its two publish renames leaves `.tmp_old_<snap>_<tag>`
    // as the ONLY copy of the replaced snapshot — the sweep below
    // would destroy it (its contents are the old cut, mtimes stale, so
    // even the activity gate reads it dead). Snapshot missing → the
    // aside IS the snapshot, rename it back; snapshot present → the
    // publish completed and the aside is debris for the sweep. Racing
    // a LIVE import's window can fail that import's publish rename
    // (it then surfaces typed; re-run it) but never loses a cut —
    // restore-vs-publish is rename-vs-rename, one of them wins whole.
    val restoredAsides =
      if (!snapsDir.isDir) Nil
      else snapsDir.listDirs
        .filter(d => d.startsWith(".tmp_old_") && d.length > ".tmp_old_".length + 9)
        .flatMap { d =>
          val snapName = d.stripPrefix(".tmp_old_").dropRight(9)
          val dst = snapsDir.resolve(snapName)
          if (snapName.nonEmpty && !dst.isDir) {
            path.fs.rename(snapsDir.resolve(d).raw, dst.raw)
            Some(s"restored_snapshot:$snapName")
          } else None
        }
    val deadStaging =
      if (!snapsDir.isDir) Nil
      else snapsDir.listDirs.filter(d => d.startsWith(".tmp_") &&
        (!multiprocessEnabled || !anyActivityIn(snapsDir.resolve(d))))
    deadStaging.foreach(d => snapsDir.resolve(d).deleteRecursively())
    // stale transaction pin manifests (crashed mid-commit): releasing
    // them frees their pins so the single GC sweep below reclaims
    // retained dirs nothing else references. AGE-GATED on the
    // manifest's own creation stamp: a pin younger than an hour may
    // belong to an IN-FLIGHT transaction or SQL REPLACE in another
    // session — reclaiming it would leave that statement's abort with
    // nothing to restore. Damaged CONTENT counts as stale; a transient
    // read error propagates (aborting vacuum is safe, guessing is not).
    val staleCutoff = java.time.Instant.now().minusSeconds(3600)
    val staleTxn = Snapshots.listManifests(path).filter(_.startsWith("__txn_"))
      .filter(s => Snapshots.manifestCreatedAt(path, s)
        .forall(_.isBefore(staleCutoff)))
    staleTxn.foreach(s => Snapshots.releasePin(path, s, gc = false))
    // GC retained generations UNCONDITIONALLY (was: only after a stale
    // txn release): a snapshot delete killed between its manifest
    // removal and its GC orphans retained bytes nothing references —
    // the sweep reads O(manifests) JSON and is the only thing that
    // ever reclaims them. Snapshot lock: no in-flight commit is
    // mid-retention while referenced-ness is judged.
    withSnapshotLock { Snapshots.gcRetained(path) }
    // Orphan bloom shard files — a build/refresh crashed between its
    // shard writes and its manifest publish leaves parts no manifest
    // references; the next publish of that column sweeps them itself,
    // but a never-rebuilt column would leak them forever. Age-gated on
    // the same staging cutoff: an in-flight build's fresh shards (they
    // stage deliberately before the manifest) are spared.
    val orphanShards = refreshItems().flatMap(it =>
      BloomIndex.sweepOrphanShards(path.resolve(it), stagingCutoff))
    refreshItems()
    repaired ++ restoredAsides ++ junk ++
      deadStaging.map(d => s"dead_staging:$d") ++ staleTxn ++ orphanShards
    }
  }

  /** Undo or finish interrupted commit swaps (and roll interrupted
    * renames forward) — the crash-recovery half of the M7 protocol,
    * run by [[vacuum]] before it deletes leftovers.
    * Swap shapes, each with one unambiguous verdict:
    *  - `<item>/__backup_data` (full-commit swap): live `data/` missing
    *    means the crash hit between the two renames and the backup IS
    *    the pre-commit state → restore it; live present means the swap
    *    completed → the backup is garbage.
    *  - `__backup_month_<item>_<period>` (partial-commit swap, at the
    *    collection root): same rule against the period directory.
    * Restores are O(1) renames. The sidecar needs no repair: it is
    * written strictly AFTER the last rename, so an interrupted swap
    * always carries the PRE-commit sidecar — which is exactly what the
    * restored bytes are (and why no phantom history entry can exist). */
  private def repairInterruptedSwaps(): Seq[String] = {
    val repaired = scala.collection.mutable.ArrayBuffer.empty[String]
    // Intent journals first — they decide torn multi-month swaps
    // EXACTLY (see swapPeriods): sidecar generation still the
    // journal's pre-commit one → the commit never published, roll every
    // month back from its aside; generation advanced → published, drop
    // the non-retained asides.
    path.fs.listFiles(path.raw)
      .filter(f => f.startsWith("__swap_intent_") && f.endsWith(".json"))
      .foreach { f =>
        val intentPath = path.resolve(f)
        val parsed = try org.json4s.jackson.JsonMethods.parse(new String(
          path.fs.readBytes(intentPath.raw),
          java.nio.charset.StandardCharsets.UTF_8)) match {
          case JObject(fields) => Some(fields.toMap)
          case _ => None
        } catch { case _: Exception => None }
        val valid = parsed.filter(j => j.get("item").map(Meta.unjv(_).toString)
          .exists(Collection.plainIntentName))
        valid.foreach { j =>
          val it = j.get("item").map(Meta.unjv(_).toString).getOrElse("")
          val oldGen = j.get("old_gen").map(Meta.unjv(_).asInstanceOf[Long]).getOrElse(-1L)
          val ms = j.get("months") match {
            case Some(org.json4s.JArray(xs)) => xs.collect { case JObject(mf) => mf.toMap }
            case _ => Nil
          }
          val dataDir = path.resolve(it).resolve(Item.DataDir)
          val committed = Snapshots.generationOf(Meta.read(path.resolve(it))) != oldGen
          ms.reverse.foreach { mj =>
            val m = mj.get("m").map(Meta.unjv(_).toString).getOrElse("")
            // journal-recorded aside paths live under the collection
            // root (backups and the retained area both do) — anything
            // else is a damaged/foreign journal and must not direct a
            // rename or delete outside the store
            val aside = mj.get("aside").map(a => SPath(path.fs, Meta.unjv(a).toString))
              .filter(_.raw.startsWith(path.raw + "/"))
            val keep = mj.get("keep_on_commit").exists(Meta.unjv(_) == true)
            val dst = dataDir.resolve(s"$MonthCol=$m")
            if (!Collection.plainIntentName(m)) ()
            else if (!committed && dataDir.isDir) {
              // (a vanished data dir means the item was deleted since
              // the crash — nothing to restore into; non-retained
              // asides fall through to the junk deletion)
              aside match {
                case Some(a) if a.isDir => // replaced month: restore the old dir
                  dst.deleteRecursively()
                  path.fs.rename(a.raw, dst.raw)
                  repaired += s"rolled_back:$it:$m"
                case Some(_) => () // not yet moved aside — dst IS the old dir
                case None => // freshly added month: the dst can only be new
                  if (dst.isDir) { dst.deleteRecursively(); repaired += s"rolled_back:$it:$m" }
              }
            } else if (committed) aside.filter(a => !keep && a.isDir).foreach { a =>
              a.deleteRecursively(); repaired += s"rolled_forward:$it:$m"
            }
          }
          metaCache.remove(it)
        }
        if (valid.isDefined) {
          intentPath.deleteRecursively()
          repaired += s"intent:${f.stripPrefix("__swap_intent_").stripSuffix(".json")}"
        } else {
          // Unparseable (or containment-rejected) journal: it is the
          // ONLY record of a torn pre-commit swap — deleting it would
          // let the junk sweep reclaim the asides it names, turning a
          // recoverable crash into data loss. Leave it for an operator
          // and report it; vacuum() spares `__backup_month_*` dirs
          // while any such journal stands.
          repaired += s"unreadable_intent:$f"
        }
      }
    // Delete intents roll FORWARD: the intent is written before the
    // first destructive step, so its presence means deleteItem was
    // invoked and died mid-way — re-run the (idempotent) retention and
    // finish removing the dir; a half-deleted item must never keep
    // serving a silent subset of its rows.
    path.fs.listFiles(path.raw)
      .filter(f => f.startsWith("__delete_intent_") && f.endsWith(".json"))
      .foreach { f =>
        val intentPath = path.resolve(f)
        val it = (try org.json4s.jackson.JsonMethods.parse(new String(
          path.fs.readBytes(intentPath.raw),
          java.nio.charset.StandardCharsets.UTF_8)) match {
          case JObject(fields) =>
            fields.toMap.get("item").map(Meta.unjv(_).toString)
          case _ => None
        } catch { case _: Exception => None })
        it.filter(Collection.plainIntentName).foreach { item =>
          Snapshots.retainPeriodsIfPinned(path, item)
          Snapshots.retainIfPinned(path, item)
          path.resolve(item).deleteRecursively()
          metaCache.remove(item)
          repaired += s"delete_completed:$item"
        }
        intentPath.deleteRecursively()
      }
    // Rename intents roll FORWARD (every step of renameItem is
    // idempotent): re-key whatever manifests still carry the old name,
    // move the retained dir and the item dir if still unmoved.
    path.fs.listFiles(path.raw)
      .filter(f => f.startsWith("__rename_intent_") && f.endsWith(".json"))
      .foreach { f =>
        val intentPath = path.resolve(f)
        val parsed = try org.json4s.jackson.JsonMethods.parse(new String(
          path.fs.readBytes(intentPath.raw),
          java.nio.charset.StandardCharsets.UTF_8)) match {
          case JObject(fields) => Some(fields.toMap)
          case _ => None
        } catch { case _: Exception => None }
        parsed.foreach { j =>
          (j.get("from").map(Meta.unjv(_).toString),
            j.get("to").map(Meta.unjv(_).toString)) match {
            case (Some(from), Some(to))
                if Collection.plainIntentName(from) && Collection.plainIntentName(to) =>
              Snapshots.renameItemPins(path, from, to)
              if (path.resolve(from).isDir && !path.resolve(to).isDir)
                path.fs.rename(path.resolve(from).raw, path.resolve(to).raw)
              metaCache.remove(from); metaCache.remove(to)
              repaired += s"rename_completed:$from:$to"
            case _ => ()
          }
        }
        intentPath.deleteRecursively()
      }
    refreshItems().toSeq.sorted.foreach { it =>
      val live = path.resolve(it).resolve(Item.DataDir)
      val backup = path.resolve(it).resolve("__backup_" + Item.DataDir)
      if (backup.isDir) {
        if (!live.isDir) {
          path.fs.rename(backup.raw, live.raw)
          repaired += s"restored:$it"
        } else {
          backup.deleteRecursively()
          repaired += s"dropped_backup:$it"
        }
        metaCache.remove(it)
      }
      // Retention-then-crash windows: a rewrite's (or delete's)
      // retention moves PINNED data aside BEFORE the destructive step;
      // a kill in between leaves the sidecar still naming generations
      // whose dirs sit only in the retained area — the flat item reads
      // nothing, a time-layout item silently misses the moved periods.
      // Restore them: the manifest pin keeps resolving (live wins when
      // the generations match), and a later rewrite re-retains into
      // the emptied slot.
      if (path.resolve(it).resolve(Meta.Filename).exists) {
        repaired ++= restoreRetainedFor(it)
      } else if (!live.isDir && !backup.isDir) {
        // an EMPTY husk: dir created, no data, no sidecar, no backup —
        // a first write died between mkdirs and its swap. The
        // pre-commit state is "item absent"; the husk only makes
        // listings serve a phantom name.
        path.resolve(it).deleteRecursively()
        repaired += s"removed_husk:$it"
      }
    }
    path.listDirs.filter(_.startsWith("__backup_month_")).foreach { d =>
      val rest = d.stripPrefix("__backup_month_")
      val cut = rest.lastIndexOf('_') // period strings never contain '_'
      val restoredTo = if (cut > 0) {
        val (it, m) = (rest.substring(0, cut), rest.substring(cut + 1))
        val dataDir = path.resolve(it).resolve(Item.DataDir)
        val dst = dataDir.resolve(s"$MonthCol=$m")
        if (dataDir.isDir && !dst.isDir) {
          path.fs.rename(path.resolve(d).raw, dst.raw)
          metaCache.remove(it)
          Some(s"restored:$it:$m")
        } else None
      } else None
      // completed-swap garbage falls through to the junk deletion
      restoredTo.foreach(repaired += _)
    }
    repaired.toSeq
  }

  /** Rename sidecar-named generations back out of the retained area —
    * the undo of `retainIfPinned`/`retainPeriodsIfPinned`'s O(1)
    * renames. Shared by vacuum's retention-then-crash repair and by
    * [[deleteItem]]'s pre-destructive failure rollback: either way the
    * sidecar still names generations whose only bytes sit retained, so
    * putting them back makes the item read whole again (the manifest
    * pin keeps resolving — live wins on matching generations — and the
    * next rewrite re-retains into the emptied slot). */
  private def restoreRetainedFor(it: String): Seq[String] = {
    val restored = scala.collection.mutable.ArrayBuffer.empty[String]
    val live = path.resolve(it).resolve(Item.DataDir)
    val meta = Meta.read(path.resolve(it))
    if (!live.isDir) {
      val ret = Snapshots.retainedFlatDir(path, it,
        Snapshots.generationOf(meta)).resolve(Item.DataDir)
      if (ret.isDir) {
        path.fs.rename(ret.raw, live.raw)
        metaCache.remove(it)
        restored += s"unretained:$it"
      }
    } else Snapshots.periodGensOf(meta).foreach { case (p, g) =>
      val dst = live.resolve(s"$MonthCol=$p")
      if (!dst.isDir) {
        val ret = Snapshots.retainedPeriodDir(path, it, p, g)
        if (ret.isDir) {
          path.fs.rename(ret.raw, dst.raw)
          metaCache.remove(it)
          restored += s"unretained:$it:$p"
        }
      }
    }
    restored.toSeq
  }

  /** Store introspection — one row per item from DRIVER listings only
    * (no data scan): layout, index columns, period/file counts, the
    * sidecar stats (row count, index min/max epoch-ms), and the commit
    * generation. The operational dashboard for a store of any size;
    * cost is O(items) metadata reads. */
  def describeItems(): DataFrame = {
    import spark.implicits._
    val rows = items.toSeq.sorted.map { name =>
      val t = resolveLive(name)
      val nFiles = path.fs.listFilesRecursively(path.resolve(name).resolve(Item.DataDir).raw)
        .count(_.endsWith(".parquet"))
      val stats = t.indexStats
      (name, t.layout.getOrElse("flat"), t.indexCols.mkString(","),
        t.periods.fold(0)(_.size), nFiles, stats.map(_.rows), stats.flatMap(_.minMs),
        stats.flatMap(_.maxMs), Snapshots.generationOf(t.meta))
    }
    rows.toDF("item", "layout", "index_cols", "n_periods", "n_files",
      "rows_estimate", "index_min_ms", "index_max_ms", "generation")
  }

  /** Compaction policy — the maintenance decision, not just the
    * mechanism: re-lay the item when its physical parquet file count
    * exceeds `maxFiles` (append generations accumulate small files,
    * and every probe pays a per-file open). Returns whether a
    * rebalance ran; the probe itself is a driver listing, no scan. */
  def compactIfFragmented(item: String, maxFiles: Int,
                          npartitions: Option[Int] = None): Boolean = {
    val dataDir = path.resolve(item).resolve(Item.DataDir)
    val n = path.fs.listFilesRecursively(dataDir.raw).count(_.endsWith(".parquet"))
    if (n > maxFiles) { rebalance(item, npartitions); true } else false
  }

  /** Multiset diff of an item's LIVE state against one of its
    * snapshots — the data-versioning question ("what changed since
    * snapshot S?") answered as one DataFrame: rows only in the live
    * state tagged 'added', rows only in the snapshot tagged 'removed'
    * (an in-place update therefore surfaces as one of each, the
    * standard diff semantics). Duplicate rows diff by multiplicity
    * (exceptAll), so KeepAll items diff correctly. Both sides are
    * ordinary pruned scans; the diff itself is two hash anti-joins on
    * the full row — no driver materialization. */
  def diffSnapshot(item: String, snapshot: String): DataFrame = {
    val live = this.item(item).data
    val snap = this.item(item, snapshot = Some(snapshot)).data
    live.exceptAll(snap).withColumn("change", lit("added"))
      .unionByName(snap.exceptAll(live).withColumn("change", lit("removed")))
  }

  /** Retention expiry: drop every row whose INDEX value is strictly
    * before `cutoff` — the TTL sweep a time-series store runs
    * continuously. For a time-layout item this is the cheapest
    * mutation the store has: every period wholly before the cutoff's
    * period is removed by DIRECTORY NAME (period keys are
    * lexicographically chronological in all four layouts) — ZERO rows
    * read — and only the single boundary period is scanned and
    * rewritten, through the same atomic partial-commit path appends
    * use, in one commit with the removals (pinned generations retained
    * as usual). Contrast [[deleteWhere]], whose general predicate
    * needs a discovery scan. Flat items fall back to deleteWhere.
    * Returns the removed period keys and the boundary row count. */
  def expireBefore(item: String,
                   cutoff: java.sql.Timestamp): Collection.ExpireResult =
    // fenced + retried like deleteWhere — re-running an expiry over the
    // fresh state is the same cutoff applied later, always legal
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      expireBeforeOnce(item, cutoff) }

  private def expireBeforeOnce(item: String,
                               cutoff: java.sql.Timestamp): Collection.ExpireResult = {
    val t = resolveLive(item)
    val idx = t.indexCols
    t.layout match {
      case Some(layout) =>
        val sessionTzName = spark.conf.get("spark.sql.session.timeZone", "UTC")
        // name-dropping periods relative to a cutoff resolved in the
        // WRONG zone could remove a month holding post-cutoff rows —
        // same typed guard as appendPeriodic
        t.meta.get("_layout_tz").map(j => Meta.unjv(j).toString)
          .filter(_ != sessionTzName).foreach { recorded =>
            throw new ValidationError(
              s"item '$item' was laid out in timezone '$recorded' but this " +
              s"session runs '$sessionTzName'; set spark.sql.session.timeZone " +
              "to match before expiring a time-layout item")
          }
        val sessionTz = java.time.ZoneId.of(sessionTzName)
        val pStar = Collection.periodOfValue(layout, cutoff, sessionTz).getOrElse(
          throw new ValidationError(s"cannot derive a $layout period from $cutoff"))
        val periods = t.periods.get
        val toRemove = periods.filter(_ < pStar)
        // A cutoff landing EXACTLY on its period's first instant (the
        // midnight/month-start retention sweep every scheduler fires)
        // has nothing to remove from the boundary period — every one of
        // its rows is >= cutoff. Detect by period arithmetic (the
        // instant 1 µs before the cutoff falls in an earlier period)
        // and skip the boundary scan+rewrite entirely: the whole expiry
        // is then a zero-read name-drop, and the untouched boundary
        // keeps its generation (incremental consumers see a pure
        // delete, not a spurious rewrite).
        val boundaryAligned = Collection.periodOfValue(layout,
            java.sql.Timestamp.from(cutoff.toInstant.minusNanos(1000)), sessionTz)
          .exists(_ != pStar)
        val hasBoundary = periods.contains(pStar) && !boundaryAligned
        if (toRemove.isEmpty && !hasBoundary)
          return Collection.ExpireResult(Nil, 0L)
        // ONLY the boundary period's files are read
        val boundary = t.read(if (hasBoundary) ReadRoots.dirRoots(t, Some(Seq(pStar))) else Nil)
        val boundaryDeleted =
          if (hasBoundary) boundary.filter(col(idx.head) < lit(cutoff)).count() else 0L
        val keep = boundary.filter(!(col(idx.head) < lit(cutoff)))
        // one commit covers the boundary rewrite AND the name-dropped
        // periods (listed months absent from tmp are removals)
        val expired = (toRemove ++ (if (hasBoundary) Seq(pStar) else Nil)).sorted
        publish(item, stage(item, withTimeLayout(keep, idx, t.salt, layout),
            partitioned = true),
          Periods(expired), t.meta ++ Collection.opTag("expire"),
          expectedGen = Some(Snapshots.generationOf(t.meta)), expectedMeta = Some(t.meta))
        Collection.ExpireResult(toRemove, boundaryDeleted)
      case None =>
        // this attempt's resolution, inside expireBefore's own retry
        Collection.ExpireResult(Nil, deleteWhereOnce(item, t, col(idx.head) < lit(cutoff)))
    }
  }

  /** Targeted row deletion — the right-to-be-forgotten / bad-shard
    * removal primitive a production store needs beyond whole-item
    * deletes. Removes every row matching `predicate` and rewrites only
    * what the deletion touches: for a time-layout item the matching
    * periods are found first (one predicate-pushdown scan) and ONLY
    * those period dirs are rewritten through the same atomic
    * partial-commit path appends use — a period that loses ALL its
    * rows is removed outright (its pinned generations are retained for
    * manifest snapshots, like any replaced period). Flat items rewrite
    * once — inherent without a layout. Cost therefore scales with the
    * touched periods, not item size, exactly like partial appends.
    *
    * The predicate evaluates against STORED column values (what
    * `item(name).data` surfaces before index restoration). Index
    * min/max stats are left untouched — after a delete they are
    * conservative (wider) bounds, which is always pruning-safe.
    * Returns the number of rows deleted. */
  def deleteWhere(item: String, predicate: org.apache.spark.sql.Column): Long =
    // same optimistic fence as append: a concurrent writer's commit
    // between this read-modify-write's read and its publish refuses the
    // publish, and the retry re-applies the predicate to the fresh
    // state — a legal serialization (the delete ran after that commit)
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      deleteWhereOnce(item, resolveLive(item), predicate) }

  private def deleteWhereOnce(item: String, t: ReadRoots.Target,
                              predicate: org.apache.spark.sql.Column): Long = {
    val baseGen = Snapshots.generationOf(t.meta)
    val matches = deleteScan(t, predicate)
    // a row is deleted only where the predicate is TRUE (SQL DELETE):
    // one where it is NULL is kept, as `!predicate` would not
    val keep = !coalesce(predicate, lit(false))
    t.layout match {
      case Some(_) =>
        // the discovery scan already reads exactly the matching rows
        // (planner-narrowed, then the predicate) — count them per
        // period IN the same aggregation instead of re-scanning the
        // touched periods with a separate count job afterwards (guide
        // §1.4: one pass, not two). Legacy dirs without a pinned schema
        // may infer yearly keys as int / daily keys as date.
        val monthRows = matches.groupBy(col(MonthCol).cast("string"))
          .agg(count(lit(1)).as("c")).collect()
        val months = monthRows.map(_.getString(0)).toSeq.sorted
        if (months.isEmpty) return 0L
        val touched = t.read(ReadRoots.dirRoots(t, Some(months)), period = true)
        publish(item, stage(item, clusterPeriods(touched.filter(keep), t.indexCols, t.salt),
            partitioned = true),
          Periods(months), t.meta ++ Collection.opTag("delete_where"),
          expectedGen = Some(baseGen), expectedMeta = Some(t.meta))
        monthRows.map(_.getLong(1)).sum
      case None =>
        val deleted = matches.count()
        if (deleted == 0L) return 0L
        publish(item, stage(item, t.read(t.allRoots).filter(keep), partitioned = false),
          Full(partitioned = false), t.meta ++ Collection.opTag("delete_where"),
          expectedGen = Some(baseGen), expectedMeta = Some(t.meta))
        deleted
    }
  }

  /** The rows matching a delete's `predicate`, read from only the roots
    * the read planner keeps for it: the analyzed condition's
    * translatable conjuncts ([[ReadRoots.conditionPreds]]) prune
    * periods by index interval and `_period_stats`, and narrow to part
    * files through the skip indexes, under the same zone rule as reads.
    * A conjunct the planner cannot bound (disjunctions, computed
    * expressions) keeps everything — never under-deletes. A time
    * layout's rows carry the period column. Package-visible so specs
    * can count the files discovery opens. */
  private[graft] def deleteScan(t: ReadRoots.Target,
                                predicate: org.apache.spark.sql.Column): DataFrame = {
    // the ANALYZED condition (public API) — Column itself hides its
    // expression in Spark 4; analysis also resolves attribute names
    val cond = t.read(Nil).filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    val roots = ReadRoots.scanRoots(spark, t,
      cond.map(ReadRoots.conditionPreds).getOrElse(Nil), t.encoded)
    t.read(roots, period = t.layout.isDefined).filter(predicate)
  }

  /** Publication step of a SQL row-level operation (UPDATE / MERGE /
    * non-translatable DELETE): the executors staged the replacement
    * rows for the SCANNED period group set as parquet under `staging`
    * (shaped like a partitioned commit tmp — `__month=<p>/part-*`), and
    * this swaps them in through the SAME per-period atomic path partial
    * appends use. Semantics per period:
    *  - scanned ∧ staged → replaced (the COW rewrite);
    *  - scanned ∧ ¬staged → removed (every row deleted or moved away);
    *  - ¬scanned ∧ staged → rows MOVED IN from a rewritten period: the
    *    period's live files are linked into the staged dir first (O(1)
    *    links on POSIX), so its existing rows survive the swap — a
    *    merge, not a replace.
    * Flat items (scannedPeriods = None) swap the whole data dir — the
    * group is the item, inherent without a layout. Cost therefore
    * scales with the periods the operation touches, not item size,
    * exactly like deleteWhere. Index min/max item stats are left
    * untouched (deleteWhere parity: conservative for deletes; an
    * index-moving UPDATE re-derives period membership physically, and
    * period pruning reads period NAMES + refreshed per-period stats,
    * never the item-level interval). */
  private[graft] def replaceCowStaged(item: String, staging: SPath,
                                      scannedPeriods: Option[Seq[String]],
                                      op: String = "replace",
                                      expectedGen: Option[Long] = None): Unit = {
    // `expectedGen` is the generation the row-level op's GROUP SCAN ran
    // against: the staged replacement rows were derived from that base,
    // so a commit landing since makes them stale — the publish refuses
    // typed (SQL row ops surface the error; unlike append there is no
    // auto-retry, the rewrite rule's scan cannot be re-driven from here)
    val storedMeta = Meta.read(path.resolve(item))
    val prevMeta = storedMeta ++ Collection.opTag(op)
    scannedPeriods match {
      case Some(scanned) =>
        val staged =
          if (staging.isDir)
            staging.listDirs.filter(_.startsWith(MonthCol + "="))
              .map(_.stripPrefix(MonthCol + "="))
          else Nil
        val dataDir = path.resolve(item).resolve(Item.DataDir)
        staged.filterNot(scanned.contains).foreach { p =>
          val live = dataDir.resolve(s"$MonthCol=$p")
          if (live.isDir) {
            val dst = staging.resolve(s"$MonthCol=$p")
            path.fs.listFiles(live.raw)
              .filterNot(f => f.startsWith("_") || f.startsWith("."))
              .foreach(f => path.fs.linkOrCopyFile(
                live.resolve(f).toString, dst.resolve(f).toString))
          }
        }
        val months = (scanned ++ staged).distinct.sorted
        if (months.nonEmpty)
          publish(item, staging, Periods(months), prevMeta, expectedGen,
            expectedMeta = Some(storedMeta))
        else staging.deleteRecursively()
      case None =>
        if (!staging.isDir) staging.mkdirs() // all rows deleted → empty item
        publish(item, staging, Full(partitioned = false), prevMeta, expectedGen,
          expectedMeta = Some(storedMeta))
    }
    clearMetadataCache(Some(item))
  }

  /** Rename an item — one directory rename (O(1) metadata on POSIX and
    * HDFS; object-store backends pay their rename cost, still zero data
    * rewritten) plus cache refreshes. The sidecar, layout, stats, and
    * commit log ride inside the directory untouched, so `DESCRIBE
    * HISTORY` and timestamp travel keep their full horizon across the
    * rename.
    *
    * Manifest snapshots FOLLOW the rename (round-12; previously a
    * typed refusal): manifests and the retained-generation area key by
    * item name, so every manifest entry for the item is re-keyed and
    * the retained dir renamed — `VERSION AS OF`, restore/rollback, and
    * CDC anchors resolve the pre-rename generations under the NEW name
    * (a snapshot pins a state, not a spelling; dir snapshots are
    * independent full copies and never needed following). The sequence
    * (re-key manifests → move retained → move the item dir) is
    * journaled in an intent file and each step is idempotent, so a
    * crash anywhere mid-rename is ROLLED FORWARD by vacuum's repair.
    * Runs under the snapshot (write) lock: no commit, snapshot
    * creation, or restore may interleave with the re-keying. */
  def renameItem(from: String, to: String): Unit = withSnapshotLock {
    withItemProcessLocks(from, to) {
    Collection.requireWritableItemName(to)
    Collection.reservedSuffixOf(from).foreach { k =>
      throw new ValidationError(
        s"'$from' is a metadata-table projection ('$$$k'), not an item")
    }
    if (!hasItem(from))
      throw new ItemNotFoundError(s"item '$from' does not exist")
    if (hasItem(to))
      throw new ItemExistsError(s"item '$to' already exists")
    val intent = path.resolve(s"__rename_intent_$from.json")
    path.fs.writeBytesAtomic(intent.raw,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        JObject(List("from" -> Meta.jv(from), "to" -> Meta.jv(to)))))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Intent survival mirrors deleteItem: a failure before ANY state
    // moved (no manifest re-keyed, no retained dir moved, no item dir
    // moved — `to` is a fresh name, so its appearance anywhere is our
    // doing) means the caller was told FAILED and the rename must NOT
    // be completed behind their back by the next vacuum — withdraw the
    // intent. Once any step mutated state the steps are idempotent and
    // roll-forward is the only consistent repair, so the intent stays.
    try {
      Collection.commitSeamHook(s"rename_intent_written:$from")
      Snapshots.renameItemPins(path, from, to)
      Collection.commitSeamHook(s"rename_pins_done:$from")
      path.fs.rename(path.resolve(from).raw, path.resolve(to).raw)
    } catch {
      case e: Throwable =>
        val began =
          try path.resolve(to).isDir || Snapshots.itemPinStateExists(path, to)
          catch { case _: Exception => true } // can't judge → keep the intent
        if (!began)
          try intent.deleteRecursively() catch { case _: Exception => () }
        throw e
    }
    intent.deleteRecursively()
    metaCache.remove(from)
    metaCache.remove(to)
    refreshItems()
    }
  }

  def deleteItem(item: String): Boolean = withCommitLock { withItemProcessLock(item) {
    // manifest snapshots survive the delete: pinned data (whole dir
    // for flat items, per pinned period for time layouts) moves to
    // the retained area before the item dir is removed. The INTENT
    // journal makes the delete kill-anywhere safe: a recursive delete
    // killed mid-way would otherwise leave a silently PARTIAL item
    // (data dir present, some part-files gone) that reads as a subset
    // — vacuum's repair finishes the journaled delete instead
    // (retention re-runs first and is idempotent, so pins are never
    // lost to the crash).
    val intent = path.resolve(s"__delete_intent_$item.json")
    path.fs.writeBytesAtomic(intent.raw,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        JObject(List("item" -> Meta.jv(item)))))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The intent may only survive once destruction has actually begun:
    // a transient failure BEFORE the recursive delete leaves the item
    // intact and the caller is told the delete FAILED — letting the
    // intent stand would direct the next vacuum() to roll the delete
    // forward, silently destroying an item the user believes exists.
    // Pre-destructive failure → undo the retention renames, withdraw
    // the intent, rethrow. Failure mid-delete → keep the intent so
    // vacuum finishes the (now torn) delete.
    var destructionBegan = false
    try {
      Snapshots.retainPeriodsIfPinned(path, item)
      Snapshots.retainIfPinned(path, item)
      Collection.commitSeamHook(s"delete_retained:$item")
      destructionBegan = true
      path.resolve(item).deleteRecursively()
    } catch {
      case e: Throwable if !destructionBegan =>
        try restoreRetainedFor(item) catch { case _: Exception => () }
        try intent.deleteRecursively() catch { case _: Exception => () }
        throw e
    }
    intent.deleteRecursively()
    metaCache.remove(item)
    refreshItems()
    true
  } }

  /** Rebalance an existing item's physical layout (reference
    * partition.py:175-216 / L4): read → re-apply the auto partition
    * policy (or an explicit count) → atomic rewrite, preserving
    * metadata and recording the new layout in the sidecar. */
  /** Import an item written by the Python reference (pystore on-disk
    * layout: flat parquet part-files directly inside the item dir, with
    * a `pystore_metadata.json` sidecar) — the migration path for a user
    * switching engines without rewriting their ingest. User metadata
    * keys carry over verbatim (the reference's `_updated` is re-stamped
    * by the write); the frame goes through the normal write pipeline,
    * so partitioning, stats, sorting, and sidecar layout come out
    * native. */
  def importPystoreItem(srcDir: java.nio.file.Path,
                        item: String,
                        indexCols: Seq[String] = Seq(DefaultIndex),
                        overwrite: Boolean = false): Unit = {
    // the reference keeps its JSON sidecar in the same dir as the
    // part-files, so scope the scan to parquet files only — listed
    // EXPLICITLY rather than via a `*.parquet` glob, because Spark's
    // FileStreamSink.hasMetadata stats the literal glob path first and
    // logs a benign-but-alarming WARN stack trace on every import
    val parts = {
      val s = java.nio.file.Files.list(srcDir)
      try {
        val b = Seq.newBuilder[String]
        s.forEach(p =>
          if (p.getFileName.toString.endsWith(".parquet")) b += p.toString)
        b.result().sorted
      } finally s.close()
    }
    if (parts.isEmpty)
      throw new ItemNotFoundError(
        s"no .parquet part-files under $srcDir (not a pystore item dir)")
    val df = spark.read.parquet(parts: _*)
    val userMeta = Meta.readAt(SPath.local(srcDir.resolve("pystore_metadata.json")))
      .collect { case (k, v) if k != "_updated" => k -> Meta.unjv(v) }
    val idx =
      if (indexCols == Seq(DefaultIndex) && !df.columns.contains(DefaultIndex))
        Seq(DefaultIndex) // write() synthesizes a RangeIndex, like the reference
      else indexCols
    write(item, df, indexCols = idx, metadata = userMeta.toMap, overwrite = overwrite)
  }

  /** Import one of the Python reference's SNAPSHOTS (a copytree of
    * item dirs under `_snapshots/<name>` — collection.py:529-543) as a
    * graft DIRECTORY snapshot, so `item(name, snapshot = Some(...))`
    * serves the migrated history exactly like a native cut. Each item
    * routes through [[importPystoreItem]]'s normal write pipeline
    * (schema capture, partitioning, stats) under a hidden temp name,
    * then renames into a dot-staged snapshot dir that publishes by one
    * rename (overwrites move the previous snapshot aside first and
    * restore it if the publish fails) — a crash mid-import leaves the
    * old or the new cut recoverable plus `.tmp_*` staging the vacuum
    * sweep reclaims (activity-gated in multiprocess mode, so a LIVE
    * import in another process is spared), never a half-listed
    * snapshot. Replacing a native MANIFEST snapshot drops its stale
    * manifest after the publish and GCs the generations only it
    * pinned. Returns the imported item names. */
  def importPystoreSnapshot(srcSnapDir: java.nio.file.Path, snap: String,
                            indexCols: Seq[String] = Seq(DefaultIndex),
                            overwrite: Boolean = false): Seq[String] = {
    Snapshots.requireUserSnapshotName(snap)
    val snapsDir = path.resolve(GraftStore.SnapshotsDir)
    snapsDir.mkdirs()
    val dst = snapsDir.resolve(snap)
    if ((dst.isDir || Snapshots.manifestExists(path, snap)) && !overwrite)
      throw new ValidationError(
        s"snapshot '$snap' already exists — pass overwrite = true to replace it")
    val items = FsOps.listDirs(srcSnapDir).filterNot(_.startsWith("_"))
    // An empty source refuses ONLY when it would replace an existing
    // snapshot (typo protection — a real snapshot must not be replaced
    // by nothing; delete it explicitly if that is the intent). The
    // reference legitimately snapshots an EMPTY collection as an empty
    // copytree, and a whole-store import must migrate that, not abort.
    if (items.isEmpty) {
      if (dst.isDir || Snapshots.manifestExists(path, snap))
        throw new ValidationError(
          s"'$srcSnapDir' contains no item directories — refusing to " +
            s"replace existing snapshot '$snap' with nothing (delete it " +
            "explicitly if that is the intent)")
      dst.mkdirs()
      return Nil
    }
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = snapsDir.resolve(s".tmp_import_${snap}_$tag")
    staging.mkdirs()
    try {
      items.foreach { it =>
        val tmpItem = s"__import_tmp_${tag}_$it"
        importPystoreItem(srcSnapDir.resolve(it), tmpItem, indexCols)
        path.fs.rename(path.resolve(tmpItem).raw, staging.resolve(it).raw)
        metaCache.remove(tmpItem)
      }
      // Publish: overwrite via move-aside, never delete-then-rename —
      // a crash between a delete and the rename-in would destroy the
      // old snapshot with the new one still in dead staging (both
      // generations lost). With the aside, every crash point leaves
      // the old OR the new cut recoverable. A stale MANIFEST of the
      // replaced snapshot is dropped after the publish (releasePin
      // also GCs the generations only it pinned); a crash before that
      // drop leaves a benign residue — per-item resolution prefers the
      // published dir, and re-running the import clears it.
      if (dst.isDir) {
        val aside = snapsDir.resolve(s".tmp_old_${snap}_$tag")
        path.fs.rename(dst.raw, aside.raw)
        try path.fs.rename(staging.raw, dst.raw)
        catch { case e: Throwable =>
          try path.fs.rename(aside.raw, dst.raw) catch { case _: Exception => () }
          throw e
        }
        aside.deleteRecursively()
      } else path.fs.rename(staging.raw, dst.raw)
      // manifest FILE removal only — NOT releasePin (would delete the
      // same-name dir we just published) and NOT deleteManifest (its
      // gcRetained judges referenced-ness lock-free here, racing an
      // in-flight transaction's copy-on-write retention; the next
      // vacuum GCs the dead manifest's retained generations under the
      // snapshot lock)
      if (Snapshots.manifestExists(path, snap)) Snapshots.dropManifestFile(path, snap)
    } finally {
      if (staging.isDir) staging.deleteRecursively()
      // a failed item import/rename leaves its hidden temp item at the
      // collection root — reclaim this call's; a kill -9 leaves them
      // for vacuum (swept under the staging activity gate)
      path.listDirs.filter(_.startsWith(s"__import_tmp_${tag}_"))
        .foreach(d => path.resolve(d).deleteRecursively())
    }
    items
  }

  /** Export an item in the Python reference's on-disk layout — the
    * inverse of [[importPystoreItem]], so a user can hand data BACK to
    * a stock pystore 1.0.1 deployment: flat `part.N.parquet` files
    * (dask's `to_parquet` naming, snappy like the reference's writer —
    * collection.py:303-306) plus a `pystore_metadata.json` sidecar
    * carrying the item's USER metadata keys and a freshly stamped
    * `_updated` in the reference's UTC format (utils.py:99-107; the
    * engine's internal `_`-prefixed sidecar keys — generations,
    * history, layout — mean nothing to pystore and are not exported).
    * Rows are globally sorted by the index columns into about as many
    * part files as the item holds natively, so the reference's
    * head/tail read the same edges. The export is staged next to the
    * destination and moved in whole (overwrites move the previous
    * export aside first and restore it if the move-in fails), so a
    * crashed export never leaves a half-item pystore would read as a
    * subset — a kill can strand the staging/aside dir itself, which
    * the next export of the same item sweeps; the read side is
    * conflict-retried and generation-checked like every engine-driven
    * read, so the exported rows and metadata always come from one
    * committed generation even under live writers. Time-layout items
    * flatten (the reference has no period layout). With `snapshot`
    * the PINNED state exports instead — rows and user metadata frozen
    * at the cut, for the reference's `_snapshots/<name>/<item>` shape
    * ([[GraftStore.exportPystore]] drives this). Returns the part
    * file count. */
  def exportPystoreItem(item: String, destDir: java.nio.file.Path,
                        overwrite: Boolean = false,
                        snapshot: Option[String] = None): Int = {
    import java.nio.file.{Files => NF, StandardCopyOption}
    if (snapshot.isEmpty && !hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    if (NF.exists(destDir) && FsOps.nonEmptyDir(destDir) && !overwrite)
      throw new ValidationError(
        s"export destination '$destDir' exists and is not empty — pass " +
          "overwrite = true to replace it")
    val parent = destDir.toAbsolutePath.getParent
    NF.createDirectories(parent)
    // self-heal: a crashed export's staging (or move-aside, below) is
    // the one leftover stock pystore would list as a garbage item —
    // sweep this item's previous corpses before staging anew (the
    // UUID keeps concurrent exports of OTHER items untouched)
    FsOps.listDirs(parent)
      .filter(d => d.startsWith(s"__export_tmp_${item}_") ||
        d.startsWith(s"__export_old_${item}_"))
      .foreach(d => FsOps.deleteRecursively(parent.resolve(d)))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = parent.resolve(s"__export_tmp_${item}_$tag")
    try {
      // fenced like every engine-driven read (rebalance): a concurrent
      // commit swapping the data dir mid-scan retries instead of
      // failing the export, and a commit landing BETWEEN the sidecar
      // read and the scan re-runs the attempt — the exported rows and
      // metadata always come from one committed generation. SNAPSHOT
      // exports run the same check: a manifest pin whose generation
      // is still LIVE resolves to the live data dir (no retained copy
      // exists until something replaces it), so a commit racing the
      // scan would silently export post-cut rows under the frozen
      // sidecar — the moved generation refuses the attempt, and the
      // retry re-resolves the pin, which now points at the RETAINED
      // pre-commit generation and is stable. Probes read the LIVE
      // sidecar; a snapshot of a deleted item probes −1 on both sides
      // and passes (its pin resolves to retained dirs only).
      val genProbe = genProbeFor(item)
      val (userMeta, nParts) = Collection.retryOnConflict(genProbe = genProbe) {
        val genAtStart = genProbe()
        val it = this.item(item, snapshot = snapshot)
        // fence only reads that touch the LIVE dirs: a dir snapshot or
        // a pin fully resolved to retained generations is immutable,
        // and fencing it against the live generation would spuriously
        // refuse every attempt under a sustained writer (the live item
        // legitimately keeps committing) until the budget failed the
        // export — the exact livelock the per-source condition avoids.
        // A pin at a still-live generation fences; its refused retry
        // re-resolves to the then-retained generation and stops fencing.
        val fenced = it.touchesLiveDir
        val idx = it.indexCols
        val df = it.data
        val meta = it.metadata
          .collect { case (k, v) if !k.startsWith("_") => k -> v }
        val nFiles = math.max(1, df.inputFiles.length)
        val sparkOut = staging.resolve("spark")
        Collection.commitSeamHook(s"export_scan:$item") // no-op outside tests
        df.sort(idx.map(org.apache.spark.sql.functions.col): _*)
          .coalesce(nFiles) // adjacent-merge after the range sort keeps global order
          .write.mode("overwrite").parquet(sparkOut.toString)
        if (fenced && genProbe() != genAtStart)
          throw new ConcurrentWriteError(
            s"item '$item' was committed to while the export scanned it")
        // dask's part naming, in the sorted job's own file order (Spark
        // part numbers are the post-sort partition ordinals; listFiles
        // returns them sorted)
        val parts = FsOps.listFiles(sparkOut).filter(_.endsWith(".parquet"))
        parts.zipWithIndex.foreach { case (f, i) =>
          NF.move(sparkOut.resolve(f), staging.resolve(s"part.$i.parquet"))
        }
        FsOps.deleteRecursively(sparkOut)
        (meta, parts.size)
      }
      val updated = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      val json = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JObject((userMeta ++ Meta.obj("_updated" -> updated)).toList: _*)))
      NF.write(staging.resolve("pystore_metadata.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def moveIn(): Unit =
        try NF.move(staging, destDir, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          NF.move(staging, destDir) }
      if (NF.exists(destDir)) {
        // overwrite via move-aside, never delete-then-move: a failed
        // move-in must leave the PREVIOUS export restorable, not
        // destroy both generations
        val aside = parent.resolve(s"__export_old_${item}_$tag")
        NF.move(destDir, aside)
        try moveIn()
        catch { case e: Throwable =>
          try NF.move(aside, destDir) catch { case _: Exception => () }
          throw e
        }
        FsOps.deleteRecursively(aside)
      } else moveIn()
      nParts
    } finally if (NF.exists(staging)) FsOps.deleteRecursively(staging)
  }

  /** Re-lay an item in place through its own layout (always rewritten):
    * a flat item over `npartitions` files or the auto count — the
    * number it returns — and a time-layout item one file per period ×
    * salt, returning its data file count. */
  def rebalance(item: String, npartitions: Option[Int] = None,
                reindex: Boolean = false): Int =
    relayItem(item, None, npartitions, reindex, "rebalance")

  private def dataDirFileCount(item: String): Int =
    path.fs.listFilesRecursively(
      path.resolve(item).resolve(Item.DataDir).raw).count(_.endsWith(".parquet"))

  /** In-place physical layout conversion — flat ↔ any time layout
    * (reference analogue: partition.py:175-216 rebalances in place;
    * this generalizes it to a LAYOUT change). The migration a real
    * deployment hits the day a flat item grows past full-rewrite
    * appends: one atomic re-lay unlocks the incremental machinery
    * (partial appends, name-dropped expiry, targeted deletes) without
    * a copy to a second item. Runs through the normal commit path, so
    * user metadata, index config, codec markers, and pinned snapshot
    * generations (both pin kinds — the OLD layout's data is what the
    * snapshot serves) all survive; only the layout keys change.
    * Converting to the CURRENT layout (same salt) is a no-op. */
  def convertLayout(item: String, timeLayout: Option[String] = None,
                    monthlySalt: Int = 1, reindex: Boolean = false): Unit =
    relayItem(item, Some((timeLayout.getOrElse("flat"), monthlySalt)), None, reindex,
      "convert_layout")

  /** The full re-lay behind [[rebalance]] (`to` = None: the item's own
    * layout and salt, always rewritten) and [[convertLayout]] (`to` =
    * layout name and salt; a no-op when the item already has both), as
    * one read-modify-write committed under history verb `op`. A time
    * layout re-keys every row in THIS session's zone, recorded as
    * `_layout_tz`; a flat one goes through [[flatPlan]]. Returns the
    * flat file count, the time layout's data file count, or 0 for a
    * no-op. */
  private def relayItem(item: String, to: Option[(String, Int)],
                        npartitions: Option[Int], reindex: Boolean, op: String): Int = {
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    to.map(_._1).filter(l => l != "flat" && !TimeLayouts.contains(l)).foreach { l =>
      throw new ValidationError(
        s"unknown time layout '$l' (supported: ${TimeLayouts.mkString(",")})")
    }
    // fenced + retried like every read-modify-write (see append): a
    // commit landing mid-rewrite must not be clobbered by the re-lay
    val out = Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      val t = resolveLive(item)
      val current = t.layout.getOrElse("flat")
      val (layout, salt) = to.getOrElse((current, t.salt))
      val isTime = layout != "flat"
      if (to.isDefined && layout == current && (!isTime || salt == t.salt)) None
      else {
        val idx = t.indexCols
        // Read fully before the swap overwrites the source files: the
        // write job streams from the old files into the tmp dir, and
        // the swap happens only after the job completes — safe.
        val df = t.read(t.allRoots)
        def commit(laidOut: DataFrame, partitioned: Boolean, meta: Map[String, JValue]): Unit =
          publish(item, stage(item, laidOut, partitioned), Full(partitioned),
            meta ++ Collection.opTag(op),
            expectedGen = Some(Snapshots.generationOf(t.meta)), expectedMeta = Some(t.meta))
        if (isTime) {
          // the period clustering dictates partitioning — an explicit
          // npartitions cannot be honored, so reject it (typed, matching
          // the rebalanceZOrder precedent) rather than silently dropping
          // the request
          if (npartitions.isDefined)
            throw new ValidationError(
              s"rebalance: item '$item' has a time layout; npartitions cannot be " +
                "honored (the period clustering dictates partitioning) — omit it")
          if (!Partitioner.isTemporal(df, idx.head))
            throw new ValidationError("time layouts require a timestamp/date index column")
          commit(withTimeLayout(df, idx, salt, layout), partitioned = true, t.meta ++ Meta.obj(
            "_layout" -> layout,
            "_layout_tz" -> spark.conf.get("spark.sql.session.timeZone", "UTC"),
            "_monthly_salt" -> salt,
            "_partitions" -> 0,
            "_partition_strategy" -> Partitioner.TimeBased.name))
          Some(dataDirFileCount(item))
        } else {
          val (laidOut, layoutMeta) = flatPlan(df, idx, t.indexStats, npartitions)
          // stale period bookkeeping must not survive a flat conversion
          val meta = if (current == "flat") t.meta
            else (t.meta - "_layout_tz" - "_period_gens" - "_period_stats") ++
              Meta.obj("_layout" -> "flat", "_monthly_salt" -> 1)
          commit(laidOut, partitioned = false, meta ++ layoutMeta)
          Some(Meta.unjv(layoutMeta("_partitions")).asInstanceOf[Long].toInt)
        }
      }
    }
    // the rewrite moved the generation, retiring every skip index; the
    // opt-in re-arm rebuilds them against the NEW layout (outside the
    // fence — a racing commit just retires the fresh build again)
    if (reindex && out.isDefined) rebuildIndexes(item)
    out.getOrElse(0)
  }

  /** Z-order rebalance — the `OPTIMIZE ... ZORDER BY` analogue: re-lay
    * an item along the Morton curve of `cols` so row-group min/max
    * stats prune on EVERY listed column, not just the sort index
    * (multi-dimensional pruning is what a filter on a non-index column
    * needs at 100 TB). One stats pass, then the flat layout of the
    * curve value ([[flatPlan]], as graft.operators.ZOrder.cluster lays
    * it out), committed atomically with the clustering recorded in the
    * sidecar. Reads and probes are unchanged — this is a
    * physical-layout-only rewrite. */
  def rebalanceZOrder(item: String, cols: Seq[String],
                      bits: Int = 16,
                      npartitions: Option[Int] = None,
                      reindex: Boolean = false): Unit = {
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    // fenced + retried like every read-modify-write (see append)
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
    val t = resolveLive(item)
    // z-order's curve-range layout and a period-partitioned write are
    // incompatible layouts (each range partition would splinter across
    // period dirs): reject rather than silently flatten the item and
    // orphan the incremental append/expire machinery
    if (t.layout.isDefined)
      throw new ValidationError(
        s"rebalanceZOrder: item '$item' has a time layout; z-order applies to " +
          "flat items (use rebalance() to compact a time-layout item)")
    // the Morton value is the flat layout's index: files cover
    // disjoint curve ranges, their count decided by size
    val curve = graft.operators.ZOrder.CurveCol
    val (laidOut, layoutMeta) = flatPlan(
      graft.operators.ZOrder.withCurve(t.read(t.allRoots), cols, bits), Seq(curve), None,
      npartitions)
    val prevMeta = t.meta ++ layoutMeta ++
      Meta.obj("_zorder_cols" -> cols.mkString(","), "_zorder_bits" -> bits)
    publish(item, stage(item, laidOut.drop(curve), partitioned = false), Full(partitioned = false),
      prevMeta ++ Collection.opTag("zorder"),
      expectedGen = Some(Snapshots.generationOf(t.meta)), expectedMeta = Some(t.meta))
    }
    // z-order clusters every listed column per file — exactly the
    // layout where a zonemap separates best; re-arm on request
    if (reindex) rebuildIndexes(item)
  }

  // ----------------------------------------------------------- snapshots

  /** Point-in-time snapshot (reference collection.py:529-543 / V1): name
    * sanitized to [A-Za-z0-9._] or a µs timestamp.
    *
    * Two implementations behind the one API:
    *  - link snapshot (POSIX default): HARDLINK the immutable
    *    part-files — O(files), not the reference's full copytree;
    *    valid because commits swap whole directories and never rewrite
    *    files in place.
    *  - manifest snapshot (object-store default, `manifest = true`):
    *    pin item generations in a JSON manifest — O(items) metadata,
    *    zero bytes; commits/deletes retain pinned generations by O(1)
    *    rename (Snapshots.scala).
    */
  /** Metadata-only column ADD — the lakehouse `ALTER TABLE ADD
    * COLUMNS`, and the E-family's SQL face. Appends nullable fields to
    * the item's declared schemas (encoded + logical) in ONE sidecar
    * write; ZERO data files change at any item size. Existing rows
    * serve typed NULLs: the declared-schema read pin (Item.scala) and
    * the V2 table's `ParquetScan` both request the declared shape, and
    * the parquet reader null-fills requested-but-absent columns per
    * file. Later appends/writes carrying the column fill it normally —
    * mixed file generations read correctly against the pin.
    *
    * Added fields must be nullable (existing rows have no value) and
    * must not collide case-insensitively with existing columns.
    *
    * Re-adding a name previously removed by [[dropColumns]] yields a
    * FRESH column (typed NULLs for every existing row), never the old
    * bytes: graft maps columns by name, and pre-drop part-files still
    * hold the masked column — so the re-add first pays a one-time
    * same-layout purge rewrite that physically strips the masked
    * bytes, then adds the name metadata-only. This is the deliberate
    * cost split: DROP is free and common; re-add-after-drop is rare
    * and is priced like the rewriting operation it semantically is.
    * RENAME COLUMN stays refused (needs a rewriting migration).
    * Beyond the reference (schema changes there require an evolved
    * append, schema_evolution.py). */
  def addColumns(item: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    if (fields.isEmpty) return
    // Field-shape validation FIRST: an invalid call must never pay the
    // purge rewrite below (nor clear the mask) before failing. The
    // collision check needs the declared schema and runs under the lock.
    fields.foreach { f =>
      if (!f.nullable)
        throw new ValidationError(
          s"added column '${f.name}' must be nullable: existing rows " +
            "have no value for it")
      if (f.name == Collection.MonthCol || f.name.startsWith("__"))
        throw new ValidationError(s"column name '${f.name}' is reserved")
    }
    // The purge is a FULL REWRITE (a data job) and must run OUTSIDE
    // the DDL/cross-process locks (processLockTimeoutMs's contract);
    // its own publish fences on generation + sidecar equality. The
    // mask re-check under the lock below closes the gap: a concurrent
    // dropColumns re-masking the name between this purge and the lock
    // is refused typed, never resurrected metadata-only.
    val masked = Collection.droppedColsOf(Meta.read(path.resolve(item)))
    if (fields.exists(f => masked.exists(_.equalsIgnoreCase(f.name))))
      purgeDroppedColumns(item)
    val itemPath = path.resolve(item)
    alterSidecar(item, "alter") { meta =>
      // LOAD-BEARING re-check: the purge above ran lock-free, so a
      // concurrent dropColumns may have re-masked the name before this
      // lock was taken — and a sidecar edited outside the typed DDL
      // paths can name it too. A masked name must never be re-added
      // metadata-only (the pre-drop bytes sitting in untouched
      // part-files would resurrect). Refuse typed; the caller retries.
      val nowMasked = Collection.droppedColsOf(meta)
      fields.find(f => nowMasked.exists(_.equalsIgnoreCase(f.name))).foreach { f =>
        throw new GraftError(
          s"dropped-column mask still names '${f.name}' on item '$item' " +
            "after its purge — the sidecar changed outside the DDL " +
            "paths; retry addColumns")
      }
      def parse(k: String): Option[StructType] = meta.get(k).collect {
        case org.json4s.JString(sj) => DataType.fromJson(sj).asInstanceOf[StructType]
      }
      // legacy pre-encode sidecar: materialize the encoded schema from
      // the footers once, so the pin (and this ALTER) have an anchor
      val encoded = parse("schema_json_encoded").getOrElse {
        val inferred = spark.read.parquet(
          itemPath.resolve(Item.DataDir).toString).schema
        StructType(inferred.filterNot(_.name == Collection.MonthCol))
      }
      val taken = encoded.fieldNames.map(_.toLowerCase).toSet
      fields.foreach { f =>
        if (taken.contains(f.name.toLowerCase))
          throw new ValidationError(
            s"column '${f.name}' already exists on item '$item'")
      }
      val added = fields.map(f => f.copy(nullable = true))
      val newEncoded = StructType(encoded.fields ++ added)
      // added columns carry no codec, so their logical type == encoded
      val newLogical = parse("schema_json")
        .map(l => StructType(l.fields ++ added))
      Some(meta + ("schema_json_encoded" -> Meta.jv(newEncoded.json)) ++
        newLogical.map(l => "schema_json" -> Meta.jv(l.json)))
    }
  }

  /** Metadata-only column DROP — the read-side projection-mask
    * convention of the modern table formats, and the SQL face of
    * `ALTER TABLE DROP COLUMN`. The dropped fields leave the item's
    * declared schemas (encoded + logical) in ONE sidecar write; ZERO
    * data files change at any item size. Every read surface pins its
    * scan to the declared schema (the Item read pin, the V2 table,
    * frozen snapshot sidecars), so the masked bytes are simply never
    * requested — parquet column pruning makes the mask literally free
    * at 100 TB. Snapshot and time-travel reads serve the schema frozen
    * at their pin, so the column stays visible in pre-drop snapshots.
    *
    * The dropped NAMES are remembered under [[Collection.DroppedColsKey]]
    * so a later [[addColumns]] of the same name purges the masked bytes
    * before the name returns fresh (see there). Full rewrites (write,
    * evolved append, convertLayout) clear the mask for free — they
    * rewrite every file from the masked read, so nothing is left to
    * purge.
    *
    * Refused typed: index columns (they are the item's physical
    * contract — ordering, dedup, partitioning), declared pruning-stats
    * columns (undeclare via [[analyzeItem]] first), and unknown names —
    * except names in `lenient` (the SQL `IF EXISTS` spelling), which
    * skip silently when absent. The lenient check runs under the same
    * locked meta read that applies the mask, so "absent" is evaluated
    * against exactly the schema the drop commits over (a pre-checked
    * existence test outside the lock could race a concurrent DDL). */
  def dropColumns(item: String, names: Seq[String],
                  lenient: Set[String] = Set.empty): Unit = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    if (names.isEmpty) return
    val itemPath = path.resolve(item)
    alterSidecar(item, "alter") { meta =>
      def parse(k: String): Option[StructType] = meta.get(k).collect {
        case org.json4s.JString(sj) => DataType.fromJson(sj).asInstanceOf[StructType]
      }
      // legacy pre-encode sidecar: materialize the encoded schema once
      // (same anchor rule as addColumns)
      val encoded = parse("schema_json_encoded").getOrElse {
        val inferred = spark.read.parquet(
          itemPath.resolve(Item.DataDir).toString).schema
        StructType(inferred.filterNot(_.name == Collection.MonthCol))
      }
      val idx = meta.get("index_names") match {
        case Some(j) => Meta.unjv(j) match {
          case xs: Seq[_] if xs.nonEmpty => xs.map(_.toString)
          case _ => Seq(Collection.DefaultIndex)
        }
        case None => Seq(Collection.DefaultIndex)
      }
      val statsCols = statsColumnsOf(meta)
      val byLower = encoded.fields.map(f => f.name.toLowerCase -> f.name).toMap
      val resolved = names.flatMap { n =>
        byLower.get(n.toLowerCase) match {
          case some @ Some(_) => some
          case None if lenient.exists(_.equalsIgnoreCase(n)) => None // IF EXISTS
          case None => throw new ValidationError(
            s"column '$n' does not exist on item '$item' " +
              s"(${encoded.fieldNames.mkString(", ")})")
        }
      }.distinct
      resolved.foreach { n =>
        if (idx.exists(_.equalsIgnoreCase(n)))
          throw new ValidationError(
            s"cannot drop '$n': it is the item's index column — the index " +
              "is the item's physical contract (ordering, dedup, " +
              "partitioning); reshaping it needs a rewriting migration")
        if (statsCols.exists(_.equalsIgnoreCase(n)))
          throw new ValidationError(
            s"cannot drop '$n': it is a declared pruning-stats column; " +
              "undeclare it first (analyzeItem with a new column list)")
      }
      if (resolved.isEmpty) None // every name lenient-and-absent → no-op
      else {
        val dropSet = resolved.map(_.toLowerCase).toSet
        val newEncoded = StructType(
          encoded.fields.filterNot(f => dropSet.contains(f.name.toLowerCase)))
        val newLogical = parse("schema_json").map(l => StructType(
          l.fields.filterNot(f => dropSet.contains(f.name.toLowerCase))))
        val mask = (Collection.droppedColsOf(meta) ++ resolved).distinct
        // The dropped names' codec markers go WITH them: `_type_info`
        // applies by NAME on the restored read, so a stale marker would
        // reinterpret a later re-added same-name column (fresh NULLs,
        // possibly a different type) through the dropped column's codec
        // — e.g. a fresh long served as epoch-ns timestamps.
        val typeInfo = meta.get("_type_info").collect {
          case JObject(fs) => JObject(
            fs.filterNot { case (n, _) => dropSet.contains(n.toLowerCase) })
        }
        Some(meta + ("schema_json_encoded" -> Meta.jv(newEncoded.json)) ++
          newLogical.map(l => "schema_json" -> Meta.jv(l.json)) ++
          typeInfo.map(ti => "_type_info" -> (ti: JValue)) +
          (Collection.DroppedColsKey -> Meta.jv(mask)))
      }
    }
  }

  /** Physical column RENAME — `ALTER TABLE RENAME COLUMN`'s verb.
    * Graft maps columns by NAME (the declared-schema read pin
    * null-fills absent names per file), so a rename can never be
    * metadata-only: every part-file footer must carry the new name or
    * mixed generations would read the renamed column as NULL. This is
    * therefore a staged full rewrite through the E5 migration shape
    * (SchemaEvolution.MigrationRegistry — one registered
    * `withColumnRenamed` step) published as ONE atomic commit:
    * purgeDroppedColumns' cost class, crash-safe like every commit.
    * Column-keyed sidecar markers move with the name — the declared
    * schemas re-key their field, the `_type_info` codec marker re-keys
    * (a stale marker would reinterpret the renamed column through the
    * old name's codec, the same hazard DROP's marker fix closed), and
    * the dropped-column mask clears for free (all files rewritten).
    * Snapshot and `VERSION AS OF` reads keep serving the frozen
    * PRE-rename name: their pinned sidecars carry the old schema over
    * the retained bytes. Refused typed: index columns and declared
    * pruning-stats columns (the item's physical contract — undeclare
    * stats first), unknown names, reserved target shapes, and
    * collisions with existing names. The reference has no column DDL
    * at all (pandas renames are full in-memory rewrites). */
  def renameColumn(item: String, from: String, to: String): Unit = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    if (to == Collection.MonthCol || to.startsWith("__") || to.isEmpty)
      throw new ValidationError(s"column name '$to' is reserved")
    if (from == to) return
    // Staged OUTSIDE the locks, like append: the rewrite job is the
    // expensive part, and holding the DDL/commit locks (and, in
    // multiprocess mode, the cross-process item lock) across it would
    // break processLockTimeoutMs's contract — held sections are O(1)
    // renames plus a sidecar write, never a data job; a concurrent
    // process's append would poll the item lock for the whole rewrite
    // and time out spuriously. Instead: read + validate + stage
    // lock-free, then fence at publish on BOTH the generation (data
    // commits) and full-sidecar equality (metadata-only DDL, which
    // does not advance the generation); a refused publish re-reads and
    // re-stages via retryOnConflict.
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      val t = resolveLive(item)
      val meta = t.meta
      def parse(k: String): Option[StructType] = meta.get(k).collect {
        case org.json4s.JString(sj) => DataType.fromJson(sj).asInstanceOf[StructType]
      }
      // legacy pre-encode sidecar: materialize the encoded schema once
      // (same anchor rule as addColumns/dropColumns)
      val encoded = parse("schema_json_encoded").getOrElse(t.read(Nil).schema)
      val actualFrom = encoded.fieldNames
        .find(_.equalsIgnoreCase(from)).getOrElse(
          throw new ValidationError(
            s"column '$from' does not exist on item '$item' " +
              s"(${encoded.fieldNames.mkString(", ")})"))
      val idx = t.indexCols
      if (idx.exists(_.equalsIgnoreCase(actualFrom)))
        throw new ValidationError(
          s"cannot rename '$actualFrom': it is the item's index column — " +
            "the index is the item's physical contract (ordering, dedup, " +
            "partitioning); reshaping it needs a rewriting migration")
      val statsCols = statsColumnsOf(meta)
      if (statsCols.exists(_.equalsIgnoreCase(actualFrom)))
        throw new ValidationError(
          s"cannot rename '$actualFrom': it is a declared pruning-stats " +
            "column; undeclare it first (analyzeItem with a new column list)")
      if (!actualFrom.equalsIgnoreCase(to) &&
          encoded.fieldNames.exists(_.equalsIgnoreCase(to)))
        throw new ValidationError(
          s"column '$to' already exists on item '$item'")
      def rekey(s: StructType): StructType = StructType(
        s.fields.map(f => if (f.name == actualFrom) f.copy(name = to) else f))
      val typeInfo = meta.get("_type_info").collect {
        case JObject(fs) => JObject(fs.map {
          case (n, v) if n == actualFrom => to -> v
          case other => other
        })
      }
      // the staged rewrite, expressed as the one-step E5 migration it is
      val reg = new graft.evolution.SchemaEvolution.MigrationRegistry
      reg.register(1, 2)(_.withColumnRenamed(actualFrom, to))
      // declared-schema pin: masked columns absent
      val df = reg.migrate(t.read(t.allRoots, period = t.layout.isDefined), 1, 2)
      val prevMeta = meta +
        ("schema_json_encoded" -> Meta.jv(rekey(encoded).json)) ++
        parse("schema_json").map(l => "schema_json" -> Meta.jv(rekey(l).json)) ++
        typeInfo.map(ti => "_type_info" -> (ti: JValue)) ++
        Collection.opTag("rename_column")
      relay(item, t, df, prevMeta)
    }
  }

  /** One-time same-layout rewrite physically stripping every masked
    * column's bytes from the item's part-files — the deferred half of
    * the metadata-only [[dropColumns]], paid only when a masked name is
    * re-added. The read side already serves the masked shape, so this
    * is read → re-lay → atomic commit (convertLayout's cost class); the
    * committed sidecar clears the mask. */
  private def purgeDroppedColumns(item: String): Unit =
    // fenced + retried like every read-modify-write, and staged
    // lock-free like renameColumn: a full rewrite must never run under
    // the DDL/cross-process locks (processLockTimeoutMs's contract —
    // never a data job). An append landing mid-rewrite is refused by
    // the generation fence; a metadata-only DDL (gen unchanged) by the
    // sidecar-equality fence; either refusal re-reads and re-stages.
    Collection.retryOnConflict(genProbe = genProbeFor(item)) {
      val t = resolveLive(item)
      // declared-schema pin: masked columns already absent
      relay(item, t, t.read(t.allRoots, period = t.layout.isDefined),
        t.meta - Collection.DroppedColsKey ++ Collection.opTag("purge_dropped"))
    }

  /** Same-layout full rewrite of `df` (the item's rows, reshaped; with
    * their periods for a time layout) under `meta`, fenced on `t`'s
    * sidecar read: a time layout re-lays each row into the period it
    * was read from, a flat item through the size decision. */
  private def relay(item: String, t: ReadRoots.Target, df: DataFrame,
                    meta: Map[String, JValue]): Unit = {
    val idx = t.indexCols
    val ((laidOut, layoutMeta), partitioned) = t.layout match {
      case Some(_) => ((clusterPeriods(df, idx, t.salt), Map.empty[String, JValue]), true)
      case None    => (flatPlan(df, idx, t.indexStats, None), false)
    }
    publish(item, stage(item, laidOut, partitioned), Full(partitioned), meta ++ layoutMeta,
      expectedGen = Some(Snapshots.generationOf(t.meta)), expectedMeta = Some(t.meta))
  }

  /** User-metadata update by key — the `ALTER TABLE SET/UNSET
    * TBLPROPERTIES` seam. Structural sidecar keys (underscore-prefixed
    * and the schema/index records) are refused: they encode the item's
    * physical contract and only the typed pipelines may move them. */
  def setItemProperties(item: String, set: Map[String, String],
                        unset: Seq[String] = Nil): Unit = {
    if (!hasItem(item))
      throw new ItemNotFoundError(s"item '$item' does not exist")
    val reserved = (k: String) => k.startsWith("_") ||
      k.startsWith("schema_json") || k == "index_names" || k == "index_dtypes"
    (set.keys ++ unset).find(reserved).foreach { k =>
      throw new ValidationError(
        s"'$k' is a structural sidecar key; only the typed pipelines may change it")
    }
    alterSidecar(item, "set_properties") { meta =>
      Some((meta -- unset) ++ set.map { case (k, v) => k -> Meta.jv(v) })
    }
  }

  /** Declare (or re-declare) the per-period pruning stats columns of
    * an EXISTING time-layout item and backfill `_period_stats` with
    * one partition-pruned column scan — the post-hoc spelling of
    * `write(..., statsColumns = ...)` for items that forgot to declare
    * them at birth (or want different ones). After this, non-index
    * predicates on the declared columns prune period roots out of
    * every read path (Scala filters, V2 SQL scans, DPP). Returns the
    * number of periods that now carry stats. Flat items refuse typed:
    * there is no period structure to prune. `Nil` clears the
    * declaration AND the stats map (reads stop consulting them).
    * Cost: one narrow scan of just the stats columns across the item —
    * the same shape a `convertLayout` pays, run once; incremental
    * appends keep the map fresh from then on (the partial-commit
    * paths' existing refresh). Validation and the declaration run under
    * the commit and item DDL locks; the backfill scan runs after them,
    * like every post-commit refresh (its sidecar merge re-locks). A
    * commit swapping period dirs under the scan can fail it: the
    * backfill then re-runs over the new state, up to three times. */
  def analyzeItem(item: String, statsColumns: Seq[String]): Int = {
    val itemPath = path.resolve(item)
    val declared = withCommitLock { withItemDdlLock(item) {
      if (!itemPath.resolve(Item.DataDir).isDir)
        throw new ItemNotFoundError(s"item '$item' does not exist")
      val t = resolveLive(item)
      if (t.layout.isEmpty)
        throw new ValidationError(
          s"analyzeItem: '$item' is a flat item — per-period stats prune " +
            "period directories, which flat items do not have (convert to a " +
            "time layout first, or rely on parquet row-group stats)")
      // the declared (encoded) schema — validated without reading data
      val schemaCols = t.read(Nil).schema.fields.toSeq
      statsColumns.foreach { c =>
        val field = schemaCols.find(_.name == c).getOrElse(
          throw new ValidationError(
            s"stats column '$c' not in item schema " +
              s"(${schemaCols.map(_.name).mkString(", ")})"))
        import org.apache.spark.sql.types._
        field.dataType match {
          case _: NumericType | TimestampType | TimestampNTZType | DateType | StringType => ()
          case other => throw new ValidationError(
            s"stats column '$c' has unsupported type ${other.simpleString}: declare " +
              "numeric, timestamp, date, or string columns")
        }
      }
      // logged (gen unchanged) like the other metadata-only mutations;
      // the post-commit _period_stats refreshes stay UNlogged (they are
      // derived bookkeeping riding data commits already in the log)
      alterSidecar(item, "analyze") { meta => Some(
        if (statsColumns.isEmpty)
          meta - "_stats_cols" + ("_period_stats" -> Meta.jv(Map.empty[String, Any]))
        else meta ++ Meta.obj("_stats_cols" -> statsColumns))
      }
    } }
    @annotation.tailrec
    def backfill(at: Map[String, JValue], tries: Int): Unit =
      scala.util.Try(refreshPeriodStats(item, statsColumns, None, at)) match {
        case scala.util.Failure(_) if tries > 1 &&
            Snapshots.generationOf(Meta.read(itemPath)) != Snapshots.generationOf(at) =>
          backfill(withCommitLock { withItemDdlLock(item) { Meta.read(itemPath) } }, tries - 1)
        case done => done.get
      }
    if (statsColumns.isEmpty) 0
    else {
      backfill(declared, 3)
      Collection.periodStatsOf(Meta.read(itemPath)).size
    }
  }

  /** Build (or rebuild) a per-file bloom-filter data-skipping index on
    * `columns` — see [[BloomIndex]]. One distributed pass over the
    * item (hashes pre-aggregate into per-file blooms inside each task;
    * the shuffle moves blooms, never rows), then one small sidecar per
    * column at the item root. The index is DERIVED data keyed on the
    * committed generation captured here, before the scan: it never
    * enters the committed sidecar, takes no locks, and any commit —
    * including one racing this build — silently retires it (reads stay
    * correct, just unpruned) until the next build. Size the two knobs
    * to the item's file population: the sidecar holds
    * ~1.2·expectedItemsPerFile·ln(1/fpp) bits per file. */
  /** Shared skip-index build preamble: typed existence / column / type
    * checks plus the FRESH (never TTL-cached) sidecar read whose
    * generation pairs with the data the build scan reads — a cached
    * (older) gen under newer data would mark a wrong index as valid. */
  private def skipIndexPreamble(verb: String, item: String,
                                columns: Seq[String],
                                typeOk: org.apache.spark.sql.types.DataType => Boolean,
                                typeMsg: String)
      : (SPath, Long, org.apache.spark.sql.types.StructType) = {
    val itemPath = path.resolve(item)
    if (!itemPath.resolve(Item.DataDir).isDir)
      throw new ItemNotFoundError(s"item '$item' does not exist")
    if (columns.isEmpty)
      throw new ValidationError(s"$verb: no columns given")
    val meta = Meta.read(itemPath)
    val enc = meta.get("schema_json_encoded") match {
      case Some(org.json4s.JString(sj)) =>
        org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case _ => throw new ValidationError(
        s"$verb: item '$item' predates encoded-schema sidecars; " +
          "rewrite it once (write(..., overwrite=true)) to enable indexing")
    }
    columns.foreach { c =>
      val field = enc.fields.find(_.name == c).getOrElse(
        throw new ValidationError(
          s"$verb column '$c' not in item schema " +
            s"(${enc.fields.map(_.name).mkString(", ")})"))
      if (!typeOk(field.dataType))
        throw new ValidationError(
          s"$verb column '$c' has unsupported type " +
            s"${field.dataType.simpleString}: $typeMsg")
    }
    (itemPath, Snapshots.generationOf(meta), enc)
  }

  /** `singleDocMaxBytes` tunes the auto-shard point: a serialized
    * index up to this size publishes as one sidecar document, beyond
    * it as per-period/bucket shard documents behind a small manifest
    * (see [[BloomIndex.SingleDocMaxBytes]] for the measured default —
    * 0 forces sharding, `Long.MaxValue` forces one document). */
  def buildBloomIndex(item: String, columns: Seq[String], fpp: Double = 0.01,
                      expectedItemsPerFile: Long = 100000L,
                      singleDocMaxBytes: Long = BloomIndex.SingleDocMaxBytes): Unit = {
    if (!(fpp > 0.0 && fpp < 1.0) || expectedItemsPerFile <= 0 ||
        singleDocMaxBytes < 0)
      throw new ValidationError(
        s"buildBloomIndex: fpp must be in (0,1), expectedItemsPerFile " +
          s"positive, and singleDocMaxBytes non-negative (got fpp=$fpp, " +
          s"expectedItemsPerFile=$expectedItemsPerFile, " +
          s"singleDocMaxBytes=$singleDocMaxBytes)")
    val (itemPath, gen, enc) = skipIndexPreamble(
      "buildBloomIndex", item, columns, BloomIndex.supportedType,
      "index string, integral, float, boolean, date, timestamp, or binary columns")
    val raw = spark.read.schema(enc)
      .parquet(itemPath.resolve(Item.DataDir).toString)
    BloomIndex.buildAndWriteAll(raw, columns, fpp, expectedItemsPerFile,
      itemPath, gen, singleDocMaxBytes)
  }

  /** Build (or rebuild) a per-file MIN/MAX data-skipping index on
    * `columns` — see [[FileStatsIndex]], the range complement to
    * [[buildBloomIndex]]. Same validity contract: derived data keyed
    * on the committed generation captured here; any commit retires it
    * (partial-month commits refresh it incrementally). Worth building
    * on columns with per-file LOCALITY — the sorted index column,
    * z-ordered dimensions — where min/max intervals actually separate;
    * on hash-scattered columns use the bloom instead. */
  def buildFileStatsIndex(item: String, columns: Seq[String]): Unit = {
    val (itemPath, gen, enc) = skipIndexPreamble(
      "buildFileStatsIndex", item, columns, FileStatsIndex.supportedType,
      "index string, integral, float, boolean, date, or timestamp columns")
    val raw = spark.read.schema(enc)
      .parquet(itemPath.resolve(Item.DataDir).toString)
    val stats = FileStatsIndex.buildStats(raw, columns)
    columns.foreach(c => FileStatsIndex.writeSidecar(
      itemPath, c, gen, stats.getOrElse(c, Map.empty)))
  }

  /** Drop file-stats sidecars (`Nil` = every indexed column). Returns
    * the columns whose index was removed. */
  def dropFileStatsIndex(item: String, columns: Seq[String] = Nil): Seq[String] = {
    val itemPath = path.resolve(item)
    if (!itemPath.isDir)
      throw new ItemNotFoundError(s"item '$item' does not exist")
    FileStatsIndex.dropSidecars(itemPath, columns)
  }

  /** Columns of `item` carrying a file-stats index (regardless of
    * generation currency). */
  def fileStatsIndexedColumns(item: String): Seq[String] =
    FileStatsIndex.indexedColumns(path.resolve(item))

  /** Drop bloom-index sidecars (`Nil` = every indexed column). Returns
    * the columns whose index was removed. */
  def dropBloomIndex(item: String, columns: Seq[String] = Nil): Seq[String] = {
    val itemPath = path.resolve(item)
    if (!itemPath.isDir)
      throw new ItemNotFoundError(s"item '$item' does not exist")
    BloomIndex.dropSidecars(itemPath, columns)
  }

  /** Columns of `item` carrying a bloom index (regardless of whether
    * it is still generation-current). */
  def bloomIndexedColumns(item: String): Seq[String] =
    BloomIndex.indexedColumns(path.resolve(item))

  /** Skip-index ADVISOR — measures, on the item's CURRENT physical
    * layout, what each index would actually deliver per supported
    * column, and classifies: `filestats` when per-file [min,max]
    * intervals genuinely separate (fileOverlap ≤ 0.5 — a point/range
    * probe reads a strict subset today), `bloom` when intervals cover
    * everything but cardinality is point-lookup-shaped
    * (distinctRatio ≥ 0.1), `none` when cardinality is so low that
    * parquet row-group dictionaries already serve equality. The sorted
    * index column always classifies `filestats` (the range layout
    * clusters it by construction). Advisory only — builds nothing,
    * writes nothing; costs one per-file stats pass + one global
    * aggregate. `CALL system.advise_indexes` is the SQL face. */
  def adviseIndexes(item: String): Seq[Collection.IndexAdvice] = {
    val itemPath = path.resolve(item)
    if (!itemPath.resolve(Item.DataDir).isDir)
      throw new ItemNotFoundError(s"item '$item' does not exist")
    val meta = Meta.read(itemPath)
    val enc = meta.get("schema_json_encoded") match {
      case Some(org.json4s.JString(sj)) =>
        org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case _ => throw new ValidationError(
        s"adviseIndexes: item '$item' predates encoded-schema sidecars; " +
          "rewrite it once (write(..., overwrite=true)) to enable indexing")
    }
    val cols = enc.fields.filter(f =>
      FileStatsIndex.supportedType(f.dataType)).map(_.name).toSeq
    if (cols.isEmpty) return Nil
    val idx = this.item(item).indexCols.head
    val raw = spark.read.schema(enc)
      .parquet(itemPath.resolve(Item.DataDir).toString)
    val measured = FileStatsIndex.measure(raw, cols)
    cols.map { c =>
      val (overlap, distinct, nullFrac) = measured(c)
      val (advice, reason) =
        if (c == idx)
          ("filestats", "the sorted index column — the range layout " +
            "clusters it by construction")
        else if (overlap <= 0.5)
          ("filestats", f"per-file intervals separate (overlap $overlap%.2f) " +
            "— range and point probes read a file subset today")
        else if (distinct >= 0.1)
          ("bloom", f"intervals cover everything (overlap $overlap%.2f) but " +
            f"cardinality is point-lookup-shaped (distinct ratio $distinct%.2f)")
        else
          ("none", f"low cardinality (distinct ratio $distinct%.2f) — " +
            "row-group dictionaries already serve equality; an index " +
            "would skip little")
      Collection.IndexAdvice(c, advice, overlap, distinct, nullFrac, reason)
    }
  }

  /** Rebuild every skip-index sidecar present on `item` (bloom AND
    * file-stats) from its own recorded knobs, keyed to the current
    * committed generation — the re-arm for maintenance rewrites, which
    * retire the indexes by moving the generation (correct, but silently
    * lossy: a z-ordered layout is exactly where the zonemap pays most).
    * Columns no longer in the schema drop their sidecar; a commit
    * racing the rebuild retires it again (generation key), never makes
    * it wrong. Also reachable as the `reindex = true` flag on
    * [[rebalance]] / [[rebalanceZOrder]] / [[convertLayout]] and as
    * `CALL system.rebuild_indexes`. Returns the rebuilt columns. */
  def rebuildIndexes(item: String): Seq[String] = {
    val itemPath = path.resolve(item)
    if (!itemPath.resolve(Item.DataDir).isDir)
      throw new ItemNotFoundError(s"item '$item' does not exist")
    // fresh (never TTL-cached) read: the captured generation must pair
    // with the data the build scan reads, exactly like skipIndexPreamble
    val meta = Meta.read(itemPath)
    val enc = meta.get("schema_json_encoded") match {
      case Some(org.json4s.JString(sj)) =>
        org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case _ => return Nil // pre-encode item carries no indexes
    }
    SkipIndexes.rebuildAll(spark, itemPath,
      () => spark.read.schema(enc)
        .parquet(itemPath.resolve(Item.DataDir).toString),
      enc, Snapshots.generationOf(meta))
  }

  def createSnapshot(name: Option[String] = None,
                     manifest: Option[Boolean] = None): String = {
    val snap = name.map(_.replaceAll("[^A-Za-z0-9._]", "_"))
      .getOrElse(System.currentTimeMillis().toString + "_" +
        (System.nanoTime() % 1000000L).toString)
    // `__` prefixes are reserved for internal pins (transaction / RTAS):
    // a user snapshot named that way would be invisible to listings and
    // timestamp travel, and vacuum would destroy it after an hour.
    // Checked AFTER sanitization — "_ txn_x" sanitizes INTO the
    // reserved prefix and must refuse just the same.
    if (snap.startsWith("__"))
      throw new ValidationError(
        s"snapshot name '${name.getOrElse(snap)}' resolves to the reserved " +
          s"'__' prefix (internal transaction pins): '$snap'; pick a name " +
          "that does not start with underscores")
    val useManifest = manifest.getOrElse(path.fs != NioFs)
    // write side of the coordination lock: no commit point (ordinary,
    // parallel-batch, async, or a whole in-flight transaction holding
    // the read side) can land while the cut is captured, so the pinned
    // generations are consistent ACROSS items — never a mix of pre- and
    // post-transaction states. In MULTIPROCESS mode the JVM lock
    // covers only this process, so additionally hold every item's
    // cross-process lock across the capture: a writer in another
    // process can then never commit BETWEEN two items' pin reads, and
    // the manifest equals the on-disk state at one instant (a true
    // cut). A foreign IN-FLIGHT transaction is the documented limit:
    // its per-op commits serialize with this capture item by item,
    // but transactions are not cross-process atomic units, so a cut
    // can pin a foreign transaction's partial state. Capture cost
    // under the locks is metadata-scale — O(items) sidecar reads
    // (manifest arm) or hardlinks (dir arm), never a data job.
    withSnapshotLock {
      // FRESH listing, never the cached item set: an item created by
      // another process since this JVM's last refresh must be locked
      // and pinned too, or the cut would silently omit it (and a later
      // partial rollback would misread it as post-cut)
      val cut = refreshItems()
      withItemProcessLockAll(cut) {
      Collection.commitSeamHook(s"snapshot_cut:$snap")
      if (useManifest) Snapshots.createManifest(path, snap, cut)
      else {
        // stage under a dot-name (hidden from listSnapshots) and
        // publish with ONE rename: a copy killed mid-way must never
        // surface as a listed snapshot serving a silent subset —
        // vacuum reclaims dead staging
        val snaps = path.resolve(GraftStore.SnapshotsDir)
        val staging = snaps.resolve(".tmp_" + snap)
        staging.deleteRecursively()
        path.fs.snapshotRecursively(path.raw, staging.raw,
          exclude = d => d == GraftStore.SnapshotsDir || d.startsWith("__"))
        path.fs.rename(staging.raw, snaps.resolve(snap).raw)
      }
      }
    }
    snap
  }

  def listSnapshots(): Seq[String] =
    (path.resolve(GraftStore.SnapshotsDir).listDirs
       .filterNot(_.startsWith(".")) ++ Snapshots.listManifests(path))
      .filterNot(_.startsWith("__")) // internal (transaction pin) manifests
      .distinct.sorted

  /** Item names a snapshot pins — physical subdirs for link/copy
    * snapshots, manifest keys for manifest snapshots (a snapshot can
    * be both when a manifest cut fell back to dir copies for some
    * items, so the union is taken). Typed error for an unknown name. */
  def snapshotItems(snap: String): Seq[String] = {
    Snapshots.requireUserSnapshotName(snap)
    val dir = path.resolve(GraftStore.SnapshotsDir).resolve(snap)
    if (!dir.isDir && !Snapshots.manifestExists(path, snap))
      throw new SnapshotNotFoundError(s"snapshot '$snap' does not exist")
    val fromDir = if (dir.isDir) dir.listDirs.filterNot(_.startsWith("__")) else Nil
    val fromManifest = Snapshots.manifestItemNames(path, snap).getOrElse(Nil)
    (fromDir ++ fromManifest).distinct.sorted
  }

  /** Savepoint rollback: restore the whole collection to the state
    * pinned by manifest snapshot `snapshot` — item → action, where
    * action is "restored" (content moved back), "removed" (item born
    * after the cut), or "unchanged" (generations already match the
    * pins). Sound against ANY manifest snapshot, not just transaction
    * pins: every commit/delete since the cut retained the pinned
    * generation by rename (the write/deleteItem retention calls), so
    * each item's restore is the same O(1)/O(periods) rename-back the
    * T1 transaction rollback uses — no byte copies on any backend.
    * Runs under the EXCLUSIVE snapshot lock (no in-JVM commit or
    * capture can interleave with the restore renames) and, in
    * multiprocess mode, under every scoped item's cross-process lock
    * (no foreign process's publish can interleave either — a foreign
    * writer blocks on its item lock, then its fenced publish sees the
    * restored generation and retries over the restored state).
    * Consequently it cannot run inside a transaction block. With
    * `keepSnapshot` (default) the savepoint survives for repeated
    * rollback; `false` drops it after restoring. `items` restricts the
    * restore to the named items (e.g. one bad item after a poisoned
    * load) — a partial restore keeps the savepoint by definition, and
    * naming an item the snapshot never pinned and the collection does
    * not hold is a typo, not a no-op. SQL spelling:
    * `CALL <cat>.system.rollback_to(collection, snapshot)`. */
  def rollbackTo(snapshot: String,
                 keepSnapshot: Boolean = true,
                 items: Seq[String] = Nil): Map[String, String] = {
    Snapshots.requireUserSnapshotName(snapshot)
    val pinnedManifest = Snapshots.manifestItemNames(path, snapshot).getOrElse(
      throw new GraftError(
        s"rollbackTo requires a manifest snapshot; '$snapshot' is missing " +
          "or a directory snapshot (directory snapshots are frozen reads, " +
          "not savepoints)"))
    // legacy arm: a time item without period gens was COPIED into the
    // snapshot dir at capture — it has no manifest entry but IS pinned
    // (restoreFromManifest renames the copy back). Without this, such
    // items would be misreported as "removed" while actually restoring.
    val pinned = pinnedManifest ++
      path.resolve(GraftStore.SnapshotsDir).resolve(snapshot).listDirs
        .filterNot(pinnedManifest.contains)
    if (items.nonEmpty && !keepSnapshot)
      throw new GraftError(
        "a partial rollback cannot drop the savepoint: the un-restored " +
          "items would lose their pins (omit items, or keep the snapshot)")
    val out = withSnapshotLock {
      val live = listItems()
      val scope = (pinned.toSet ++ live, items) match {
        case (all, Nil) => all
        case (all, some) =>
          val unknown = some.filterNot(all.contains)
          if (unknown.nonEmpty)
            throw new GraftError(
              s"rollbackTo: item(s) ${unknown.mkString(", ")} neither pinned " +
                s"by '$snapshot' nor present in the collection")
          some.toSet
      }
      withItemProcessLockAll(scope) {
      Collection.commitSeamHook(s"rollback_restore:$snapshot")
      // one sweep over ALL manifests (retention checks ride this) and
      // ONE read of the target manifest — per-item lookups would cost
      // O(items × manifests) small JSON reads under the commit lock
      val pinIdx = Some(Snapshots.pinIndex(path))
      val targetPins = Snapshots.manifestAllPins(path, snapshot)
        .getOrElse(Map.empty)
      scope.toSeq.sorted.map { it =>
        val action =
          if (!pinned.contains(it)) "removed" // born after the cut
          else {
            val liveMeta = if (live.contains(it)) Some(Meta.read(path.resolve(it))) else None
            val liveGens: Option[Either[Long, Map[String, Long]]] = liveMeta.map { m =>
              val pg = Snapshots.periodGensOf(m)
              if (pg.nonEmpty) Right(pg) else Left(Snapshots.generationOf(m))
            }
            targetPins.get(it) match {
              case Some((pins, pinnedSidecar))
                  if liveGens.contains(pins) &&
                    // generations match, but metadata-only mutations
                    // (ALTER ADD COLUMNS, analyze, SET TBLPROPERTIES)
                    // move no generation — the sidecars must match too
                    // (minus the `_updated` stamp and the commit LOG:
                    // manifests don't embed `_history`, and the log is
                    // a record, not state — its growth alone must not
                    // force a restore) or the savepoint would not undo
                    // them
                    liveMeta.map(_ - "_updated" - History.Key)
                      .contains(pinnedSidecar - "_updated" - History.Key) =>
                "unchanged"
              case _ => "restored"
            }
          }
        if (action != "unchanged")
          Snapshots.restoreFromManifest(path, snapshot, it, pinIdx)
        it -> action
      }.toMap
      }
    }
    clearMetadataCache()
    listItems() // refresh the item-set cache post-restore
    if (!keepSnapshot) {
      path.resolve(GraftStore.SnapshotsDir).resolve(snapshot)
        .deleteRecursively() // legacy copied-dir arm, if any
      Snapshots.deleteManifest(path, snapshot)
    }
    out
  }

  /** Lenient: deleting a missing snapshot returns true
    * (reference quirk, collection.py:550-553, kept per tests). Internal
    * pins refuse: deleting a live statement's pin by name would strip
    * its rollback (vacuum's age gate is the sanctioned reclaim path). */
  /** Age-based snapshot retention — the `expire_snapshots` convention:
    * every USER manifest snapshot created before `olderThan` is
    * dropped, then ONE GC sweep reclaims the retained generations no
    * remaining manifest references. Returns one row per snapshot:
    * (name, creation stamp, action), action ∈ expired / would_expire
    * (dry run) / kept / kept_no_stamp. Dir snapshots record no creation
    * time and are NEVER age-expired (they are full physical copies —
    * delete by name via [[deleteSnapshot]]); internal `__` pins belong
    * to vacuum. Cost: O(snapshots) manifest reads + renames/deletes;
    * no data files are read. */
  def expireSnapshots(olderThan: java.time.Instant,
                      dryRun: Boolean = false)
      : Seq[(String, Option[java.time.Instant], String)] = {
    val stamped = Snapshots.userManifestStamps(path)
    val stampedNames = stamped.map(_._2).toSet
    val dirOnly = path.resolve(GraftStore.SnapshotsDir).listDirs
      .filterNot(_.startsWith(".")).filterNot(_.startsWith("__"))
      .filterNot(stampedNames.contains)
      .map(d => (d, None: Option[java.time.Instant], "kept_no_stamp"))
    val acted = stamped.map { case (at, snap) =>
      if (at.isBefore(olderThan)) {
        if (!dryRun) Snapshots.releasePin(path, snap, gc = false)
        (snap, Some(at), if (dryRun) "would_expire" else "expired")
      } else (snap, Some(at), "kept")
    }
    if (!dryRun && acted.exists(_._3 == "expired")) Snapshots.gcRetained(path)
    (acted ++ dirOnly).sortBy(_._1)
  }

  def deleteSnapshot(name: String): Boolean = {
    Snapshots.requireUserSnapshotName(name)
    path.resolve(GraftStore.SnapshotsDir).resolve(name).deleteRecursively()
    Snapshots.deleteManifest(path, name)
    true
  }

  def deleteSnapshots(): Boolean = {
    path.resolve(GraftStore.SnapshotsDir).deleteRecursively()
    path.resolve(GraftStore.SnapshotsDir).mkdirs()
    true
  }
}
