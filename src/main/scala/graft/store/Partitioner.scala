package graft.store

import graft.functions.expressions.sort_prefix
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.CollationKey
import org.apache.spark.sql.types._

/** Physical-layout policy: how many output files / how rows are
  * distributed across them.
  *
  * Mirrors the reference's two strategies (pystore/partition.py):
  *  - size-based: `ceil(bytes / 128MB)` clamped to [1, maxPartitions]
  *    (partition.py:38-81; 128 MB target, min 32 / max 512 MB,
  *    config.py:25-26) — the same 128 MB that Spark's
  *    `spark.sql.files.maxPartitionBytes` defaults to, so write-side
  *    and read-side split sizes agree.
  *  - time-based: monthly (<1y span), quarterly (<3y), yearly
  *    (partition.py:84-172), picked automatically for datetime-indexed
  *    data with >10k rows (collection.py:272-301), falling back to
  *    size-based when it would exceed maxPartitions.
  *
  * Spark realization ([[layout]]): bucket bounds the driver derives
  * from quantile cuts of the leading index column ([[planFlat]], one
  * narrow `percentile_approx` in the column's own type), one hash
  * exchange on a carrier value that gives every bucket its own
  * partition, then `sortWithinPartitions(index)` — globally
  * range-ordered output like Dask divisions (SURVEY §2.7 D3), so every
  * part-file covers a disjoint index range and Parquet row-group
  * min/max stats give O(files-touched) time-range scans.
  *
  * Scale note (100 TB): range partitioning keeps time-locality so a
  * day/month query prunes to a few files; the quantile sketch balances
  * the files, which also absorbs skew, from a scan of the index column
  * alone. At cluster scale the same policy applies per item with n in
  * the thousands; nothing here is driver-bound except the tiny size
  * estimate and the n−1 bounds.
  */
object Partitioner {

  val TargetPartitionBytes: Long = 128L * 1024 * 1024
  val MinPartitionBytes: Long = 32L * 1024 * 1024
  val MaxPartitionBytes: Long = 512L * 1024 * 1024
  val MaxPartitions: Int = 100
  val TimePartitionMinRows: Long = 10000L

  sealed trait Strategy { def name: String }
  case object SizeBased extends Strategy { val name = "size" }
  case object TimeBased extends Strategy { val name = "time" }

  /** Estimated in-memory/serialized size of the frame WITHOUT
    * materializing it (the reference computes `memory_usage(deep)` which
    * forces a full compute — collection.py:438-445; we use Catalyst plan
    * statistics instead, which derive from file sizes + filter
    * selectivity).
    */
  def estimatedBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong

  def sizeBasedCount(bytes: Long): Int = {
    val n = math.ceil(bytes.toDouble / TargetPartitionBytes).toInt
    math.min(math.max(n, 1), MaxPartitions)
  }

  /** Index statistics driving the layout decision. Tracked in the item
    * metadata sidecar so APPEND can decide its layout from
    * driver-side arithmetic (old stats ⊕ new-batch stats) instead of
    * executing the combined dedup plan twice — at 100 TB the combined
    * plan is a full anti-join of the item, so a pre-pass over it doubles
    * the append cost. */
  final case class IndexStats(rows: Long, minMs: Option[Long], maxMs: Option[Long]) {
    def merge(other: IndexStats): IndexStats = IndexStats(
      rows + other.rows,
      (minMs ++ other.minMs).reduceOption(_ min _),
      (maxMs ++ other.maxMs).reduceOption(_ max _))
  }

  def isTemporal(df: DataFrame, indexCol: String): Boolean =
    df.schema.find(_.name == indexCol).exists { f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType ||
        f.dataType == DateType
    }

  /** Epoch millis from any temporal JVM value Spark hands back
    * (TIMESTAMP → java.sql.Timestamp, TIMESTAMP_NTZ → LocalDateTime,
    * DATE → java.sql.Date / LocalDate); NTZ wall time read as UTC. */
  def toEpochMs(v: Any): Long = v match {
    case t: java.sql.Timestamp          => t.getTime
    case ldt: java.time.LocalDateTime   => ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case d: java.sql.Date               => d.getTime
    case ld: java.time.LocalDate        => ld.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    case i: java.time.Instant           => i.toEpochMilli
    case other => throw new IllegalArgumentException(s"not a temporal value: $other")
  }

  /** One aggregate job: count + index min/max (input-only scan). */
  def computeStats(df: DataFrame, indexCol: String): IndexStats = {
    if (!isTemporal(df, indexCol)) IndexStats(df.count(), None, None)
    else {
      val row = df.agg(F.count(F.lit(1)), F.min(F.col(indexCol)), F.max(F.col(indexCol))).head()
      val lo = if (row.isNullAt(1)) None else Some(toEpochMs(row.get(1)))
      val hi = if (row.isNullAt(2)) None else Some(toEpochMs(row.get(2)))
      IndexStats(row.getLong(0), lo, hi)
    }
  }

  /** Partition count for the time strategy from the index span:
    * monthly if < 1 year, quarterly if < 3 years, else yearly
    * (reference partition.py:117-141). None if the index span is
    * unknown or the count would exceed MaxPartitions (fallback to
    * size-based, as the reference does at partition.py:143-151).
    */
  def timeBasedCount(stats: IndexStats): Option[Int] =
    if (stats.rows <= TimePartitionMinRows) None
    else (stats.minMs, stats.maxMs) match {
      case (Some(lo), Some(hi)) =>
        val spanDays = (hi - lo).toDouble / 86400000.0
        val n =
          if (spanDays < 365) math.ceil(spanDays / 30.0).toInt          // monthly
          else if (spanDays < 3 * 365) math.ceil(spanDays / 91.0).toInt // quarterly
          else math.ceil(spanDays / 365.0).toInt                        // yearly
        val clamped = math.max(n, 1)
        if (clamped > MaxPartitions) None else Some(clamped)
      case _ => None
    }

  /** Auto strategy (reference collection.py:272-301): time-series data
    * above the row threshold → time-based; otherwise size-based.
    * `bytes` comes from Catalyst plan statistics — no execution. */
  def decide(bytes: Long, stats: IndexStats): (Int, Strategy) =
    timeBasedCount(stats) match {
      case Some(n) => (n, TimeBased)
      case None    => (sizeBasedCount(bytes), SizeBased)
    }

  // ------------------------------------------------------------ layout
  // Bounds the driver holds, not Spark's range exchange: that one
  // learns its bounds by sampling, an extra execution of the whole
  // child plan (every column decoded; for an append, the dedup
  // subtree's reduce side re-run), where the cuts ride the narrow
  // index-column aggregation the layout stats need anyway (guide §1.4).

  /** Resolution of the quantile cuts collected by [[planFlat]] for up
    * to [[MaxBoundsPartitions]] files; a layout of more files collects
    * two cuts per file, so any n derives its n−1 boundaries from them. */
  val BoundsCuts: Int = 256
  val MaxBoundsPartitions: Int = 128
  /** Sketch accuracy for the cut quantiles: bounds only steer file
    * BALANCE (never correctness), so a 0.1%-of-mass error is plenty —
    * the default 10000 costs ~6× the aggregation time for nothing. */
  val BoundsAccuracy: Int = 1000

  /** The value the leading index column buckets by, ordered as Spark
    * sorts the column. Every type `percentile_approx` takes is its own
    * key, compared natively: numerics (the sketch sorts NaN last and
    * −0.0 with 0.0, as `<=` does), dates, timestamps in either flavour,
    * intervals. Strings and binaries lift to the big-endian 8-byte
    * prefix of their collation key (Spark's `CollationKey`: the UTF-8
    * bytes under UTF8_BINARY, the collator's sort key otherwise), so a
    * collated string buckets in its own order; the lift is monotone
    * but not strict — values sharing a prefix share a bucket, which is
    * enough because bounds only steer balance. Booleans bucket as 0/1.
    * None: no quantile domain (structs, arrays), laid out as one file. */
  private def sortKey(df: DataFrame, indexCol: String): Option[Column] =
    df.schema.find(_.name == indexCol).map(_.dataType).flatMap {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType | _: YearMonthIntervalType => Some(F.col(indexCol))
      case _: StringType => Some(sort_prefix(column(CollationKey(expression(F.col(indexCol))))))
      case BinaryType    => Some(sort_prefix(F.col(indexCol)))
      case BooleanType   => Some(F.col(indexCol).cast(ByteType))
      case _             => None
    }

  /** Layout stats plus the quantile cuts of the index's sort key, in
    * the key's own type (empty when it has no non-null value). */
  final case class FlatPlan(stats: IndexStats, cuts: Seq[Any])

  /** ONE narrow aggregation job (guide §1.4) carrying BOTH the layout
    * stats (count, plus index min/max when temporal — value-identical
    * to [[computeStats]]) and the quantile cuts of the sort key, fine
    * enough for a layout of up to `n` files. The scan reads only the
    * index column. */
  def planFlat(df: DataFrame, indexCol: String, n: Int): FlatPlan = {
    val resolution = if (n <= MaxBoundsPartitions) BoundsCuts else 2 * n
    val cuts = sortKey(df, indexCol).map { k =>
      val sketch = F.percentile_approx(k,
        F.typedLit((1 until resolution).map(_.toDouble / resolution)), F.lit(BoundsAccuracy))
      // the sketch works in doubles: a decimal cut rounded past the
      // column's precision comes back NULL, so its array must admit nulls
      df.schema(indexCol).dataType match {
        case d: DecimalType => sketch.cast(ArrayType(d, containsNull = true))
        case _              => sketch
      }
    }
    val temporal = isTemporal(df, indexCol)
    val aggs = F.count(F.lit(1)) +:
      ((if (temporal) Seq(F.min(F.col(indexCol)), F.max(F.col(indexCol))) else Nil) ++ cuts)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def ms(i: Int) = if (!temporal || row.isNullAt(i)) None else Some(toEpochMs(row.get(i)))
    val at = if (temporal) 3 else 1
    FlatPlan(IndexStats(row.getLong(0), ms(1), ms(2)),
      if (cuts.isEmpty || row.isNullAt(at)) Nil else row.getSeq[Any](at).filter(_ != null))
  }

  /** Bucket boundaries for n partitions from the fine cuts: the i/n
    * quantile for i in 1..n−1, deduplicated (a single value owning more
    * than one cut's mass span collapses adjacent boundaries, emitting
    * fewer, larger partitions). */
  def boundsFromCuts[T](cuts: Seq[T], n: Int): Seq[T] =
    if (cuts.isEmpty) Nil
    else (1 until n).map { i =>
      val k = math.max(1L, math.min(cuts.size.toLong,
        math.round(i.toDouble * (cuts.size + 1) / n)))
      cuts(k.toInt - 1)
    }.distinct

  /** Carrier values for the collision-free bucket exchange: value
    * carrier(i) Murmur3-hashes (seed 42, pmod b — HashPartitioning's
    * exact partitionIdExpression for an int key) to shuffle partition
    * i, so `repartition(b, carrier(bucket))` gives every bucket its
    * OWN output partition: one sorted range per file. */
  private[graft] def carrierValues(b: Int): IndexedSeq[Int] = {
    val out = new Array[Int](b); val seen = new Array[Boolean](b)
    var found = 0; var v = 0
    while (found < b) {
      val h = java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), b)
      if (!seen(h)) { seen(h) = true; out(h) = v; found += 1 }
      v += 1
    }
    out.toIndexedSeq
  }

  /** Flat layout over up to n files from the `cuts` of [[planFlat]]:
    * bucket `count(bounds < key)` on the leading index column (nulls →
    * bucket 0, boundary ties go left, as Spark's range partitioner
    * places them), one carrier hash exchange, then a sort on every
    * index column, so files are sorted with disjoint, ascending index
    * ranges — the D3 invariant. A multi-column index buckets on its
    * leading column: tuples tied on it share a bucket, so files stay
    * disjoint in tuple order. One bucket (n = 1, no cuts, no sort key)
    * is a single-partition exchange.
    *
    * `dedupRows` collapses identical full rows (the append's D1)
    * between the exchange and the sort. The exchange clusters on the
    * index (a single partition, or the carrier — kept as a column
    * through the dedup and dropped after it) and identical rows share
    * their index, so the dedup's clustering is already met and the
    * plan shuffles once. */
  def layout(df: DataFrame, indexCols: Seq[String], n: Int,
             cuts: Seq[Any], dedupRows: Boolean = false): DataFrame = {
    def dedup(d: DataFrame) = if (dedupRows) d.dropDuplicates() else d
    val sortable = indexCols.filter(c => df.columns.contains(c))
    val key = sortable.headOption.flatMap(sortKey(df, _))
    val bounds = if (key.isEmpty) Nil else boundsFromCuts(cuts, n)
    val clustered =
      if (bounds.isEmpty) dedup(df.repartition(1))
      else {
        val b = bounds.size + 1
        val carriers = carrierValues(b)
        val k = key.get
        // Chained CASE WHEN, not array filter/aggregate: higher-order
        // functions fall out of whole-stage codegen and run interpreted
        // per row — a 3× map-stage hit measured at sf0.1. Nulls take
        // the FIRST branch (bucket 0); boundary ties go left via <=.
        val carrier = bounds.zipWithIndex
          .foldLeft(Option.empty[Column]) { case (acc, (bd, i)) =>
            val cond = if (i == 0) k.isNull || (k <= F.lit(bd)) else k <= F.lit(bd)
            val branch = F.lit(carriers(i))
            Some(acc.fold(F.when(cond, branch))(_.when(cond, branch)))
          }.get.otherwise(F.lit(carriers(b - 1)))
        if (!dedupRows) df.repartition(b, carrier)
        else df.withColumn(CarrierCol, carrier).repartition(b, F.col(CarrierCol))
          .dropDuplicates().drop(CarrierCol)
      }
    clustered.sortWithinPartitions(sortable.map(F.col): _*)
  }

  private val CarrierCol = "__carrier"
}
