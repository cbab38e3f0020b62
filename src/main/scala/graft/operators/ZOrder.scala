package graft.operators

import graft.store.Partitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) clustering — the multi-dimensional file
  * layout for scan pruning on MORE THAN ONE column (the lakehouse
  * `OPTIMIZE ZORDER BY` operation, public Delta/Iceberg practice): a
  * single sort order prunes row groups on its leading column only;
  * sorting by the interleaved-bit Morton value gives every clustered
  * column tight per-file/per-row-group min-max ranges, so a 2-predicate
  * scan at 100 TB skips all but the few files whose hyper-rectangle
  * intersects the query box.
  *
  * Plan shape: ONE stats pass localizes per-column min/max
  * (broadcast-sized scalars) → per-row rank scaling + the
  * [[graft.functions.expressions.interleave_bits]] codegen kernel
  * (no shuffle) → the store's flat layout on the Morton value
  * ([[graft.store.Partitioner.layout]]: one narrow quantile scan of
  * the curve value, one carrier exchange, `sortWithinPartitions`), so
  * files cover disjoint curve ranges and parquet writes row groups in
  * curve order.
  *
  * Rank scaling is linear min-max (documented trade-off: heavy skew
  * concentrates ranks — the rank-based variant would spend a window
  * sort per column to fix what per-file clustering already tolerates;
  * Delta's implementation makes the same call with range ids). Nulls
  * rank 0 (cluster with the minimum — they prune under IS NULL and
  * never widen other files' ranges).
  */
object ZOrder {

  /** The Morton value column for `cols` given localized (min, max)
    * stats — exposed for tests; [[cluster]] is the operator. */
  private def morton(cols: Seq[String], stats: Map[String, (Double, Double)],
                     bits: Int): Column = {
    val maxRank = (1L << bits) - 1
    val ranks = cols.map { c =>
      val (lo, hi) = stats(c)
      val rank =
        if (hi <= lo) lit(0L)
        else least(greatest(
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * maxRank)
            .cast("long"), lit(0L)), lit(maxRank))
      coalesce(rank, lit(0L))
    }
    graft.functions.expressions.interleave_bits(array(ranks: _*), bits)
  }

  /** The Morton value column [[withCurve]] adds. */
  val CurveCol = "__z"

  /** `df` with its Morton value in [[CurveCol]], after ONE stats pass
    * over `cols` (`bits` per dimension, cols.size · bits ≤ 63). */
  def withCurve(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    require(cols.size >= 2, "zorder needs at least two columns")
    require(cols.size * bits <= 63, s"${cols.size} cols × $bits bits exceeds 63")
    val aggs = cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"lo_$c"),
      max(col(c).cast("double")).as(s"hi_$c")))
    val statsRow = df.agg(aggs.head, aggs.tail: _*).head()
    val stats = cols.map { c =>
      val lo = Option(statsRow.getAs[Any](s"lo_$c")).fold(0.0)(_.asInstanceOf[Double])
      val hi = Option(statsRow.getAs[Any](s"hi_$c")).fold(0.0)(_.asInstanceOf[Double])
      c -> (lo, hi)
    }.toMap
    df.withColumn(CurveCol, morton(cols, stats, bits))
  }

  /** Re-layout `df` along the Z-curve of `cols`. Write the result with
    * any parquet/store sink: each output file covers a tight
    * hyper-rectangle in `cols` space, so later scans with predicates
    * on ANY subset of the clustered columns prune at file/row-group
    * granularity. `bits` per dimension (cols.size · bits ≤ 63). */
  def cluster(df: DataFrame,
              cols: Seq[String],
              bits: Int = 16,
              npartitions: Option[Int] = None): DataFrame = {
    val z = withCurve(df, cols, bits)
    val n = npartitions.getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    Partitioner.layout(z, Seq(CurveCol), n, Partitioner.planFlat(z, CurveCol, n).cuts)
      .drop(CurveCol)
  }
}
