package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetFileWriter, GraftParquetIO}
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{Collection, GraftError, ReadRoots, SPath}

/** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` —
  * group-based (copy-on-write) row-level operations, with graft's time
  * PERIODS as the group.
  *
  * Spark's rewrite rules (catalyst RewriteUpdateTable /
  * RewriteMergeIntoTable / RewriteDeleteFromTable) turn the command
  * into `ReplaceData(scan of affected groups → modified rows → write)`.
  * The connector's job is two halves that must agree on the group set:
  *
  *  - '''Scan''' ([[GraftScanBuilder]] in group mode): pushed filters
  *    select PERIODS only — the period-key interval + per-period stats
  *    pruning the read path already has — and are NOT forwarded into
  *    parquet row filtering, because a group-based write must see
  *    EVERY row of an affected period (a pushed row filter would make
  *    row-group skipping silently drop the innocent rows that need
  *    copying). The scanned period set is recorded on this operation.
  *  - '''Write''' (a real distributed [[BatchWrite]] — ReplaceData has
  *    no V1 fallback): executors stage replacement rows as parquet in
  *    the exact `__month=<p>/part-*` shape the partial-commit path
  *    expects ([[GraftParquetIO]] = Spark's own writer), and the driver
  *    swaps staged periods in atomically via
  *    [[Collection.replaceCowStaged]]. The write requests an ORDERED
  *    distribution on the index column, so Spark range-partitions +
  *    sorts the replacement rows: each period lands in ~one task (one
  *    file per period per salt-equivalent, the same file shape
  *    a period commit produces) and files stay sorted by index for
  *    row-group stat locality.
  *
  * Cost scales with the periods the predicate can touch, not item
  * size: an UPDATE of one month of a 100 TB item scans and rewrites
  * one month. A predicate pruning can't bound (non-index, non-stats
  * column; MERGE ON conditions) widens conservatively to a full-item
  * COW — correct, and exactly what every group-based engine does when
  * group statistics can't narrow the candidates. Flat items have a
  * single group (the item), inherent without a layout. */
final class GraftRowLevelOperationBuilder(
    spark: SparkSession,
    target: ReadRoots.Target,
    tableSchema: StructType,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(spark, target, tableSchema, info.command)
}

final class GraftRowLevelOperation(
    spark: SparkSession,
    target: ReadRoots.Target,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private val itemPath = target.itemPath

  /** Set at scan build: Some(periods) for a time layout (the group
    * set the write replaces), None for a flat item (group = item).
    * The outer Option distinguishes "scan not built yet". */
  @volatile private[sources] var scanInfo: Option[Option[Seq[String]]] = None

  /** The item's committed generation AT SCAN BUILD — the base this
    * copy-on-write's replacement rows were derived from. The publish
    * fences on it ([[graft.store.Collection.replaceCowStaged]]): a
    * concurrent writer's commit landing between the group scan and the
    * swap would be clobbered by stale replacement rows, so the publish
    * refuses typed instead. One tiny sidecar read per row-level op. */
  @volatile private[sources] var scanGen: Option[Long] = None

  private[sources] def recordScan(periods: Option[Seq[String]]): Unit = {
    scanInfo = Some(periods)
    scanGen = Some(graft.store.Snapshots.generationOf(
      graft.store.Meta.read(itemPath)))
  }

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, target, tableSchema, options, rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftCowWrite(
        spark, itemPath, tableSchema, target.layout, target.indexCols.head, target.layoutTz,
        GraftRowLevelOperation.this)
    }
}

/** The replacement-data write: ordered distribution on the index, a
  * distributed parquet staging, and an atomic per-period swap commit. */
final class GraftCowWrite(
    spark: SparkSession,
    itemPath: SPath,
    tableSchema: StructType,
    layout: Option[String],
    indexCol: String,
    layoutTz: java.time.ZoneId,
    op: GraftRowLevelOperation) extends Write with RequiresDistributionAndOrdering {

  private val indexSort: SortOrder =
    Expressions.sort(Expressions.column(indexCol), SortDirection.ASCENDING)

  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(indexSort))
  override def requiredOrdering(): Array[SortOrder] = Array(indexSort)

  override def toBatch: BatchWrite = new GraftCowBatchWrite(
    spark, itemPath, tableSchema, layout, indexCol, layoutTz, op)
}

final class GraftCowBatchWrite(
    spark: SparkSession,
    itemPath: SPath,
    tableSchema: StructType,
    layout: Option[String],
    indexCol: String,
    layoutTz: java.time.ZoneId,
    op: GraftRowLevelOperation) extends BatchWrite {

  // staged OUTSIDE the item dir (collection level, like commit tmps) so
  // a concurrent reader never lists half-written files
  private val staging: SPath = itemPath.parent.resolve(
    s"__cow_${itemPath.name}_${java.util.UUID.randomUUID.toString.take(8)}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = spark.sessionState.newHadoopConf()
    GraftParquetIO.configure(tableSchema, conf)
    val props = {
      val it = conf.iterator()
      val b = mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.toArray
    }
    val indexOrdinal = tableSchema.fieldIndex(indexCol)
    val indexKind = tableSchema(indexOrdinal).dataType match {
      case TimestampType    => GraftCowWriterFactory.KindInstantMicros
      case TimestampNTZType => GraftCowWriterFactory.KindWallMicros
      case DateType         => GraftCowWriterFactory.KindEpochDays
      case other =>
        if (layout.isDefined)
          throw new GraftError(
            s"row-level SQL writes on a time-layout item need a temporal index; " +
              s"'$indexCol' is $other — use the Scala Collection API")
        GraftCowWriterFactory.KindFlat
    }
    new GraftCowWriterFactory(staging.raw, tableSchema.json, layout,
      indexOrdinal, indexKind, layoutTz.getId, props)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val scanned = op.scanInfo.getOrElse(throw new GraftError(
      "row-level write committed without its group scan — cannot " +
        "determine the replaced period set"))
    val coll = Collection.at(spark, itemPath.parent)
    coll.replaceCowStaged(itemPath.name, staging, scanned,
      op.command().toString.toLowerCase, // update / delete / merge
      expectedGen = op.scanGen)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.deleteRecursively()
}

object GraftCowWriterFactory {
  final val KindInstantMicros = 0 // TimestampType: micros, zone-resolved
  final val KindWallMicros    = 1 // TimestampNTZType: wall-clock micros
  final val KindEpochDays     = 2 // DateType
  final val KindFlat          = 3 // flat item: period never computed
}

/** Serialized to executors; everything inside is plain data. */
final class GraftCowWriterFactory(
    stagingPath: String,
    schemaJson: String,
    layout: Option[String],
    indexOrdinal: Int,
    indexKind: Int,
    tzId: String,
    hadoopProps: Array[(String, String)]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val conf = new Configuration(false)
    hadoopProps.foreach { case (k, v) => conf.set(k, v) }
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GraftCowDataWriter(stagingPath, schema, layout, indexOrdinal,
      indexKind, java.time.ZoneId.of(tzId), conf, partitionId, taskId)
  }
}

final class GraftCowDataWriter(
    stagingPath: String,
    schema: StructType,
    layout: Option[String],
    indexOrdinal: Int,
    indexKind: Int,
    tz: java.time.ZoneId,
    conf: Configuration,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val context = new TaskAttemptContextImpl(conf,
    new TaskAttemptID("graftcow", 0, TaskType.MAP, partitionId, taskId.toInt))
  private val writers = mutable.Map.empty[String, GraftParquetFileWriter]
  // ordered distribution ⇒ rows arrive sorted by index ⇒ periods are
  // CONTIGUOUS: one writer is live at a time, the map only guards the
  // (salted/boundary) case of a period revisited across tasks
  private var currentKey: String = null
  private var currentWriter: GraftParquetFileWriter = null
  private var rows = 0L
  // Spark's group-based ReplaceData prepends an int `__row_operation`
  // marker column to every row and — when the operation declares no
  // metadata attributes — hands the rows over UNPROJECTED
  // (ReplaceDataExec.writingTask falls back to the plain task when
  // metadataProjection is None). Detect the extra leading field on the
  // first row and project it away with Spark's own ProjectingInternalRow
  // so the parquet writer sees exactly the table schema.
  private var projection: org.apache.spark.sql.catalyst.ProjectingInternalRow = null
  private var checkedShape = false

  private def localDateOf(row: InternalRow): java.time.LocalDate = indexKind match {
    case GraftCowWriterFactory.KindInstantMicros =>
      val us = row.getLong(indexOrdinal)
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L).atZone(tz).toLocalDate
    case GraftCowWriterFactory.KindWallMicros =>
      val us = row.getLong(indexOrdinal)
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).toLocalDate
    case GraftCowWriterFactory.KindEpochDays =>
      java.time.LocalDate.ofEpochDay(row.getInt(indexOrdinal).toLong)
    case _ =>
      throw new GraftError("period computation on a flat write")
  }

  // mirrors Collection.periodOfValue's key arithmetic (driver-side
  // pruning and executor-side routing MUST produce identical keys)
  private def periodKey(d: java.time.LocalDate): String = layout.get match {
    case "daily"     => d.toString
    case "monthly"   => f"${d.getYear}%04d-${d.getMonthValue}%02d"
    case "quarterly" => f"${d.getYear}%04d-Q${(d.getMonthValue - 1) / 3 + 1}"
    case "yearly"    => f"${d.getYear}%04d"
    case other       => throw new GraftError(s"unknown time layout '$other'")
  }

  private def fileFor(key: String): String = {
    val name = f"part-$partitionId%05d-$taskId-graftcow.snappy.parquet"
    if (key.isEmpty) s"$stagingPath/$name"
    else s"$stagingPath/${Collection.MonthCol}=$key/$name"
  }

  override def write(raw: InternalRow): Unit = {
    if (!checkedShape) {
      val extra = raw.numFields - schema.length
      if (extra == 1)
        projection = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, 1 to schema.length)
      else if (extra != 0)
        throw new GraftError(
          s"row-level write shape mismatch: ${raw.numFields} fields vs " +
            s"${schema.length}-column table schema")
      checkedShape = true
    }
    val row = if (projection == null) raw else { projection.project(raw); projection }
    val key = layout match {
      case None => ""
      case Some(_) =>
        if (row.isNullAt(indexOrdinal))
          throw new GraftError("row-level write produced a NULL index value " +
            "on a time-layout item — the index routes rows to periods")
        periodKey(localDateOf(row))
    }
    if (currentKey != key) {
      currentWriter = writers.getOrElseUpdate(key,
        GraftParquetIO.newWriter(fileFor(key), context))
      currentKey = key
    }
    currentWriter.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    GraftCowCommitMsg(rows)
  }

  override def abort(): Unit = writers.values.foreach { w =>
    try w.close() catch { case _: Exception => }
  }

  override def close(): Unit = ()
}

final case class GraftCowCommitMsg(rows: Long) extends WriterCommitMessage
