package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * File-backed micro-batch change-log source — the production shape of
 * [[ChangeLogStream]]: the audit log is a directory of parquet
 * segments (as landed by a CDC ingestion job), `event_id` is the
 * offset.
 *
 *  - Offset discovery reads only parquet FOOTER statistics (min/max of
 *    `event_id` per file) — the `max(event_id)` poll of the reference
 *    coordinator (`CoordinatorRunnable.java:84-86`) at metadata cost,
 *    no data scan. Footer spans are cached per file (segments are
 *    immutable once landed).
 *  - `planInputPartitions` assigns one partition per (file × offset
 *    range) whose id span intersects `(start, end]` — only new
 *    segments are ever read.
 *  - The reader pushes the offset range down as a parquet filter
 *    predicate (row-group pruning + record filter), mirroring the
 *    reference's `event_id > ? AND event_id <= ?` (`WorkerRunnable
 *    .java:93`), plus the `tables` IN-list.
 *
 * Usage: `spark.readStream.format(FileChangeLogStream.FormatName)
 * .option("path", dir).load()`. Schema = [[ChangeLogStream.Schema]];
 * `ts` may be stored as parquet TIMESTAMP in millis/micros/nanos (the
 * unit is read from the file's logical type).
 */
object FileChangeLogStream {
  val FormatName: String = classOf[FileChangeLogTableProvider].getName

  /**
   * Land a change-log batch as one immutable parquet segment (the
   * producer side of this source): micros timestamps, one file per
   * call. Segment files must cover non-overlapping, monotonically
   * increasing `event_id` spans for offset discovery to be meaningful.
   */
  def writeSegment(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    df.sparkSession.conf
      .set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.coalesce(1).write.mode("append").parquet(dir)
  }

  /** (minId, maxId) span of one segment file, from footer stats only. */
  private[streaming] def fileSpan(conf: Configuration, f: Path): (Long, Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val stats = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "event_id")
          .map(_.getStatistics)
      }
      val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue())
      val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      (mins.min, maxs.max)
    } finally reader.close()
  }

  /** Timestamp unit divisor-to-micros for the `ts` column. */
  private[streaming] def tsToMicrosFactor(conf: Configuration, f: Path): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val ts = schema.getType(schema.getFieldIndex("ts"))
      ts.asPrimitiveType().getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case TimeUnit.NANOS => -1000L  // negative = divide
            case TimeUnit.MICROS => 1L
            case TimeUnit.MILLIS => 1000L  // positive = multiply
          }
        case _ => 1L
      }
    } finally reader.close()
  }
}

class FileChangeLogTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLogStream.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FileChangeLogTable
}

class FileChangeLogTable extends Table with SupportsRead {
  override def name(): String = "graft_file_changelog"
  override def schema(): StructType = ChangeLogStream.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileChangeLogScanBuilder(options)
}

class FileChangeLogScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan {
  private val dir = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("option 'path' is required"))
  private val maxEventsPerTrigger: Long =
    options.getLong("maxEventsPerTrigger", Long.MaxValue)
  private val tables: Option[Set[String]] =
    Option(options.get("tables")).map(_.split(",").map(_.trim).toSet)
  private val startAt = options.getOrDefault("startAt", "earliest")
  private val maxIdsPerPartition: Long =
    options.getLong("maxIdsPerPartition", Long.MaxValue)

  override def build(): Scan = this
  override def readSchema(): StructType = ChangeLogStream.Schema
  override def description(): String = s"graft_file_changelog(path=$dir)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileChangeLogMicroBatchStream(dir, maxEventsPerTrigger, tables,
      startAt, maxIdsPerPartition)
}

class FileChangeLogMicroBatchStream(dir: String, maxEventsPerTrigger: Long,
                                    tables: Option[Set[String]],
                                    startAt: String,
                                    maxIdsPerPartition: Long = Long.MaxValue)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val conf = new Configuration()
  // immutable segments: cache each file's footer span after first read
  private val spanCache = scala.collection.mutable.HashMap[String, (Long, Long)]()

  private def listSegments(): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  private def spans(): Seq[(Path, (Long, Long))] = synchronized {
    listSegments().map { s =>
      val key = s.getPath.toString
      s.getPath -> spanCache.getOrElseUpdate(key,
        FileChangeLogStream.fileSpan(conf, s.getPath))
    }
  }

  override def initialOffset(): Offset = {
    val sp = spans()
    if (startAt == "latest" && sp.nonEmpty) ChangeLogOffset(sp.map(_._2._2).max)
    else ChangeLogOffset(
      if (sp.isEmpty) -1L else sp.map(_._2._1).min - 1)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")

  override def getDefaultReadLimit: ReadLimit =
    if (maxEventsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxEventsPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[ChangeLogOffset].maxId
    val sp = spans()
    val live = if (sp.isEmpty) startId else math.max(startId, sp.map(_._2._2).max)
    val capped = limit match {
      case r: ReadMaxRows => math.min(live, startId + r.maxRows())
      case _ if maxEventsPerTrigger != Long.MaxValue =>
        math.min(live, startId + maxEventsPerTrigger)
      case _ => live
    }
    ChangeLogOffset(capped)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ChangeLogOffset].maxId
    val hi = end.asInstanceOf[ChangeLogOffset].maxId
    if (hi <= lo) Array.empty
    else spans()
      .filter { case (_, (mn, mx)) => mx > lo && mn <= hi }
      .flatMap { case (p, (mn, mx)) =>
        // a single large segment (backfill, compaction output) must not
        // cap parallelism at one task: split its intersected id span
        // into sub-ranges of at most maxIdsPerPartition. Each sub-range
        // re-opens the file but the offset predicate prunes row groups
        // by statistics, so a sorted segment reads each row group once.
        val fLo = math.max(lo, mn - 1)
        val fHi = math.min(hi, mx)
        val width = math.max(1L, maxIdsPerPartition)
        (fLo until fHi by width).map { s =>
          // saturating add: s + width overflows Long when unsplit
          val e = if (width > fHi - s) fHi else s + width
          FileChangeLogPartition(p.toString, s, e, tables): InputPartition
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileChangeLogReaderFactory

  override def deserializeOffset(json: String): Offset =
    ChangeLogOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One (segment file × half-open id range) task. */
final case class FileChangeLogPartition(file: String, min: Long, max: Long,
                                        tables: Option[Set[String]])
    extends InputPartition

class FileChangeLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FileChangeLogPartitionReader(
      partition.asInstanceOf[FileChangeLogPartition])
}

class FileChangeLogPartitionReader(p: FileChangeLogPartition)
    extends PartitionReader[InternalRow] {

  private val conf = new Configuration()
  private val path = new Path(p.file)
  private val tsFactor = FileChangeLogStream.tsToMicrosFactor(conf, path)
  // offset-range pushdown: row groups outside (min, max] are skipped
  // via column statistics; records filtered at read level.
  private val filter = FilterCompat.get(FilterApi.and(
    FilterApi.gt(FilterApi.longColumn("event_id"),
      java.lang.Long.valueOf(p.min)),
    FilterApi.ltEq(FilterApi.longColumn("event_id"),
      java.lang.Long.valueOf(p.max))))
  private val reader: ParquetReader[org.apache.parquet.example.data.Group] =
    ParquetReader.builder(new GroupReadSupport(), path)
      .withConf(conf).withFilter(filter).build()

  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null && !accept(g)) g = reader.read()
    current = g
    g != null
  }

  private def accept(g: org.apache.parquet.example.data.Group): Boolean = {
    val id = g.getLong("event_id", 0)
    id > p.min && id <= p.max &&
      p.tables.forall(_.contains(g.getString("event_type", 0)))
  }

  override def get(): InternalRow = {
    val rawTs = current.getLong("ts", 0)
    val micros = if (tsFactor < 0) rawTs / -tsFactor else rawTs * tsFactor
    InternalRow(
      current.getLong("event_id", 0),
      micros,
      current.getLong("user_id", 0),
      UTF8String.fromString(current.getString("event_type", 0)),
      current.getDouble("value", 0),
      // nullable column: a null `props` is stored as no value at all
      if (current.getFieldRepetitionCount("props") == 0) null
      else UTF8String.fromString(current.getString("props", 0)))
  }

  override def close(): Unit = reader.close()
}
