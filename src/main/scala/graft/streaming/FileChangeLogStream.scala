package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ChangeLogSource.OffsetRange

/**
 * The parquet-segment backend of [[ChangeLogStream]] — its production
 * shape: the audit log is a directory of parquet segments (as landed by
 * a CDC ingestion job), `event_id` is the offset.
 *
 *  - Offset discovery reads only parquet FOOTER statistics (min/max of
 *    `event_id` per file) — the `max(event_id)` poll of the reference
 *    coordinator (`CoordinatorRunnable.java:84-86`) at metadata cost,
 *    no data scan. One footer read per segment, cached (segments are
 *    immutable once landed), also yields the `ts` unit.
 *  - A batch plans one partition per (sub-range × segment) whose id
 *    span intersects it — only new segments are ever read, and
 *    `numPartitions` splits a large segment too.
 *  - The reader pushes the offset range down as a parquet filter
 *    predicate (row-group pruning + record filter), mirroring the
 *    reference's `event_id > ? AND event_id <= ?` (`WorkerRunnable
 *    .java:93`), plus the `tables` IN-list.
 *
 * Usage: `spark.readStream.format(ChangeLogStream.FormatName)
 * .option("path", dir).load()`. Schema = [[ChangeLogStream.Schema]];
 * `ts` may be stored as parquet TIMESTAMP in millis/micros/nanos.
 */
object FileChangeLogStream {

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

  /** One landed segment: its `event_id` span and the factor that turns
    * its stored `ts` into micros (negative = divide, positive = multiply). */
  private[streaming] final case class Segment(file: String, minId: Long,
                                              maxId: Long, tsFactor: Long)

  /** Everything the source needs from one segment, from one footer read;
    * `None` for a segment with no `event_id` statistics (a zero-row
    * file, as [[writeSegment]] lands for an empty batch). */
  private[streaming] def readFooter(conf: Configuration, f: Path): Option[Segment] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try {
      val footer = reader.getFooter
      val stats = footer.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "event_id")
          .map(_.getStatistics)
      }
      val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue())
      val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      val schema = footer.getFileMetaData.getSchema
      val ts = schema.getType(schema.getFieldIndex("ts"))
      val tsFactor = ts.asPrimitiveType().getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case TimeUnit.NANOS => -1000L
            case TimeUnit.MICROS => 1L
            case TimeUnit.MILLIS => 1000L
          }
        case _ => 1L
      }
      if (stats.isEmpty) None
      else Some(Segment(f.toString, mins.min, maxs.max, tsFactor))
    } finally reader.close()
  }
}

/** The parquet-segment backend: footer spans, one partition per
  * (sub-range × intersecting segment). */
final class SegmentLog(dir: String) extends ChangeLog {
  import FileChangeLogStream.{readFooter, Segment}

  private val conf = new Configuration()
  // immutable segments: each file's footer is read once, an empty one too
  private val footers = mutable.HashMap[String, Option[Segment]]()

  private def segments(): Seq[Segment] = synchronized {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .flatMap(s => footers.getOrElseUpdate(s.getPath.toString,
        readFooter(conf, s.getPath)))
  }

  override def span: Option[(Long, Long)] = {
    val segs = segments()
    if (segs.isEmpty) None
    else Some((segs.map(_.minId).min, segs.map(_.maxId).max))
  }

  // Drops nothing yet: evicting a committed segment's footer would only
  // make the next listing read it again until seen segments are tracked.
  override def floor: Long = ChangeLogStream.BeforeAnyId
  override def register(): ChangeLog.Hold = ChangeLog.NoHold

  override def partitions(ranges: Seq[OffsetRange],
                          tables: Option[Set[String]]): Seq[InputPartition] = {
    val segs = segments()
    for {
      r <- ranges
      s <- segs if s.maxId > r.min && s.minId <= r.max
    } yield SegmentPartition(s.file, math.max(r.min, s.minId - 1),
      math.min(r.max, s.maxId), s.tsFactor, tables)
  }

  override def toString: String = s"path=$dir"
}

/** One (segment file × half-open id range) task. */
final case class SegmentPartition(file: String, min: Long, max: Long,
                                  tsFactor: Long, tables: Option[Set[String]])
    extends ChangeLogPartition {
  override def reader(): PartitionReader[InternalRow] = new SegmentReader(this)
}

class SegmentReader(p: SegmentPartition) extends PartitionReader[InternalRow] {

  // offset-range pushdown: row groups outside (min, max] are skipped
  // via column statistics; records filtered at read level.
  private val filter = FilterCompat.get(FilterApi.and(
    FilterApi.gt(FilterApi.longColumn("event_id"),
      java.lang.Long.valueOf(p.min)),
    FilterApi.ltEq(FilterApi.longColumn("event_id"),
      java.lang.Long.valueOf(p.max))))
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(p.file))
      .withConf(new Configuration()).withFilter(filter).build()

  private var current: Group = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null && !accept(g)) g = reader.read()
    current = g
    g != null
  }

  private def accept(g: Group): Boolean = {
    val id = g.getLong("event_id", 0)
    id > p.min && id <= p.max &&
      p.tables.forall(_.contains(g.getString("event_type", 0)))
  }

  override def get(): InternalRow = {
    val rawTs = current.getLong("ts", 0)
    val micros = if (p.tsFactor < 0) rawTs / -p.tsFactor else rawTs * p.tsFactor
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
