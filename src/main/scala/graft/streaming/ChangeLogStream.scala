package graft.streaming

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ChangeLogSource.{splitRange, OffsetRange}

/**
 * DataSource V2 micro-batch change-log source — the Spark-native
 * re-expression of the reference's coordinator/worker machinery
 * (SURVEY.md §3.1):
 *
 *  - `latestOffset` IS the coordinator's poll `max(event_id)`
 *    (reference `CoordinatorRunnable.java:84-86`), with admission
 *    control standing in for the bounded-queue back-pressure
 *    (`Client.java:17`; option `maxEventsPerTrigger`).
 *  - `planInputPartitions` carves the advance into half-open
 *    `(min, max]` ranges — the reference's `Task` objects
 *    (`Task.java:2-16`) — one `InputPartition` per worker
 *    (`numPartitions` option ≙ `numberOfThread`).
 *  - Offsets serialize into the streaming checkpoint: restart resumes
 *    exactly where it stopped — the durability the reference lacks
 *    (SURVEY §3.4 "no persistence of offsets").
 *  - The `tables` option pushes the IN-list filter into the source
 *    (reference `WorkerRunnable.java:94`).
 *
 * The backing log is an in-process append-only [[ChangeLogBuffer]]
 * (tests feed it from the driver `events` table — the PostgreSQL
 * stand-in). A production deployment backs the same offset contract
 * with `max(event_id)` pushdown over JDBC/parquet; only
 * [[ChangeLogPartitionReader]] changes.
 */
object ChangeLogStream {
  /** Change-log record schema (events stand-in, FIXTURES.md §B). */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))

  val FormatName: String = classOf[ChangeLogTableProvider].getName
}

/** One change row (ts in epoch micros). */
final case class ChangeEvent(eventId: Long, tsMicros: Long, userId: Long,
                             eventType: String, value: Double, props: String)

/**
 * Append-only in-process change log, keyed by monotone `event_id` —
 * the `audit.logged_actions` stand-in. Thread-safe: a producer thread
 * appends while the stream polls (the reference's coordinator reads
 * while TPC-C writes).
 */
final class ChangeLogBuffer {
  private val events = new ArrayBuffer[ChangeEvent]()

  def append(rows: Seq[ChangeEvent]): Unit = synchronized {
    rows.foreach { e =>
      require(events.isEmpty || e.eventId > events.last.eventId,
        s"event ids must be monotone: ${e.eventId} after ${events.last.eventId}")
      events += e
    }
  }

  def maxId: Long = synchronized {
    if (events.isEmpty) 0L else events.last.eventId
  }

  /** Offset just below the first event — the `earliest` start point
    * (offsets are exclusive lower bounds of `(min, max]` ranges). */
  def beforeFirstId: Long = synchronized {
    if (events.isEmpty) 0L else events.head.eventId - 1
  }

  /** Half-open (min, max] slice, optionally filtered to table set, in
    * O(log n + k) for k events in the range: a binary search finds the
    * first id above `range.min`, then the walk stops past `range.max`.
    * Both rely on the monotone ids that `append` requires, and keep
    * the lock a partition reader shares with the producer short. */
  def slice(range: OffsetRange, tables: Option[Set[String]]): Seq[ChangeEvent] =
    synchronized {
      var lo = 0
      var hi = events.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (events(mid).eventId <= range.min) lo = mid + 1 else hi = mid
      }
      events.view.drop(lo)
        .takeWhile(_.eventId <= range.max)
        .filter(e => tables.forall(_.contains(e.eventType)))
        .toVector
    }
}

/** Named buffer registry so executors/threads share one log per name
  * (local-mode single JVM; cluster deployments use a real store). */
object ChangeLogBuffers {
  private val buffers = new ConcurrentHashMap[String, ChangeLogBuffer]()
  def get(name: String): ChangeLogBuffer =
    buffers.computeIfAbsent(name, _ => new ChangeLogBuffer)
  def remove(name: String): Unit = buffers.remove(name)
}

/** Checkpointable offset: the high-water `event_id`. */
final case class ChangeLogOffset(maxId: Long) extends Offset {
  override def json(): String = maxId.toString
}

class ChangeLogTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLogStream.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChangeLogTable
}

class ChangeLogTable extends Table with SupportsRead {
  override def name(): String = "graft_changelog"
  override def schema(): StructType = ChangeLogStream.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangeLogScanBuilder(options)
}

class ChangeLogScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan {
  private val bufferName = options.getOrDefault("buffer", "default")
  private val numPartitions = options.getInt("numPartitions", 4)
  private val maxEventsPerTrigger: Long =
    options.getLong("maxEventsPerTrigger", Long.MaxValue)
  private val tables: Option[Set[String]] =
    Option(options.get("tables")).map(_.split(",").map(_.trim).toSet)
  // "earliest" (default; replay the whole log) or "latest" (skip
  // history — the reference's behavior, `CoordinatorRunnable.java:35-42`)
  private val startAt = options.getOrDefault("startAt", "earliest")

  override def build(): Scan = this
  override def readSchema(): StructType = ChangeLogStream.Schema
  override def description(): String =
    s"graft_changelog(buffer=$bufferName, tables=${tables.getOrElse("*")})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeLogMicroBatchStream(bufferName, numPartitions,
      maxEventsPerTrigger, tables, startAt)
}

class ChangeLogMicroBatchStream(bufferName: String, numPartitions: Int,
                                maxEventsPerTrigger: Long,
                                tables: Option[Set[String]],
                                startAt: String = "earliest")
    extends MicroBatchStream with SupportsAdmissionControl {

  private def buffer = ChangeLogBuffers.get(bufferName)

  // Coordinator init (`CoordinatorRunnable.java:35-42` starts at live
  // max): "latest" reproduces that; "earliest" replays the log. Only
  // consulted when the checkpoint has no committed offset yet.
  override def initialOffset(): Offset =
    ChangeLogOffset(
      if (startAt == "latest") buffer.maxId else buffer.beforeFirstId)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    if (maxEventsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxEventsPerTrigger)

  /** Poll tick: observe max(event_id), capped by admission control —
    * back-pressure ≙ the reference's bounded queue. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[ChangeLogOffset].maxId
    val live = buffer.maxId
    val capped = limit match {
      case r: ReadMaxRows => math.min(live, startId + r.maxRows())
      case _ =>
        if (maxEventsPerTrigger == Long.MaxValue) live
        else math.min(live, startId + maxEventsPerTrigger)
    }
    ChangeLogOffset(math.max(capped, startId))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ChangeLogOffset].maxId
    val hi = end.asInstanceOf[ChangeLogOffset].maxId
    if (hi <= lo) Array.empty
    else splitRange(OffsetRange(lo, hi), numPartitions)
      .map(r => ChangeLogInputPartition(bufferName, r.min, r.max, tables)
        : InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeLogPartitionReaderFactory

  override def deserializeOffset(json: String): Offset =
    ChangeLogOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint

  override def stop(): Unit = ()
}

final case class ChangeLogInputPartition(bufferName: String, min: Long,
                                         max: Long, tables: Option[Set[String]])
    extends InputPartition

class ChangeLogPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeLogInputPartition]
    new ChangeLogPartitionReader(p)
  }
}

/** Worker-equivalent: materializes one `(min, max]` task
  * (`WorkerRunnable.java:93-98,117-119`), local-mode in-memory read. */
class ChangeLogPartitionReader(p: ChangeLogInputPartition)
    extends PartitionReader[InternalRow] {
  private val rows = ChangeLogBuffers.get(p.bufferName)
    .slice(OffsetRange(p.min, p.max), p.tables).iterator
  private var current: ChangeEvent = _

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow =
    InternalRow(current.eventId, current.tsMicros, current.userId,
      UTF8String.fromString(current.eventType), current.value,
      if (current.props == null) null else UTF8String.fromString(current.props))

  override def close(): Unit = ()
}
