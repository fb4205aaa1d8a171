package graft.streaming

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

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
 * The DataSource V2 micro-batch change-log source: one offset contract
 * over two logs. It is the Spark-native re-expression of the
 * reference's coordinator/worker machinery (SURVEY.md §3.1):
 *
 *  - `latestOffset` IS the coordinator's poll `max(event_id)`
 *    (reference `CoordinatorRunnable.java:84-86`), with admission
 *    control standing in for the bounded-queue back-pressure
 *    (`Client.java:17`; option `maxEventsPerTrigger`).
 *  - `planInputPartitions` carves the advance into `numPartitions`
 *    half-open `(min, max]` ranges (`splitRange`) — the reference's
 *    `Task` objects (`Task.java:2-16`), `numPartitions` ≙
 *    `numberOfThread`.
 *  - Offsets serialize into the streaming checkpoint as a bare
 *    `event_id`: restart resumes exactly where it stopped — the
 *    durability the reference lacks (SURVEY §3.4 "no persistence of
 *    offsets").
 *  - The `tables` option pushes the IN-list filter into the source
 *    (reference `WorkerRunnable.java:94`).
 *
 * Only the storage under the contract varies ([[ChangeLog]]), picked
 * by which option names the log:
 *
 *  - `buffer`: an in-process append-only [[ChangeLogBuffer]]
 *    ([[BufferLog]]; the live tail and the tests feed it from the
 *    driver `events` table, the PostgreSQL stand-in). Each partition
 *    is one `slice`.
 *  - `path`: a directory of immutable parquet segments, the production
 *    shape ([[SegmentLog]] in `FileChangeLogStream.scala`). Offsets come
 *    from footer statistics; each partition reads one (sub-range ×
 *    segment).
 *
 * | option                | default   | meaning                               |
 * |-----------------------|-----------|---------------------------------------|
 * | `buffer` \| `path`    | `buffer`  | the log: a buffer name or a directory |
 * | `numPartitions`       | 4         | `(min, max]` sub-ranges per batch     |
 * | `maxEventsPerTrigger` | unbounded | admission cap on ids per batch        |
 * | `tables`              | all       | comma-separated `event_type` IN-list  |
 * | `startAt`             | earliest  | exactly `earliest` or `latest`        |
 *
 * `buffer` defaults to the name `default`; naming both logs, or any
 * other `startAt`, is an error. `startAt` is consulted only when the
 * checkpoint holds no offset yet: `earliest` starts at the earliest id
 * the log still holds, as in Kafka, and `latest` skips its history like
 * the reference coordinator (`CoordinatorRunnable.java:35-42`). A log
 * that holds no event yet sits at [[ChangeLogStream.BeforeAnyId]], so a
 * stream started before the first append still reads that first event.
 *
 * A buffer keeps only the ids some registered stream has not committed
 * (Structured Streaming requires a source to replay only back to its
 * last commit): each stream registers when Spark creates it, `commit`
 * raises its mark and `stop` releases it. A stream whose checkpoint
 * offset lies below what the log has dropped fails, naming the lost
 * range, rather than read a hole.
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

  /** The offset of an empty log: below every id. Change-log ids are
    * non-negative (PostgreSQL's bigserial; the `events` fixtures start
    * at 0). */
  val BeforeAnyId: Long = -1L
}

/** One change row (ts in epoch micros). */
final case class ChangeEvent(eventId: Long, tsMicros: Long, userId: Long,
                             eventType: String, value: Double, props: String)

/**
 * Append-only in-process change log, keyed by monotone `event_id` —
 * the `audit.logged_actions` stand-in. Thread-safe: a producer thread
 * appends while the stream polls (the reference's coordinator reads
 * while TPC-C writes).
 *
 * Unlike the reference's audit table it is pruned: it holds only ids
 * above the lowest committed mark of its registered readers
 * ([[register]]). The last appended id and the floor (the highest id
 * dropped) are kept apart from the held rows, so an emptied log still
 * knows where it ends.
 */
final class ChangeLogBuffer {
  private val events = new mutable.ArrayDeque[ChangeEvent]()
  private var last = ChangeLogStream.BeforeAnyId
  private var dropped = ChangeLogStream.BeforeAnyId
  private val marks = mutable.Set[Mark]()

  /** One registered reader's low-water mark: it no longer needs ids at
    * or below `upTo`. */
  private final class Mark(var upTo: Long) extends ChangeLog.Hold {
    override def commit(end: Long): Unit = ChangeLogBuffer.this.synchronized {
      if (end > upTo) { upTo = end; trim() }
    }
    override def close(): Unit = ChangeLogBuffer.this.synchronized {
      marks -= this
      trim()
    }
  }

  /** Land one transaction, all or nothing: every id must exceed the one
    * before it and the last id appended so far. */
  def append(rows: Seq[ChangeEvent]): Unit = synchronized {
    var prev = last
    rows.foreach { e =>
      require(e.eventId > prev, s"event ids must be monotone: ${e.eventId} after $prev")
      prev = e.eventId
    }
    events ++= rows
    last = prev
  }

  /** (first, last) `event_id` of the log: the first id still held
    * (`floor + 1` once every held id is dropped) and the last id
    * appended; `None` before the first append. */
  def span: Option[(Long, Long)] = synchronized {
    if (last == ChangeLogStream.BeforeAnyId) None
    else Some((events.headOption.fold(dropped + 1)(_.eventId), last))
  }

  /** Last `event_id` appended, or [[ChangeLogStream.BeforeAnyId]]
    * before the first append. */
  def maxId: Long = synchronized(last)

  /** The highest id dropped, or [[ChangeLogStream.BeforeAnyId]] while
    * none is. */
  def floor: Long = synchronized(dropped)

  /** Register a reader. Its mark starts at the floor, so nothing more
    * is dropped until it commits or closes. */
  def register(): ChangeLog.Hold = synchronized {
    val m = new Mark(dropped)
    marks += m
    m
  }

  /** Drop every id at or below the lowest registered mark, in
    * O(dropped ids). With no reader registered nothing is dropped: a
    * reader yet to come may start at the earliest id. */
  private def trim(): Unit = if (marks.nonEmpty) {
    val upTo = marks.iterator.map(_.upTo).min
    if (upTo > dropped) {
      events.remove(0, firstAbove(upTo))
      dropped = upTo
    }
  }

  /** Index of the first held event whose id exceeds `id`. */
  private def firstAbove(id: Long): Int = {
    var lo = 0
    var hi = events.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (events(mid).eventId <= id) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Half-open (min, max] slice of the held events, optionally filtered
    * to table set, in O(log n + k) for k events in the range: a binary
    * search finds the first id above `range.min`, then the walk stops
    * past `range.max`. Both rely on the monotone ids that `append`
    * requires, and keep the lock a partition reader shares with the
    * producer short. A range below the floor yields only what is held. */
  def slice(range: OffsetRange, tables: Option[Set[String]]): Seq[ChangeEvent] =
    synchronized {
      events.view.drop(firstAbove(range.min))
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

/**
 * The storage under [[ChangeLogMicroBatchStream]]'s one offset
 * contract: where the log's ids span, what it has dropped, which input
 * partitions read a batch's `(min, max]` sub-ranges, and how a reader
 * tells it what it no longer needs.
 */
trait ChangeLog {
  /** (first, last) `event_id` in the log: the first id it still holds
    * (past `last` once it holds none) and the last id it was given;
    * `None` before the first event. */
  def span: Option[(Long, Long)]

  /** The highest id the log has dropped, or
    * [[ChangeLogStream.BeforeAnyId]]: a reader at an offset below it has
    * lost `(offset, floor]`. */
  def floor: Long

  /** Input partitions that together read exactly `ranges`. */
  def partitions(ranges: Seq[OffsetRange],
                 tables: Option[Set[String]]): Seq[InputPartition]

  /** Register one reader: the log keeps every id above the reader's
    * mark until the reader commits past it or closes. */
  def register(): ChangeLog.Hold
}

object ChangeLog {
  /** A registered reader's hold on its log. */
  trait Hold {
    /** The reader needs no id at or below `end` any more. */
    def commit(end: Long): Unit
    /** The reader is gone; it holds nothing. */
    def close(): Unit
  }

  /** The hold of a log that drops nothing. */
  object NoHold extends Hold {
    override def commit(end: Long): Unit = ()
    override def close(): Unit = ()
  }
}

/** A change-log partition builds its own reader, so one factory serves
  * every [[ChangeLog]]. */
trait ChangeLogPartition extends InputPartition {
  def reader(): PartitionReader[InternalRow]
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
  private val log: ChangeLog =
    (Option(options.get("buffer")), Option(options.get("path"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "options 'buffer' and 'path' both name a log; give one")
      case (_, Some(dir)) => new SegmentLog(dir)
      case (name, None) => new BufferLog(name.getOrElse("default"))
    }
  private val numPartitions = options.getInt("numPartitions", 4)
  private val maxEventsPerTrigger: Long =
    options.getLong("maxEventsPerTrigger", Long.MaxValue)
  // a cap below 1 would stall the stream or move its offset backwards
  require(numPartitions >= 1, s"option numPartitions must be >= 1, not $numPartitions")
  require(maxEventsPerTrigger >= 1,
    s"option maxEventsPerTrigger must be >= 1, not $maxEventsPerTrigger")
  private val tables: Option[Set[String]] =
    Option(options.get("tables")).map(_.split(",").map(_.trim).toSet)
  private val startAt = options.getOrDefault("startAt", "earliest")
  // anything else, `Latest` or a typo, would silently replay the log
  require(startAt == "earliest" || startAt == "latest",
    s"option startAt must be earliest or latest, not $startAt")

  override def build(): Scan = this
  override def readSchema(): StructType = ChangeLogStream.Schema
  override def description(): String =
    s"graft_changelog($log, tables=${tables.getOrElse("*")})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeLogMicroBatchStream(log, numPartitions, maxEventsPerTrigger,
      tables, startAt)
}

class ChangeLogMicroBatchStream(log: ChangeLog, numPartitions: Int,
                                maxEventsPerTrigger: Long,
                                tables: Option[Set[String]],
                                startAt: String = "earliest")
    extends MicroBatchStream with SupportsAdmissionControl {

  // registered as Spark creates the stream, released by `stop`
  private val hold = log.register()

  override def initialOffset(): Offset = ChangeLogOffset(log.span match {
    case None => ChangeLogStream.BeforeAnyId
    case Some((_, last)) if startAt == "latest" => last
    case Some((first, _)) => first - 1
  })

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    if (maxEventsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxEventsPerTrigger)

  /** Poll tick: observe max(event_id), capped by admission control —
    * back-pressure ≙ the reference's bounded queue. Never moves below
    * `start`, so an empty log stays where it started. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[ChangeLogOffset].maxId
    requireHeld(startId)
    val live = log.span.fold(startId)(_._2)
    val cap = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => maxEventsPerTrigger
    }
    ChangeLogOffset(
      if (live <= startId) startId
      else if (live - startId <= cap) live
      else startId + cap)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ChangeLogOffset].maxId
    val hi = end.asInstanceOf[ChangeLogOffset].maxId
    requireHeld(lo)
    if (hi <= lo) Array.empty
    else log.partitions(splitRange(OffsetRange(lo, hi), numPartitions), tables)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeLogReaderFactory

  override def deserializeOffset(json: String): Offset =
    ChangeLogOffset(json.trim.toLong)

  /** A batch that starts below the log's floor would read a hole. */
  private def requireHeld(startId: Long): Unit = {
    val floor = log.floor
    if (startId < floor) throw new IllegalStateException(
      s"change-log ids ($startId, $floor] were dropped before this stream " +
        "committed them; restart from a newer checkpoint or a fresh one")
  }

  /** Spark has durably moved past `end`: the log may drop ids up to it. */
  override def commit(end: Offset): Unit =
    hold.commit(end.asInstanceOf[ChangeLogOffset].maxId)

  override def stop(): Unit = hold.close()
}

class ChangeLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition.asInstanceOf[ChangeLogPartition].reader()
}

/** The in-process backend: one [[ChangeLogBuffer.slice]] per sub-range. */
final class BufferLog(name: String) extends ChangeLog {
  override def span: Option[(Long, Long)] = ChangeLogBuffers.get(name).span
  override def floor: Long = ChangeLogBuffers.get(name).floor
  override def register(): ChangeLog.Hold = ChangeLogBuffers.get(name).register()
  override def partitions(ranges: Seq[OffsetRange],
                          tables: Option[Set[String]]): Seq[InputPartition] =
    ranges.map(r => BufferPartition(name, r.min, r.max, tables))
  override def toString: String = s"buffer=$name"
}

final case class BufferPartition(bufferName: String, min: Long, max: Long,
                                 tables: Option[Set[String]])
    extends ChangeLogPartition {
  override def reader(): PartitionReader[InternalRow] = new BufferReader(this)
}

/** Worker-equivalent: materializes one `(min, max]` task
  * (`WorkerRunnable.java:93-98,117-119`), local-mode in-memory read. */
class BufferReader(p: BufferPartition) extends PartitionReader[InternalRow] {
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
