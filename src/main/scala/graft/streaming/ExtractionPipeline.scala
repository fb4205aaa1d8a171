package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CdcOps
import graft.sinks.Sinks
import graft.util.Cols

/**
 * The end-to-end extraction pipeline — the reference's `Client.main`
 * dataflow (SURVEY.md §3.1) as one Structured Streaming job:
 *
 *   changelog source → per-batch commit-ts enrichment (`max(ts)` over
 *   a `user_id` window, replacing the N+1 lookups in one scan of the
 *   batch) → pipe-delimited files → a [[Landed]] record per batch.
 *
 * The coordinator thread, the bounded queue, N worker threads, and the
 * per-worker chunk files all disappear into the engine: trigger
 * interval ≙ `sleepDuration`, source partitions ≙ `numberOfThread`,
 * checkpointed offsets ≙ the (previously unpersisted) `maxSeqID`
 * ledger. Each micro-batch lands under `batch=<id>` as one chunk file
 * per non-empty partition of the window's `user_id` shuffle after
 * adaptive coalescing (a small batch writes one file), not per worker.
 * The job that writes the chunks also reports what they hold, so each
 * query keeps its own freshness log ([[freshness]], [[Freshness]]).
 */
object ExtractionPipeline {

  private val logs = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[Landed]]()

  /** The [[Landed]] record of every batch that query `id`, started by
    * [[start]], has written in this process, in batch order (the latest
    * start under that id; empty for any other query). */
  def freshness(id: UUID): Seq[Landed] =
    Option(logs.get(id)).fold(Seq.empty[Landed])(_.asScala.toVector)

  /** Open the streaming change log (see [[ChangeLogStream]] options). */
  def readChangeLog(spark: SparkSession, buffer: String,
                    tables: Option[Seq[String]] = None,
                    numPartitions: Int = 4,
                    maxEventsPerTrigger: Long = Long.MaxValue,
                    startAt: String = "earliest"): DataFrame = {
    val r = spark.readStream.format(ChangeLogStream.FormatName)
      .option("buffer", buffer)
      .option("numPartitions", numPartitions)
      .option("maxEventsPerTrigger", maxEventsPerTrigger)
      .option("startAt", startAt)
    tables.foldLeft(r)((b, t) => b.option("tables", t.mkString(",")))
      .load()
  }

  /** The streamed rows rendered in `chunk` pipe format (S5 fidelity):
    * keyed by offset, timestamps as epoch micros, money via DECIMAL. */
  def pipeFormat(stream: DataFrame): DataFrame =
    stream.select(col("event_id"), CdcOps.pipeLine(changeFields).as("line"))

  private def changeFields: Seq[Column] =
    Seq(col("event_id"), Cols.epochUs(col("ts")), col("user_id"),
      col("event_type"), col("value").cast("decimal(18,2)"), col("props"))

  /**
   * Start the extraction: every micro-batch is enriched with the
   * transaction commit timestamp ([[withCommitTs]] — the set-oriented
   * replacement for `WorkerRunnable.java:130-144`) and written as
   * pipe-delimited text by [[writeBatch]], whose [[Landed]] record goes
   * to the query's [[freshness]] log. Exactly-once comes from the
   * checkpointed offsets + the batchId-keyed overwrite.
   */
  def start(stream: DataFrame, outDir: String, checkpointDir: String,
            triggerMs: Long = 1000L): StreamingQuery = {
    val log = new ConcurrentLinkedQueue[Landed]()
    val query = stream.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        log.add(writeBatch(batch, batchId, outDir))
        ()
      }
      .start()
    logs.put(query.id, log)
    query
  }

  /**
   * One micro-batch of the extraction sink: enrich with the
   * transaction commit timestamp and land the pipe lines under
   * `batch=<id>` ([[graft.sinks.Sinks.writePipeChunks]]). Each chunk
   * appears by atomic rename, whole or not at all, and the batchId-keyed
   * directory is overwritten on every call: after a mid-batch crash the
   * restart re-runs the same batch id over the same checkpointed offset
   * range and replaces any partial output whole — no duplicate and no
   * missing line (the reference had no such story: a worker crash
   * mid-chunk lost or duplicated rows, SURVEY §3.4,
   * `CoordinatorRunnable.java:35-42`). [[ExactlyOnceSinkSpec]] kills a
   * batch after a partial write and proves the law. The same job
   * reports each chunk's lines and largest commit ts; the batch is
   * visible once the last chunk is renamed in, when the job returns.
   */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Landed = {
    val chunks = Sinks.writePipeChunks(withCommitTs(batch), lineFields,
      commitUs, s"$outDir/batch=$batchId")
    Landed(batchId, chunks.map(_.lines).sum, chunks.flatMap(_.maxKey).maxOption,
      System.currentTimeMillis())
  }

  /**
   * Add `commit_ts` = the transaction's max `ts` within `batch`, as a
   * window over `user_id` (the txid). Same rows and values as
   * `CdcOps.enrichCommitTs(batch, CdcOps.commitTsDim(batch))` — the dim
   * is built from the same batch and `user_id` is non-nullable, so that
   * inner join drops nothing — but the batch is read once, not twice.
   */
  def withCommitTs(batch: DataFrame): DataFrame =
    batch.withColumn("commit_ts",
      max(col("ts")).over(Window.partitionBy(col("user_id"))))

  /** Enriched change rows as the extraction's `line` column: the
    * [[pipeFormat]] fields followed by the commit timestamp. */
  def pipeLines(enriched: DataFrame): DataFrame =
    enriched.select(CdcOps.pipeLine(lineFields).as("line"))

  private def commitUs = Cols.epochUs(col("commit_ts"))

  private def lineFields = changeFields :+ commitUs
}
