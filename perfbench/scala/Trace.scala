package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters; layer metrics are deltas of two of these. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, taskRunMs: Long = 0, taskCpuNs: Long = 0,
    schedDelayMs: Long = 0, taskGcMs: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, actions: Long = 0, analysisMs: Long = 0,
    optimizationMs: Long = 0, planningMs: Long = 0, compiles: Long = 0,
    compileNs: Long = 0, buildJobs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    schedDelayMs - o.schedDelayMs, taskGcMs - o.taskGcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    actions - o.actions, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    compiles - o.compiles, compileNs - o.compileNs, buildJobs - o.buildJobs)
}

/** One traced interval; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long, attrs: Map[String, Any])

/**
 * The benchmark's tracer. With tracing off it records nothing and adds
 * no listener: `span` only runs its body. With tracing on it registers
 * a SparkListener (jobs, tasks, scheduler delay, shuffle, spill), a
 * QueryExecutionListener (analysis / optimization / planning phases)
 * and keeps spans in memory until [[spansJson]] is read at the end of the
 * run. Time spent inside its own listener callbacks is accumulated in
 * `handlerNs`, the tracer's self-measured overhead.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val jobs, tasks, taskRunMs, taskCpuNs, schedDelayMs, taskGcMs,
    shuffleWriteBytes, spillBytes, actions, analysisMs, optimizationMs,
    planningMs, buildJobs = new AtomicLong
  private val handlerNsAcc = new AtomicLong
  private val nextId = new AtomicInteger
  private val buf = new ArrayBuffer[Span]()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime
    body
    handlerNsAcc.addAndGet(System.nanoTime - t)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.incrementAndGet()
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      if (group.contains(Tracer.BuildGroup)) buildJobs.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        tasks.incrementAndGet()
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskGcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        // the scheduler-delay formula of Spark's own stage page
        val delay = i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime
        schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      timed {
        actions.incrementAndGet()
        val ph = qe.tracker.phases
        ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
        ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
        ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Snapshot of the cumulative counters. The codegen counters are
    * process-wide statics and are read in both modes. Listener events
    * are delivered asynchronously, so callers drain the bus first
    * (see [[settle]]). */
  def counters: Counters = Counters(jobs.get, tasks.get, taskRunMs.get,
    taskCpuNs.get, schedDelayMs.get, taskGcMs.get, shuffleWriteBytes.get,
    spillBytes.get, actions.get, analysisMs.get, optimizationMs.get,
    planningMs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime, buildJobs.get)

  /** Wait until the listener bus has delivered every posted event
    * (bounded), so counter snapshots cover the work just finished. */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime + 2000000000L
    var last = -1L
    while (System.nanoTime < deadline && last != handlerNsAcc.get) {
      last = handlerNsAcc.get
      Thread.sleep(30)
    }
  }

  def handlerMs: Double = handlerNsAcc.get / 1e6

  /** Run `body` inside a span named `name` (a no-op wrapper when off). */
  def span[T](name: String, parent: Int = -1, attrs: Map[String, Any] = Map.empty)
             (body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime
      try body(id)
      finally {
        val t1 = System.nanoTime
        synchronized(buf += Span(id, name, parent, t0, t1, attrs))
      }
    }

  /** Record an interval observed elsewhere (e.g. a trigger's extent
    * reported by StreamingQueryProgress). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long,
             attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) -1
    else {
      val id = nextId.incrementAndGet()
      synchronized(buf += Span(id, name, parent, startNs, endNs, attrs))
      id
    }

  /** Spans as JSON records, written once at the end of a traced run. */
  def spansJson: Seq[Map[String, Any]] = synchronized(buf.toVector).map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs)

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Job group set around query builds, so jobs a build runs (eager
    * checkpoints) are told apart from its execution's. */
  val BuildGroup = "perfbench-build"
}

/** A committed micro-batch, as reported by StreamingQueryProgress. */
final case class Batch(batchId: Long, startOffset: Long, endOffset: Long,
                       startMs: Long, commitMs: Long, numInputRows: Long,
                       durationMs: Map[String, Long])

/** Collects the committed batches of every streaming query, by query
  * id (always on: the end-to-end latency needs each batch's end offset
  * and commit time). Offsets of both change-log sources serialize as a
  * bare event id. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val buf = new ArrayBuffer[(java.util.UUID, Batch)]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty) {
      val src = p.sources.head
      def off(s: String): Long =
        Option(s).map(_.trim).filter(x => x.nonEmpty && x != "null")
          .map(_.toLong).getOrElse(Long.MinValue)
      val (lo, hi) = (off(src.startOffset), off(src.endOffset))
      if (hi > lo) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        synchronized {
          buf += p.id -> Batch(p.batchId, lo, hi, start,
            start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d)
        }
      }
    }
  }

  def batches(id: java.util.UUID): Seq[Batch] =
    synchronized(buf.filter(_._1 == id).map(_._2).sortBy(_.batchId).toVector)

  /** Highest end offset committed so far by query `id`. */
  private def committed(id: java.util.UUID): Long = synchronized {
    val mine = buf.filter(_._1 == id)
    if (mine.isEmpty) Long.MinValue else mine.map(_._2.endOffset).max
  }

  /** Wait, at most `timeoutMs`, until the progress event of the batch of
    * query `id` that covers event `upTo` has arrived. */
  def awaitCommitted(id: java.util.UUID, upTo: Long, timeoutMs: Long): Unit = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    while (committed(id) < upTo && System.nanoTime < deadline) Thread.sleep(20)
  }

  spark.streams.addListener(this)
  def close(): Unit = spark.streams.removeListener(this)
}
