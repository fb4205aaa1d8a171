package perfbench

import java.math.RoundingMode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.ChangeLogSource.OffsetRange
import graft.streaming._

/** Seeded change-event generator: TPC-C-like transactions of 1-8 events
  * under a fresh transaction id (`user_id`), five event types, money
  * values in whole cents, and 1 in 20 events with null `props`. */
final class EventGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val types = Array("click", "signup", "view", "purchase", "error")
  private var txid = 1000000L * (1 + math.abs(seed % 1000))

  def txnSize(): Int = 1 + rnd.nextInt(8)

  /** Events `firstId ..` of one transaction; `tsOf(i)` stamps event i. */
  def txn(firstId: Long, size: Int, tsOf: Int => Long): Array[ChangeEvent] = {
    txid += 1
    Array.tabulate(size) { i =>
      val cents = (-math.log(1.0 - rnd.nextDouble()) * 5000).toLong
      val props =
        if (rnd.nextInt(20) == 0) null
        else s"""{"k": ${rnd.nextInt(100)}}"""
      ChangeEvent(firstId + i, tsOf(i), txid, types(rnd.nextInt(types.length)),
        cents / 100.0, props)
    }
  }
}

object EventGen {
  /** The pipe line the extraction sink must write for `e`: offset, event
    * time and value rendered as the sink renders them (epoch micros,
    * DECIMAL(18,2)), then the transaction's commit timestamp. */
  def line(e: ChangeEvent, commitUs: Long): String = {
    val v = new java.math.BigDecimal(java.lang.Double.toString(e.value))
      .setScale(2, RoundingMode.HALF_UP).toPlainString
    s"${e.eventId}|${e.tsMicros}|${e.userId}|${e.eventType}|$v|" +
      s"${if (e.props == null) "null" else e.props}|$commitUs"
  }
}

/** Expected sink output for ids `base, base+1, ..`; a null entry is an
  * event that must not appear (filtered out by the `tables` option). */
final class Expected(val base: Long) {
  val lines = new ArrayBuffer[String]()
  def add(e: ChangeEvent, line: String): Unit = {
    require(e.eventId == base + lines.size, s"gap before ${e.eventId}")
    lines += line
  }
  def size: Int = lines.size
  def count: Int = lines.count(_ != null)
}

/** Result of checking one sink output directory against [[Expected]]. */
final case class Checked(attempted: Long, failed: Long, ok: Array[Boolean],
                         linesPerBatch: Map[Long, Long],
                         filesPerBatch: Map[Long, Int], bytes: Long) {
  def okCount: Long = ok.count(identity).toLong
}

object Checker {
  private val BatchDir = """batch=(\d+)""".r

  /** Every expected event must appear exactly once as its expected line;
    * a missing, duplicated or wrong event, and any line naming no
    * expected event, is a failure. */
  def check(out: Path, exp: Expected, corrupt: Option[Long] = None): Checked = {
    val files = Dirs.partFiles(out)
    // fault injection (smoke test): one bad line for event `id` lands in
    // the sink output next to its good one
    for (id <- corrupt; f <- files.headOption)
      Files.write(f, s"$id|corrupted\n".getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
    val n = exp.size
    val seen = new Array[Int](n)
    val wrong = new Array[Boolean](n)
    var unexpected = 0L
    var bytes = 0L
    val perBatch = scala.collection.mutable.HashMap[Long, Long]()
    val filesPer = scala.collection.mutable.HashMap[Long, Int]()
    files.foreach { f =>
      val batch = BatchDir.findFirstMatchIn(f.toString).map(_.group(1).toLong)
        .getOrElse(-1L)
      filesPer(batch) = filesPer.getOrElse(batch, 0) + 1
      bytes += Files.size(f)
      val it = Files.lines(f, StandardCharsets.UTF_8).iterator
      while (it.hasNext) {
        val l = it.next()
        perBatch(batch) = perBatch.getOrElse(batch, 0L) + 1
        val bar = l.indexOf('|')
        val idx = (if (bar > 0) l.substring(0, bar).toLongOption else None)
          .map(id => id - exp.base).filter(i => i >= 0 && i < n).map(_.toInt)
        idx.filter(i => exp.lines(i) != null) match {
          case Some(i) =>
            seen(i) += 1
            if (l != exp.lines(i)) wrong(i) = true
          case None => unexpected += 1
        }
      }
    }
    val ok = new Array[Boolean](n)
    var failed = unexpected
    var expected = 0L
    for (i <- 0 until n if exp.lines(i) != null) {
      expected += 1
      ok(i) = seen(i) == 1 && !wrong(i)
      if (!ok(i)) failed += 1
    }
    Checked(expected + unexpected, failed, ok, perBatch.toMap, filesPer.toMap,
      bytes)
  }
}

/** One `writeBatch` call of a traced streaming query, with the batch's
  * input partition count. */
final case class SinkCall(batchId: Long, startNs: Long, endNs: Long, partitions: Int)

final class SinkTrace {
  private val calls = new ArrayBuffer[SinkCall]()
  def add(c: SinkCall): Unit = synchronized(calls += c)
  def all: Seq[SinkCall] = synchronized(calls.toVector)
}

/** One streaming query's committed batches, checked output and sink calls. */
final case class QueryRun(batches: Seq[Batch], checked: Checked, calls: Seq[SinkCall])

object Streams {
  /** Start the extraction. Untraced: `ExtractionPipeline.start` as-is.
    * Traced: the same watermark, trigger and checkpoint, through a
    * `foreachBatch` wrapper that spans each `writeBatch` call. */
  def startPipeline(c: Ctx, stream: DataFrame, out: Path, ckpt: Path,
                    sink: SinkTrace): StreamingQuery =
    if (!c.tracer.enabled)
      ExtractionPipeline.start(stream, out.toString, ckpt.toString, triggerMs = 0L)
    else
      stream.withWatermark("ts", "10 seconds")
        .writeStream
        .trigger(Trigger.ProcessingTime(0L))
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch hands over the batch as an RDD-backed frame: its
          // partitions are the source's input partitions
          val parts = batch.rdd.getNumPartitions
          val t0 = System.nanoTime
          ExtractionPipeline.writeBatch(batch, batchId, out.toString)
          sink.add(SinkCall(batchId, t0, System.nanoTime, parts))
        }
        .start()

  /** For each expected event, the index of the first committed batch
    * whose end offset covers it, or -1. An event the checker passed that
    * no committed batch covers becomes a failure: its commit was never
    * observed, so it has no latency and counts in no throughput. */
  def cover(ch: Checked, exp: Expected, batches: Seq[Batch]): (Checked, Array[Int]) = {
    val ends = batches.map(_.endOffset).toArray
    val ok = ch.ok.clone()
    var lost = 0L
    val idx = Array.tabulate(exp.size) { i =>
      val b = java.util.Arrays.binarySearch(ends, exp.base + i) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      if (b < ends.length) b
      else {
        if (ok(i)) { ok(i) = false; lost += 1 }
        -1
      }
    }
    (ch.copy(failed = ch.failed + lost, ok = ok), idx)
  }

  /** Per-layer figures of the batches committed in a measured interval
    * (`runs` holds only those batches). */
  def layerMetrics(c: Ctx, runs: Seq[QueryRun], counters: Counters,
                   jvm: Jvm.Delta, clock: Clock): Map[String, Double] = {
    val batches = runs.flatMap(_.batches)
    def dur(k: String): Double =
      Stats.median(batches.map(_.durationMs.getOrElse(k, 0L).toDouble))
    val perBatch = runs.flatMap { r =>
      val calls = r.calls.map(k => k.batchId -> k).toMap
      r.batches.map(b => (b, r.checked.linesPerBatch.getOrElse(b.batchId, 0L),
        r.checked.filesPerBatch.getOrElse(b.batchId, 0), calls.get(b.batchId)))
    }
    // trigger spans from the progress reports, writeBatch spans as their
    // children; a trigger's self time excludes its writeBatch span
    perBatch.foreach { case (b, _, _, call) =>
      val tid = c.tracer.record("trigger", -1, clock.toNs(b.startMs),
        clock.toNs(b.commitMs), Map("batch_id" -> b.batchId))
      call.foreach(k => c.tracer.record("writeBatch", tid, k.startNs, k.endNs,
        Map("batch_id" -> b.batchId, "partitions" -> k.partitions)))
    }
    val calls = perBatch.flatMap(_._4)
    val selfMs = perBatch.flatMap { case (b, _, _, call) => call.map(k =>
      b.durationMs.getOrElse("triggerExecution", 0L) - (k.endNs - k.startNs) / 1e6) }
    val emitted = perBatch.map(_._2).sum.toDouble
    val bytesPerLine = runs.map(_.checked.bytes).sum.toDouble /
      math.max(1L, runs.map(_.checked.linesPerBatch.values.sum).sum)
    val n = math.max(1, batches.size).toDouble
    val actions = math.max(1L, counters.actions).toDouble
    Map(
      "source.read_amplification" ->
        (if (emitted > 0) batches.map(_.numInputRows).sum / emitted else 0.0),
      "source.latest_offset_ms" -> dur("latestOffset"),
      "source.partitions_per_trigger" -> Stats.median(calls.map(_.partitions.toDouble)),
      "trigger.count" -> batches.size.toDouble,
      "trigger.rows_p50" -> Stats.median(perBatch.map(_._2.toDouble)),
      "trigger.execution_ms" -> dur("triggerExecution"),
      "trigger.planning_ms" -> dur("queryPlanning"),
      "trigger.add_batch_ms" -> dur("addBatch"),
      "trigger.wal_commit_ms" -> dur("walCommit"),
      "trigger.commit_offsets_ms" -> dur("commitOffsets"),
      "trigger.self_ms" -> Stats.median(selfMs),
      "sink.write_batch_ms" -> Stats.median(calls.map(k => (k.endNs - k.startNs) / 1e6)),
      "sink.jobs_per_batch" -> counters.jobs / n,
      "sink.files_per_batch" -> Stats.median(perBatch.map(_._3.toDouble)),
      "sink.bytes_per_event" -> bytesPerLine,
      "plan.analysis_ms" -> counters.analysisMs / actions,
      "plan.optimization_ms" -> counters.optimizationMs / actions,
      "plan.planning_ms" -> counters.planningMs / actions,
      "codegen.compiles" -> counters.compiles.toDouble,
      "codegen.compile_ms" -> counters.compileNs / 1e6,
      "tasks.count" -> counters.tasks.toDouble,
      "tasks.run_s" -> counters.taskRunMs / 1e3,
      "tasks.cpu_s" -> counters.taskCpuNs / 1e9,
      "tasks.scheduler_delay_ms" ->
        counters.schedDelayMs / math.max(1L, counters.tasks).toDouble,
      "tasks.gc_s" -> counters.taskGcMs / 1e3,
      "shuffle.write_bytes" -> counters.shuffleWriteBytes.toDouble,
      "spill.bytes" -> counters.spillBytes.toDouble,
      "jvm.jit_s" -> jvm.jitS,
      "jvm.gc_s" -> jvm.gcS)
  }
}

/** Maps epoch milliseconds (progress reports) onto the nanoTime axis. */
final class Clock {
  private val before = System.nanoTime
  val epochMs0: Long = System.currentTimeMillis
  val nano0: Long = (before + System.nanoTime) / 2
  def toNs(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L
  def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6
}

/**
 * `live_tail`: an open-loop feeder appends seeded transactions to a
 * [[ChangeLogBuffer]] at a fixed rate while `ExtractionPipeline.start`
 * tails it (trigger interval 0, `numPartitions` = nproc). Each event is
 * timed from its due time to the commit of the first batch whose end
 * offset covers it.
 */
object LiveTail {
  def run(c: Ctx): Result = {
    val rate = if (c.smoke) 2000.0 else 20000.0
    val warmS = if (c.smoke) 1.0 else 12.0
    val dir = c.work.resolve("live_tail")
    val gen = new EventGen(c.seed)
    val clock = new Clock
    var attempted, failed = 0L
    def stream(name: String): DataFrame =
      ExtractionPipeline.readChangeLog(c.spark, name, numPartitions = c.nproc)

    // set-up, five times: start the pipeline over a small log and
    // commit its first batch
    val setupS = (1 to 5).map { k =>
      val name = s"live-setup-$k"
      val exp = new Expected(1L)
      val buf = ChangeLogBuffers.get(name)
      val now = System.currentTimeMillis * 1000L
      var id = 1L
      while (id <= 1000) {
        val ev = gen.txn(id, gen.txnSize(), _ => now)
        buf.append(ev.toSeq)
        ev.foreach(e => exp.add(e, EventGen.line(e, now)))
        id += ev.length
      }
      val t0 = System.nanoTime
      val q = Streams.startPipeline(c, stream(name), dir.resolve(s"setup-$k"),
        dir.resolve(s"setup-ckpt-$k"), new SinkTrace)
      q.processAllAvailable()
      val s = (System.nanoTime - t0) / 1e9
      q.stop()
      val ch = Checker.check(dir.resolve(s"setup-$k"), exp)
      attempted += ch.attempted
      failed += ch.failed
      ChangeLogBuffers.remove(name)
      s
    }

    val name = "live"
    val buf = ChangeLogBuffers.get(name)
    val exp = new Expected(1L)
    val dueNs = new ArrayBuffer[Long]()
    val out = dir.resolve("out")
    val sink = new SinkTrace
    val q = Streams.startPipeline(c, stream(name), out, dir.resolve("ckpt"), sink)
    val t0 = System.nanoTime + 200000000L
    val winStart = t0 + (warmS * 1e9).toLong
    val winEnd = winStart + c.seconds * 1000000000L
    val lateMaxNs = new java.util.concurrent.atomic.AtomicLong
    val feeder = new Thread(() => {
      var id = 1L
      var size = gen.txnSize()
      var due = t0
      while (due < winEnd) {
        val now = System.nanoTime
        if (now < due) LockSupport.parkNanos(due - now)
        else {
          if (due >= winStart) lateMaxNs.accumulateAndGet(now - due, math.max)
          val dueUs = (clock.toEpochMs(due) * 1000).toLong
          // event i of the transaction carries ts = due - (size-1-i) µs,
          // so the commit timestamp (max ts) is the due time itself
          val ev = gen.txn(id, size, i => dueUs - (size - 1 - i))
          buf.append(ev.toSeq)
          ev.foreach { e => exp.add(e, EventGen.line(e, dueUs)); dueNs += due }
          id += size
          due = t0 + ((id - 1) * 1e9 / rate).toLong
          size = gen.txnSize()
        }
      }
    }, "perfbench-feeder")
    LockSupport.parkNanos(t0 - System.nanoTime)
    feeder.start()
    val jit0 = Jvm.jitMs
    LockSupport.parkNanos(winStart - System.nanoTime)
    c.tracer.settle()
    val (cnt0, jvm0, jif0) = (c.tracer.counters, Jvm.sample(), Env.jiffies())
    LockSupport.parkNanos(winEnd - System.nanoTime)
    val (jvm1, jif1) = (Jvm.sample(), Env.jiffies())
    feeder.join()
    val maxAtEnd = buf.maxId
    c.progress.awaitCommitted(q.id, buf.maxId, 30000L)
    q.stop()
    val heapMb = Jvm.liveHeapMb()
    c.tracer.settle()
    val cnt1 = c.tracer.counters

    val firstMeasured = exp.base + dueNs.indexWhere(_ >= winStart)
    val batches = c.progress.batches(q.id)
    val (ch, cov) = Streams.cover(
      Checker.check(out, exp, Some(firstMeasured).filter(_ => c.smoke)), exp, batches)
    attempted += ch.attempted
    failed += ch.failed
    val commits = batches.map(_.commitMs).toArray
    val (wsMs, weMs) = (clock.toEpochMs(winStart), clock.toEpochMs(winEnd))
    // committed-by figures over correct events only: a failed event
    // counts in `failed` and in no timing
    val lat = new ArrayBuffer[Double]()
    var inWindow = 0L
    for (i <- 0 until exp.size if ch.ok(i)) {
      val b = cov(i)
      val due = dueNs(i)
      if (due >= winStart && due < winEnd)
        lat += commits(b) - clock.toEpochMs(due)
      if (commits(b) >= wsMs && commits(b) < weMs) inWindow += 1
    }
    val jvm = Jvm.delta(jvm0, jvm1)
    val units = math.max(1L, inWindow)
    val committedAtEnd = batches.filter(_.commitMs <= weMs).map(_.endOffset)
      .foldLeft(0L)(math.max)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "latency_p50_ms" -> Stats.pct(lat, 50),
      "latency_p99_ms" -> Stats.pct(lat, 99),
      "units_per_s" -> inWindow / jvm.wallS,
      "cpu_ms_per_unit" -> jvm.cpuS * 1e3 / units,
      "live_heap_mb" -> heapMb)
    val layers =
      if (!c.tracer.enabled) Map.empty[String, Double]
      else {
        val inWin = batches.filter(b => b.commitMs >= wsMs && b.commitMs < weMs)
        val (sliceMs, scanRatio) = sliceCost(buf, inWin, c.nproc)
        Streams.layerMetrics(c, Seq(QueryRun(inWin, ch, sink.all)), cnt1 - cnt0,
            jvm, clock) ++ Map(
          "source.slice_ms" -> sliceMs,
          "source.scanned_per_returned" -> scanRatio,
          "feeder.late_max_ms" -> lateMaxNs.get / 1e6,
          "feeder.backlog_end_events" -> (maxAtEnd - committedAtEnd).toDouble,
          "jvm.jit_s_warmup" -> (jvm0.jitMs - jit0) / 1e3)
      }
    ChangeLogBuffers.remove(name)
    Result(attempted, failed, e2e, layers, envShares(jif0, jif1),
      Map("latency_samples" -> lat.size,
        "measured_events" -> dueNs.count(d => d >= winStart && d < winEnd),
        "batches" -> batches.size,
        "offered_rate" -> rate))
  }

  /** Cost of one partition's `slice` of a typical measured trigger on
    * the final log, and that cost over the cost of slicing the same
    * events out of a log holding only them (≈ events scanned per event
    * returned when slicing is linear in the log it scans). */
  private def sliceCost(buf: ChangeLogBuffer, batches: Seq[Batch],
                        nproc: Int): (Double, Double) =
    batches.sortBy(b => b.endOffset - b.startOffset)
      .lift(batches.size / 2) match {
      case None => (0.0, 0.0)
      case Some(b) =>
        val r = OffsetRange(b.startOffset,
          b.startOffset + math.max(1L, (b.endOffset - b.startOffset) / nproc))
        def time(log: ChangeLogBuffer): Double = Stats.median((1 to 7).map { _ =>
          val t = System.nanoTime
          log.slice(r, None)
          (System.nanoTime - t) / 1e6
        })
        val only = new ChangeLogBuffer
        only.append(buf.slice(r, None))
        val full = time(buf)
        val exact = time(only)
        (full, if (exact > 0) full / exact else 0.0)
    }

  def envShares(a: Array[Long], b: Array[Long]): Map[String, Double] = {
    val (steal, busy) = Env.shares(a, b)
    Map("env.steal_pct" -> steal, "env.host_busy_pct" -> busy,
      "env.loadavg1" -> Env.loadavg1, "env.nproc" -> Env.nproc.toDouble)
  }
}
