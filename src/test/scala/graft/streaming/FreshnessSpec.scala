package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.execution.streaming.operators.stateful.EventTimeWatermarkExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.streaming.GapMonitor.Offset

/** Staleness from the extraction's own sink: the per-query log of
  * [[Landed]] records and the two figures [[Freshness]] derives from it. */
class FreshnessSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-fresh").toString

  private def ev(id: Long): ChangeEvent =
    ChangeEvent(id, 1700000000000000L + id * 1000000L, id % 7, "click", 1.5, s"p$id")

  test("time-weighted staleness matches a 10 ms sampler of now - uptodate, not the trough mean") {
    // (visibleMs, landed max commit ts in ms): a batch before anything
    // landed, a zero-row batch mid-run, and one whose max is below the
    // running max; neither of the last two lowers uptodate
    val timeline = Seq(900L -> None, 1000L -> Some(800L), 1300L -> Some(1250L),
      1450L -> None, 1900L -> Some(1200L), 2000L -> Some(1950L), 2600L -> Some(2100L))
    val log = timeline.zipWithIndex.map { case ((t, u), i) =>
      Landed(i.toLong, u.fold(0L)(_ => 10L), u.map(_ * 1000L), t) }

    val troughs = Freshness.troughsMs(log)
    assert(troughs == Seq(None, Some(200.0), Some(50.0), Some(200.0),
      Some(650.0), Some(50.0), Some(500.0)))
    val weighted = Freshness.timeWeightedMs(log)
    assert(weighted.take(2) == Seq(None, None)) // no span yet
    assert(weighted.drop(2).forall(_.isDefined))

    // the reference's sampler: every 10 ms from the first landing,
    // now − the largest commit ts visible by then
    val landedAt = log.filter(_.maxCommitUs.isDefined)
    def uptodateMs(t: Long): Long = landedAt.filter(_.visibleMs <= t)
      .flatMap(_.maxCommitUs).max / 1000L
    val samples = (landedAt.head.visibleMs + 5 until log.last.visibleMs by 10L)
      .map(t => (t - uptodateMs(t)).toDouble)
    val sampled = samples.sum / samples.size
    val exact = weighted.last.get
    assert(math.abs(exact - sampled) <= 5.0, s"exact $exact sampled $sampled")
    val troughMean = troughs.flatten.sum / troughs.flatten.size
    assert(math.abs(exact - troughMean) > 50.0, s"exact $exact troughs $troughMean")
  }

  test("the extraction's freshness log holds one record per batch, not the other query's") {
    val name = s"fresh${System.nanoTime()}"
    val buffer = ChangeLogBuffers.get(name)
    val out = tmp()
    val query = ExtractionPipeline.start(ExtractionPipeline.readChangeLog(spark,
      name, numPartitions = 3, maxEventsPerTrigger = 40L), out, tmp(), triggerMs = 50L)
    // a second query over the same buffer, as graft.app.Main runs the gap monitor
    val gaps = GapMonitor.monitor(ExtractionPipeline.readChangeLog(spark, name)
        .select(lit("events").as("source"), col("event_id").as("offset")).as[Offset])
      .writeStream.format("memory").queryName(s"gaps${System.nanoTime()}")
      .outputMode("append").option("checkpointLocation", tmp()).start()
    try {
      Seq(1L to 50L, 51L to 90L, 91L to 130L).foreach { ids =>
        buffer.append(ids.map(ev))
        query.processAllAvailable()
        gaps.processAllAvailable()
      }
    } finally { query.stop(); gaps.stop() }

    val log = ExtractionPipeline.freshness(query.id)
    assert(ExtractionPipeline.freshness(gaps.id).isEmpty)
    val dirs = new java.io.File(out).list().filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
    assert(log.map(_.batchId) == dirs, "one record per extraction batch, in order")
    assert(dirs.size >= 4, dirs) // 130 events at 40 per trigger
    assert(log.map(_.rows).sum == 130L)
    assert(spark.read.text(out).count() == 130L)
    log.foreach { l =>
      val last = spark.read.text(s"$out/batch=${l.batchId}").as[String]
        .collect().map(_.split('|').last.toLong)
      assert(l.rows == last.length, l)
      assert(l.maxCommitUs == last.maxOption, l)
    }
    assert(log.map(_.visibleMs) == log.map(_.visibleMs).sorted)
  }

  test("the extraction plan holds no EventTimeWatermark node") {
    val name = s"fresh${System.nanoTime()}"
    ChangeLogBuffers.get(name).append((1L to 10L).map(ev))
    val query = ExtractionPipeline.start(ExtractionPipeline.readChangeLog(spark, name),
      tmp(), tmp(), triggerMs = 50L)
    try query.processAllAvailable() finally query.stop()
    val last = query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(last != null, "no batch ran")
    assert(last.analyzed.find(_.isInstanceOf[EventTimeWatermark]).isEmpty,
      last.analyzed.treeString)
    assert(last.executedPlan.find(_.isInstanceOf[EventTimeWatermarkExec]).isEmpty,
      last.executedPlan.treeString)
  }
}
