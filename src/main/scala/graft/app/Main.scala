package graft.app

import graft.model.EventGroups
import graft.sources.ChangeLogSource
import graft.streaming.{ChangeEvent, ChangeLogBuffers, ChangeLogStream, ExtractionPipeline}
import graft.util.Cols

/**
 * The reference `Client.main` (`Client.java:11-49`) re-expressed: same
 * four knobs, Spark semantics.
 *
 * | reference `-D` knob | here (arg or -D)   | maps to                    |
 * |---------------------|--------------------|----------------------------|
 * | numberOfThread      | graft.partitions   | source numPartitions       |
 * | sleepDuration (ms)  | graft.triggerMs    | Trigger.ProcessingTime     |
 * | runDuration (min)   | graft.runMs        | awaitTermination timeout   |
 * | tables (group name) | graft.tables       | source IN-list pushdown    |
 *
 * A feeder thread replays the driver `events` table into the change
 * log at a steady rate (the TPC-C writer stand-in); the extraction
 * query tails it; its freshness log prints staleness/throughput at the
 * end (replacing the reference's three CSV writers).
 */
object Main {
  def main(args: Array[String]): Unit = {
    val partitions = sys.props.getOrElse("graft.partitions", "4").toInt
    val triggerMs = sys.props.getOrElse("graft.triggerMs", "500").toLong
    val runMs = sys.props.getOrElse("graft.runMs", "15000").toLong
    val group = sys.props.getOrElse("graft.tables", "all")
    val sfDir = sys.props.getOrElse("graft.sfDir", "/root/testdata/sf0.001")
    val outDir = sys.props.getOrElse("graft.outDir", "target/extract_out")
    // Feeder cap, buffer mode only: the feeder collects at most this
    // many offsets (default 1M ≈ sf1), so a huge table can't OOM the
    // driver; production runs use -Dgraft.sourceDir (no collect).
    val feederMax = sys.props.getOrElse("graft.feederMaxRows", "1000000").toInt
    val tables = group match {
      case "all" => EventGroups.All
      case "first" => EventGroups.First
      case "second" => EventGroups.Second
      case "third" => EventGroups.Third
      case other => other.split(",").toSeq
    }

    // -Dgraft.sourceDir=<dir of parquet segments> switches from the
    // in-process buffer to the file-backed source (production shape).
    val sourceDir = sys.props.get("graft.sourceDir")

    val spark = graft.GraftSession.builder().appName("graft-extractor")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runTag = java.lang.Long.toHexString(System.nanoTime())

    val events = ChangeLogSource.table(spark, sfDir, "events").count()
    val total = if (sourceDir.isDefined) events else math.min(events, feederMax)
    // The log: a segment directory as is, or a buffer the feeder fills.
    val (logOption, logName) = sourceDir match {
      case Some(d) => "path" -> d
      case None =>
        // Feeder: replay the events table into the buffer in batches,
        // the first `feederMax` offsets only (dev harness).
        // ts converts to epoch micros INSIDE the plan (Cols.epochUs is
        // NTZ-safe); a Row.getTimestamp here would ClassCastException
        // on TIMESTAMP_NTZ parquet, which surfaces as LocalDateTime
        import org.apache.spark.sql.functions.col
        val rows = ChangeLogSource.table(spark, sfDir, "events")
          .select(col("event_id"), Cols.epochUs(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .orderBy("event_id").limit(feederMax)
          .collect()
          .map(r => ChangeEvent(r.getLong(0), r.getLong(1),
            r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5)))
          .sortBy(_.eventId)
        val bufName = s"main-${System.nanoTime()}"
        val buffer = ChangeLogBuffers.get(bufName)
        val feeder = new Thread(() => {
          rows.grouped(math.max(1, rows.length / 20)).foreach { chunk =>
            buffer.append(chunk.toSeq)
            Thread.sleep(triggerMs / 2)
          }
        }, "changelog-feeder")
        feeder.setDaemon(true)
        feeder.start()
        "buffer" -> bufName
    }
    def open(filter: Seq[String]): org.apache.spark.sql.DataFrame = {
      val r = spark.readStream.format(ChangeLogStream.FormatName)
        .option(logOption, logName).option("numPartitions", partitions)
      (if (filter != EventGroups.All) r.option("tables", filter.mkString(","))
       else r).load()
    }
    // `stream` is the (possibly table-filtered) extraction input;
    // `monitorStream` is a second, UNFILTERED reader of the same log —
    // a filtered stream legitimately has event_id holes, so feeding it
    // to the gap monitor would report spurious gaps for any subgroup
    // run. Each streaming query checkpoints its own offsets, so two
    // readers over one log are independent.
    val (stream, monitorStream) = (open(tables), open(EventGroups.All))
    val query = ExtractionPipeline.start(stream, outDir,
      s"$outDir-checkpoint", triggerMs)

    // Live (min,max] integrity check alongside extraction: every
    // extracted offset feeds the gap monitor; gap/fill/lost events
    // surface in the gap_events table (the check the reference never
    // had — a crashed worker's range loss was silent, SURVEY §3.4).
    import spark.implicits._
    val gapQuery = graft.streaming.GapMonitor.monitor(
        monitorStream.select(org.apache.spark.sql.functions.lit("events").as("source"),
          org.apache.spark.sql.functions.col("event_id").as("offset"))
          .as[graft.streaming.GapMonitor.Offset])
      .writeStream.format("memory").queryName("gap_events")
      .outputMode("append")
      // memory-sink queries cannot recover from a checkpoint — a
      // stale dir from a killed run would fail the next one, so these
      // dev-harness sinks get a fresh location per run (the EXTRACTION
      // checkpoint stays stable: restartability there is the feature)
      .option("checkpointLocation", s"$outDir-gap-checkpoint-$runTag")
      .start()

    // Live behavior analytics on the same log: cross-batch event-type
    // transitions via per-user carried state (a per-batch lag would
    // drop every boundary-spanning pair).
    val fn = org.apache.spark.sql.functions
    val transQuery = graft.streaming.TransitionTracker.track(
        monitorStream.select(fn.col("user_id").as("userId"), fn.col("ts"),
            fn.col("event_id").as("eventId"),
            fn.col("event_type").as("eventType"))
          .withWatermark("ts", "10 minutes")
          .as[graft.streaming.TransitionTracker.TEvent])
      .writeStream.format("memory").queryName("transition_counts")
      .outputMode("append")
      .option("checkpointLocation", s"$outDir-trans-checkpoint-$runTag")
      .start()

    query.awaitTermination(runMs) // runDuration ≙ `Client.java:34-42`
    query.stop()
    gapQuery.processAllAvailable()
    gapQuery.stop()
    val gaps = spark.table("gap_events").count()
    println(s"GAP_EVENTS n=$gaps")
    transQuery.processAllAvailable()
    transQuery.stop()
    val transitions = spark.table("transition_counts")
      .agg(fn.coalesce(fn.sum(fn.col("n")), fn.lit(0L))).head().getLong(0)
    println(s"TRANSITIONS total=$transitions")

    val extracted = spark.read.text(outDir).count()
    println(s"EXTRACTED rows=$extracted of=$total tables=$group" +
      s" source=${sourceDir.fold("buffer")(_ => "files")}")
    val landed = ExtractionPipeline.freshness(query.id)
    landed.takeRight(3).foreach(l => println(s"METRIC $l"))
    // S6: the staleness/throughput CSV the reference's sampler wrote
    graft.sinks.Sinks.writeMetricsCsv(landed, spark, s"$outDir-metrics")
    println(s"METRICS_CSV $outDir-metrics")
    spark.stop()
  }
}
