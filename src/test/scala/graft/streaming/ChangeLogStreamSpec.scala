package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class ChangeLogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String = "click", userId: Long = 1L): ChangeEvent =
    ChangeEvent(id, 1700000000000000L + id * 1000000L, userId, t, 1.5, s"p$id")

  private def freshName(): String = s"t${System.nanoTime()}"

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  test("micro-batch source streams appended events exactly once") {
    val name = freshName()
    val buf = ChangeLogBuffers.get(name)
    buf.append((1L to 50L).map(ev(_)))
    val q = ExtractionPipeline.readChangeLog(spark, name, numPartitions = 3)
      .writeStream.format("memory").queryName(s"m$name")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      buf.append((51L to 80L).map(ev(_)))
      q.processAllAvailable()
      val got = spark.table(s"m$name").select("event_id").as[Long].collect()
      assert(got.sorted.toSeq == (1L to 80L))
      assert(got.length == got.distinct.length, "duplicated offsets")
    } finally q.stop()
  }

  test("restart from checkpoint resumes at committed offset (no loss/dup)") {
    val name = freshName()
    val buf = ChangeLogBuffers.get(name)
    val ckpt = tmp()
    val out = tmp()
    buf.append((1L to 30L).map(ev(_)))
    def run(): Unit = {
      val q = ExtractionPipeline.readChangeLog(spark, name)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    buf.append((31L to 60L).map(ev(_)))
    run() // second incarnation must pick up only 31..60
    val got = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got.sorted.toSeq == (1L to 60L))
    assert(got.length == got.distinct.length)
  }

  test("admission control caps events per micro-batch") {
    val name = freshName()
    ChangeLogBuffers.get(name).append((1L to 100L).map(ev(_)))
    val q = ExtractionPipeline.readChangeLog(spark, name,
        maxEventsPerTrigger = 25L)
      .writeStream.format("memory").queryName(s"m$name")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(s"m$name").count() == 100L)
      // 100 events / cap 25 -> at least 4 batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
      assert(q.recentProgress.forall(_.numInputRows <= 25))
    } finally q.stop()
  }

  test("tables option pushes the IN-list into the source") {
    val name = freshName()
    ChangeLogBuffers.get(name).append(Seq(
      ev(1, "click"), ev(2, "purchase"), ev(3, "error"), ev(4, "view")))
    val q = ExtractionPipeline.readChangeLog(spark, name,
        tables = Some(Seq("click", "view")))
      .writeStream.format("memory").queryName(s"m$name")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val got = spark.table(s"m$name").select("event_id").as[Long].collect()
      assert(got.sorted.toSeq == Seq(1L, 4L))
    } finally q.stop()
  }

  test("startAt=latest skips history like the reference coordinator") {
    val name = freshName()
    val buf = ChangeLogBuffers.get(name)
    buf.append((1L to 20L).map(ev(_)))
    val q = ExtractionPipeline.readChangeLog(spark, name, startAt = "latest")
      .writeStream.format("memory").queryName(s"m$name")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      buf.append((21L to 25L).map(ev(_)))
      q.processAllAvailable()
      val got = spark.table(s"m$name").select("event_id").as[Long].collect()
      assert(got.sorted.toSeq == (21L to 25L))
    } finally q.stop()
  }

  test("extraction pipeline writes enriched pipe lines end-to-end") {
    val name = freshName()
    ChangeLogBuffers.get(name).append(Seq(ev(1, "click", 7), ev(2, "view", 7)))
    val out = tmp()
    val stream = ExtractionPipeline.readChangeLog(spark, name)
    val q = ExtractionPipeline.start(stream, out, tmp(), triggerMs = 100L)
    try q.processAllAvailable() finally q.stop()
    val lines = spark.read.text(out).select("value").as[String].collect().sorted
    assert(lines.length == 2)
    val cols = lines.head.split('|')
    assert(cols.length == 7)
    assert(cols(0) == "1" && cols(2) == "7" && cols(3) == "click")
    // commit_ts = max ts of txid 7's events in the batch = event 2's ts
    assert(cols(6) == (1700000000000000L + 2000000L).toString)
  }

  test("staleness listener derives now - eventTime.max with running avg") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val fixedNow = 1700000100000L // event ts + 100 s
    val listener = new StalenessListener(() => fixedNow)
    spark.streams.addListener(listener)
    val q = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "1 second")
      .groupBy(window($"ts", "1 minute")).count()
      .writeStream.format("memory").queryName("stale_sink")
      .outputMode("update").option("checkpointLocation", tmp()).start()
    try {
      input.addData((new java.sql.Timestamp(1700000000000L), 1L))
      q.processAllAvailable()
      // allow async listener delivery
      val deadline = System.currentTimeMillis() + 10000
      while (listener.samples.forall(_.stalenessMs.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val s = listener.samples.filter(_.stalenessMs.nonEmpty)
    assert(s.nonEmpty, "no staleness sample recorded")
    assert(s.head.stalenessMs.get == 100000L)
    assert(s.head.avgStalenessMs.get == 100000.0)
  }
}
