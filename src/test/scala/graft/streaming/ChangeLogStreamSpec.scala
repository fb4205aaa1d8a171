package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The contract over the in-process buffer, plus the pipeline and
  * listener checks that ride on it. */
class ChangeLogStreamSpec extends ChangeLogContract {
  import spark.implicits._

  private def freshName(): String = s"t${System.nanoTime()}"

  override protected def newLog(): Log = new Log {
    private val name = freshName()
    override def option: (String, String) = "buffer" -> name
    override def append(events: Seq[ChangeEvent]): Unit =
      ChangeLogBuffers.get(name).append(events)
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
