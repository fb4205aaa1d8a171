package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.TxnTracker.{TxnEvent, TxnSummary}

class TxnTrackerSpec extends SparkSpec {
  import spark.implicits._

  test("flatMapGroupsWithState emits txn summaries on watermark timeout") {
    val input = MemoryStream[TxnEvent](spark)
    val tracked = TxnTracker.track(
      input.toDS().withWatermark("ts", "0 seconds").as[TxnEvent])
    val q = tracked.writeStream.format("memory").queryName("txns")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("txn").toString)
      .start()
    try {
      val t0 = 1700000000000L
      input.addData(
        TxnEvent(1L, new Timestamp(t0), 10L),
        TxnEvent(1L, new Timestamp(t0 + 5000), 11L),
        TxnEvent(2L, new Timestamp(t0 + 1000), 12L))
      q.processAllAvailable()
      // advance the watermark far past both txns' quiet periods
      input.addData(TxnEvent(99L, new Timestamp(t0 + 10 * 60000), 13L))
      q.processAllAvailable()
      input.addData(TxnEvent(98L, new Timestamp(t0 + 11 * 60000), 14L))
      q.processAllAvailable()
      val got = spark.table("txns").as[TxnSummary].collect()
        .map(s => s.userId -> s).toMap
      assert(got.contains(1L) && got.contains(2L))
      assert(got(1L).nEvents == 2L)
      assert(got(1L).commitTs == new Timestamp(t0 + 5000))
      assert(got(1L).minEventId == 10L && got(1L).maxEventId == 11L)
      assert(got(2L).nEvents == 1L)
    } finally q.stop()
  }

  test("custom functions are SQL-registered via GraftExtensions") {
    val sim = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    val sim2 = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    assert(sim == sim2 && sim != 0L)
    val mh = spark.sql(
      "SELECT minhash_signature(array('x'), 4) AS m").as[Seq[Long]].head()
    assert(mh.size == 4)
    val fp = spark.sql(
      "SELECT rolling_fingerprints('hello world rolling', 8, 2) AS f")
      .as[Seq[Long]].head()
    assert(fp.forall(_ % 2 == 0))
  }

  test("task metrics listener records per-task durations and rows") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 10000
      while (listener.samples.size < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val s = listener.samples
      assert(s.size >= 4)
      assert(s.forall(_.durationMs >= 0))
      assert(listener.toDF(spark).columns.contains("recordsRead"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
