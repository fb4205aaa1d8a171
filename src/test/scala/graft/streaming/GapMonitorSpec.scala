package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.GapMonitor.{GapEvent, Offset}

class GapMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def run(batches: Seq[Seq[Offset]], maxTracked: Int = 10000)
      : Seq[GapEvent] = {
    val input = MemoryStream[Offset](spark)
    val q = GapMonitor.monitor(input.toDS(), maxTracked)
      .writeStream.format("memory").queryName("gap_events")
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      spark.table("gap_events").as[GapEvent].collect().toSeq
    } finally q.stop()
  }

  test("contiguous offsets emit nothing; a jump emits the gap range") {
    val got = run(Seq(
      Seq(Offset("t", 1), Offset("t", 2), Offset("t", 3)),
      Seq(Offset("t", 4), Offset("t", 7)))) // 5,6 skipped
    assert(got == Seq(GapEvent("t", "gap", 5, 6)))
  }

  test("late arrival of a missing offset emits a fill; state is per-source") {
    val got = run(Seq(
      Seq(Offset("a", 1), Offset("a", 5), Offset("b", 10)),
      Seq(Offset("a", 3), Offset("b", 11)),
      Seq(Offset("a", 2), Offset("a", 4))))
    val a = got.filter(_.source == "a")
    assert(a.head == GapEvent("a", "gap", 2, 4))
    assert(a.tail.toSet == Set(GapEvent("a", "fill", 3, 3),
      GapEvent("a", "fill", 2, 2), GapEvent("a", "fill", 4, 4)))
    assert(got.filter(_.source == "b").isEmpty)
  }

  test("duplicate redelivery below the high-water mark is ignored") {
    val got = run(Seq(
      Seq(Offset("t", 1), Offset("t", 2)),
      Seq(Offset("t", 2), Offset("t", 1), Offset("t", 3))))
    assert(got.isEmpty)
  }

  test("integration: file-source segments with a hole surface the gap") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("gapint").toString
    def seg(ids: Range): Unit = FileChangeLogStream.writeSegment(
      ids.map(i => (i.toLong, new Timestamp(1700000000000L + i * 1000L),
          i.toLong % 5, "click", i + 0.5, s"p$i"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir)
    seg(0 until 40)
    seg(45 until 80) // ids 40..44 never landed
    val offsets = spark.readStream.format(ChangeLogStream.FormatName)
      .option("path", dir).load()
      .select(org.apache.spark.sql.functions.lit("t").as("source"),
        $"event_id".as("offset"))
      .as[GapMonitor.Offset]
    val q = GapMonitor.monitor(offsets)
      .writeStream.format("memory").queryName("gap_int")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gapck").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gap_int").as[GapMonitor.GapEvent].collect().toSeq
      assert(got == Seq(GapMonitor.GapEvent("t", "gap", 40, 44)))
    } finally q.stop()
  }

  test("missing-set stays bounded: a wide jump records the prefix as one lost range") {
    val got = run(Seq(
      Seq(Offset("t", 0), Offset("t", 10))), // 9 missing, cap 5
      maxTracked = 5)
    assert(got.count(_.kind == "gap") == 1)
    // ids 1..4 are never tracked (one range event); 5..9 are tracked
    assert(got.filter(_.kind == "lost") == Seq(GapEvent("t", "lost", 1, 4)))
    val fills = run(Seq(
      Seq(Offset("t", 0), Offset("t", 10)),
      Seq(Offset("t", 7))), maxTracked = 5)
    assert(fills.contains(GapEvent("t", "fill", 7, 7))) // tracked tail fillable
  }

  test("a pathological offset jump costs O(maxTracked), not O(jump)") {
    // would OOM / overflow a materialized range if the jump were realized
    val got = run(Seq(
      Seq(Offset("t", 0), Offset("t", Long.MaxValue - 1))), maxTracked = 10)
    assert(got.count(_.kind == "gap") == 1)
    assert(got.filter(_.kind == "lost") ==
      Seq(GapEvent("t", "lost", 1, Long.MaxValue - 12)))
  }
}
