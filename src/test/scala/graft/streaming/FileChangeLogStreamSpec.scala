package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FileChangeLogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("fcl").toString

  private def writeSegment(dir: String, ids: Range, baseMs: Long): Unit =
    FileChangeLogStream.writeSegment(
      ids.map(i => (i.toLong, new Timestamp(baseMs + i * 1000L), i.toLong % 5,
          if (i % 2 == 0) "click" else "purchase", i + 0.5, s"p$i"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir)

  test("streams the driver's nanos-timestamp parquet byte-for-byte") {
    val dir = tmp()
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "seg-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("fcl_ns")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_ns")
      .agg(count(lit(1)), min(graft.util.Cols.epochUs($"ts")), max($"event_id"))
      .as[(Long, Long, Long)].head()
    val exp = graft.sources.ChangeLogSource
      .changeLog(spark, "/root/testdata/sf0.001")
      .agg(count(lit(1)), min(graft.util.Cols.epochUs($"ts")), max($"event_id"))
      .as[(Long, Long, Long)].head()
    assert(got == exp) // same rows, same micros truncation as batch path
  }

  test("maxIdsPerPartition splits a large segment into covering sub-ranges") {
    val dir = tmp()
    writeSegment(dir, 0 until 500, 1700000000000L)
    // plan level: one 500-id segment must yield ceil(500/64) tasks
    val stream = new FileChangeLogMicroBatchStream(dir, Long.MaxValue,
      None, "earliest", maxIdsPerPartition = 64L)
    val parts = stream
      .planInputPartitions(ChangeLogOffset(-1L), ChangeLogOffset(499L))
      .map(_.asInstanceOf[FileChangeLogPartition])
    assert(parts.length == 8)
    // half-open ranges tile (-1, 499] with no gap or overlap
    val sorted = parts.sortBy(_.min)
    assert(sorted.head.min == -1L && sorted.last.max == 499L)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a.max == b.min; case _ => true })
    // data level: split read returns exactly the same rows
    val q = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).option("maxIdsPerPartition", 64)
      .load()
      .writeStream.format("memory").queryName("fcl_split")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_split")
      .agg(count(lit(1)), countDistinct($"event_id"), max($"event_id"))
      .as[(Long, Long, Long)].head()
    assert(got == ((500L, 500L, 499L)))
  }

  test("incremental segments + restart: exactly once, footer-stat offsets") {
    val dir = tmp()
    val ckpt = tmp()
    val out = tmp()
    writeSegment(dir, 0 until 40, 1700000000000L)
    def run(): Unit = {
      val q = spark.readStream.format(FileChangeLogStream.FormatName)
        .option("path", dir).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    writeSegment(dir, 40 until 90, 1700000000000L)
    run()
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(ids.sorted.toSeq == (0L until 90L))
    assert(ids.length == ids.distinct.length)
  }

  test("admission control + table filter on the file source") {
    val dir = tmp()
    writeSegment(dir, 0 until 60, 1700000000000L)
    val q = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).option("maxEventsPerTrigger", 20)
      .option("tables", "click").load()
      .writeStream.format("memory").queryName("fcl_cap")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("fcl_cap").select("event_id").as[Long].collect()
      assert(got.sorted.toSeq == (0L until 60L by 2))
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("null props stream through the extraction pipeline as `null`") {
    // Schema declares props nullable and the in-memory source passes
    // null through; a segment holding null props must do the same
    val dir = tmp()
    val out = tmp()
    val baseMs = 1700000000000L
    val rows = (0 until 30).map { i =>
      (i.toLong, new Timestamp(baseMs + i * 1000L), i.toLong % 4, "click",
        i + 0.25, if (i % 3 == 0) None else Some(s"p$i"))
    }
    FileChangeLogStream.writeSegment(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir)
    val stream = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).load()
    val q = ExtractionPipeline.start(stream, out, tmp(), triggerMs = 0L)
    try q.processAllAvailable() finally q.stop()

    // one batch holds the whole segment: commit_ts is each txid's max ts
    val commitUs = rows.groupBy(_._3).map { case (u, rs) =>
      u -> rs.map(_._2.getTime * 1000L).max }
    val expected = rows.map { case (id, ts, u, t, v, p) =>
      Seq(id, ts.getTime * 1000L, u, t, f"$v%.2f", p.getOrElse("null"),
        commitUs(u)).mkString("|")
    }.sorted
    val got = spark.read.text(out).select("value").as[String].collect().sorted
    assert(got.toSeq == expected)
    assert(got.count(_.split('|')(5) == "null") == 10)
  }
}
