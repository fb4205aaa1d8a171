package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The contract over parquet segments, plus the segment-specific
  * reads: nanos timestamps, null `props`, one large segment split. */
class FileChangeLogStreamSpec extends ChangeLogContract {
  import spark.implicits._

  override protected def newLog(): Log = new Log {
    private val dir = tmp()
    override def option: (String, String) = "path" -> dir
    override def append(events: Seq[ChangeEvent]): Unit =
      FileChangeLogStream.writeSegment(events.map(e =>
          (e.eventId, new Timestamp(e.tsMicros / 1000L), e.userId,
            e.eventType, e.value, e.props))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        dir)
  }

  test("streams the driver's nanos-timestamp parquet byte-for-byte") {
    val dir = tmp()
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "seg-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = spark.readStream.format(ChangeLogStream.FormatName)
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

  test("numPartitions splits a large segment into covering sub-ranges") {
    val log = newLog()
    log.append((0L until 500L).map(ev(_)))
    // plan level: one 500-id segment must yield 8 tasks
    val stream = new ChangeLogScanBuilder(new CaseInsensitiveStringMap(
        Map(log.option, "numPartitions" -> "8").asJava))
      .toMicroBatchStream(tmp())
    val parts = stream
      .planInputPartitions(ChangeLogOffset(-1L), ChangeLogOffset(499L))
      .map(_.asInstanceOf[SegmentPartition])
    assert(parts.length == 8)
    // half-open ranges tile (-1, 499] with no gap or overlap
    val sorted = parts.sortBy(_.min)
    assert(sorted.head.min == -1L && sorted.last.max == 499L)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a.max == b.min; case _ => true })
    // data level: the split read returns exactly the same rows
    val q = read(log, "numPartitions" -> 8)
      .writeStream.format("memory").queryName("fcl_split")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_split")
      .agg(count(lit(1)), countDistinct($"event_id"), max($"event_id"))
      .as[(Long, Long, Long)].head()
    assert(got == ((500L, 500L, 499L)))
  }

  test("a zero-row segment between two batches adds no span and is not fatal") {
    // an empty batch lands as a footer-only file: no row group, so no
    // event_id statistics to take a span from
    val log = newLog()
    log.append((0L until 10L).map(ev(_)))
    inMemory(read(log)) { (got, q) =>
      q.processAllAvailable()
      log.append(Nil)
      q.processAllAvailable()
      log.append((10L until 20L).map(ev(_)))
      q.processAllAvailable()
      assert(new java.io.File(log.option._2).listFiles()
        .count(_.getName.endsWith(".parquet")) == 3)
      assert(got() == (0L until 20L))
    }
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
    val stream = spark.readStream.format(ChangeLogStream.FormatName)
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
