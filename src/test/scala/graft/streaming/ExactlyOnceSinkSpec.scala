package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/**
 * End-to-end exactly-once proof for the extraction FILE SINK across a
 * mid-batch kill — the reference's no-retry defect class (SURVEY
 * §3.4, `CoordinatorRunnable.java:35-42`: a worker crash mid-chunk
 * lost the task or duplicated rows, and nothing replayed it).
 *
 * The T2 restart spec proves OFFSETS resume; this one proves the
 * OUTPUT: a batch is killed after writing a partial chunk file, the
 * query is restarted from the checkpoint, and the final directory
 * must contain every line exactly once.
 */
class ExactlyOnceSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long): ChangeEvent =
    ChangeEvent(id, 1700000000000000L + id * 1000000L, id % 7,
      "click", id / 2.0, s"p$id")

  private def tmp(): String =
    Files.createTempDirectory("graft-eo").toString

  test("mid-batch kill + checkpoint restart: no duplicate, no missing line") {
    val name = s"eo${System.nanoTime()}"
    val buf = ChangeLogBuffers.get(name)
    buf.append((1L to 200L).map(ev))
    val outDir = tmp(); val ckpt = tmp()
    val crashArmed = new AtomicBoolean(true)

    def runQuery(): Unit = {
      val q = ExtractionPipeline
        .readChangeLog(spark, name, numPartitions = 2,
          maxEventsPerTrigger = 60L) // 200 events -> >= 4 batches
        .writeStream
        .trigger(Trigger.ProcessingTime(50L))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          if (id == 1L && crashArmed.getAndSet(false)) {
            // the mid-batch kill: a PARTIAL chunk reaches the batch
            // directory (what a dying worker leaves behind), then the
            // "process" dies before the batch commits
            batch.limit(13)
              .select(col("event_id").cast("string").as("line"))
              .write.mode("append").text(s"$outDir/batch=$id")
            throw new RuntimeException("injected mid-batch crash")
          }
          ExtractionPipeline.writeBatch(batch, id, outDir)
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        q.stop()
      } catch {
        case e: StreamingQueryException =>
          // only the injected crash may kill the query
          assert(e.getMessage.contains("injected mid-batch crash") ||
            Option(e.getCause).exists(_.getMessage != null) &&
              e.getCause.getMessage.contains("injected mid-batch crash"),
            e.toString)
          q.stop()
      }
    }

    runQuery()  // dies on batch 1 with partial output on disk
    assert(!crashArmed.get(), "crash never fired — batch sizing changed?")
    runQuery()  // restart from checkpoint: replays batch 1, finishes

    // the sink directory must now hold ids 1..200 exactly once —
    // the overwrite replaced the partial chunk whole
    val lines = spark.read.text(outDir)
      .select("value").as[String].collect()
    val ids = lines.map(_.split('|')(0).toLong).sorted
    assert(ids.length == ids.distinct.length,
      s"duplicate lines after replay: ${ids.length} vs ${ids.distinct.length}")
    assert(ids.toSeq == (1L to 200L), s"missing/extra ids (n=${ids.length})")
    // and every line is the full enriched 7-field envelope, not the
    // partial stub the crash left behind
    assert(lines.forall(_.split('|').length == 7))
  }
}
