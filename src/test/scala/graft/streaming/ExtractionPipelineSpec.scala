package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CdcOps
import graft.sources.ChangeLogSource.{splitRange, OffsetRange}

/**
 * The extraction sink reads each micro-batch once: its window
 * enrichment writes exactly the lines the `commitTsDim` +
 * `enrichCommitTs` join writes on the same batch, with transactions
 * cut by the source's partition ranges and by admission control.
 */
class ExtractionPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  /** Transactions of 1-8 consecutive ids under a fresh txid, with `ts`
    * shuffled inside each so the commit ts is not simply the last id's. */
  private def transactions(rnd: Random, n: Int): Vector[ChangeEvent] = {
    var id = 0L
    (1 to n).toVector.flatMap { txid =>
      val size = 1 + rnd.nextInt(8)
      val base = 1700000000000000L + txid * 10000000L
      rnd.shuffle((0 until size).toVector).map { k =>
        id += 1
        ChangeEvent(id, base + k * 1000L + rnd.nextInt(1000), txid.toLong,
          if (rnd.nextBoolean()) "click" else "purchase", id * 0.25,
          if (rnd.nextInt(5) == 0) null else s"p$id")
      }
    }
  }

  test("one scan per batch: join-identical lines, commit_ts = in-batch max ts") {
    val name = s"pipe${System.nanoTime()}"
    val evs = transactions(new Random(42L), 60)
    ChangeLogBuffers.get(name).append(evs)
    val out = tmp()
    val stream = ExtractionPipeline.readChangeLog(spark, name,
      numPartitions = 4, maxEventsPerTrigger = 70L)
    val q = ExtractionPipeline.start(stream, out, tmp(), triggerMs = 0L)
    val progress = try {
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0)
    } finally q.stop()

    // each batch's (start, end] offsets, as the progress reports give them
    val batches = progress.map { p =>
      val s = p.sources.head
      p.batchId -> OffsetRange(
        Option(s.startOffset).fold(0L)(_.trim.toLong), s.endOffset.trim.toLong)
    }.toSeq.sortBy(_._1)
    assert(batches.length >= 3, s"expected several batches: $batches")
    assert(batches.last._2.max == evs.last.eventId)

    val inBatch = batches.map { case (id, r) =>
      (id, r, evs.filter(e => e.eventId > r.min && e.eventId <= r.max)) }
    // the fixture must exercise the hard case: a transaction split
    // between two of the source's partition ranges inside one batch
    val straddles = inBatch.exists { case (_, r, rows) =>
      val cuts = splitRange(r, 4).map(_.max).init
      rows.groupBy(_.userId).values.exists { es =>
        val ids = es.map(_.eventId)
        cuts.exists(c => ids.min <= c && ids.max > c)
      }
    }
    assert(straddles, "no transaction crosses a partition boundary")

    val linesWritten = inBatch.map { case (id, _, rows) =>
      val got = spark.read.text(s"$out/batch=$id")
        .select("value").as[String].collect().sorted.toSeq

      // commit_ts is the transaction's max ts within this batch
      val commit = rows.groupBy(_.userId).map { case (u, es) =>
        u -> es.map(_.tsMicros).max }
      got.foreach { line =>
        val f = line.split('|')
        assert(f(6).toLong == commit(f(2).toLong), line)
      }

      // line for line what the two-scan dim + join produces on the batch
      val df = rows.toDF().select($"eventId".as("event_id"),
        timestamp_micros($"tsMicros").as("ts"), $"userId".as("user_id"),
        $"eventType".as("event_type"), $"value", $"props")
      val viaJoin = ExtractionPipeline.pipeLines(
          CdcOps.enrichCommitTs(df, CdcOps.commitTsDim(df)))
        .as[String].collect().sorted.toSeq
      assert(got == viaJoin, s"batch $id")
      got.length.toLong
    }.sum
    assert(linesWritten == evs.length)
    // read amplification 1: the source rows counted once per batch
    assert(progress.map(_.numInputRows).sum == linesWritten)
  }
}
