package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/**
 * The one offset contract of [[ChangeLogStream]], run against each log
 * backend: exactly-once, restart at the committed offset, the
 * admission cap, `tables` pushdown and both `startAt` points, from a
 * populated and from an empty log. A backend spec supplies only how to
 * make a log and land events in it.
 */
abstract class ChangeLogContract extends SparkSpec {
  import spark.implicits._

  /** An empty log of the backend under test. */
  protected trait Log {
    /** The reader option that names this log (`buffer` or `path`). */
    def option: (String, String)
    /** Land events in id order, one transaction per call. */
    def append(events: Seq[ChangeEvent]): Unit
  }
  protected def newLog(): Log

  protected def ev(id: Long, t: String = "click", userId: Long = 1L): ChangeEvent =
    ChangeEvent(id, 1700000000000000L + id * 1000000L, userId, t, 1.5, s"p$id")

  protected def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  protected def read(log: Log, options: (String, Any)*): DataFrame =
    options.foldLeft(spark.readStream.format(ChangeLogStream.FormatName)
        .option(log.option._1, log.option._2)) {
      case (r, (k, v)) => r.option(k, v.toString)
    }.load()

  /** Run `body` over a memory-sink query of `df`, then stop it. */
  protected def inMemory[A](df: DataFrame)(body: (() => Seq[Long],
      org.apache.spark.sql.streaming.StreamingQuery) => A): A = {
    val name = s"m${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try body(() => spark.table(name).select("event_id").as[Long]
      .collect().toSeq.sorted, q)
    finally q.stop()
  }

  test("micro-batch source streams appended events exactly once") {
    val log = newLog()
    log.append((1L to 50L).map(ev(_)))
    inMemory(read(log, "numPartitions" -> 3)) { (got, q) =>
      q.processAllAvailable()
      log.append((51L to 80L).map(ev(_)))
      q.processAllAvailable()
      assert(got() == (1L to 80L), "lost or duplicated offsets")
    }
  }

  test("restart from checkpoint resumes at committed offset (no loss/dup)") {
    val log = newLog()
    val ckpt = tmp()
    val out = tmp()
    log.append((1L to 30L).map(ev(_)))
    def run(): Unit = {
      val q = read(log).writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    log.append((31L to 60L).map(ev(_)))
    run() // second incarnation must pick up only 31..60
    val got = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got.sorted.toSeq == (1L to 60L))
  }

  test("admission control caps events per micro-batch") {
    val log = newLog()
    log.append((1L to 100L).map(ev(_)))
    inMemory(read(log, "maxEventsPerTrigger" -> 25)) { (got, q) =>
      q.processAllAvailable()
      assert(got() == (1L to 100L))
      // 100 events / cap 25 -> at least 4 batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
      assert(q.recentProgress.forall(_.numInputRows <= 25))
    }
  }

  test("a cap or partition count below 1 fails the query, naming the option") {
    // a cap of 0 would stall the stream silently; 0 partitions would
    // fail with a bare "requirement failed" at the first batch; an
    // unknown startAt (its case differs, or a typo) would replay the log
    val log = newLog()
    log.append((1L to 10L).map(ev(_)))
    for ((opt, bad) <- Seq("maxEventsPerTrigger" -> 0, "numPartitions" -> 0,
        "startAt" -> "Latest"))
      inMemory(read(log, opt -> bad)) { (_, q) =>
        val e = intercept[StreamingQueryException](q.awaitTermination(60000L))
        assert(e.getCause.isInstanceOf[IllegalArgumentException], e)
        assert(e.getCause.getMessage.contains(opt), e.getCause.getMessage)
      }
  }

  test("tables option pushes the IN-list into the source") {
    val log = newLog()
    log.append(Seq(ev(1, "click"), ev(2, "purchase"), ev(3, "error"),
      ev(4, "view")))
    inMemory(read(log, "tables" -> "click, view")) { (got, q) =>
      q.processAllAvailable()
      assert(got() == Seq(1L, 4L))
    }
  }

  test("startAt=latest skips history like the reference coordinator") {
    val log = newLog()
    log.append((1L to 20L).map(ev(_)))
    inMemory(read(log, "startAt" -> "latest")) { (got, q) =>
      q.processAllAvailable()
      log.append((21L to 25L).map(ev(_)))
      q.processAllAvailable()
      assert(got() == (21L to 25L))
    }
  }

  test("a stream started on an empty log reads its first event, earliest or latest") {
    // an empty log sits before any id: the first range must hold id 0
    for (startAt <- Seq("earliest", "latest")) {
      val log = newLog()
      inMemory(read(log, "startAt" -> startAt)) { (got, q) =>
        q.processAllAvailable()
        log.append((0L to 9L).map(ev(_)))
        q.processAllAvailable()
        assert(got() == (0L to 9L), s"startAt=$startAt")
      }
    }
  }
}
