package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** The contract over the in-process buffer, plus the pipeline check
  * that rides on it and what the buffer keeps while Spark reads it. */
class ChangeLogStreamSpec extends ChangeLogContract {
  import spark.implicits._

  private def freshName(): String = s"t${System.nanoTime()}"

  override protected def newLog(): Log = newLogNamed(freshName())

  private def newLogNamed(name: String): Log = new Log {
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

  /** End offset of the last batch `q` has reported, or before any id. */
  private def reported(q: StreamingQuery): Long =
    Option(q.lastProgress).fold(ChangeLogStream.BeforeAnyId)(
      _.sources.head.endOffset.trim.toLong)

  test("retained events stay within the uncommitted span plus one batch, " +
      "however many batches run") {
    val name = freshName()
    val buf = ChangeLogBuffers.get(name)
    val cap = 100L
    val total = 3000L
    val appender = new Thread(() => {
      (1L to total by 10L).foreach { id =>
        buf.append((id until id + 10L).map(ev(_)))
        Thread.sleep(2L)
      }
    }, "retention-appender")
    val df = spark.readStream.format(ChangeLogStream.FormatName)
      .option("buffer", name).option("numPartitions", 2)
      .option("maxEventsPerTrigger", cap).load()
    inMemory(df) { (got, q) =>
      q.processAllAvailable() // the stream has registered
      appender.start()
      var worst = 0L
      val deadline = System.nanoTime() + 120L * 1000000000L
      while ((appender.isAlive || reported(q) < total) && q.isActive &&
          System.nanoTime() < deadline) {
        // Spark commits batch k's end as it builds batch k + 1, and
        // reports batch k + 1 only after that: the buffer's floor is at
        // most one batch behind the reported end
        val done = reported(q)
        buf.span.foreach { case (first, last) =>
          worst = math.max(worst, (last - first + 1) - (last - done))
        }
        Thread.sleep(5L)
      }
      assert(worst <= cap, s"held $worst events past the uncommitted span")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 20)
      assert(got() == (1L to total), "lost or duplicated offsets")
    }
    ChangeLogBuffers.remove(name)
  }

  test("a restart from a checkpoint below the floor fails, naming the lost range") {
    val name = freshName()
    val buf = ChangeLogBuffers.get(name)
    val ckpt = tmp()
    val out = tmp()
    def resume(): StreamingQuery =
      read(newLogNamed(name)).writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
    buf.append((1L to 30L).map(ev(_)))
    val first = resume()
    try first.processAllAvailable() finally first.stop()
    // while that reader is stopped, another one commits past its offset
    inMemory(read(newLogNamed(name))) { (_, q) =>
      Seq(31L to 60L, 61L to 70L, 71L to 75L).foreach { ids =>
        buf.append(ids.map(ev(_)))
        q.processAllAvailable()
      }
    }
    val floor = buf.floor
    assert(floor >= 60L, s"floor $floor")
    val again = resume()
    try {
      val e = intercept[StreamingQueryException](again.awaitTermination(60000L))
      assert(e.getCause.isInstanceOf[IllegalStateException], e)
      assert(e.getCause.getMessage.contains(s"(30, $floor]"), e.getCause.getMessage)
    } finally again.stop()
    ChangeLogBuffers.remove(name)
  }
}
