package graft.streaming

/** The contract over the in-process buffer, plus the pipeline check
  * that rides on it. */
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
}
