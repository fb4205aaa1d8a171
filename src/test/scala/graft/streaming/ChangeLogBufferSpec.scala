package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ChangeLogSource.OffsetRange

/**
 * What the in-process buffer holds: every appended transaction whole or
 * not at all, and only the ids some registered stream has not committed.
 * The streams here are driven by hand, the calls Spark makes per batch
 * in the order it makes them, so each trim point is exact.
 */
class ChangeLogBufferSpec extends AnyFunSuite {

  private def ev(id: Long): ChangeEvent =
    ChangeEvent(id, 1700000000000000L + id, 1L, "click", 1.0, s"p$id")

  private def fresh(): (String, ChangeLogBuffer) = {
    val name = s"buf${System.nanoTime()}"
    (name, ChangeLogBuffers.get(name))
  }

  private def stream(name: String): ChangeLogMicroBatchStream =
    new ChangeLogScanBuilder(new CaseInsensitiveStringMap(
        Map("buffer" -> name, "maxEventsPerTrigger" -> "10").asJava))
      .toMicroBatchStream("unused").asInstanceOf[ChangeLogMicroBatchStream]

  /** A hand-driven reader: each `batch` plans and reads the next
    * admitted range, then commits the previous batch's end, as Spark
    * does when it builds the next batch. */
  private final class Driven(name: String) {
    val s: ChangeLogMicroBatchStream = stream(name)
    private var at: Offset = s.initialOffset()
    private var prev: Option[Offset] = None
    var committed: Long = ChangeLogStream.BeforeAnyId
    val seen = collection.mutable.ArrayBuffer[Long]()

    def batch(): Unit = {
      val end = s.latestOffset(at, s.getDefaultReadLimit)
      prev.foreach { p =>
        s.commit(p)
        committed = p.asInstanceOf[ChangeLogOffset].maxId
      }
      s.planInputPartitions(at, end).foreach { p =>
        val r = s.createReaderFactory().createReader(p)
        while (r.next()) seen += r.get().getLong(0)
      }
      prev = Some(end)
      at = end
    }
    def batches(n: Int): Unit = (1 to n).foreach(_ => batch())
  }

  test("append is all or nothing: a non-monotone id leaves span and slice unchanged") {
    val b = new ChangeLogBuffer
    b.append((1L to 10L).map(ev))
    val all = OffsetRange(ChangeLogStream.BeforeAnyId, 100L)
    val e = intercept[IllegalArgumentException](b.append(Seq(ev(11), ev(12), ev(9))))
    assert(e.getMessage.contains("9 after 12"), e.getMessage)
    assert(b.span.contains((1L, 10L)))
    assert(b.slice(all, None).map(_.eventId) == (1L to 10L))
    // the check is against the last id appended, not the rows held
    intercept[IllegalArgumentException](b.append(Seq(ev(10))))
    b.append(Seq(ev(11)))
    assert(b.maxId == 11L)
  }

  test("two readers registered before the first append each see every event; " +
      "the buffer trims only to the slower one's mark") {
    val (name, buf) = fresh()
    val (fast, slow) = (new Driven(name), new Driven(name))
    buf.append((0L to 59L).map(ev))
    fast.batches(5)     // read 0..49, committed 0..39
    slow.batches(2)     // read 0..19, committed 0..9
    assert(slow.committed == 9L && buf.floor == 9L)
    assert(buf.span.contains((10L, 59L)))
    slow.batches(5)     // read 0..59, committed 0..59
    assert(fast.committed == 39L && buf.floor == 39L)
    fast.batches(2)     // read 0..59, committed 0..59
    assert(buf.floor == 59L)
    assert(fast.seen == (0L to 59L) && slow.seen == (0L to 59L))
    fast.s.stop(); slow.s.stop()
    ChangeLogBuffers.remove(name)
  }

  test("a stopped reader no longer pins the floor") {
    val (name, buf) = fresh()
    val (live, gone) = (new Driven(name), new Driven(name))
    buf.append((0L to 39L).map(ev))
    gone.batch()        // read 0..9, committed nothing
    live.batches(3)     // read 0..29, committed 0..19
    assert(buf.floor == ChangeLogStream.BeforeAnyId, "the idle reader pins nothing")
    gone.s.stop()
    assert(buf.floor == 19L)
    live.batch()        // read 0..39, committed 0..29
    assert(buf.floor == 29L && live.seen == (0L to 39L))
    live.s.stop()
    ChangeLogBuffers.remove(name)
  }

  test("a trim that empties the buffer keeps its last id; a slice below the floor " +
      "returns what is held") {
    val (name, buf) = fresh()
    val r = new Driven(name)
    buf.append((0L to 9L).map(ev))
    r.batches(2)        // read 0..9, then an empty batch commits 0..9
    assert(buf.floor == 9L && buf.maxId == 9L)
    assert(buf.span.contains((10L, 9L)), "nothing held, last id kept")
    assert(buf.slice(OffsetRange(-1L, 9L), None).isEmpty)
    // a stream started now begins past the floor, at the earliest id held
    val late = stream(name)
    assert(late.initialOffset() == ChangeLogOffset(9L))
    late.stop()
    buf.append((10L to 14L).map(ev))
    assert(buf.slice(OffsetRange(-1L, 11L), None).map(_.eventId) == Seq(10L, 11L))
    r.s.stop()
    ChangeLogBuffers.remove(name)
  }
}
