package graft.streaming

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ChangeLogSource.OffsetRange

/**
 * `ChangeLogBuffer.slice` against the plain filter it replaces: same
 * events, same order, for any `(min, max]` range and table set — and
 * work bounded by the slice, not by the log it is cut from.
 */
class ChangeLogSliceSpec extends AnyFunSuite {
  private val Types = Vector("click", "view", "purchase", "error")

  /** The reference semantics: scan everything, keep what matches. */
  private def naive(evs: Seq[ChangeEvent], r: OffsetRange,
                    tables: Option[Set[String]]): Seq[ChangeEvent] =
    evs.filter(e => e.eventId > r.min && e.eventId <= r.max &&
      tables.forall(_.contains(e.eventType)))

  /** `n` events with strictly increasing ids and random gaps of 1-3. */
  private def randomLog(rnd: Random, n: Int, firstId: Long): Vector[ChangeEvent] = {
    var id = firstId
    Vector.fill(n) {
      val e = ChangeEvent(id, 1700000000000000L + id, id / 3,
        Types(rnd.nextInt(Types.length)), id * 0.5,
        if (rnd.nextInt(20) == 0) null else s"p$id")
      id += 1 + rnd.nextInt(3)
      e
    }
  }

  private def bufferOf(evs: Seq[ChangeEvent]): ChangeLogBuffer = {
    val b = new ChangeLogBuffer
    evs.grouped(1000).foreach(b.append)
    b
  }

  private def check(b: ChangeLogBuffer, evs: Seq[ChangeEvent], r: OffsetRange,
                    tables: Option[Set[String]]): Unit =
    assert(b.slice(r, tables) == naive(evs, r, tables), s"range $r tables $tables")

  test("edge cases agree with the naive filter") {
    val empty = new ChangeLogBuffer
    assert(empty.slice(OffsetRange(0L, 100L), None).isEmpty)
    assert(empty.slice(OffsetRange(-5L, -1L), Some(Set("click"))).isEmpty)

    val evs = randomLog(new Random(7L), 200, firstId = 10L)
    val b = bufferOf(evs)
    val first = evs.head.eventId
    val last = evs.last.eventId
    val all = Seq(None, Some(Set("click")), Some(Set("view", "error")))
    all.foreach { t =>
      check(b, evs, OffsetRange(0L, first - 1), t)          // below the log
      check(b, evs, OffsetRange(last, last + 50), t)        // above maxId
      check(b, evs, OffsetRange(first - 1, last), t)        // whole log
      check(b, evs, OffsetRange(first, last - 1), t)        // both ends out
      check(b, evs, OffsetRange(last - 1, last - 1), t)     // empty range
    }
    // exact (min, max] endpoints on ids that exist
    val a = evs(40).eventId
    val z = evs(90).eventId
    val got = b.slice(OffsetRange(a, z), None)
    assert(got.head.eventId == evs(41).eventId && got.last.eventId == z)
    check(b, evs, OffsetRange(a, z), None)
    // a one-event range
    assert(b.slice(OffsetRange(a, evs(41).eventId), None) == Seq(evs(41)))
    assert(b.slice(OffsetRange(evs(41).eventId - 1, evs(41).eventId), None) ==
      Seq(evs(41)))
    // a table filter that empties a non-empty range
    assert(b.slice(OffsetRange(a, z), Some(Set("no_such_table"))).isEmpty)
    assert(b.slice(OffsetRange(a, z), Some(Set.empty[String])).isEmpty)
  }

  test("random ranges and table sets agree with the naive filter (seeded)") {
    val rnd = new Random(20261017L)
    (1 to 40).foreach { _ =>
      val evs = randomLog(rnd, rnd.nextInt(400), firstId = rnd.nextInt(50).toLong)
      val b = bufferOf(evs)
      val hiId = evs.lastOption.map(_.eventId).getOrElse(0L) + 10
      (1 to 50).foreach { _ =>
        val x = rnd.nextLong(hiId + 10) - 5
        val y = rnd.nextLong(hiId + 10) - 5
        val tables =
          if (rnd.nextBoolean()) None
          else Some(Types.filter(_ => rnd.nextBoolean()).toSet)
        check(b, evs, OffsetRange(math.min(x, y), math.max(x, y)), tables)
      }
    }
  }

  test("slice work is bounded by the slice, not by the log's length") {
    // the same 100-event slice, cut from the tail of a 1M-event log and
    // of a 1k-event log: a scan of the whole log makes the first one
    // about 1000x slower; O(log n + k) keeps them within a small factor
    val big = new ChangeLogBuffer
    (0 until 1000).foreach { c =>
      big.append((1 to 1000).map { i =>
        val id = c * 1000L + i
        ChangeEvent(id, id, id, "click", 0.0, null)
      })
    }
    val small = new ChangeLogBuffer
    small.append((999001L to 1000000L).map(id =>
      ChangeEvent(id, id, id, "click", 0.0, null)))
    val range = OffsetRange(999500L, 999600L)
    assert(big.slice(range, None).length == 100)
    assert(big.slice(range, None) == small.slice(range, None))

    def bestNs(b: ChangeLogBuffer): Long =
      (1 to 200).map { _ =>
        val t0 = System.nanoTime()
        b.slice(range, None)
        System.nanoTime() - t0
      }.min
    bestNs(big); bestNs(small) // warm the JIT on both
    val ratio = bestNs(big).toDouble / bestNs(small)
    assert(ratio < 20.0, f"1M-event slice costs $ratio%.1fx a 1k-event one")
  }
}
