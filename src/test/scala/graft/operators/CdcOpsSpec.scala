package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CdcOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val log = Seq(
    (1L, 100L, ts("2024-01-01 00:00:05"), "click", 1.0),
    (2L, 100L, ts("2024-01-01 00:00:09"), "view", 2.0),
    (3L, 200L, ts("2024-01-01 00:00:03"), "click", 3.0), // out of order
    (4L, 300L, ts("2024-01-01 00:01:01"), "click", 4.0),
    (5L, 200L, ts("2024-01-01 00:00:04"), "view", 5.5))
    .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("distinctTxids dedups per batch (reference HashSet semantics)") {
    val got = CdcOps.distinctTxids(log).as[Long].collect().sorted
    assert(got.toSeq == Seq(100L, 200L, 300L))
  }

  test("commitTsDim takes max event time per transaction") {
    val got = CdcOps.commitTsDim(log).as[(Long, Timestamp)].collect().toMap
    assert(got(100L) == ts("2024-01-01 00:00:09"))
    assert(got(200L) == ts("2024-01-01 00:00:04"))
  }

  test("enrichCommitTs joins every change row to its commit timestamp") {
    val enriched = CdcOps.enrichCommitTs(log, CdcOps.commitTsDim(log))
    assert(enriched.count() == 5)
    val row3 = enriched.filter($"event_id" === 3L)
      .select($"commit_ts").as[Timestamp].head()
    assert(row3 == ts("2024-01-01 00:00:04"))
  }

  test("watermark = global max commit ts; never regresses across prefixes") {
    // reference `WorkerRunnable.java:145-150`: running max only
    val wm = CdcOps.watermark(log).as[Timestamp].head()
    assert(wm == ts("2024-01-01 00:01:01"))
    val running = CdcOps.runningWatermark(log)
      .orderBy($"event_id").as[(Long, Timestamp)].collect().map(_._2)
    assert(running.toSeq == running.sorted.toSeq, "watermark regressed")
    // out-of-order event 3 must not pull the watermark back
    assert(running(2) == ts("2024-01-01 00:00:09"))
  }

  test("stalenessProfile is now - running watermark, non-negative") {
    val st = CdcOps.stalenessProfile(log)
      .orderBy($"event_id").as[(Long, Long)].collect()
    assert(st.forall(_._2 >= 0))
    assert(st.last._2 == 0L) // once everything is extracted, staleness 0
  }

  test("throughputByMinute buckets counts into tumbling windows") {
    val got = CdcOps.throughputByMinute(log)
      .as[(Timestamp, Long, Long)].collect()
      .map { case (m, n, u) => m.toString -> ((n, u)) }.toMap
    // window [00:00, 00:01): events 1,2,3,5 over txids 100,200
    assert(got.contains("2024-01-01 00:00:00.0"))
    assert(got("2024-01-01 00:00:00.0") == ((4L, 2L)))
    assert(got("2024-01-01 00:01:00.0") == ((1L, 1L)))
  }

  test("pipeLine renders null as literal 'null' (JDBC getString fidelity)") {
    val df = Seq((1L, Some("a"), Some(2.5)), (2L, None, None))
      .toDF("id", "s", "v")
    val lines = df.select(CdcOps.pipeLine(Seq($"id", $"s", $"v")).as("line"))
      .orderBy($"id").as[String].collect()
    assert(lines.toSeq == Seq("1|a|2.5", "2|null|null"))
  }

  test("ratesByStream: exact decimal sums surfaced as doubles") {
    val got = CdcOps.ratesByStream(log)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("click")._2 == 3L)
    assert(got("click")._3 == 8.0)
    assert(got("view")._3 == 7.5)
    assert(math.abs(got("view")._4 - 3.75) < 1e-12)
  }

  test("auditEvents renders the 17-column audit envelope") {
    val audit = graft.sources.AuditLogGenerator
      .auditEvents(spark, "/root/testdata/sf0.001")
    assert(audit.columns.length == 17)
    val e = audit.filter(col("event_id") === 1L)
      .withColumn("tx_us", graft.util.Cols.epochUs(col("action_tstamp_tx")))
      .head()
    assert(e.getAs[String]("schema_name") == "audit")
    assert(e.getAs[String]("table_name") == "bmsql_warehouse")
    assert(e.getAs[Long]("transaction_id") >= 0)
    assert(Seq("I", "U", "D").contains(e.getAs[String]("action")))
    val rowData = e.getAs[scala.collection.Map[String, String]]("row_data")
    assert(rowData.contains("k") && rowData.contains("v"))
    // statement ts = transaction ts + 1 ms
    assert(e.getAs[Long]("action_tstamp_stm_us") - e.getAs[Long]("tx_us") == 1000L)
    assert(!e.getAs[Boolean]("statement_only"))
    assert(audit.count() == 1000L)
  }

  test("tableChecksums: partition-order independent, content-sensitive") {
    val withProps = log.withColumn("props", lit("""{"k":1}"""))
    val a = CdcOps.tableChecksums(withProps)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // same rows, different partitioning/order -> identical checksums
    val b = CdcOps.tableChecksums(
        withProps.repartition(7, col("event_id")).sortWithinPartitions("value"))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
    assert(a.map(_._1) == Seq("click", "view"))
    assert(a.find(_._1 == "click").get._2 == 3L) // n_events
    // one changed value flips that stream's checksum, not the other's
    val mutated = CdcOps.tableChecksums(
        withProps.withColumn("value",
          when(col("event_id") === 1L, lit(9.9)).otherwise(col("value"))))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(mutated.find(_._1 == "click").get._5 !=
      a.find(_._1 == "click").get._5)
    assert(mutated.find(_._1 == "view").get._5 ==
      a.find(_._1 == "view").get._5)
  }

  test("tableChecksums merge across batches: xor of batch sums = whole") {
    // bit_xor is associative/commutative, so per-micro-batch checksums
    // fold into the whole-log checksum — the streaming accumulation
    // property a foreachBatch consumer relies on
    val withProps = log.withColumn("props", lit("p"))
    def sums(df: org.apache.spark.sql.DataFrame) =
      CdcOps.tableChecksums(df)
        .select("event_type", "checksum")
        .as[(String, Long)].collect().toMap
    val whole = sums(withProps)
    val b1 = sums(withProps.filter($"event_id" <= 2L))
    val b2 = sums(withProps.filter($"event_id" > 2L))
    val merged = (b1.keySet ++ b2.keySet).map { k =>
      k -> (b1.getOrElse(k, 0L) ^ b2.getOrElse(k, 0L))
    }.toMap
    assert(merged == whole)
  }

  test("transitionMatrix counts consecutive type pairs per user") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 00:00:01"), "a"),
      (2L, 10L, ts("2024-01-01 00:00:02"), "b"),
      (3L, 10L, ts("2024-01-01 00:00:03"), "b"),
      (4L, 10L, ts("2024-01-01 00:00:04"), "c"),
      (6L, 20L, ts("2024-01-01 00:00:06"), "c"), // arrives before 5 in id
      (5L, 20L, ts("2024-01-01 00:00:05"), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = CdcOps.transitionMatrix(ev)
      .as[(String, String, Long)].collect()
      .map { case (f, to, n) => (f, to) -> n }.toMap
    // user 10: a->b, b->b, b->c; user 20 (ts order, not id): a->c
    assert(got == Map(("a", "b") -> 1L, ("b", "b") -> 1L,
      ("b", "c") -> 1L, ("a", "c") -> 1L))
  }

  test("scd2History: validity intervals chain, only last row current") {
    val t0 = ts("2024-01-01 00:00:01")
    val t1 = ts("2024-01-01 00:00:05")
    val t2 = ts("2024-01-01 00:00:09")
    val ev = Seq((1L, 7L, t0, "a"), (2L, 7L, t1, "b"), (3L, 7L, t2, "c"),
        (4L, 8L, t1, "x"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = CdcOps.scd2History(ev)
      .as[(Long, Long, String, Long, Option[Long], Long, Boolean)].collect()
      .map(r => (r._1, r._6) -> r).toMap
    def us(t: Timestamp) = t.getTime * 1000L
    val (_, _, _, from1, to1, _, cur1) = got((7L, 1))
    assert(from1 == us(t0) && to1 == Some(us(t1)) && !cur1)
    val (_, _, _, from3, to3, _, cur3) = got((7L, 3))
    assert(from3 == us(t2) && to3.isEmpty && cur3)
    val (_, _, _, _, to8, _, cur8) = got((8L, 1))
    assert(to8.isEmpty && cur8) // single-version key is current
  }

  test("transitionMatrix breaks equal timestamps by offset") {
    val t0 = ts("2024-01-01 00:00:01")
    val ev = Seq((2L, 1L, t0, "y"), (1L, 1L, t0, "x"), (3L, 1L, t0, "z"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = CdcOps.transitionMatrix(ev)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("x", "y", 1L), ("y", "z", 1L)))
  }

  test("applyChanges: roll-forward equals the direct snapshot, windowless") {
    val rnd = new scala.util.Random(11)
    val ev = (1 to 40).map { i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong,
        ts(f"2024-01-01 00:00:$i%02d"),
        s"t${rnd.nextInt(3)}", rnd.nextInt(100) / 2.0)
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    def snap(s: String) = CdcOps.snapshotAsOf(ev, lit(ts(s)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val t1 = ts("2024-01-01 00:00:20"); val t2 = ts("2024-01-01 00:00:35")
    val rolled = CdcOps.applyChanges(snap("2024-01-01 00:00:20"),
      ev.filter(col("ts") > lit(t1) && col("ts") <= lit(t2)))
    assert(rows(rolled) == rows(snap("2024-01-01 00:00:35")))
    // a second roll (t2 -> end) composes
    val rolled2 = CdcOps.applyChanges(rolled, ev.filter(col("ts") > lit(t2)))
    assert(rows(rolled2) == rows(CdcOps.snapshotAsOf(ev,
      lit(ts("2024-01-01 00:02:00")))))
    // the upsert itself is an aggregate, not a window (the snapshot
    // INPUT has one — assert on a plain-input apply): max_by runs a
    // partial pass map-side, one candidate per key per partition
    val pl = CdcOps.applyChanges(ev.limit(10), ev.limit(5))
      .queryExecution.executedPlan.toString
    assert(!pl.contains("Window"), pl)
    assert(pl.contains("partial_max_by"), pl)
  }

  test("applyChangesWithActions: tombstones remove keys, reinserts revive") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 00:00:01"), "I", 1.0),
      (2L, 20L, ts("2024-01-01 00:00:02"), "I", 2.0),
      (3L, 10L, ts("2024-01-01 00:00:03"), "U", 1.5),
      (4L, 20L, ts("2024-01-01 00:00:04"), "D", 0.0),  // delete key 20
      (5L, 30L, ts("2024-01-01 00:00:05"), "I", 3.0),
      (6L, 30L, ts("2024-01-01 00:00:06"), "D", 0.0),  // delete key 30
      (7L, 30L, ts("2024-01-01 00:00:07"), "I", 3.5))  // ...reinsert it
      .toDF("event_id", "user_id", "ts", "action", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val mirror = CdcOps.applyChangesWithActions(ev.limit(0), ev)
    // key 10 upserted to its U row; key 20 gone; key 30 revived
    assert(rows(mirror) == Seq((10L, 3L, 1.5), (30L, 7L, 3.5)))
    // roll-forward law holds across a delete boundary
    val t1 = ts("2024-01-01 00:00:04"); val t2 = ts("2024-01-01 00:00:07")
    val rolled = CdcOps.applyChangesWithActions(
      CdcOps.snapshotAsOfWithActions(ev, lit(t1)),
      ev.filter(col("ts") > lit(t1) && col("ts") <= lit(t2)))
    assert(rows(rolled) == rows(CdcOps.snapshotAsOfWithActions(ev, lit(t2))))
    // the snapshot at t1 itself dropped key 20
    assert(rows(CdcOps.snapshotAsOfWithActions(ev, lit(t1))) ==
      Seq((10L, 3L, 1.5)))
    // still an aggregate fold, not a window
    val pl = mirror.queryExecution.executedPlan.toString
    assert(!pl.contains("Window"), pl)
    assert(pl.contains("partial_max_by"), pl)
  }

  test("applyChangesWithActions: truncate discards history, later rows repopulate") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 00:00:01"), "I", 1.0),
      (2L, 20L, ts("2024-01-01 00:00:02"), "I", 2.0),
      (3L, 0L, ts("2024-01-01 00:00:03"), "T", 0.0),   // TRUNCATE
      (4L, 20L, ts("2024-01-01 00:00:04"), "I", 2.5))  // repopulate 20
      .toDF("event_id", "user_id", "ts", "action", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // keys 10 and the old 20 are gone (pre-truncate); only the
    // post-truncate insert survives — the T marker row itself too
    assert(rows(CdcOps.applyChangesWithActions(ev.limit(0), ev)) ==
      Seq((20L, 4L, 2.5)))
    // truncate arriving in the CHANGE BATCH wipes the prior snapshot
    val t1 = ts("2024-01-01 00:00:02")
    val rolled = CdcOps.applyChangesWithActions(
      CdcOps.snapshotAsOfWithActions(ev, lit(t1)),
      ev.filter(col("ts") > lit(t1)))
    assert(rows(rolled) == Seq((20L, 4L, 2.5)))
  }

  test("aggDelta: after = before + delta per key, new keys appear") {
    val t0 = ts("2024-01-01 00:00:01")
    val ev = Seq(
      (1L, 7L, t0, "a", 1.5), (2L, 7L, t0, "a", 2.5),   // before: 7
      (3L, 9L, t0, "a", 4.0),                            // before: 9
      (4L, 7L, t0, "a", 3.0), (5L, 8L, t0, "a", 10.0),   // delta: 7 + new 8
      (6L, 9L, t0, "a", 99.0))                           // beyond offset2
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = CdcOps.aggDelta(ev, offset1 = 3L, offset2 = 5L)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (7L, 2L, 1L, 3L, 4.0, 3.0, 7.0),
      (8L, 0L, 1L, 1L, 0.0, 10.0, 10.0),
      (9L, 1L, 0L, 1L, 4.0, 0.0, 4.0)))
  }

  test("aggDelta folds: after-state at offset O equals before-state of the next batch") {
    val t0 = ts("2024-01-01 00:00:01")
    val rnd = new scala.util.Random(3)
    val ev = (1 to 30).map(i =>
        (i.toLong, (rnd.nextInt(4) + 1).toLong, t0, "a", rnd.nextInt(100) / 2.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val step = CdcOps.aggDelta(ev, 10, 20)
      .select(col("user_id"), col("n_after"), col("sum_after"))
      .as[(Long, Long, Double)].collect().toSet
    val next = CdcOps.aggDelta(ev, 20, 30)
      .filter(col("n_before") > 0)
      .select(col("user_id"), col("n_before"), col("sum_before"))
      .as[(Long, Long, Double)].collect().toSet
    // exactly the users seen by offset 20, with identical maintained state
    assert(step == next && step.nonEmpty)
  }

  test("versionPrune keeps the newest N by time with offset tie-break") {
    val t = (s: Int) => ts(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      // user 7: 5 versions; events 4 and 5 share a timestamp (offset
      // breaks the tie, so 5 is newer than 4)
      (1L, 7L, t(1), "a"), (2L, 7L, t(2), "a"), (3L, 7L, t(3), "a"),
      (4L, 7L, t(4), "a"), (5L, 7L, t(4), "a"),
      // user 8: fewer versions than keep
      (6L, 8L, t(1), "a"), (7L, 8L, t(2), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = CdcOps.versionPrune(ev, keep = 3)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(got == Seq(
      // kept for 7: events 5,4,3 (newest first); pruned: 2,1
      (7L, 5L, 3L, 2L, Some(3L), Some(2L)),
      (8L, 2L, 2L, 0L, Some(6L), None)))
  }

  test("stateDwell: exact intervals, open states close at the horizon") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val us = 60000000L
    // user 1: A at t=0 (10 min), B at t=10 (open -> horizon t=100 via
    // a click event); user 2: A at t=50 (open -> 50 min)
    val ev = Seq(
      (1L, 1L, "A", ts(0)), (2L, 1L, "B", ts(10)),
      (3L, 2L, "A", ts(50)),
      (9L, 9L, "click", ts(100))) // horizon carrier, not a state
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = CdcOps.stateDwell(ev, $"event_type".isin("A", "B"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 60L * us, 50L * us),  // 10 + 50 min, max 50
      ("B", 1L, 90L * us, 90L * us))) // t=10 -> horizon t=100
  }

  test("pitEnrich: facts see only the state current at their timestamp") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: states at t=10 (purchase, v1) and t=30 (error, v2);
    // clicks at t=5 (before any state -> null), t=10 (same instant ->
    // v1 visible, <= semantics), t=20 (v1), t=30 (v2), t=99 (v2).
    // user 2: no state events -> all clicks null
    val ev = Seq(
      (100L, 1L, "purchase", ts(10)), (101L, 1L, "error", ts(30)),
      (1L, 1L, "click", ts(5)), (2L, 1L, "click", ts(10)),
      (3L, 1L, "click", ts(20)), (4L, 1L, "click", ts(30)),
      (5L, 1L, "click", ts(99)), (6L, 2L, "click", ts(50)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = CdcOps.pitEnrich(ev,
        stateFilter = $"event_type".isin("purchase", "error"),
        factFilter = $"event_type" === "click")
      .as[(Long, Long, Long, Option[Long], Option[String])]
      .collect().toSeq
    assert(got == Seq(
      (1L, 1L, 5L * 60000000L, None, None),
      (2L, 1L, 10L * 60000000L, Some(1L), Some("purchase")),
      (3L, 1L, 20L * 60000000L, Some(1L), Some("purchase")),
      (4L, 1L, 30L * 60000000L, Some(2L), Some("error")),
      (5L, 1L, 99L * 60000000L, Some(2L), Some("error")),
      (6L, 2L, 50L * 60000000L, None, None)))
    // same-instant state flip: two states at t=10 -> the HIGHER
    // version wins deterministically
    val flip = Seq(
      (200L, 3L, "purchase", ts(10)), (201L, 3L, "error", ts(10)),
      (7L, 3L, "click", ts(15)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val g2 = CdcOps.pitEnrich(flip,
        stateFilter = $"event_type".isin("purchase", "error"),
        factFilter = $"event_type" === "click")
      .as[(Long, Long, Long, Option[Long], Option[String])].head()
    assert(g2 == ((7L, 3L, 15L * 60000000L, Some(2L), Some("error"))))
  }

  test("reconcileSnapshots classifies every change class, tombstone-aware") {
    // t1 = :10, t2 = :20. users:
    //  1 I@:05 then silence              -> unchanged
    //  2 I@:05, U@:15                    -> updated
    //  3 I@:15 only                      -> inserted
    //  4 I@:05, D@:15                    -> deleted
    //  5 D@:05 (dead at t1), silence     -> absent (no class)
    //  6 I@:02, U@:08 (both before t1)   -> unchanged (same latest row)
    //  7 I@:25 only (past t2)            -> absent
    //  8 I@:05, D@:12, I@:18             -> updated (re-insert moves the row)
    val ev = Seq(
      (1L, 1L, "I"), (2L, 2L, "I"), (6L, 2L, "U"), (7L, 3L, "I"),
      (3L, 4L, "I"), (8L, 4L, "D"), (4L, 5L, "D"),
      (5L, 6L, "I"), (51L, 6L, "U"), (9L, 7L, "I"),
      (10L, 8L, "I"), (11L, 8L, "D"), (12L, 8L, "I"))
      .map { case (id, u, a) =>
        val sec = id match {
          case 1L | 2L | 3L | 4L | 10L => 5L
          case 5L => 2L
          case 51L => 8L
          case 6L | 7L => 15L
          case 8L => 15L
          case 11L => 12L
          case 12L => 18L
          case 9L => 25L
        }
        (id, u, ts(f"2024-01-01 00:00:$sec%02d"), a)
      }
      .toDF("event_id", "user_id", "ts", "action")
    val got = CdcOps.reconcileSnapshots(ev,
        lit(ts("2024-01-01 00:00:10")), lit(ts("2024-01-01 00:00:20")))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "unchanged" -> ((2L, 1L, 6L)),
      "updated" -> ((2L, 2L, 8L)),
      "inserted" -> ((1L, 3L, 3L)),
      "deleted" -> ((1L, 4L, 4L))))
  }

  test("reconcileSnapshots agrees with the two-snapshot fold on random logs") {
    // property cross-check of two INDEPENDENT implementations: the
    // one-pass conditional-max_by aggregate vs materializing both
    // snapshots through foldActions — on 300 seeded-random events
    // (ties, dead keys, re-inserts included), every class's key set
    // must match the snapshot-derived classification exactly
    val rnd = new scala.util.Random(7)
    val actions = Array("I", "U", "U", "U", "D")
    val ev = (1L to 300L).map { id =>
      (id, 1L + rnd.nextInt(40),
        ts(f"2024-01-01 00:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        actions(rnd.nextInt(actions.length)))
    }.toDF("event_id", "user_id", "ts", "action")
    val t1 = lit(ts("2024-01-01 00:20:00"))
    val t2 = lit(ts("2024-01-01 00:40:00"))
    def snapIds(asOf: org.apache.spark.sql.Column): Map[Long, Long] =
      CdcOps.snapshotAsOfWithActions(ev, asOf)
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)].collect().toMap
    val a = snapIds(t1)
    val b = snapIds(t2)
    val want = (a.keySet ++ b.keySet).groupBy { k =>
      (a.contains(k), b.contains(k)) match {
        case (false, true) => "inserted"
        case (true, false) => "deleted"
        case (true, true) =>
          if (a(k) != b(k)) "updated" else "unchanged"
        case _ => "absent"
      }
    }.map { case (c, ks) => c -> ((ks.size.toLong, ks.min, ks.max)) }
    val got = CdcOps.reconcileSnapshots(ev, t1, t2)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got.keySet == Set("inserted", "deleted", "updated", "unchanged"))
  }

  test("reconcileSnapshots raises on swapped points instead of misclassifying") {
    val ev = Seq((1L, 1L, ts("2024-01-01 00:00:05"), "I"))
      .toDF("event_id", "user_id", "ts", "action")
    val e = intercept[Exception] {
      CdcOps.reconcileSnapshots(ev,
        lit(ts("2024-01-01 00:00:20")), lit(ts("2024-01-01 00:00:10")))
        .collect()
    }
    assert(e.toString.contains("t1 must be <= t2") ||
      Option(e.getCause).exists(_.toString.contains("t1 must be <= t2")),
      e.toString)
  }

  test("longEdge raises past the BIGINT envelope instead of NULLing") {
    // the r7 output-edge discipline's failure mode: Spark's non-ANSI
    // decimal->long cast NULLs on overflow while the oracle raises —
    // the guarded cast must raise on BOTH engines
    import graft.util.Cols
    val in = Seq("9223372036854775807", "-9223372036854775808")
      .toDF("s").select(col("s").cast("decimal(38,0)").as("d"))
    val ok = in.select(Cols.longEdge(col("d"), "test").as("v"))
      .as[Long].collect().sorted
    assert(ok.toSeq == Seq(Long.MinValue, Long.MaxValue))
    val over = Seq("9223372036854775808").toDF("s")
      .select(col("s").cast("decimal(38,0)").as("d"))
    val e = intercept[Exception] {
      over.select(Cols.longEdge(col("d"), "test overflow").as("v")).collect()
    }
    assert(e.toString.contains("BIGINT output envelope") ||
      Option(e.getCause).exists(_.toString.contains("BIGINT output envelope")),
      e.toString)
  }

  test("longEdge raises on a fractional value instead of truncating") {
    // ADVICE r7: Spark decimal->long truncates toward zero, DuckDB's
    // CAST rounds half-up — a fractional edge value would silently
    // diverge by 1 between engines, so the guarded cast rejects it
    import graft.util.Cols
    val frac = Seq("12.50").toDF("s")
      .select(col("s").cast("decimal(18,2)").as("d"))
    val e = intercept[Exception] {
      frac.select(Cols.longEdge(col("d"), "test frac").as("v")).collect()
    }
    assert(e.toString.contains("not integral") ||
      Option(e.getCause).exists(_.toString.contains("not integral")),
      e.toString)
    // integral-valued scale>0 decimals still pass
    val ok = Seq("12.00").toDF("s")
      .select(col("s").cast("decimal(18,2)").as("d"))
      .select(Cols.longEdge(col("d"), "test").as("v")).as[Long].collect()
    assert(ok.toSeq == Seq(12L))
  }

  test("reconcileSnapshots swapped-points guard survives parquet pushdown") {
    // review r8: with only a row-level guard, `ts <= t2` pushed into
    // the parquet scan can skip every row group and the guard never
    // evaluates — constant points must be validated eagerly on the
    // driver, before any scan
    val dir = java.nio.file.Files.createTempDirectory("reconcile-pq")
      .toString + "/log"
    Seq((1L, 1L, ts("2024-01-01 00:00:55"), "I"))
      .toDF("event_id", "user_id", "ts", "action")
      .write.parquet(dir)
    val log = spark.read.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      CdcOps.reconcileSnapshots(log,
        lit(ts("2024-01-01 00:00:20")), lit(ts("2024-01-01 00:00:10")))
        .collect()
    }
    assert(e.getMessage.contains("t1 must be <= t2"), e.toString)
  }

  test("reconcileSnapshots swapped-points guard fires even when the scan is empty") {
    // ADVICE r7: with the guard on the post-rollup frame, a log whose
    // rows all fall past t2 produced zero rollup rows and the swap
    // passed silently; on the pre-aggregation scan it fires whenever
    // any input row exists
    val ev = Seq((1L, 1L, ts("2024-01-01 00:00:55"), "I"))
      .toDF("event_id", "user_id", "ts", "action")
    val e = intercept[Exception] {
      CdcOps.reconcileSnapshots(ev,
        lit(ts("2024-01-01 00:00:20")), lit(ts("2024-01-01 00:00:10")))
        .collect()
    }
    assert(e.toString.contains("t1 must be <= t2") ||
      Option(e.getCause).exists(_.toString.contains("t1 must be <= t2")),
      e.toString)
  }
}
