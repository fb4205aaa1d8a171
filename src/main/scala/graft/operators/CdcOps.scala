package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Cols

/**
 * The relational surface of the reference extractor (SURVEY.md §2.2),
 * re-expressed as declarative DataFrame transforms so Catalyst plans
 * them (pushdown, partial aggregation, broadcast joins) instead of the
 * reference's row-at-a-time Java loops.
 *
 * Column conventions follow the change-log stand-in (`events`):
 * `event_id` = offset, `ts` = event time / commit timestamp,
 * `user_id` = transaction id, `event_type` = table name.
 */
object CdcOps {

  /**
   * Distinct transaction ids in a batch — the reference's `HashSet<Long>`
   * dedup before the N+1 commit-timestamp lookups
   * (`WorkerRunnable.java:87,120,130-131`). Map-side partial distinct
   * keeps the shuffle tiny (txid cardinality, not row count).
   */
  def distinctTxids(log: DataFrame, txidCol: String = "user_id"): DataFrame =
    log.select(col(txidCol)).distinct()

  /**
   * Commit-timestamp dimension `(txid, commit_ts)`: the set-oriented
   * replacement for the reference's per-txid point query
   * `pg_xact_commit_timestamp(xid)` (`WorkerRunnable.java:134-136`).
   * With no PostgreSQL in the fixture, a transaction's commit timestamp
   * is the max event time observed for it.
   */
  def commitTsDim(log: DataFrame, txidCol: String = "user_id",
                  tsCol: String = "ts"): DataFrame =
    log.groupBy(col(txidCol)).agg(max(col(tsCol)).as("commit_ts"))

  /**
   * Enrich change rows with their transaction's commit timestamp —
   * the implicit equi-join the reference performs as N+1 point queries
   * (`WorkerRunnable.java:130-144`, SURVEY §2.2 R9). The dimension side
   * is txid-cardinality small, so it is broadcast: no shuffle of the
   * (100 TB-scale) fact side.
   */
  def enrichCommitTs(log: DataFrame, dim: DataFrame,
                     txidCol: String = "user_id"): DataFrame =
    log.join(broadcast(dim), txidCol)

  /**
   * Freshness watermark `uptodate` = max commit timestamp fully
   * extracted (`WorkerRunnable.java:145-150`). A single partial-agg max:
   * each partition contributes one value, no data movement beyond that.
   */
  def watermark(log: DataFrame, tsCol: String = "ts"): DataFrame =
    log.agg(max(col(tsCol)).as("uptodate"))

  /**
   * Running watermark in offset order: what `uptodate` was after each
   * event was applied — the cross-partition running max the reference
   * maintains under a broken lock (`WorkerRunnable.java:146-150`,
   * SURVEY §3.4).
   *
   * Decomposed prefix-max via [[PrefixAgg.prefixMax]] — never a
   * single-partition global sort; bit-identical to the naive
   * `max OVER (ORDER BY id)` at any scale.
   */
  def runningWatermark(log: DataFrame, offsetCol: String = "event_id",
                       tsCol: String = "ts",
                       bucket: Long = 8192L): DataFrame =
    PrefixAgg.prefixMax(log.select(col(offsetCol), col(tsCol)),
        offsetCol, tsCol, "uptodate", bucket)
      .select(col(offsetCol), col("uptodate"))

  /**
   * Staleness profile: for each event (in offset order), how far behind
   * the final watermark the extracted copy was — the batch analogue of
   * the sampler's `now − uptodate` (`QueryRequestRunnable.java:35-37`).
   */
  def stalenessProfile(log: DataFrame, offsetCol: String = "event_id",
                       tsCol: String = "ts"): DataFrame = {
    val now = log.agg(max(Cols.epochUs(col(tsCol))).as("now_us"))
    runningWatermark(log, offsetCol, tsCol)
      .crossJoin(broadcast(now))
      .select(col(offsetCol),
        (col("now_us") - Cols.epochUs(col("uptodate"))).as("staleness_us"))
  }

  /**
   * Per-minute tumbling-window throughput: tasks/rows per minute
   * (`WorkerRunnable.java:158-179`, `QueryRequestRunnable.java:39-42`)
   * as an event-time `window()` aggregation (SURVEY §2.2 R11).
   */
  def throughputByMinute(log: DataFrame, tsCol: String = "ts",
                         txidCol: String = "user_id"): DataFrame =
    log.groupBy(window(col(tsCol), "1 minute").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col(txidCol)).as("n_txids"))
      .select(col("w.start").as("minute"), col("n_events"), col("n_txids"))

  /**
   * Per-stream rate metrics (`avg`/`count` running aggregates,
   * SURVEY §2.2 R10). Monetary doubles go through DECIMAL so the sums
   * are exact and order-independent (audit-grade determinism); the final
   * values surface as doubles.
   */
  def ratesByStream(log: DataFrame, streamCol: String = "event_type",
                    valueCol: String = "value"): DataFrame = {
    val dec = col(valueCol).cast("decimal(18,2)")
    log.groupBy(col(streamCol))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast("double").as("sum_value"),
        (sum(dec).cast("double") / count(lit(1))).as("avg_value"))
  }

  /**
   * Snapshot-as-of: reconstruct each entity's latest change at or
   * before `asOf` — the state a consumer of the extracted change log
   * materializes (what the reference's downstream "query" would read
   * at freshness point `uptodate`, `QueryRequestRunnable.java:30-53`).
   * One window per entity; at scale the window partitions by the
   * entity key, so it shuffles once on that key — no global sort.
   */
  def snapshotAsOf(log: DataFrame, asOf: Column,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   offsetCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(offsetCol).desc)
    log.filter(col(tsCol) <= asOf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Apply a change batch onto a materialized snapshot — the
   * consumer-side upsert that keeps a mirror table current: union the
   * snapshot with the batch and keep, per key, the row with the
   * greatest (event time, offset). Expressed as a `max_by` struct
   * aggregate, so it partially aggregates map-side and ships ONE
   * candidate row per key per partition across the shuffle — never a
   * window, never a sort; cost per batch is O(batch + touched keys).
   *
   * Roll-forward law (oracle- and spec-pinned):
   * `applyChanges(snapshotAsOf(T1), changes in (T1,T2]) ==
   * snapshotAsOf(T2)`.
   *
   * Additive schema evolution: a column present on only one side
   * (upstream DDL added or dropped one mid-stream) nulls on the other
   * (`allowMissingColumns`) — old mirror rows read the new column as
   * NULL, which is exactly what the source would report for rows it
   * never updated after the DDL. Spec-pinned in `SchemaEvolutionSpec`.
   */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   offsetCol: String = "event_id"): DataFrame = {
    val all = snapshot.unionByName(changes, allowMissingColumns = true)
    val others = all.columns.filter(_ != keyCol).toSeq
    all.groupBy(col(keyCol))
      .agg(max_by(struct(others.map(col): _*),
        struct(col(tsCol), col(offsetCol))).as("__r"))
      .select(col(keyCol) +: others.map(c => col(s"__r.$c").as(c)): _*)
  }

  /**
   * Delete/truncate-aware mirror fold — the shared core of
   * [[applyChangesWithActions]] and [[snapshotAsOfWithActions]].
   *
   * Consumes the audit envelope's `action` column (I/U/D/T, reference
   * `WorkerRunnable.java:207`, envelope col 14):
   *  - I/U rows upsert (latest (ts, offset) per key wins — same
   *    max_by fold as [[applyChanges]]);
   *  - D rows are tombstones: a key whose LATEST change is a delete is
   *    ABSENT from the mirror (absence ≡ deleted, so the fold is
   *    idempotent and re-foldable);
   *  - T rows are table truncates: every change at or before the
   *    latest T position is discarded wholesale before the upsert
   *    fold (rows after the truncate repopulate the mirror).
   *
   * Scale shape: one 1-row aggregate for the truncate watermark
   * (broadcast back — an extra scan of the batch, pruned to the
   * `action` column), then the same single keyed shuffle with
   * map-side partial max_by as [[applyChanges]]. Never a window,
   * never a sort.
   */
  private def foldActions(all: DataFrame, keyCol: String, tsCol: String,
                          offsetCol: String, actionCol: String): DataFrame = {
    val pos = struct(col(tsCol).as("__ts"), col(offsetCol).as("__off"))
    val tMark = all.filter(col(actionCol) === "T")
      .agg(max(pos).as("__tm"))
    val live = all.crossJoin(broadcast(tMark))
      .filter(col("__tm").isNull || pos > col("__tm"))
      .drop("__tm")
    val others = all.columns.filter(_ != keyCol).toSeq
    live.groupBy(col(keyCol))
      .agg(max_by(struct(others.map(col): _*),
        struct(col(tsCol), col(offsetCol))).as("__r"))
      .select(col(keyCol) +: others.map(c => col(s"__r.$c").as(c)): _*)
      .filter(col(actionCol) =!= "D")
  }

  /**
   * [[applyChanges]] extended to consume the envelope's `action`
   * column (I/U/D/T) — a mirror that can actually REMOVE a key when
   * the source deletes it, and drop its history on a truncate. The
   * reference's envelope carries these actions
   * (`WorkerRunnable.java:207`); a mirror that can only upsert is
   * wrong on real CDC.
   *
   * Roll-forward law (oracle- and spec-pinned), deletes included:
   * `applyChangesWithActions(snapshotAsOfWithActions(T1),
   * changes in (T1,T2]) == snapshotAsOfWithActions(T2)`.
   */
  def applyChangesWithActions(snapshot: DataFrame, changes: DataFrame,
                              keyCol: String = "user_id",
                              tsCol: String = "ts",
                              offsetCol: String = "event_id",
                              actionCol: String = "action"): DataFrame =
    foldActions(snapshot.unionByName(changes, allowMissingColumns = true),
      keyCol, tsCol, offsetCol, actionCol)

  /**
   * [[snapshotAsOf]] with delete/truncate semantics: the mirror state
   * at `asOf` — latest I/U row per key, minus keys whose latest change
   * is a tombstone, minus everything at or before the latest truncate.
   */
  def snapshotAsOfWithActions(log: DataFrame, asOf: Column,
                              keyCol: String = "user_id",
                              tsCol: String = "ts",
                              offsetCol: String = "event_id",
                              actionCol: String = "action"): DataFrame =
    foldActions(log.filter(col(tsCol) <= asOf), keyCol, tsCol, offsetCol,
      actionCol)

  /**
   * Snapshot reconciliation: the sync-audit a CDC consumer runs after
   * a catch-up — per key, was it live at `t1`, live at `t2`, and did
   * its latest version move — rolled up to one row per change class
   * (`inserted` / `deleted` / `updated` / `unchanged`) with the key
   * range of each class. Tombstone-aware: a key whose latest action
   * at a point is `D` is NOT live there, so "deleted" means a real
   * delete landed in `(t1, t2]`, not merely "no more rows". This is
   * [[changesBetween]]'s state-level complement: that one lists what
   * CHANGED per entity; this one also proves what did NOT change and
   * what disappeared — the numbers a mirror-vs-source reconciliation
   * report is made of. (Truncates: fold through
   * [[snapshotAsOfWithActions]] first; this audit reads I/U/D logs.)
   *
   * Both per-point states fold in ONE keyed aggregate over a single
   * scan of `ts ≤ t2`: `max_by` with a conditional ordering key
   * (null past `t1` — null order keys are skipped on both engines)
   * extracts the latest-at-t1 row in the same pass as latest-at-t2 —
   * no self-join of two snapshots, no window sort.
   *
   * Scale shape: one map-side-combinable aggregate to #keys rows,
   * then a ≤4-group rollup — the scan is touched once; at 100 TB the
   * only shuffle is the key-count-sized (key, r1, r2) frame.
   */
  def reconcileSnapshots(log: DataFrame, t1: Column, t2: Column,
                         keyCol: String = "user_id", tsCol: String = "ts",
                         offsetCol: String = "event_id",
                         actionCol: String = "action"): DataFrame = {
    val pos = struct(col(tsCol), col(offsetCol))
    // fail-fast on swapped points: t1 > t2 would silently truncate
    // the t1 state (the scan filters ts <= t2) and misclassify. When
    // both points are LITERALS (every production call — lit()/tsLit
    // freshness points), validate eagerly on the driver: a row-level
    // guard alone can be skipped entirely by parquet pushdown when
    // `ts <= t2` prunes every row group (review r8), and an empty log
    // has no rows to evaluate it on.
    try {
      // evaluated over range(1): a table-free, millisecond job that
      // covers every CONSTANT point expression, not just bare lits
      val ok = log.sparkSession.range(1)
        .select(coalesce(t1 <= t2, lit(true)).as("ok"))
        .head().getBoolean(0)
      require(ok, "reconcileSnapshots: t1 must be <= t2")
    } catch {
      case e: IllegalArgumentException => throw e
      case _: org.apache.spark.sql.AnalysisException =>
        () // points reference log columns: the row guard below applies
    }
    // non-literal points keep the row-level belt: the predicate is
    // row-independent (one comparison per row); assert_true is NULL
    // (row kept) when ordered. Best-effort under pushdown — the
    // driver-side check above is the authoritative gate.
    val guarded = log.filter(assert_true(t1 <= t2,
      lit("reconcileSnapshots: t1 must be <= t2")).isNull)
    val st = guarded.filter(col(tsCol) <= t2)
      .groupBy(col(keyCol))
      .agg(
        max_by(struct(col(actionCol).as("a"), col(offsetCol).as("o")),
          when(col(tsCol) <= t1, pos)).as("r1"),
        max_by(struct(col(actionCol).as("a"), col(offsetCol).as("o")),
          pos).as("r2"))
    val live1 = col("r1").isNotNull && col("r1.a") =!= "D"
    val live2 = col("r2").isNotNull && col("r2.a") =!= "D"
    st.select(col(keyCol),
        when(!live1 && live2, "inserted")
          .when(live1 && !live2, "deleted")
          .when(live1 && live2 && col("r1.o") =!= col("r2.o"), "updated")
          .when(live1 && live2, "unchanged").as("change"))
      // dead at both points (e.g. deleted before t1): not a change
      // class — absent from the report, same as absent from a mirror
      .filter(col("change").isNotNull)
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"))
      .orderBy(col("change"))
  }

  /**
   * Time-travel diff: per-entity change summary over `(from, to]` —
   * how many changes landed and the value movement between two
   * freshness points.
   */
  def changesBetween(log: DataFrame, from: Column, to: Column,
                     keyCol: String = "user_id", tsCol: String = "ts",
                     offsetCol: String = "event_id"): DataFrame = {
    val inRange = log.filter(col(tsCol) > from && col(tsCol) <= to)
    val wAsc = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(offsetCol).asc)
    inRange
      .withColumn("__rn_first", row_number().over(wAsc))
      .withColumn("__rn_last", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol).desc, col(offsetCol).desc)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_changes"),
        min(col(offsetCol)).as("first_event_id"),
        max(col(offsetCol)).as("last_event_id"),
        max(when(col("__rn_first") === 1, col("value"))).as("first_value"),
        max(when(col("__rn_last") === 1, col("value"))).as("last_value"))
  }

  /**
   * Gap-based sessionization per transaction/user — `session_window`
   * (a capability absent from the reference, SURVEY §2.4; state is
   * bounded by the gap + watermark in streaming mode).
   */
  def sessionize(log: DataFrame, gap: String = "30 minutes",
                 txidCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    log.groupBy(col(txidCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(txidCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /**
   * Per-stream health report — the one-pass ops dashboard a CDC
   * consumer watches: event/offset coverage (`span − distinct offsets`
   * = ids missing inside the stream's own offset span — gap or
   * filtered-out indicator), distinct-user reach, event-time
   * freshness bounds, and the order-independent content checksum of
   * [[tableChecksums]]. ONE aggregation pass over the log (every
   * metric is algebraic or a bit_xor — all map-side combinable);
   * no joins, no windows.
   */
  def healthReport(log: DataFrame): DataFrame =
    log.select(col("event_type"), col("event_id"), col("user_id"),
        col("ts"),
        graft.functions.functions.h60(pipeLine(Seq(col("event_id"),
          Cols.epochUs(col("ts")), col("user_id"), col("event_type"),
          col("value").cast("decimal(18,2)"), col("props")))).as("h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_offsets"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.epochUs(min(col("ts"))).as("first_us"),
        Cols.epochUs(max(col("ts"))).as("last_us"),
        expr("bit_xor(h)").as("checksum"))
      .select(col("event_type"), col("n_events"),
        (col("n_events") - col("n_offsets")).as("n_redelivered"),
        col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1 - col("n_offsets"))
          .as("n_absent_in_span"),
        col("n_users"), col("first_us"), col("last_us"), col("checksum"))
      .orderBy(col("event_type"))

  /**
   * SCD Type-2 history — the materialization a warehouse consumer
   * builds from a CDC stream: each change row becomes a versioned
   * dimension row with a validity interval `[valid_from, valid_to)`
   * closed by the key's next change (`lead` per key — partitioned,
   * never a global sort) and an is-current flag on the open row. At
   * 100 TB the per-key window is the only data-sized exchange, keyed
   * and balanced like [[transitionMatrix]].
   */
  def scd2History(log: DataFrame, keyCol: String = "user_id",
                  tsCol: String = "ts",
                  offsetCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(offsetCol))
    log.select(col(keyCol), col(offsetCol), col("event_type"),
        graft.util.Cols.epochUs(col(tsCol)).as("valid_from_us"),
        graft.util.Cols.epochUs(lead(col(tsCol), 1).over(w))
          .as("valid_to_us"),
        row_number().over(w).cast("long").as("version"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy(col(keyCol), col("version"))
  }

  /**
   * Point-in-time enrichment — the feature-store leakage guard: each
   * fact row (`factFilter`) is joined to the [[scd2History]] version
   * of its key's state (`stateFilter` events) that was current AT THE
   * FACT'S TIMESTAMP — never a later one. Training features built
   * through this join cannot see the future; joining "current state"
   * instead is the classic label-leakage bug this operator exists to
   * make impossible.
   *
   * Versions opening at the same instant (same-microsecond state
   * flips) are collapsed to the HIGHEST version before the join, so
   * both engines resolve ties identically. Facts preceding any state
   * get a null version (left as-of semantics).
   *
   * Scale shape: SCD2 versioning is one user-keyed window; the as-of
   * join is [[AsofJoin.asofJoin]]'s union + running-last window — one
   * exchange per side, no range probe, no per-key quadratic pairing.
   */
  def pitEnrich(log: DataFrame, stateFilter: Column,
                factFilter: Column): DataFrame = {
    val hist = scd2History(log.filter(stateFilter))
    val dim = hist
      .select(col("user_id"), col("valid_from_us").as("ts_us"),
        col("version"), col("event_type").as("state"))
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max_by(struct(col("version"), col("state")), col("version"))
        .as("v"))
      .select(col("user_id"), col("ts_us"),
        col("v.version").cast("long").as("state_version"),
        col("v.state").as("state"))
    val facts = log.filter(factFilter)
      .select(col("event_id"), col("user_id"),
        graft.util.Cols.epochUs(col("ts")).as("ts_us"))
    AsofJoin.asofJoin(facts, dim, "user_id", "ts_us")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof.state_version").as("state_version"),
        col("asof.state").as("state"))
      .orderBy(col("event_id"))
  }

  /**
   * State dwell-time report from the SCD2 history — "how long do keys
   * sit in each state": per state, the interval count and total/max
   * dwell, with open (current) intervals closed at the log's
   * observation horizon (max event time anywhere in the log) so the
   * report is exact over what was observed rather than unbounded.
   * The temporal-aggregate reading of [[scd2History]]; all integers
   * on the epoch-micros lattice.
   *
   * Scale shape: SCD2 is one key-partitioned window; the horizon is a
   * scalar aggregate broadcast into the plan; the report is one
   * state-keyed aggregate (map-side combinable, output rows =
   * #states).
   */
  def stateDwell(log: DataFrame, stateFilter: Column): DataFrame = {
    val hist = scd2History(log.filter(stateFilter))
    val horizon = log.agg(max(Cols.epochUs(col("ts"))).as("h_us"))
    hist.crossJoin(broadcast(horizon))
      .select(col("event_type").as("state"),
        (coalesce(col("valid_to_us"), col("h_us")) - col("valid_from_us"))
          .as("dwell_us"))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dwell_us")).as("total_dwell_us"),
        max(col("dwell_us")).as("max_dwell_us"))
      .orderBy(col("state"))
  }

  /**
   * Incremental aggregate maintenance — the algebraic heart of keeping
   * a per-key aggregate table current from a CDC stream without
   * rescanning history: `after = before ⊕ delta`, where `before` is
   * the maintained store as of offset `offset1` and `delta` aggregates
   * ONLY the new range `(offset1, offset2]` (one micro-batch). Every
   * aggregate here is a commutative monoid (count, decimal sum — min/
   * max/bit_xor maintain identically; avg derives as sum/count), so
   * the merge is a per-key full-outer join + coalesced addition — the
   * exact upsert a `foreachBatch` consumer issues.
   *
   * Scale shape: the delta side scans only the offset range (parquet
   * range pushdown); the join keys on the entity id. In production the
   * "before" side is the stored table itself, so cost per batch is
   * O(delta + touched keys), independent of history size.
   */
  def aggDelta(log: DataFrame, offset1: Long, offset2: Long,
               keyCol: String = "user_id",
               offsetCol: String = "event_id",
               valCol: String = "value"): DataFrame = {
    require(offset2 >= offset1, s"offsets: $offset1 > $offset2")
    val v = col(valCol).cast("decimal(18,2)")
    def aggOf(df: DataFrame, suf: String) =
      df.groupBy(col(keyCol)).agg(count(lit(1)).as(s"n_$suf"),
        sum(v).as(s"s_$suf"))
    val before = aggOf(log.filter(col(offsetCol) <= offset1), "before")
    val delta = aggOf(log.filter(
      col(offsetCol) > offset1 && col(offsetCol) <= offset2), "delta")
    val z = lit(0).cast("decimal(28,2)")
    before.join(delta, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_before"), lit(0L)) +
          coalesce(col("n_delta"), lit(0L))).as("n_after"),
        coalesce(col("s_before"), z).cast("double").as("sum_before"),
        coalesce(col("s_delta"), z).cast("double").as("sum_delta"),
        (coalesce(col("s_before"), z) + coalesce(col("s_delta"), z))
          .cast("double").as("sum_after"))
      .orderBy(col(keyCol))
  }

  /**
   * Incremental JOIN-view maintenance — the join sibling of
   * [[aggDelta]]. The materialized view is `mirror(log) ⋈ dim` (dim
   * keyed 1:1 on the mirror key); when the changelog advances across
   * `(offset1, offset2]`, the view is maintained WITHOUT refolding the
   * base: Δmirror = latest-per-key fold of the delta batch alone, and
   * V₂ = (V₁ minus Δkeys) ∪ (Δmirror ⋈ dim). Valid because the join
   * key IS the mirror key, so a delta on key k replaces exactly V₁'s
   * row for k. Law (the oracle computes the other side): the
   * maintained view equals the direct join of the offset2 mirror.
   *
   * The fold is by ARRIVAL order (`offsetCol` alone, not event time):
   * that is what makes replace-by-delta exact — delta offsets are
   * strictly above base offsets, so "latest in delta" IS "latest
   * overall" for every touched key. An event-time fold would break
   * the law whenever a late-timestamped base row outranks the delta
   * (event-time ordering is [[snapshotAsOf]]'s domain, not a
   * maintained upsert view's).
   *
   * Scale shape: the delta path costs O(|Δ| + touched keys) — one
   * keyed fold on the batch, one join to dim for Δkeys only, one
   * anti-join + union against the standing view. The base mirror is
   * folded once here only because the query must build V₁ from the
   * raw log; in production V₁ is the stored table.
   */
  def joinViewDelta(log: DataFrame, dim: DataFrame, offset1: Long,
                    offset2: Long, keyCol: String = "user_id",
                    offsetCol: String = "event_id"): DataFrame = {
    require(offset2 >= offset1, s"offsets: $offset1 > $offset2")
    def latestByOffset(df: DataFrame): DataFrame = {
      val others = df.columns.filter(_ != keyCol).toSeq
      df.groupBy(col(keyCol))
        .agg(max_by(struct(others.map(col): _*), col(offsetCol)).as("__r"))
        .select(col(keyCol) +: others.map(c => col(s"__r.$c").as(c)): _*)
    }
    val m1 = latestByOffset(log.filter(col(offsetCol) <= offset1))
    val dm = latestByOffset(log.filter(
      col(offsetCol) > offset1 && col(offsetCol) <= offset2))
    val v1 = m1.join(dim, keyCol)
    val dv = dm.join(dim, keyCol)
    v1.join(dv.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(dv)
  }

  /**
   * Retention / log-compaction plan: per entity, keep the newest
   * `keep` versions (by event time, offset tie-break) and account for
   * the rest — the policy pass a CDC store runs before pruning old
   * versions (the reference keeps every change forever; SURVEY §3.4's
   * unbounded-state defect is exactly the absence of this). Output per
   * key: version counts, the kept/pruned split, the oldest offset that
   * must survive and the newest that may be deleted — the inputs a
   * compactor needs to plan deletes without touching row data.
   *
   * Scale shape: one per-key window (partitioned, balanced — the same
   * exchange as [[scd2History]]) feeding a per-key aggregate on the
   * already-keyed rows; no joins, nothing global.
   */
  def versionPrune(log: DataFrame, keep: Int = 3,
                   keyCol: String = "user_id",
                   tsCol: String = "ts",
                   offsetCol: String = "event_id"): DataFrame = {
    require(keep > 0, s"keep=$keep")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(offsetCol).desc)
    log.select(col(keyCol), col(offsetCol), col(tsCol))
      .withColumn("rn", row_number().over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("rn") <= keep, lit(1L)).otherwise(lit(0L)))
          .as("n_kept"),
        sum(when(col("rn") > keep, lit(1L)).otherwise(lit(0L)))
          .as("n_pruned"),
        min(when(col("rn") <= keep, col(offsetCol)))
          .as("oldest_kept_offset"),
        max(when(col("rn") > keep, col(offsetCol)))
          .as("newest_pruned_offset"))
      .orderBy(col(keyCol))
  }

  /**
   * Event-type transition matrix: counts of consecutive
   * (from_type → to_type) steps per user, ordered by event time with
   * the offset as tie-break — the Markov view of user behavior a
   * product pipeline derives from the same change log it extracts
   * (complements [[sessionize]]'s where-time-goes view with
   * what-follows-what). One per-user window (partitioned, never a
   * global sort) + one tiny aggregate keyed by the type pair; at
   * 100 TB the window shuffle is the only data-sized exchange.
   */
  def transitionMatrix(log: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts",
                       offsetCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(offsetCol))
    log.select(col(userCol), col(typeCol),
        lag(col(typeCol), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /**
   * Pipe-delimited rendering of the change row — sink fidelity with the
   * reference's `chunk<i>` format (`WorkerRunnable.java:202-216`): all
   * columns stringified and `|`-joined. Timestamps are rendered as epoch
   * microseconds and floating values through DECIMAL(18,2) so the line
   * is bit-stable across engines. Nulls render as literal `"null"`
   * (JDBC `getString` fidelity).
   */
  def pipeLine(cols: Seq[Column]): Column =
    concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit("null"))): _*)

  /**
   * Per-stream content checksum — the end-to-end integrity check a
   * CDC consumer runs against the source after an extraction window:
   * `bit_xor` of the h60 hash of each rendered change line is
   * order-independent and overflow-free, so the checksum is stable
   * under any partitioning and comparable across engines (the source
   * database can compute the same aggregate). One narrow map + one
   * shuffle keyed by stream; combine-safe at any scale.
   */
  def tableChecksums(log: DataFrame): DataFrame =
    log.select(col("event_type"), col("event_id"),
        graft.functions.functions.h60(pipeLine(Seq(col("event_id"),
          Cols.epochUs(col("ts")), col("user_id"), col("event_type"),
          col("value").cast("decimal(18,2)"), col("props")))).as("h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        expr("bit_xor(h)").as("checksum"))
      .orderBy(col("event_type"))

  /**
   * Offset-sequence gap detection — the integrity check behind the
   * reference's `(min, max]` extraction contract
   * (`CoordinatorRunnable.java:87-92`): every id between consecutive
   * extracted offsets must exist, or changes were lost. Returns one row
   * per gap: `(before_id, after_id, n_missing)`.
   *
   * Scalable shape: ids are bucketed (`id div bucket`); a per-bucket
   * aggregate finds intra-bucket gaps ONLY in buckets whose count ≠
   * max−min+1, a windowed `lead` runs per-bucket (partitioned — never a
   * single global sort), and inter-bucket gaps come from joining each
   * bucket's max to the next non-empty bucket's min. At 100 TB the
   * common all-contiguous case costs one scan + one tiny aggregate.
   */
  def gapDetection(log: DataFrame, offsetCol: String = "event_id",
                   bucket: Long = 8192L): DataFrame = {
    // pure long arithmetic (id - id mod bucket): `/` would go through
    // double and misbucket offsets above 2^53
    val ids = log.select(col(offsetCol).as("id"))
      .withColumn("b", col("id") - pmod(col("id"), lit(bucket)))
    // distinct count: redelivered duplicate offsets must not mask a
    // missing id (count(*) could equal hi-lo+1 with a real gap)
    val stats = ids.groupBy(col("b"))
      .agg(countDistinct(col("id")).as("n"), min(col("id")).as("lo"),
        max(col("id")).as("hi"))
    // intra-bucket gaps: lead() only inside flagged buckets
    val gappy = stats.filter(col("n") =!= col("hi") - col("lo") + 1)
      .select(col("b").as("gb"))
    // no broadcast hint: gappy is empty on a healthy log but grows
    // with corpus badness (up to bucket-count rows on a heavily gapped
    // log) — let AQE pick broadcast vs shuffle from its runtime size;
    // the bucket-id key shapes a shuffled join fine when it's large
    val wb = Window.partitionBy(col("b")).orderBy(col("id"))
    val intra = ids.join(gappy, col("b") === col("gb"))
      .withColumn("next_id", lead(col("id"), 1).over(wb))
      .filter(col("next_id") > col("id") + 1)
      .select(col("id").as("before_id"), col("next_id").as("after_id"))
    // inter-bucket gaps, two-level so no window ever sees the full
    // bucket list in one partition: lead(lo) within a super-bucket of
    // 4096 buckets, then a tiny super-level window for boundaries
    // (bucket-count/4096 rows — fine even at trillions of offsets)
    val superW = bucket * 4096L
    val statsS = stats.withColumn("sb", col("b") - pmod(col("b"), lit(superW)))
    val wIn = Window.partitionBy(col("sb")).orderBy(col("b"))
    val interIn = statsS
      .withColumn("next_lo", lead(col("lo"), 1).over(wIn))
      .filter(col("next_lo") > col("hi") + 1)
      .select(col("hi").as("before_id"), col("next_lo").as("after_id"))
    val superStats = statsS.groupBy(col("sb"))
      .agg(min(col("lo")).as("first_lo"), max(col("hi")).as("last_hi"))
    val wSuper = Window.orderBy(col("sb"))
    val interSuper = superStats
      .withColumn("next_first_lo", lead(col("first_lo"), 1).over(wSuper))
      .filter(col("next_first_lo") > col("last_hi") + 1)
      .select(col("last_hi").as("before_id"),
        col("next_first_lo").as("after_id"))
    intra.union(interIn).union(interSuper)
      .select(col("before_id"), col("after_id"),
        (col("after_id") - col("before_id") - 1).as("n_missing"))
  }

  /**
   * Snapshot-diff CDC — the INVERSE of [[applyChanges]]: given two
   * materialized mirrors, emit the minimal change set that turns
   * `before` into `after` (`I` = key only in after, `D` = key only in
   * before, `U` = key in both with any column changed, null-safely).
   * This is change-data-feed generation when no changelog exists —
   * the nightly-snapshot world the reference's polling extractor was
   * built to replace (reference `CoordinatorRunnable.java:35-42`
   * polls a log precisely because diffing full snapshots was too
   * slow; at Spark scale the diff is ONE full-outer join, keyed and
   * balanced, so both strategies coexist).
   *
   * Payload: after-side values for I/U, before-side values for D
   * (what was deleted). Law (spec- and oracle-pinned):
   * `applyDiff(before, snapshotDiff(before, after)) == after`.
   */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keyCol: String = "user_id",
                   actionOut: String = "diff_action"): DataFrame = {
    val cols = after.columns.filter(_ != keyCol).toSeq
    val b = before.select(col(keyCol).as("__kb"),
      struct(cols.map(col): _*).as("__b"))
    val a = after.select(col(keyCol).as("__ka"),
      struct(cols.map(col): _*).as("__a"))
    val same = cols.map(c => col(s"__a.$c") <=> col(s"__b.$c"))
      .reduce(_ && _)
    b.join(a, col("__kb") === col("__ka"), "full_outer")
      .select(coalesce(col("__ka"), col("__kb")).as(keyCol),
        when(col("__kb").isNull, lit("I"))
          .when(col("__ka").isNull, lit("D"))
          .when(!same, lit("U")).as(actionOut),
        when(col("__ka").isNull, col("__b")).otherwise(col("__a"))
          .as("__p"))
      .filter(col(actionOut).isNotNull)
      .select(col(keyCol) +: col(actionOut) +:
        cols.map(c => col(s"__p.$c").as(c)): _*)
  }

  /**
   * Apply a [[snapshotDiff]] change set onto the mirror it was
   * diffed FROM: D keys drop, I/U rows land verbatim (the diff is
   * authoritative — no position comparison, unlike the changelog
   * fold). One keyed anti-join + union; the mirror side never sorts.
   */
  def applyDiff(snapshot: DataFrame, diff: DataFrame,
                keyCol: String = "user_id",
                actionCol: String = "diff_action"): DataFrame = {
    val untouched = snapshot.join(diff.select(col(keyCol)), Seq(keyCol),
      "left_anti")
    val upserts = diff.filter(col(actionCol) =!= "D").drop(actionCol)
    untouched.unionByName(upserts.select(snapshot.columns.map(col): _*))
  }

  /**
   * Merge overlapping/touching half-open intervals per key — the
   * gaps-and-islands coalesce (dup-span rollups, availability
   * windows, session stitching). A new island starts where `start`
   * exceeds the running max of previous `end`s; island ids are the
   * running count of starts. Both windows partition by key (thousands
   * of small per-key frames — never a global sort); one keyed
   * aggregate finishes.
   */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol), col(tieCol))
    val prevMax = max(col(endCol)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("__new",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__island"))
      .agg(min(col(startCol)).as("span_start"),
        max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_intervals"))
      .drop("__island")
  }

  /**
   * Out-of-order arrival profile — how late does event time lag the
   * extraction order? Per stream: total rows, late rows (event time
   * strictly below the running event-time max at that offset), and a
   * log₂-octave histogram of the lateness in microseconds — exactly
   * the evidence needed to size a streaming watermark delay
   * (reference consumers get this wrong by guessing; T8's
   * `withWatermark` clamp consumes the chosen horizon).
   *
   * The running max over extraction order is data-sized, so it uses
   * the decomposed [[PrefixAgg.prefixMax]] — never a global window.
   * The octave is an integer floor-log₂ via binary-string length (no
   * floating log — oracle-exact at any magnitude). One keyed shuffle
   * (the prefix levels) + one small aggregate.
   */
  def latenessProfile(log: DataFrame): DataFrame = {
    val ev = log.select(col("event_id"), col("event_type"),
      Cols.epochUs(col("ts")).as("ts_us"))
    val withMax = PrefixAgg.prefixMax(ev, "event_id", "ts_us", "run_max_us")
    withMax
      .withColumn("late_us", col("run_max_us") - col("ts_us"))
      .withColumn("late_bin",
        when(col("late_us") === 0L, lit(0L))
          .otherwise(length(bin(col("late_us"))).cast("long")))
      .groupBy(col("event_type"), col("late_bin"))
      .agg(count(lit(1)).as("n"), max(col("late_us")).as("max_late_us"))
      .orderBy(col("event_type"), col("late_bin"))
  }
}
