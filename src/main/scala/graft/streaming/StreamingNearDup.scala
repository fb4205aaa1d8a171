package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming NEAR-dup screen — the ingestion-time counterpart of the
 * batch MinHash+LSH family ([[graft.operators.Dedup.lshBuckets]]),
 * completing the dedup story the way a 100 TB crawl pipeline runs it:
 * the horizon-bounded stream screen catches the dominant
 * near-in-time duplicate mass (re-fetches, mirror bursts) at constant
 * memory, and the periodic batch `nearDuplicatePairs` compaction does
 * the exact verification.
 *
 * Mechanics: each arriving document explodes into its `bands` LSH
 * band rows (same h60 MinHash signature as the batch path, so stream
 * and batch bucket IDENTICALLY); per (band, bucket) key, a
 * `flatMapGroupsWithState` marks the first-in-horizon row as the
 * bucket OWNER and every later row as a collision. The per-document
 * verdict is a plain per-micro-batch rollup ([[verdicts]], run inside
 * `foreachBatch` — a document's band rows never split across
 * micro-batches because they explode from one source row):
 *   - `bands_owned == n_bands` — no band seen before: the document is
 *     fresh, admit it;
 *   - `bands_owned < n_bands` — at least one band collided: a
 *     NEAR-DUP CANDIDATE (`is_candidate`), routed to the batch
 *     verifier. The screen deliberately flags rather than drops:
 *     banding has false positives by design (that is the recall/cost
 *     dial), so only the exact Jaccard verify may discard.
 *
 * State is one marker per live (band, bucket) within the watermark
 * horizon, evicted by event-time timeout `horizonMs` past the
 * bucket's last sighting — state tracks arrival rate × horizon, never
 * the corpus. The documented trade-off is the same as
 * [[graft.operators.Dedup.streamingDedup]]: a duplicate arriving
 * after its bucket aged out re-owns the bucket and is re-admitted.
 * Within a micro-batch, ownership follows the (ts, doc_id) total
 * order, so replays fold deterministically — and the horizon applies
 * INSIDE a batch too (a row whose event-time gap from the bucket's
 * previous sighting exceeds the horizon re-owns it), so the verdict
 * never depends on how rows happened to split across micro-batches.
 */
object StreamingNearDup {

  final case class BandRow(docId: Long, ts: Timestamp, band: Int,
                           bucket: Long)
  final case class BandOwn(docId: Long, ts: Timestamp, band: Int,
                           owned: Boolean)
  final case class BucketState(maxTsMs: Long)

  /** The exploded (doc, band, bucket) stream — the batch
    * [[graft.operators.Dedup.lshBuckets]] itself (h60 MinHash over
    * word-`k` shingles of the normalized text), carrying the event-time
    * column through: stream and batch bucketing are ONE code path, so
    * they cannot drift. */
  def bandRows(docs: DataFrame, tsCol: String = "event_time",
               perms: Int = 32, bands: Int = 8, k: Int = 3): DataFrame =
    graft.operators.Dedup.lshBuckets(docs, perms, bands, k,
      carry = Seq(tsCol))

  /** Band-ownership stream: one row per input band row, `owned` true
    * iff this row is the bucket's first sighting within the horizon.
    * Append-mode stateful map; feed [[verdicts]] per micro-batch. */
  def ownership(docs: DataFrame, delay: String = "10 seconds",
                horizonMs: Long = 10000L, tsCol: String = "event_time",
                perms: Int = 32, bands: Int = 8,
                k: Int = 3): Dataset[BandOwn] = {
    implicit val rowEnc = Encoders.product[BandRow]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[BandOwn]
    bandRows(docs, tsCol, perms, bands, k)
      .withWatermark(tsCol, delay)
      .select(col("doc_id").as("docId"), col(tsCol).as("ts"),
        col("band"), col("bucket"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.bucket))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[BucketState, BandOwn](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[BandRow],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove() // bucket idle past the horizon: re-admit next
            Iterator.empty
          } else {
            // deterministic in-batch ownership: (ts, doc_id) order.
            // getTime alone is millisecond-truncated, so sort on whole
            // seconds (floorDiv, exact for pre-1970 instants) and then
            // the sub-second nanos, so microsecond timestamps keep
            // their true order
            val ordered = rows.toSeq.sortBy(r =>
              (Math.floorDiv(r.ts.getTime, 1000L), r.ts.getNanos, r.docId))
            // a bucket whose horizon already passed the watermark is
            // stale even if its timeout callback hasn't fired yet — a
            // batch that both times the bucket out AND carries new data
            // for it is delivered here with hasTimedOut=false, so the
            // horizon must be re-checked or re-admission would depend
            // on micro-batch alignment
            val stale = state.getOption.exists(
              _.maxTsMs + horizonMs < state.getCurrentWatermarkMs())
            // walk the ordered rows carrying the bucket's last sighting
            // (ms): a row whose gap from it exceeds the horizon re-owns
            // the bucket IN-BATCH too (r8 advisory) — had the rows split
            // across micro-batches, the timeout/stale path would have
            // evicted the bucket between them, so the verdict must not
            // depend on micro-batch alignment in either direction
            var last = if (!state.exists || stale) Long.MinValue
                       else state.get.maxTsMs
            val out = ordered.map { r =>
              val t = r.ts.getTime
              val owned = last == Long.MinValue || t - last > horizonMs
              last = math.max(last, t)
              BandOwn(r.docId, r.ts, r.band, owned)
            }
            state.update(BucketState(last))
            // clamp past the watermark: flatMapGroupsWithState does NOT
            // drop pre-watermark rows, and a straggler's maxTs+horizon
            // can land behind the current watermark — an unclamped
            // setTimeoutTimestamp throws and kills the query (same
            // failure TransitionTracker documents). The straggler owns
            // its (already-evicted) bucket and is admitted; the batch
            // verifier behind the screen catches what that lets through.
            state.setTimeoutTimestamp(math.max(last + horizonMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Per-document rollup of a band-ownership MICRO-BATCH (run inside
    * `foreachBatch`; correct there because a document's band rows
    * explode from one source row and so share a batch): bands owned vs
    * carried, and the candidate flag for the batch verifier. */
  def verdicts(own: DataFrame): DataFrame =
    own.groupBy(col("docId").as("doc_id"))
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("owned"), lit(1L)).otherwise(lit(0L)))
          .as("bands_owned"))
      .select(col("doc_id"), col("n_bands"), col("bands_owned"),
        (col("bands_owned") < col("n_bands")).as("is_candidate"))
}
