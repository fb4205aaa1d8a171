package graft.streaming

/**
 * What one extraction micro-batch landed ([[ExtractionPipeline.writeBatch]]):
 * its line count, the largest `commit_ts` among those lines (epoch µs;
 * `None` for a batch that landed nothing) and the driver's wall time
 * once every chunk of the batch had been renamed in.
 */
final case class Landed(batchId: Long, rows: Long, maxCommitUs: Option[Long],
                        visibleMs: Long)

/**
 * Staleness as the reference defines it (T5): `now − uptodate`, where
 * `uptodate` is the largest commit ts extracted so far
 * (`WorkerRunnable.java:145-150`), sampled every 10 ms and averaged
 * over time (`QueryRequestRunnable.java:30-53`). Over one query's log
 * of [[Landed]] records that curve is a sawtooth: `uptodate` steps up
 * to u_i at each visible time t_i, and staleness then climbs with
 * slope 1 until the next step. Both figures are pure functions of the
 * log, and the time average is exact with no sampler thread.
 */
object Freshness {

  /** u_i per record, in ms: the running max of landed commit ts. A
    * batch that landed nothing keeps the previous value. */
  private def uptodateMs(log: Seq[Landed]): Seq[Option[Double]] =
    log.scanLeft(Option.empty[Long])((u, l) => (u ++ l.maxCommitUs).maxOption)
      .tail.map(_.map(_ / 1000.0))

  /** Per record, the staleness the moment it became visible, t_i − u_i:
    * the bottom of the sawtooth. `None` until a batch has landed a row. */
  def troughsMs(log: Seq[Landed]): Seq[Option[Double]] =
    log.lazyZip(uptodateMs(log)).map((l, u) => u.map(l.visibleMs - _))

  /** Per record, the time-weighted mean of `now − uptodate` from the
    * first landing t_1 to this record's t_n:
    * Σ (t_{i+1} − t_i)·((t_i + t_{i+1})/2 − u_i) / (t_n − t_1).
    * `None` while that span is empty. */
  def timeWeightedMs(log: Seq[Landed]): Seq[Option[Double]] = {
    val pts = log.map(_.visibleMs.toDouble).zip(uptodateMs(log))
    val before = pts.segmentLength(_._2.isEmpty)
    val landed = pts.drop(before).map { case (t, u) => (t, u.get) }
    val areas = landed.zip(landed.drop(1)).scanLeft(0.0) {
      case (a, ((t0, u0), (t1, _))) => a + (t1 - t0) * ((t0 + t1) / 2 - u0) }
    Seq.fill(before)(None) ++ landed.zip(areas).map { case ((t, _), a) =>
      val span = t - landed.head._1
      Option.when(span > 0)(a / span)
    }
  }
}
