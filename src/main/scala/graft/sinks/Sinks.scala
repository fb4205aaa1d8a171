package graft.sinks

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CdcOps
import graft.streaming.{Freshness, Landed}

/**
 * The extractor's two outputs, mirroring the reference's (SURVEY.md
 * §2.1 S5/S6): the pipe-delimited chunk files every micro-batch lands
 * through, committed by atomic rename instead of per-row `flush()`
 * (`WorkerRunnable.java:211`), and the staleness/throughput CSV, one
 * row per batch of the extraction query's own freshness log, which the
 * chunk-write job fills with what it landed.
 */
object Sinks {

  /** What one partition of [[writePipeChunks]] landed: its line count
    * and the largest non-null `key` among those lines. */
  final case class Chunk(lines: Long, maxKey: Option[Long])

  /**
   * S5: pipe-delimited chunk files, one `part-<pid>.txt` per non-empty
   * partition ≙ one `chunk<i>` per worker (`WorkerRunnable.java:75-80,
   * 202-216`), null as `"null"`. The directory is recreated first, so a
   * replayed call replaces what an earlier attempt left. One job, no
   * `_temporary/`, `_SUCCESS` or `.crc`; the same job reports each
   * partition's [[Chunk]], with `key` read as a long. Tasks write with
   * java.nio, so `path` is local (plain or `file:`): `local[n]` runs them
   * in the driver.
   */
  def writePipeChunks(df: DataFrame, cols: Seq[Column], key: Column,
                      path: String): Seq[Chunk] = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"writePipeChunks writes local files only, not $path")
    val dir = uri.getPath
    FileUtils.deleteDirectory(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    val rdd = df.select(CdcOps.pipeLine(cols), key.cast("long"))
      .queryExecution.toRdd
    df.sparkSession.sparkContext.runJob(rdd,
      (task: TaskContext, rows: Iterator[InternalRow]) => {
        var (lines, keys, max) = (0L, 0L, Long.MinValue)
        writeChunk(Paths.get(dir), task.partitionId(), task.taskAttemptId(),
          rows.map { r =>
            lines += 1
            if (!r.isNullAt(1)) { keys += 1; max = math.max(max, r.getLong(1)) }
            r.getUTF8String(0)
          })
        Chunk(lines, Option.when(keys > 0)(max))
      }).toSeq
  }

  /** One partition's lines into a hidden temp file, renamed over
    * `part-<pid>.txt`: a reader sees a whole chunk or none, a retry
    * replaces the earlier file, a failure leaves nothing. */
  private[sinks] def writeChunk(dir: Path, partitionId: Int, attemptId: Long,
                                lines: Iterator[UTF8String]): Unit =
    if (lines.hasNext) {
      val tmp = dir.resolve(s".part-$partitionId-$attemptId.tmp")
      try {
        val out = new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
        try lines.foreach { l => l.writeTo(out); out.write('\n') }
        finally out.close()
        Files.move(tmp, dir.resolve(f"part-$partitionId%05d.txt"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    }

  /**
   * S6: the metric CSVs (`staleness_*`, `task_processing_time_*`,
   * `CoordinatorRunnable.java:53-64`; `QueryRequestRunnable.java:19-27`)
   * collapse to one row per extraction batch of one query's freshness
   * log: what it landed, when, the staleness trough at that moment and
   * the time-weighted staleness mean so far ([[Freshness]]).
   */
  def writeMetricsCsv(log: Seq[Landed], spark: SparkSession,
                      path: String): Unit = {
    import spark.implicits._
    log.lazyZip(Freshness.troughsMs(log)).lazyZip(Freshness.timeWeightedMs(log))
      .map { (l, trough, avg) =>
        (l.batchId, l.rows, l.maxCommitUs, l.visibleMs, trough, avg) }
      .toSeq.toDF("batchId", "rows", "maxCommitUs", "visibleMs",
        "stalenessMs", "avgStalenessMs")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }
}
