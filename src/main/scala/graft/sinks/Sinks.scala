package graft.sinks

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CdcOps
import graft.streaming.StalenessListener

/**
 * The extractor's two outputs, mirroring the reference's (SURVEY.md
 * §2.1 S5/S6): the pipe-delimited chunk files every micro-batch lands
 * through, committed by atomic rename instead of per-row `flush()`
 * (`WorkerRunnable.java:211`), and the staleness/throughput CSV.
 */
object Sinks {

  /**
   * S5: pipe-delimited chunk files, one `part-<pid>.txt` per non-empty
   * partition ≙ one `chunk<i>` per worker (`WorkerRunnable.java:75-80,
   * 202-216`), null as `"null"`. The directory is recreated first, so a
   * replayed call replaces what an earlier attempt left. One job, no
   * `_temporary/`, `_SUCCESS` or `.crc`. Tasks write with java.nio, so
   * `path` is local (plain or `file:`): `local[n]` runs them in the driver.
   */
  def writePipeChunks(df: DataFrame, cols: Seq[Column], path: String): Unit = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"writePipeChunks writes local files only, not $path")
    val dir = uri.getPath
    FileUtils.deleteDirectory(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    df.select(CdcOps.pipeLine(cols)).queryExecution.toRdd.foreachPartition {
      rows =>
        val task = TaskContext.get()
        writeChunk(Paths.get(dir), task.partitionId(), task.taskAttemptId(),
          rows.map(_.getUTF8String(0)))
    }
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
   * collapse to one queryable frame from the listener.
   */
  def writeMetricsCsv(listener: StalenessListener, spark: SparkSession,
                      path: String): Unit =
    listener.toDF(spark)
      .select(col("batchId"), col("wallClockMs"), col("eventTimeMaxMs"),
        col("stalenessMs"), col("avgStalenessMs"), col("numInputRows"),
        col("batchDurationMs"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
}
