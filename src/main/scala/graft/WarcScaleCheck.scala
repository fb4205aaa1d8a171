package graft

import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

/**
 * Dev-only WARC streaming-source probe (r13 verdict item 1's "done"
 * criterion: flat peak memory vs file size, and a past-the-2-GiB-wall
 * file parsing at all): generates `.warc.gz` files at growing
 * INFLATED sizes — the largest past the JVM's 2 GiB array cap, the
 * exact size class whole-file materialization (the r13 design) could
 * never parse — by STREAMING records through a GZIPOutputStream
 * (generation itself never holds the file), then parses each through
 * [[graft.operators.Warc.readWarcFilesStream]] counting records,
 * timing the pass, and sampling JVM heap every 50 ms for the peak.
 *
 * Reading: `records` must equal the generated count with zero flagged
 * rows; `peak_heap_mb` must stay roughly flat as `inflated_gb` grows
 * 16× (the parser holds one header buffer + one ≤1 MiB block; Spark
 * task overhead is the noise floor).
 *
 * Usage: runMain graft.WarcScaleCheck [sizesMiB...] (default
 * 288,1152,4608 — the last is 4.5 GiB inflated, > the 2 GiB wall).
 */
object WarcScaleCheck {

  private def writeFile(path: java.nio.file.Path,
                        inflatedBytes: Long): Long = {
    val out = new GZIPOutputStream(
      java.nio.file.Files.newOutputStream(path), 1 << 16)
    // parens are load-bearing: * binds tighter than +, so without
    // them only the second literal repeats (~28 KiB records)
    val bodyUnit = (("All work and no play makes a crawl corpus dull. " +
      "0123456789 abcdefghijklmnopqrstuvwxyz.\n") * 100)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // ~62 KiB body per record
    val body = Array.fill(7)(bodyUnit).flatten
    var written = 0L
    var n = 0L
    while (written < inflatedBytes) {
      val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://probe.example/p/$n\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(hdr); out.write(body); out.write('\r'); out.write('\n')
      out.write('\r'); out.write('\n')
      written += hdr.length + body.length + 4
      n += 1
    }
    out.close()
    n
  }

  def main(args: Array[String]): Unit = {
    val sizesMiB =
      if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(288L, 1152L, 4608L)
    val spark = GraftSession.local()
    val dir = java.nio.file.Files.createTempDirectory("warc-scale")
    try {
      for (mib <- sizesMiB) {
        val f = dir.resolve(f"probe_$mib%06d.warc.gz")
        val nGen = writeFile(f, mib * 1024L * 1024L)
        // heap sampler: peak used heap during the parse
        val peak = new java.util.concurrent.atomic.AtomicLong(0L)
        @volatile var stop = false
        val sampler = new Thread(() => {
          val rt = Runtime.getRuntime
          while (!stop) {
            val used = rt.totalMemory() - rt.freeMemory()
            peak.updateAndGet(p => math.max(p, used))
            Thread.sleep(50)
          }
        })
        sampler.setDaemon(true)
        System.gc()
        sampler.start()
        val run = graft.util.Meter.run(graft.operators.Warc
          .readWarcFilesStream(spark, f.toString)
          .agg(count(lit(1)).as("n"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("flagged"),
            sum(length(col("block"))).as("bytes"))
          .collect().head)
        stop = true
        sampler.join()
        val (counts, wall) = (run.get, run.wallS)
        println(f"WARCSTREAM inflated_mib=$mib%d gen_records=$nGen%d " +
          f"records=${counts.getLong(0)}%d flagged=${counts.getLong(1)}%d " +
          f"block_bytes=${counts.getLong(2)}%d wall_s=$wall%.1f " +
          f"peak_heap_mb=${peak.get() / 1024 / 1024}%d")
        java.nio.file.Files.delete(f)
      }
    } finally {
      spark.stop()
      java.nio.file.Files.walk(dir).sorted(
        java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }
}
