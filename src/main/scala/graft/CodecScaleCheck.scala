package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions.col

import graft.operators.Multimodal
import graft.util.Meter

/**
 * Dev-only decode-throughput probe for the REAL image codec (r9
 * verdict item 3): generates tens of thousands of genuine PNG payloads
 * (constant-color 64×64 — pixel sums analytic from the id, so the run
 * also VERIFIES every decode), then times
 * [[Multimodal.decodeImagesBatched]] over them at two corpus scales
 * and three batch sizes.
 *
 * Methodology follows ScaleCheck's hard-won rules: generation is
 * checkpointed OUTSIDE the timed window (the probe times decode, not
 * PNG encode); partition count scales with the corpus (constant
 * partition size); byte counters ride along to show the decode stage
 * is payload-local (zero shuffle). Peak decoded state per task is
 * `batchSize` images BY CONSTRUCTION (the `grouped(batchSize)`
 * iterator never holds more), which the batch-shape spec pins; the
 * batchSize sweep here shows the wall-time cost of that bound.
 *
 * Usage: runMain graft.CodecScaleCheck [mode] [n20x] — mode one of
 * `image` (default: decode throughput sweep), `neardup` (the unified
 * real chain: decode → aHash → banded near-dup → manifest, r10
 * verdict item 2), `audio` (WAV decode + block energies, r10 item 4),
 * `gif` (frame sampling + scene cuts, r10 item 4). n20x defaults to
 * 10000; the second scale is 5× that.
 */
object CodecScaleCheck {

  /** Deterministic synthetic PNG: 64×64, constant RGB derived from the
    * id. Analytic ground truth: each channel sum = 4096 × its value. */
  def pngBytes(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (((id * 31) % 256) << 16 | ((id * 17) % 256) << 8 |
      (id % 256)).toInt
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic ~half-weight 64-bit cell pattern per id (splitmix
    * finalizer — replayable, no Random). */
  def pat(id: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Structured synthetic PNG: 64×64 with 8×8 black/white cells from
    * the id's pattern — every image gets a DISTINCT aHash (constant
    * colors would all hash to 0), so near-dup candidates come only
    * from planted duplicates: every 10th id reuses (id-5)'s pattern,
    * making true-pair count scale linearly with the corpus. */
  def cellPngBytes(id: Long): Array[Byte] = {
    val p = if (id % 10 == 9) pat(id - 5) else pat(id)
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val cell = (y / 8) * 8 + (x / 8)
        img.setRGB(x, y,
          if (((p >> cell) & 1L) == 1L) 0xFFFFFF else 0x000000)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic mono 16-bit PCM WAV, 4000 samples seeded by id. */
  def wavBytes(id: Long): Array[Byte] = {
    val n = 4000
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((id * 31 + i) * 2654435761L >>> 16) % 8192L).toShort
      data(2 * i) = s.toByte
      data(2 * i + 1) = (s >> 8).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic 8-frame 16×16 animated GIF with one scene cut at
    * frame 4 (pattern flips halves) — scene statistics analytic. */
  def gifBytes(id: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until 8) {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val bright =
          if (f < 4) (x + id).toInt % 16 < 8 else (y + id).toInt % 16 < 8
        img.setRGB(x, y, if (bright) 0xFFFFFF else 0x000000)
      }
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    out.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(a => a.toLongOption.isEmpty)
      .getOrElse("image")
    val nArgs = args.flatMap(_.toLongOption)
    val n20 = nArgs.headOption.getOrElse(10000L)
    val spark = GraftSession.local()
    import spark.implicits._
    val listener = new graft.streaming.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def gen(n: Long, bytes: Long => Array[Byte]) = {
      // constant partition SIZE (~2500 payloads each), generation
      // checkpointed before any clock starts
      val parts = math.max(4L, n / 2500L).toInt
      val media = spark.range(n).repartition(parts)
        .as[Long].map(i => Multimodal.MediaRow(i, bytes(i)))
        .localCheckpoint(true)
      require(media.count() == n)
      media
    }
    def timed(reps: Int)(body: => Unit): Double =
      (1 to reps).map { _ =>
        listener.reset()
        val run = Meter.run(body)
        run.get
        run.wallS
      }.min

    for (n <- Seq(n20, n20 * 5)) mode match {
      case "image" =>
        val media = gen(n, pngBytes)
        for (bs <- Seq(16, 64, 256)) {
          val t = timed(2) {
            Multimodal.decodeImagesBatched(media, batchSize = bs)
              .write.mode("overwrite").format("noop").save()
          }
          val res = Meter.settle(listener)
          println(f"CODECSCALE n=$n%7d batch=$bs%4d wall=$t%7.2fs " +
            f"rows_per_s=${n / t}%9.0f ${res.render}")
        }
        // every decode verified against the analytic pixel sums — a
        // throughput number for a wrong decode would be worthless
        val bad = Multimodal.decodeImagesBatched(media, batchSize = 64)
          .filter(r => !(r.width == 64 && r.height == 64 &&
            r.sumR == 4096L * ((r.id * 31) % 256) &&
            r.sumG == 4096L * ((r.id * 17) % 256) &&
            r.sumB == 4096L * (r.id % 256)))
          .count()
        require(bad == 0L, s"$bad wrong decodes at n=$n")
        println(s"CODECSCALE n=$n decode verified exact (0 mismatches)")
        graft.util.Checkpoints.release(media.toDF())

      case "neardup" =>
        // the unified real chain end-to-end: every 10th id is a
        // planted dup, so true pairs = n/10 exactly (pattern space
        // 2^64 makes accidental collisions negligible); manifest
        // rows = n - n/10 (one survivor per planted pair). Both grid
        // widths: 8 (one-word aHash) and 16 (the 256-bit/4-word hash
        // whose band budget survives past 4.2M docs).
        val media = gen(n, cellPngBytes)
        for (grid <- Seq(8, 16)) {
          val t = timed(2) {
            Multimodal.realMediaManifest(media, grid = grid,
                corpusSize = Some(n))
              .write.mode("overwrite").format("noop").save()
          }
          val res = Meter.settle(listener)
          val pairs = Multimodal.ahashNearDupPairs(media, grid = grid,
            corpusSize = Some(n)).count()
          val kept = Multimodal.realMediaManifest(media, grid = grid,
            corpusSize = Some(n)).count()
          require(pairs == n / 10, s"grid=$grid pairs=$pairs want ${n / 10}")
          require(kept == n - n / 10,
            s"grid=$grid kept=$kept want ${n - n / 10}")
          println(f"CODECSCALE mode=neardup grid=$grid%2d n=$n%7d " +
            f"wall=$t%7.2fs rows_per_s=${n / t}%9.0f " +
            f"pairs=$pairs kept=$kept ${res.render}")
        }
        graft.util.Checkpoints.release(media.toDF())

      case "audio" =>
        val media = gen(n, wavBytes)
        val t = timed(2) {
          Multimodal.decodeAudioBatched(media)
            .write.mode("overwrite").format("noop").save()
        }
        val res = Meter.settle(listener)
        println(f"CODECSCALE mode=audio-decode n=$n%7d wall=$t%7.2fs " +
          f"rows_per_s=${n / t}%9.0f ${res.render}")
        val tE = timed(2) {
          Multimodal.audioBlockEnergies(media, blockSamples = 1000)
            .write.mode("overwrite").format("noop").save()
        }
        val resE = Meter.settle(listener)
        // 4000 samples / 1000-sample blocks = 4 rows per payload
        val nb = Multimodal.audioBlockEnergies(media,
          blockSamples = 1000).count()
        require(nb == 4L * n, s"blocks=$nb want ${4L * n}")
        println(f"CODECSCALE mode=audio-energy n=$n%7d wall=$tE%7.2fs " +
          f"rows_per_s=${n / tE}%9.0f blocks=$nb ${resE.render}")
        graft.util.Checkpoints.release(media.toDF())

      case "gif" =>
        val media = gen(n, gifBytes)
        val t = timed(2) {
          Multimodal.sampleFramesBatched(media, everyN = 2)
            .write.mode("overwrite").format("noop").save()
        }
        val res = Meter.settle(listener)
        // 8 frames sampled every 2 = 4 rows per payload
        val nf = Multimodal.sampleFramesBatched(media, everyN = 2).count()
        require(nf == 4L * n, s"frames=$nf want ${4L * n}")
        println(f"CODECSCALE mode=gif-sample n=$n%7d wall=$t%7.2fs " +
          f"rows_per_s=${n / t}%9.0f frames=$nf ${res.render}")
        val tC = timed(2) {
          Multimodal.sceneCuts(media, everyN = 2)
            .write.mode("overwrite").format("noop").save()
        }
        val resC = Meter.settle(listener)
        // cuts: comparisons at sampled frames 2,4,6; the flip at
        // frame 4 crosses the threshold once per payload
        val cuts = Multimodal.sceneCuts(media, everyN = 2)
          .filter(col("is_cut")).count()
        require(cuts == n, s"cuts=$cuts want $n")
        println(f"CODECSCALE mode=gif-cuts n=$n%7d wall=$tC%7.2fs " +
          f"rows_per_s=${n / tC}%9.0f cuts=$cuts ${resC.render}")
        graft.util.Checkpoints.release(media.toDF())

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
