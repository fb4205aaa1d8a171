package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{ChangeLogStream, ExtractionPipeline, GapMonitor, StreamingNearDup}

/**
 * Dev-only STREAMING scale probe (r8 verdict item 2) — the batch
 * operators' 100× story is measured in [[ScaleCheck]]; this main
 * measures the three live streaming paths at 20× and 100× event
 * RATES and prints, per micro-batch, the trigger latency and the
 * state-store row count, so the two claims the Scaladocs assert are
 * numbers instead of prose:
 *
 *  - state grows with rate × horizon, NOT with stream lifetime — the
 *    per-batch `stateRows` series must PLATEAU once the horizon is
 *    saturated and stay flat forever after (eviction keeps up);
 *  - per-batch latency does not grow with batch index at a fixed rate
 *    (no accumulating work), and grows at most linearly in the rate.
 *
 * Components: [[StreamingNearDup]] (LSH band ownership,
 * event-time-timeout state), [[GapMonitor]] (offset-gap tracking,
 * O(maxTracked) state per source), and the [[ChangeLogStream]]
 * extraction over parquet segments (admission-controlled micro-batches
 * through the pipe-format projection — the reference's whole job,
 * `CoordinatorRunnable.java:75-94`, at scaled rates).
 *
 * Usage: `runMain graft.StreamScaleCheck
 * [neardup|gapmon|extract|bpeserve|curation ...]`
 * (no args = all). Prints `STREAMSCALE` lines; the SUMMARY line
 * per (component, rate) carries the plateau and flatness verdicts
 * recorded in SURVEY §10.
 */
object StreamScaleCheck {

  /** Per-batch measurements out of `recentProgress` (data batches only). */
  private def progressLines(q: StreamingQuery): Seq[(Long, Long, Long)] = {
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val trig = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L)
      val state = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
      (p.numInputRows, trig, state)
    }
  }

  private def report(tag: String, mult: Int,
                     rows: Seq[(Long, Long, Long)]): Unit = {
    rows.zipWithIndex.foreach { case ((n, trig, state), i) =>
      println(f"STREAMSCALE $tag rate=${mult}%3dx batch=$i%2d rows=$n%7d " +
        f"trigMs=$trig%6d stateRows=$state%9d")
    }
    def median(xs: Seq[Long]): Long =
      if (xs.isEmpty) -1L else xs.sorted.apply(xs.size / 2)
    val (head, tail) = rows.map(_._2).splitAt(rows.size / 2)
    val flat = median(tail).toDouble / math.max(1L, median(head))
    val plateauWindow = rows.takeRight(3).map(_._3)
    val plateau =
      if (plateauWindow.isEmpty || plateauWindow.min == 0L) 0.0
      else plateauWindow.max.toDouble / plateauWindow.min
    println(f"STREAMSCALE SUMMARY $tag rate=${mult}%3dx batches=${rows.size} " +
      f"medTrigMsHead=${median(head)} medTrigMsTail=${median(tail)} " +
      f"flatness=$flat%.2f plateauStateRows=${plateauWindow.lastOption.getOrElse(0L)} " +
      f"plateauDrift=$plateau%.3f")
  }

  /** Rate-scaled [[StreamingNearDup.ownership]]: every batch feeds
    * `mult × 250` DISTINCT documents (12 unique tokens each → every
    * doc owns its 8 band buckets, the state-maximizing case) with
    * event time advancing 1 s per batch and a 5 s horizon — so live
    * state covers ~6 batches of buckets and must plateau there. */
  private def runNearDup(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 250
    val batches = 14
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val own = StreamingNearDup.ownership(
      input.toDF().toDF("doc_id", "event_time", "text"),
      delay = "1 second", horizonMs = 5000L)
    val q = own.writeStream.outputMode("append").format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-nd-ck").toString)
      .start()
    try {
      var id = 0L
      for (b <- 0 until batches) {
        val ts = new Timestamp((b + 1) * 1000L)
        val data = (0 until perBatch).map { _ =>
          id += 1
          (id, ts, (0 until 12).map(j => s"t${id}x$j").mkString(" "))
        }
        input.addData(data: _*)
        q.processAllAvailable()
      }
      report("neardup", mult, progressLines(q))
    } finally q.stop()
  }

  /** 8-char word over a 7-letter alphabet — the spec corpus shape; the
    * serving stream draws words from the same 2000-word vocabulary the
    * model trained on, so the partition-local memo sees Zipf-like
    * reuse (the realistic case). */
  private def word7(i: Long): String = {
    val sb = new StringBuilder(8)
    var v = i
    for (_ <- 0 until 8) { sb += ('a' + (v % 7).toInt).toChar; v /= 7 }
    sb.toString
  }

  /** Rate-scaled BPE SERVING (r10): a 1000-merge model (trained once,
    * up front — never inside a batch) drives
    * [[graft.operators.TextOps.bpeEncodeWith]] inside `foreachBatch`
    * at `mult × 250` docs per batch through the partition-local path.
    * The ingest-path claim ("safe at any arrival rate") requires flat
    * per-batch latency at both rates; the path is stateless, so
    * stateRows stays 0. */
  private def runBpeServe(spark: SparkSession, mult: Int,
                          model: graft.operators.TextOps.BpeModel): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 250
    val batches = 12
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-bpe-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        graft.operators.TextOps.bpeEncodeWith(b.toDF(), model)
          .write.mode("overwrite").format("noop").save()
        ()
      }.start()
    try {
      var id = 0L
      for (_ <- 0 until batches) {
        val data = (0 until perBatch).map { _ =>
          id += 1
          (id, (0 until 12).map(j => word7((id * 12 + j) % 2000))
            .mkString(" "))
        }
        input.addData(data: _*)
        q.processAllAvailable()
      }
      report("bpeserve", mult, progressLines(q))
    } finally q.stop()
  }

  /** Rate-scaled [[graft.streaming.StreamingUrlSeen]]: `mult × 500`
    * URLs per batch, every 4th a variant of an earlier-in-batch URL
    * (case/port/tracking noise sharing its canonical key) and the
    * rest distinct — so the screen does real canonicalization AND
    * real suppression at rate. The probe VERIFIES verdicts per batch:
    * 3/4 of rows are firsts, 1/4 suppressed, exactly. State must
    * plateau at (distinct canon keys in horizon) and latency stay
    * flat in batch index. */
  private def runUrlSeen(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 500
    val batches = 14
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val seen = graft.streaming.StreamingUrlSeen.firstSeen(
      input.toDF().toDF("doc_id", "event_time", "url"),
      delay = "1 second", horizonMs = 5000L)
    val counts = Seq.newBuilder[(Long, Long, Long)] // (rows, firsts, sup)
    val q = seen.writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-us-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        val r = b.toDF().agg(
          count(lit(1)),
          sum(when(col("first"), 1L).otherwise(0L))).head()
        if (r.getLong(0) > 0)
          counts += ((r.getLong(0), r.getLong(1),
            r.getLong(0) - r.getLong(1)))
        ()
      }.start()
    try {
      var id = 0L
      for (b <- 0 until batches) {
        val ts = new Timestamp((b + 1) * 1000L)
        val data = (0 until perBatch).map { p =>
          id += 1
          val url =
            if (p % 4 == 3) // variant of the url three rows earlier
              s"HTTP://Host${b}x${p - 3}.COM:80/p/$b/${p - 3}?utm_source=f"
            else s"http://host${b}x$p.com/p/$b/$p"
          (id, ts, url)
        }
        input.addData(data: _*)
        q.processAllAvailable()
      }
      report("urlseen", mult, progressLines(q))
      val got = counts.result()
      require(got.size == batches && got.forall { case (n, f, s) =>
        n == perBatch.toLong && f == perBatch * 3L / 4 &&
          s == perBatch.toLong / 4 },
        s"url screen drifted at ${mult}x: $got")
      println(s"STREAMSCALE urlseen rate=${mult}x VERIFIED " +
        s"batches=${got.size} firsts=${got.map(_._2).sum} " +
        s"suppressed=${got.map(_._3).sum}")
    } finally q.stop()
  }

  /** Rate-scaled streaming CURATION flagship (r11): the composed
    * pipeline `StreamingCurationSpec` proves exactly-once on — ingest →
    * [[StreamingNearDup.ownership]] screen → per-batch curation in
    * `foreachBatch` (verdicts → keep all-bands-owned docs → docstore
    * lookup → [[graft.operators.TextOps.bpeEncodeWith]] under a
    * >64-merge model, i.e. the partition-local serving path) — at
    * 20×/100× RATES. Every 5th doc position from batch 1 on repeats
    * the previous batch's text at that position (an in-horizon dup the
    * screen must drop), so the curated count per batch is EXACT:
    * `perBatch` for batch 0, `perBatch×4/5` after — the probe VERIFIES
    * it per batch (a latency number for wrong curation is worthless).
    * Claims measured: screen state plateaus at rate × horizon, and
    * per-batch latency is flat in batch index / ≲ linear in rate. */
  private def runCuration(spark: SparkSession, mult: Int,
                          model: graft.operators.TextOps.BpeModel): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 250
    val batches = 12
    val docstore = Files.createTempDirectory("ssc-cur-store").toString
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val own = StreamingNearDup.ownership(
      input.toDF().toDF("doc_id", "event_time", "text"),
      delay = "1 second", horizonMs = 5000L)
    // (batch, screened docs, curated docs, curation ms); watermark
    // bookkeeping runs EMPTY foreachBatch invocations between data
    // batches (processAllAvailable triggers a no-data batch to advance
    // the watermark) — screened==0 marks those
    val curated = Seq.newBuilder[(Long, Long, Long, Long)]
    val q = own.writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-cur-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], id: Long) =>
        val run = graft.util.Meter.run {
          val verdicts = StreamingNearDup.verdicts(b.toDF())
          val nDocs = verdicts.count()
          val fresh = verdicts
            .filter(!col("is_candidate")).select(col("doc_id"))
          val kept = spark.read.parquet(docstore)
            .join(fresh, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text"))
          (nDocs, graft.operators.TextOps.bpeEncodeWith(kept, model)
            .agg(count(lit(1)), sum(col("n_tokens"))).head().getLong(0))
        }
        val (nDocs, n) = run.get
        curated += ((id, nDocs, n, (run.wallS * 1000).toLong))
        ()
      }.start()
    try {
      var texts = Vector.empty[String] // previous batch's texts
      for (b <- 0 until batches) {
        val ts = new Timestamp((b + 1) * 1000L)
        val base = b.toLong * perBatch
        val next = (0 until perBatch).map { p =>
          val id = base + p + 1
          val text =
            // dup of the previous batch's FRESH neighbor (p+1 is never
            // ≡0 mod 5, so the copied text is 1 s old — always in
            // horizon; copying position p would chain dup-of-dup back
            // to batch 0 and race the horizon eviction)
            if (b > 0 && p % 5 == 0) texts(p + 1)
            else (0 until 12).map(j => s"t${id}x$j").mkString(" ")
          (id, ts, text)
        }
        texts = next.map(_._3).toVector
        // docstore rows land before their ids enter the stream (the
        // payload store is upstream of the change feed by contract)
        next.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
          .write.mode("append").parquet(docstore)
        input.addData(next: _*)
        q.processAllAvailable()
      }
      report("curation", mult, progressLines(q))
      val got = curated.result().sortBy(_._1)
      val data = got.filter(_._2 > 0)
      // exactness: 12 data batches; the first keeps everything, each
      // later one keeps exactly 4/5 (the planted in-horizon dups are
      // screened); watermark batches curate nothing
      require(data.size == batches,
        s"expected $batches data batches at ${mult}x, got: $got")
      val bad = data.zipWithIndex.filter { case ((_, _, kept, _), i) =>
        kept != (if (i == 0) perBatch.toLong else perBatch * 4L / 5) }
      require(bad.isEmpty, s"curation drifted at rate ${mult}x: $bad")
      require(got.forall(g => g._2 > 0 || g._3 == 0L),
        s"watermark batch curated rows at ${mult}x: $got")
      data.zipWithIndex.foreach { case ((id, nd, kept, ms), i) =>
        println(f"STREAMSCALE curation rate=${mult}%3dx databatch=$i%2d " +
          f"(id=$id%2d) screened=$nd%7d kept=$kept%7d curMs=$ms%6d")
      }
      println(s"STREAMSCALE curation rate=${mult}x VERIFIED " +
        s"dataBatches=${data.size} keptTotal=${data.map(_._3).sum} " +
        s"(batch0=$perBatch, after=${perBatch * 4 / 5})")
    } finally q.stop()
  }

  /**
   * The RESTART path of the two-query crawl architecture at probe
   * rate (r12 verdict item 7): the curation soak re-run from a FILE
   * source with a mid-run kill — the stream dies inside a data batch
   * AFTER its (idempotent, whole-batch-overwrite) output lands but
   * BEFORE the batch commits, a new query resumes from the same
   * checkpoint, and the per-data-batch (screened, kept, tokens)
   * sequence must be IDENTICAL to an uncrashed CONTROL run over the
   * same files — exactly-once measured as batch-identical token
   * counts across the crash, at rate. `StreamingCurationSpec` pins
   * the same contract at test scale; this is the 100× leg.
   */
  private def runCurationRestart(spark: SparkSession, mult: Int,
      model: graft.operators.TextOps.BpeModel): Unit = {
    import spark.implicits._
    val perBatch = mult * 250
    val batches = 12
    def freshText(id: Long): String =
      (0 until 12).map(j => s"t${id}x$j").mkString(" ")
    def textAt(b: Int, p: Int): String = {
      val id = b.toLong * perBatch + p + 1
      // every 5th position from batch 1 on repeats the previous
      // batch's FRESH neighbor — the same planted in-horizon dup as
      // runCuration, but computed CLOSED-FORM so the corpus can be
      // written up front for both runs
      if (b > 0 && p % 5 == 0) freshText((b - 1).toLong * perBatch + p + 2)
      else freshText(id)
    }
    val inDir = Files.createTempDirectory("ssc-cr-in").toString
    val docstore = Files.createTempDirectory("ssc-cr-store").toString
    for (b <- 0 until batches) {
      val ts = new Timestamp((b + 1) * 1000L)
      val rows = (0 until perBatch).map(p =>
        (b.toLong * perBatch + p + 1, ts, textAt(b, p)))
      rows.toDF("doc_id", "event_time", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
      rows.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(docstore)
    }
    val store = spark.read.parquet(docstore).localCheckpoint(true)

    /** One soak over the 12 files; crashAtData < 0 = control. Returns
      * the per-DATA-batch (screened, kept, tokens) sequence. */
    def soak(tag: String, crashAtData: Int): Seq[(Long, Long, Long)] = {
      val ckpt = Files.createTempDirectory(s"ssc-cr-ck-$tag").toString
      val outDir = Files.createTempDirectory(s"ssc-cr-out-$tag").toString
      val armed = new java.util.concurrent.atomic.AtomicInteger(crashAtData)
      def startQuery() = {
        val stream = spark.readStream
          .schema("doc_id LONG, event_time TIMESTAMP, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        StreamingNearDup.ownership(stream, delay = "1 second",
            horizonMs = 5000L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[_], id: Long) =>
            val verdicts = StreamingNearDup.verdicts(b.toDF())
            val nDocs = verdicts.count()
            if (nDocs > 0) {
              val fresh = verdicts.filter(!col("is_candidate"))
                .select(col("doc_id"))
              val kept = store.join(fresh, Seq("doc_id"), "left_semi")
                .select(col("doc_id"), col("text"))
              val enc = graft.operators.TextOps.bpeEncodeWith(kept, model)
                .agg(count(lit(1)),
                  coalesce(sum(col("n_tokens")), lit(0L))).head()
              // idempotent sink: the whole batch dir overwrites, so a
              // replay leaves the same bytes
              Seq((id, nDocs, enc.getLong(0), enc.getLong(1)))
                .toDF("batch", "screened", "kept", "tokens")
                .write.mode("overwrite").parquet(s"$outDir/batch=$id")
              // the kill: output is on disk, the commit is NOT
              if (armed.decrementAndGet() == 0)
                throw new RuntimeException("injected mid-run crash")
            }
            ()
          }.start()
      }
      var crashed = false
      var attempts = 0
      var done = false
      while (!done && attempts < 3) {
        attempts += 1
        val q = startQuery()
        try { q.processAllAvailable(); q.stop(); done = true }
        catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          require(e.toString.contains("injected mid-run crash") ||
            Option(e.getCause).exists(c => Option(c.getMessage)
              .exists(_.contains("injected mid-run crash"))), e.toString)
          crashed = true
          q.stop()
        }
      }
      require(done, s"curation_restart($tag): query never finished")
      require((crashAtData > 0) == crashed,
        s"curation_restart($tag): crash armed=$crashAtData fired=$crashed")
      spark.read.parquet(s"$outDir/batch=*")
        .orderBy(col("batch"))
        .select(col("screened"), col("kept"), col("tokens"))
        .as[(Long, Long, Long)].collect().toSeq
    }

    val control = soak("control", -1)
    val resumed = soak("crash", 7) // dies in the 7th data batch
    // exactness (the runCuration invariants) on BOTH runs
    for ((tag, got) <- Seq(("control", control), ("crash", resumed))) {
      require(got.size == batches,
        s"curation_restart($tag): ${got.size} data batches, want $batches")
      val bad = got.zipWithIndex.filter { case ((_, kept, _), i) =>
        kept != (if (i == 0) perBatch.toLong else perBatch * 4L / 5) }
      require(bad.isEmpty, s"curation_restart($tag) drifted: $bad")
    }
    // THE claim: batch-identical counts — token sums included — across
    // the kill/resume
    require(control == resumed,
      s"restart diverged from control:\n  control=$control\n  resumed=$resumed")
    resumed.zipWithIndex.foreach { case ((n, kept, tok), i) =>
      println(f"STREAMSCALE curation_restart rate=${mult}%3dx databatch=$i%2d " +
        f"screened=$n%7d kept=$kept%7d tokens=$tok%9d" +
        (if (i == 6) "  <- crash+replay" else ""))
    }
    println(s"STREAMSCALE curation_restart rate=${mult}x VERIFIED " +
      s"batches=${resumed.size} tokensTotal=${resumed.map(_._3).sum} " +
      s"control==resumed (crash in data batch 7, resumed from checkpoint)")
  }

  /** Rate-scaled [[GapMonitor]]: `mult × 500` sequential offsets per
    * batch across 4 sources, every 100th offset arriving one batch
    * late (a fill), so the missing set stays busy but bounded —
    * state must hold at O(sources), latency at O(batch). */
  private def runGapMon(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 500
    val batches = 12
    val input = MemoryStream[GapMonitor.Offset](spark)
    val q = GapMonitor.monitor(input.toDS(), maxTracked = 10000)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-gm-ck").toString)
      .start()
    try {
      var next = Array.fill(4)(0L)
      for (_ <- 0 until batches) {
        val data = Seq.newBuilder[GapMonitor.Offset]
        for (src <- 0 until 4; _ <- 0 until (perBatch / 4)) {
          val off = next(src); next(src) += 1
          if (off % 100L == 99L) {
            // hold this offset one batch (emits gap now, fill next)
            data += GapMonitor.Offset(s"src$src", off + 1); next(src) += 1
            data += GapMonitor.Offset(s"src$src", off)
          } else data += GapMonitor.Offset(s"src$src", off)
        }
        input.addData(data.result(): _*)
        q.processAllAvailable()
      }
      report("gapmon", mult, progressLines(q))
    } finally q.stop()
  }

  /** Rate-scaled file extraction: the events table replicated `mult`×
    * (id-offset, the ScaleCheck discipline) as 16 immutable parquet
    * segments, streamed through the footer-stat offset ledger and the
    * pipe projection with `maxEventsPerTrigger = mult × 2000` — so
    * BOTH rates run the same ~50 micro-batches while each batch admits
    * rate-proportional rows. Per-batch latency must be flat in batch
    * index and ≲ linear in the admitted rows. */
  private def runExtract(spark: SparkSession, mult: Int,
                         segDir: String): Unit = {
    val q = ExtractionPipeline.pipeFormat(
        spark.readStream.format(ChangeLogStream.FormatName)
          .option("path", segDir)
          .option("maxEventsPerTrigger", mult * 2000L)
          .option("numPartitions", 8)
          .load())
      .writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-ex-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      report("extract", mult, progressLines(q))
    } finally q.stop()
  }

  /** Rate-scaled [[graft.streaming.StreamingLineDedup]]: `mult × 500`
    * docs per batch, each two counted lines — a unique body line plus
    * ONE corpus-wide boilerplate line recurring every batch (so it
    * crosses maxDf in batch 0 and stays hot/live forever) — plus a
    * short separator that must bypass state. Verdicts are EXACT per
    * batch: every unique line keeps, every short line keeps, the
    * boilerplate keeps only its first `maxDf` sighting docs ever;
    * the probe verifies the counts (a latency number for wrong
    * verdicts is worthless). State must plateau at (unique keys in
    * horizon) + 1 and latency stay flat in batch index. */
  private def runLineDedup(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val perBatch = mult * 500
    val batches = 14
    val maxDf = 2
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val v = graft.streaming.StreamingLineDedup.verdicts(
      input.toDF().toDF("doc_id", "event_time", "text"),
      maxDf = maxDf, delay = "1 second", horizonMs = 5000L)
    val counts = Seq.newBuilder[(Long, Long)] // (kept, dropped)
    val q = v.writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-ld-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        val r = b.toDF().agg(count(lit(1)),
          sum(when(col("keep"), 1L).otherwise(0L))).head()
        if (r.getLong(0) > 0)
          counts += ((r.getLong(1), r.getLong(0) - r.getLong(1)))
        ()
      }.start()
    try {
      var id = 0L
      for (b <- 0 until batches) {
        val ts = new Timestamp((b + 1) * 1000L)
        val data = (0 until perBatch).map { p =>
          id += 1
          (id, ts, s"unique body line $b-$p with enough chars\n--\n" +
            "subscribe to our newsletter boilerplate today")
        }
        input.addData(data: _*)
        q.processAllAvailable()
      }
      report("linededup", mult, progressLines(q))
      val got = counts.result()
      // per batch: perBatch unique keeps + perBatch short keeps +
      // boiler keeps (maxDf docs, batch 0 only); drops = the rest of
      // the boilerplate sightings
      require(got.size == batches, s"batches: ${got.size}")
      require(got.head ==
        ((2L * perBatch + maxDf, perBatch.toLong - maxDf)),
        s"batch 0 drifted at ${mult}x: ${got.head}")
      require(got.tail.forall(_ == ((2L * perBatch, perBatch.toLong))),
        s"line screen drifted at ${mult}x: ${got.tail.distinct}")
      println(s"STREAMSCALE linededup rate=${mult}x VERIFIED " +
        s"batches=${got.size} kept=${got.map(_._1).sum} " +
        s"dropped=${got.map(_._2).sum}")
    } finally q.stop()
  }

  /** Rate-scaled [[graft.streaming.StreamingHostPacer]]: `mult × 100`
    * hosts, each with `Crawl-delay: 2` from a REAL parsed robots
    * index, 5 arrivals per host per batch at 1 s event-time spacing
    * (batch b covers seconds [5b, 5b+5)). The admit pattern is EXACT
    * and alternates by parity — batch 0 admits at +0/+2/+4 (3 per
    * host), the carried last-admit mark then makes odd batches admit
    * 2 and even batches 3 — so the probe VERIFIES verdicts per batch
    * at both rates. State must plateau at exactly the live-host count
    * and latency stay flat in batch index. */
  private def runPacer(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hosts = mult * 100
    val batches = 12
    val idx = graft.operators.Robots.robotsHostIndex(
      graft.operators.Robots.robotsRules(
        spark.range(hosts).select(
          concat(lit("slow"), col("id").cast("string"), lit(".com"))
            .as("host"),
          lit("User-agent: *\nCrawl-delay: 2\n").as("robots_txt"))),
      "graftbot").localCheckpoint(true)
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val paced = graft.streaming.StreamingHostPacer.paced(
      input.toDF().toDF("doc_id", "event_time", "url"), idx,
      delay = "1 second", horizonMs = 60000L)
    val counts = Seq.newBuilder[(Long, Long)] // (admits, defers)
    val q = paced.writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ssc-pace-ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        val r = b.toDF().agg(count(lit(1)),
          sum(when(col("admit"), 1L).otherwise(0L))).head()
        if (r.getLong(0) > 0)
          counts += ((r.getLong(1), r.getLong(0) - r.getLong(1)))
        ()
      }.start()
    try {
      var id = 0L
      for (b <- 0 until batches) {
        val data = for (h <- 0 until hosts; j <- 0 until 5) yield {
          id += 1
          (id, new Timestamp(1000000L + (b * 5 + j) * 1000L),
            s"https://slow$h.com/p/$b/$j")
        }
        input.addData(data: _*)
        q.processAllAvailable()
      }
      report("pacer", mult, progressLines(q))
      val got = counts.result()
      require(got.size == batches, s"batches: ${got.size}")
      got.zipWithIndex.foreach { case ((adm, dfr), i) =>
        val expAdm = if (i == 0 || i % 2 == 0) 3L * hosts else 2L * hosts
        require(adm == expAdm && adm + dfr == 5L * hosts,
          s"pacer drifted at ${mult}x batch $i: admits=$adm defers=$dfr")
      }
      println(s"STREAMSCALE pacer rate=${mult}x VERIFIED " +
        s"batches=${got.size} admits=${got.map(_._1).sum} " +
        s"defers=${got.map(_._2).sum}")
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder()
      .config("spark.sql.streaming.metricsEnabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val want: Set[String] =
      if (args.isEmpty) Set("neardup", "gapmon", "extract", "bpeserve",
        "curation", "urlseen", "linededup", "pacer")
      else args.toSet

    // the serving model trains ONCE (the train/serve boundary the
    // operator documents); 2000 distinct words sustain 1000 merges
    lazy val bpeModel = {
      import spark.implicits._
      val corpus = (0 until 2000).map(i =>
        (i.toLong, s"${word7(i)} ${word7((i * 7) % 2000)} " +
          s"${word7((i * 13) % 2000)}")).toDF("doc_id", "text")
      val m = graft.operators.TextOps.bpeTrainTopK(corpus, rounds = 1000)
      println(s"STREAMSCALE bpeserve model merges=${m.merges.size}")
      m
    }

    // events replicated mult x (ids offset per copy) as 16 disjoint
    // range segments — each parquet FILE is a segment, its footer
    // min/max of event_id is the source's offset metadata
    def segDirFor(mult: Int): String = {
      val dir = Files.createTempDirectory(s"ssc-segments-$mult").toString
      val ev0 = graft.sources.ChangeLogSource.changeLog(spark, sfDir)
      val n = ev0.agg(max(col("event_id"))).head().getLong(0) + 1L
      val ev = ev0.crossJoin(
          spark.range(mult).select(col("id").as("__c")))
        .withColumn("event_id", col("event_id") + col("__c") * n)
        .drop("__c")
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      ev.repartitionByRange(16, col("event_id"))
        .write.mode("overwrite").parquet(dir)
      println(s"STREAMSCALE segments=16 mult=$mult dir=$dir")
      dir
    }

    for (mult <- Seq(20, 100)) {
      if (want("neardup")) runNearDup(spark, mult)
      if (want("gapmon")) runGapMon(spark, mult)
      if (want("extract")) runExtract(spark, mult, segDirFor(mult))
      if (want("bpeserve")) runBpeServe(spark, mult, bpeModel)
      if (want("curation")) runCuration(spark, mult, bpeModel)
      if (want("urlseen")) runUrlSeen(spark, mult)
      if (want("linededup")) runLineDedup(spark, mult)
      if (want("pacer")) runPacer(spark, mult)
      // the restart soak is the 100x leg by contract (r12 verdict
      // item 7) — the 20x pass skips it
      if (want("curation_restart") && mult == 100)
        runCurationRestart(spark, mult, bpeModel)
    }
    spark.stop()
  }
}
