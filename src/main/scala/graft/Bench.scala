package graft
import org.apache.spark.sql.SparkSession
import graft.util.{Meter, Run}
object Bench {
  /** One query's measured reps. A query stops at its first throwing rep
    * and counts as failed: its timings measured a crash, so it stays out
    * of every total and is listed by name instead. */
  final case class QueryRuns(name: String, runs: Seq[Run[Unit]]) {
    def ok: Boolean = runs.forall(_.ok)
    def error: Option[Throwable] = runs.last.result.left.toOption
    // the run WITH the median wall, whole: independently-medianed
    // wall and cpu can pair numbers no run exhibited, skewing the
    // cpu-vs-wall contention read the env fields exist for
    def median: Run[Unit] = runs.sortBy(_.wallS).apply((runs.size - 1) / 2)
  }

  // Median-of-reps (r7 verdict item 6): single cold runs carried
  // ±0.5 s session noise that kept eating the cross-round regression
  // signal (r7's top "regressions" were all host drift). Each query
  // runs `reps` times IN SESSION; the parsed line reports the
  // median (for reps=3: the middle run), bench_full.json keeps the
  // cold first-run numbers alongside. Plan construction re-executes
  // per rep, so build-time work (KMeans fit, checkpoint
  // materialization) is honestly re-paid each run.
  def measure(queries: Seq[(String, () => Unit)], reps: Int): Seq[QueryRuns] =
    queries.map { case (name, body) =>
      val runs = Meter.repeat(reps)(body())
      runs.last.result.left.foreach { e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      QueryRuns(name, runs)
    }

  /** Wall and CPU seconds summed over the ok queries' median runs. */
  def totals(results: Seq[QueryRuns]): (Double, Double) = {
    val med = results.filter(_.ok).map(_.median)
    (med.map(_.wallS).sum, med.map(_.cpuS).sum)
  }

  def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The parsed result line. The harness that captures it keeps only a
    * ~2000-char tail of stdout (observed: round-2's 2.4 KB line was
    * front-truncated and unparseable), so values carry millisecond
    * precision and, if the line would still pass 1800 chars, the fastest
    * timed queries are dropped and counted in `queries_omitted` — the
    * headline "value" always covers every timed query. Failed queries
    * are never timed: a `"failed"` key lists them, only when there are
    * any, and is never dropped for length. */
  def renderLine(results: Seq[QueryRuns], stealPct: Double, busyPct: Double,
                 reps: Int, sfDir: String): String = {
    val (total, cpuTotal) = totals(results)
    val timed = results.filter(_.ok).map(q => q.name -> q.median.wallS)
    val failed = results.filterNot(_.ok).map(_.name)
    val fl =
      if (failed.isEmpty) ""
      else failed.sorted.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    def line(qs: Seq[(String, Double)], omitted: Int): String = {
      val m = qs.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""cpu_total":${fmt(cpuTotal)},"steal_pct":${fmt(stealPct)},""" +
        s""""host_busy_pct":${fmt(busyPct)},"reps":$reps,""" +
        s""""queries":$m$om$fl,"sf":"$sfDir"}"""
    }
    var keep = timed.sortBy(-_._2)
    var s = line(keep, 0)
    while (s.length > 1800 && keep.nonEmpty) {
      keep = keep.dropRight(1)
      s = line(keep, timed.size - keep.size)
    }
    s
  }

  /** Untimed warmup: JIT + codegen + datasource init cost seconds on
    * the first jobs of a JVM; without this the alphabetically-first
    * query absorbs it all. Touch every table's footer and push one
    * tiny job through the join/window/agg/regexp codegen paths —
    * infrastructure warmup only, no query work is precomputed. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id)").write
        .mode("overwrite").format("noop").save()
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).write
          .mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("id")
      spark.range(10000)
        .selectExpr("id", "id % 10 AS g", "CAST(id AS STRING) AS s")
        .withColumn("t", split(regexp_replace(lower(col("s")), "0", " "), " "))
        .withColumn("rn", row_number().over(w))
        .join(spark.range(10).selectExpr("id AS g2"), col("g") === col("g2"))
        .groupBy("g").agg(count(lit(1)), sum("id"))
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // ERROR, not WARN: benchmark queries legitimately emit WARN spam
    // (WindowExec on provably-tiny unpartitioned windows, hundreds of
    // lines) and the driver parses a ~2000-char stdout TAIL — one
    // warning burst after the JSON line would clip it (observed r1/r2
    // "parsed: null"). Nothing below ERROR may reach stdout/stderr.
    spark.sparkContext.setLogLevel("ERROR")
    def codeCacheUsedMb(): Long =
      try {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName.startsWith("CodeHeap"))
          .map(_.getUsage.getUsed).sum / (1024L * 1024L)
      } catch { case _: Throwable => -1L }
    // Machine-attributable environment: /proc/loadavg plus the host's
    // aggregate steal/busy jiffies before and after the run. A driver
    // total that disagrees 3-9x with a builder/judge rerun on identical
    // code (r4: 37% steal; r5: 3018 s CPU vs 787 s) is then
    // self-diagnosable from bench_full.json without a rerun.
    def procSample(): (String, Array[Long]) = {
      def slurp(p: String): String =
        try {
          val src = scala.io.Source.fromFile(p)
          try src.mkString.trim finally src.close()
        } catch { case _: Throwable => "" }
      val load = slurp("/proc/loadavg")
      val cpuLine = slurp("/proc/stat").linesIterator
        .find(_.startsWith("cpu ")).getOrElse("")
      val jiffies = cpuLine.split("\\s+").drop(1)
        .flatMap(s => s.toLongOption)
      (load, jiffies)
    }
    val (loadBefore, jifBefore) = procSample()
    warmUp(spark, sfDir)
    // noop sink: forces full evaluation of every output column
    // (count() would let Catalyst prune the projection and undercount
    // the real work).
    // Local-iteration filter: SPARK_GRAFT_QUERIES=a,b,c runs only the
    // named queries (the driver never sets it, so driver runs always
    // cover the full surface).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names.diff(SparkEntry.queries.keySet)
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] unknown SPARK_GRAFT_QUERIES names: ${unknown.mkString(",")}")
        SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // Fail fast on an all-typo filter: zero selected queries would
    // otherwise "complete" with an empty table and a plausible-looking
    // near-zero total — a silent non-run.
    if (selected.isEmpty)
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_QUERIES selected zero known queries " +
          s"(given: ${only.map(_.mkString(",")).getOrElse("")})")
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val results = measure(selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (() => fn(spark, sfDir).write.mode("overwrite").format("noop").save())
    }, reps)
    val (total, cpuTotal) = totals(results)
    val (loadAfter, jifAfter) = procSample()
    // host-wide steal% and busy% over the run window (jiffy deltas;
    // /proc/stat cpu fields: user nice system idle iowait irq softirq
    // steal ...). Carried in the driver-parsed line too (r6 verdict
    // item 7) so a contended driver run self-labels without anyone
    // opening bench_full.json.
    val (stealPct, busyPct) =
      if (jifBefore.length > 7 && jifAfter.length > 7) {
        val d = jifAfter.zip(jifBefore).map { case (a, b) => a - b }
        val tot = d.sum.toDouble.max(1.0)
        val idle = d(3) + (if (d.length > 4) d(4) else 0L)
        (d(7) / tot * 100.0, (tot - idle) / tot * 100.0)
      } else (-1.0, -1.0)
    val out = renderLine(results, stealPct, busyPct, reps, sfDir)
    // Full-precision per-query record for local analysis (the parsed
    // line above is size-capped). Written twice: the canonical path,
    // overwritten by every run, plus a round- or time-stamped copy so
    // runs stay distinguishable evidence across rounds.
    val fullJson = results
      .map { q =>
        val body = q.error match {
          case Some(e) =>
            "{\"status\":\"failed\",\"error\":" + Verify.jsonQuote(
              Option(e.getMessage).getOrElse(e.getClass.getName)) + "}"
          case None =>
            val m = q.median
            // runs rows are [wall_s, cpu_s, jit_s, gc_s] — jit is THIS
            // JVM's total-compilation-time delta over the run, gc its
            // collector-time delta (cpu≈wall + fat gc = collector storm)
            val rs = q.runs.map(r => s"[${r.wallS},${r.cpuS},${r.jitS},${r.gcS}]")
              .mkString("[", ",", "]")
            "{\"status\":\"ok\",\"wall\":" + m.wallS + ",\"cpu\":" + m.cpuS +
              ",\"jit\":" + m.jitS + ",\"gc\":" + m.gcS +
              ",\"wall_cold\":" + q.runs.head.wallS + ",\"cpu_cold\":" +
              q.runs.head.cpuS + ",\"runs\":" + rs + "}"
        }
        "\"" + q.name + "\":" + body }
      .mkString("{", ",", "}")
    try {
      val body =
        (s"""{"total":$total,"cpu_total":$cpuTotal,"sf":"$sfDir",""" +
          s""""reps":$reps,""" +
          s""""env":{"load_before":"$loadBefore","load_after":"$loadAfter",""" +
          s""""steal_pct":${fmt(stealPct)},"host_busy_pct":${fmt(busyPct)},""" +
          s""""jit_total_s":${fmt(Meter.jitMs() / 1e3)},""" +
          s""""gc_total_s":${fmt(Meter.gcMs() / 1e3)},""" +
          s""""heap_max_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
          s""""code_cache_used_mb":${codeCacheUsedMb()}},""" +
          s""""queries":$fullJson}""").getBytes("UTF-8")
      val p = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body)
      val tag = sys.env.get("SPARK_GRAFT_ROUND")
        .map(r => s"r$r").getOrElse {
          new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
            .format(new java.util.Date())
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"target/bench_full_$tag.json"), body)
    } catch { case _: Throwable => () }
    // Nothing may print after this line: the driver parses the tail.
    println(out)
    System.out.flush()
    spark.stop()
  }
}
