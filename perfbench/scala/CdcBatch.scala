package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.ChangeLogSource

/**
 * `cdc_batch`: a fixed set of registered queries over the `events`
 * change log, run through `SparkEntry.queries` with a noop sink: eight
 * `cdc_*` queries and three `graph_type_*` queries whose operators
 * checkpoint eagerly while the query is built. Each query is timed as its
 * closure call (build, which includes any eager checkpoint job) and its
 * noop write (execute). A query that throws in any pass is failed, and
 * none of its samples are kept. The last untimed warm-up pass writes
 * each result as parquet instead, for the oracle digest check, which the
 * launcher runs against DuckDB; metric aggregation happens there, after
 * the check, so a query whose digest mismatches is left out too.
 */
object CdcBatch {
  /** Graph-family queries over the event-type transition graph: integer
    * PageRank and BFS hops. Their operators run
    * `localCheckpoint(true)` jobs inside the closure call, which is what
    * `query.jobs_in_build` counts. */
  val Lake: Seq[String] = Seq("graph_type_pagerank", "graph_type_hops")

  /** Eight `cdc_*` queries, one per CdcOps mechanism, in a fixed order:
    * offset discovery, pipe rendering, commit-ts enrichment (the
    * streaming sink's two operators), running watermark, gap detection,
    * checksums, snapshot roll-forward and the 17-column audit envelope;
    * then [[Lake]]. */
  val Queries: Seq[String] = Seq(
    "cdc_offset_discovery", "cdc_pipe_format", "cdc_commit_enrich",
    "cdc_running_watermark", "cdc_gap_detection", "cdc_table_checksums",
    "cdc_apply_changes", "cdc_audit_envelope") ++ Lake

  /** The smoke test's subset: one plain query, one with build jobs. */
  val Smoke: Seq[String] = Seq("cdc_offset_discovery", "graph_type_pagerank")

  /** Builds a plan whose execution throws: the failing query that smoke
    * mode adds. */
  val Throwing = "smoke_throws"
  private def throwing(s: SparkSession, dir: String): DataFrame =
    s.range(1).selectExpr("raise_error('injected failure') AS x")

  def run(c: Ctx): Result = {
    val dir = c.work.resolve("cdc_batch")
    val data = dir.resolve("data").toString
    val names = if (c.smoke) Smoke :+ Throwing else Queries
    def fn(n: String): (SparkSession, String) => DataFrame =
      if (n == Throwing) throwing else SparkEntry.queries(n)
    val sc = c.spark.sparkContext

    // set-up, five times: open the input table through the engine's
    // loader and count it
    val setupS = (1 to 5).map { _ =>
      val t = System.nanoTime
      ChangeLogSource.table(c.spark, data, "events").count()
      (System.nanoTime - t) / 1e9
    }

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def message(e: Throwable): String = Option(e.getMessage)
      .getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")
    final case class Sample(buildS: Double, executeS: Double, cpuS: Double)
    val samples = names.map(_ -> new ArrayBuffer[Sample]()).toMap
    val passes = new ArrayBuffer[Map[String, Double]]()
    val warmJit, warmWall = new ArrayBuffer[Double]()

    val outDir = dir.resolve("out")
    // `check`: each result goes to parquet, for the oracle check, instead
    // of to the noop sink
    def pass(keep: Boolean, check: Boolean): Unit = {
      c.tracer.settle()
      val (cnt0, jvm0) = (c.tracer.counters, Jvm.sample())
      names.filterNot(errors.contains).foreach { n =>
        val cpu0 = Jvm.cpuNs
        val t0 = System.nanoTime
        try {
          if (c.tracer.enabled) sc.setJobGroup(Tracer.BuildGroup, n)
          val df = c.tracer.span("build", attrs = Map("query" -> n))(_ => fn(n)(c.spark, data))
          val t1 = System.nanoTime
          if (c.tracer.enabled) sc.setJobGroup("perfbench-execute", n)
          c.tracer.span("execute", attrs = Map("query" -> n)) { _ =>
            if (check) df.coalesce(1).write.mode("overwrite")
              .parquet(outDir.resolve(n).toString)
            else df.write.mode("overwrite").format("noop").save()
          }
          val t2 = System.nanoTime
          if (keep) samples(n) += Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9,
            (Jvm.cpuNs - cpu0) / 1e9)
        } catch {
          case e: Throwable => errors(n) = message(e)
        } finally if (c.tracer.enabled) sc.clearJobGroup()
      }
      val jvm1 = Jvm.sample()
      c.tracer.settle()
      val d = c.tracer.counters - cnt0
      val j = Jvm.delta(jvm0, jvm1)
      if (keep) passes += Map("wall_s" -> j.wallS, "cpu_s" -> j.cpuS,
        "jit_s" -> j.jitS, "gc_s" -> j.gcS, "jobs" -> d.jobs.toDouble,
        "jobs_in_build" -> d.buildJobs.toDouble,
        "actions" -> d.actions.toDouble,
        "analysis_ms" -> d.analysisMs.toDouble,
        "optimization_ms" -> d.optimizationMs.toDouble,
        "planning_ms" -> d.planningMs.toDouble,
        "compiles" -> d.compiles.toDouble, "compile_ms" -> d.compileNs / 1e6,
        "tasks" -> d.tasks.toDouble, "task_run_s" -> d.taskRunMs / 1e3,
        "task_cpu_s" -> d.taskCpuNs / 1e9,
        "scheduler_delay_ms" -> d.schedDelayMs / math.max(1L, d.tasks).toDouble,
        "task_gc_s" -> d.taskGcMs / 1e3,
        "shuffle_write_bytes" -> d.shuffleWriteBytes.toDouble,
        "spill_bytes" -> d.spillBytes.toDouble)
      else { warmJit += j.jitS; warmWall += j.wallS }
    }

    // warm-up: untimed passes, the last one the check pass (JIT keeps
    // compiling well past them; the per-pass `jit_s` in the result shows
    // how far it got)
    val warm = if (c.smoke) 1 else 3
    for (k <- 1 to warm) pass(keep = false, check = k == warm)
    val jif0 = Env.jiffies()
    val minPasses = if (c.smoke) 1 else 3
    while (passes.map(_("wall_s")).sum < c.seconds || passes.size < minPasses)
      pass(keep = true, check = false)
    val jif1 = Env.jiffies()
    val heapMb = Jvm.liveHeapMb()

    Json.write(dir.resolve("oracle_sql.json"),
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

    Result(names.size, errors.size, Map("setup_s" -> Stats.median(setupS),
        "live_heap_mb" -> heapMb), Map.empty,
      LiveTail.envShares(jif0, jif1),
      Map("queries" -> names.map { n =>
          Map("name" -> n, "error" -> errors.getOrElse(n, null),
            "build_s" -> samples(n).map(_.buildS),
            "execute_s" -> samples(n).map(_.executeS),
            "cpu_s" -> samples(n).map(_.cpuS))
        },
        "passes" -> passes.toSeq, "warmup_jit_s" -> warmJit.toSeq,
        "warmup_wall_s" -> warmWall.toSeq,
        "out_dir" -> outDir.toString))
  }
}
