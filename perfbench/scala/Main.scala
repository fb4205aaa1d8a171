package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload hands back: outcome counts, end-to-end and
  * per-layer metrics, the environment label and raw detail. */
final case class Result(attempted: Long, failed: Long,
                        e2e: Map[String, Double], layers: Map[String, Double],
                        env: Map[String, Double], detail: Map[String, Any])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, progress: ProgressLog,
                     seed: Long, seconds: Int, work: Path,
                     nproc: Int, smoke: Boolean)

/**
 * JVM side of the benchmark. Usage (normally through `run.py`):
 *
 *   perfbench.Main --workload live_tail[,cdc_batch] --seed N
 *     --seconds S --trace 0|1 --work DIR [--smoke]
 *
 * `--smoke` runs every workload at toy size and injects one failure
 * into each: a bad line in the stream output and a throwing query in
 * `cdc_batch`. Each workload writes `DIR/<workload>/result.json`; with tracing on
 * it also writes its spans to `DIR/<workload>/spans.json`.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    def opt(k: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val workloads = opt("--workload").getOrElse("live_tail").split(",").toSeq
    val work = Paths.get(opt("--work").getOrElse(".bench_build/work")).toAbsolutePath
    val nproc = Env.nproc
    Files.createDirectories(work)

    val t0 = System.nanoTime
    val spark = graft.GraftSession.builder(nproc)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime - t0) / 1e9

    val progress = new ProgressLog(spark)
    val trace = opt("--trace").contains("1")
    workloads.foreach { w =>
      val tracer = new Tracer(spark, trace)
      val c = Ctx(spark, tracer, progress,
        opt("--seed").map(_.toLong).getOrElse(1L),
        opt("--seconds").map(_.toInt).getOrElse(10), work, nproc,
        flags("--smoke"))
      val r = w match {
        case "live_tail" => LiveTail.run(c)
        case "cdc_batch" => CdcBatch.run(c)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.close()
      val dir = work.resolve(w)
      if (trace) Json.write(dir.resolve("spans.json"), tracer.spansJson)
      Json.write(dir.resolve("result.json"), Map(
        "workload" -> w, "attempted" -> r.attempted, "failed" -> r.failed,
        "e2e" -> r.e2e,
        "layers" -> (r.layers ++ r.env ++ Map("setup.session_s" -> sessionS,
          "trace.handler_ms" -> tracer.handlerMs)),
        "detail" -> r.detail))
    }
    progress.close()
    spark.stop()
    System.exit(0)
  }
}
