package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Meter, Run}

/**
 * Dev-only profiling harness over Bench's session and warmup, so its
 * figures compare with Bench's. Three modes:
 *
 *  - `[reps] [query ...]` (default reps 2, all queries): per-run wall of
 *    each query, plus its `__fixture` twin where one exists (fixture vs
 *    operator cost split). Prints `PROFILE` lines.
 *  - `stages <probe> [reps]` (default reps 3; probes graph, linkpred,
 *    cooccur, quality, ppjoin): per-run wall/process-CPU of named
 *    sub-stages of the expensive queries, so a composed flagship's cost
 *    self-attributes to a stage. Prints `PROBE` lines.
 *  - `storage [every]` (default 40): runs every query once and, after
 *    each `every` queries, prints how much block-manager storage the
 *    session RETAINS — the live persistent-RDD count and their
 *    memory/disk bytes. Each operator that eager-`localCheckpoint`s
 *    leaves its blocks registered until driver GC + ContextCleaner reap
 *    them; this is the check that ruled that heap-pressure mechanism out
 *    for the r14 full-bench GC storm. Prints `STORAGE` lines.
 *
 * Usage: runMain graft.BenchProfile [stages <probe> | storage] [n] ...
 */
object BenchProfile {

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val known = SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    Bench.warmUp(spark, sfDir)
    args.headOption match {
      case Some("stages") =>
        stages(spark, sfDir, args.lift(1).getOrElse("graph"),
          args.lift(2).flatMap(_.toIntOption).getOrElse(3))
      case Some("storage") =>
        storage(spark, sfDir, known,
          args.lift(1).flatMap(_.toIntOption).getOrElse(40))
      case _ =>
        // first arg is reps only if numeric; `BenchProfile q1 q2` works too
        val (reps, rest) = args.headOption.flatMap(_.toIntOption) match {
          case Some(n) => (n, args.drop(1).toSeq)
          case None => (2, args.toSeq)
        }
        val names = if (rest.nonEmpty) rest else known
        names.find(!SparkEntry.queries.contains(_)).foreach { bad =>
          sys.error(s"unknown query '$bad'; known: " + known.mkString(", "))
        }
        def time(label: String,
                 fn: (SparkSession, String) => DataFrame): Unit = {
          val runs = Meter.repeat(reps)(noop(fn(spark, sfDir)))
          val cells = runs.map(r =>
            if (r.ok) f"${r.wallS}%8.3f" else f"${"FAILED"}%8s")
          println(f"PROFILE $label%-28s ${cells.mkString(" ")}")
          reportFailure(label, runs)
        }
        for (name <- names) {
          time(name, SparkEntry.queries(name))
          // fixture/operator split (r13 verdict item 8): print the
          // fixture-construction-only twin right under its parent so a
          // bench mover self-attributes
          SparkEntry.profileVariants.get(s"${name}__fixture")
            .foreach(time(s"${name}__fixture", _))
        }
    }
    spark.stop()
  }

  private def reportFailure(label: String, runs: Seq[Run[Unit]]): Unit =
    runs.last.result.left.foreach(e =>
      System.err.println(s"[profile] $label failed: ${e.getMessage}"))

  private def storage(spark: SparkSession, sfDir: String,
                      names: Seq[String], every: Int): Unit = {
    def report(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum / (1024.0 * 1024.0)
      val dsk = infos.map(_.diskSize).sum / (1024.0 * 1024.0)
      val registered = spark.sparkContext.getPersistentRDDs.size
      println(f"STORAGE $tag%-24s registered=$registered%4d " +
        f"cached_rdds=${infos.length}%4d mem=$mem%9.1f MB disk=$dsk%9.1f MB")
    }
    names.zipWithIndex.foreach { case (name, i) =>
      Meter.run(noop(SparkEntry.queries(name)(spark, sfDir))).result.left
        .foreach(e => println(s"STORAGE-FAIL $name ${e.getMessage}"))
      if ((i + 1) % every == 0) report(s"after ${i + 1} (${name})")
    }
    report("final")
  }

  private def stages(spark: SparkSession, sfDir: String, probe: String,
                     reps: Int): Unit = {
    def time(label: String)(mk: => DataFrame): Unit = {
      val runs = Meter.repeat(reps)(noop(mk))
      val s = runs.map(r =>
        if (r.ok) f"${r.wallS}%6.2f/${r.cpuS}%6.2f" else f"${"FAILED"}%13s")
      println(f"PROBE $label%-36s ${s.mkString(" ")}")
      reportFailure(label, runs)
    }
    def t(name: String): DataFrame =
      graft.sources.ChangeLogSource.table(spark, sfDir, name)
    import graft.operators.{Graph, TextOps, Dedup}
    probe match {
      case "graph" =>
        val co = () => Graph.cooccurrenceEdges(t("events"),
          date_trunc("hour", col("ts")), col("user_id"), minShared = 8L)
        time("cooccurrenceEdges")(co())
        time("topKNeighbors")(Graph.topKNeighbors(co(), k = 10))
        time("linkPrediction(full)")(Graph.linkPrediction(
          Graph.topKNeighbors(co(), k = 10), maxDeg = 512, minCommon = 4))
        time("kCore16(full)")(Graph.kCore(co(), k = 16))
      case "linkpred" =>
        val co = Graph.cooccurrenceEdges(t("events"),
          date_trunc("hour", col("ts")), col("user_id"), minShared = 8L)
        val knn = Graph.topKNeighbors(co, k = 10).localCheckpoint(true)
        time("linkPrediction(materialized-in)")(
          Graph.linkPrediction(knn, maxDeg = 512, minCommon = 4))
        val knn2 = Graph.topKNeighbors(co, k = 10)
        time("knn-distinct-ck-only")(
          knn2.select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
            .filter(col("a") =!= col("b")).distinct())
      case "cooccur" =>
        val rel = t("events")
        val (group, item) = (date_trunc("hour", col("ts")), col("user_id"))
        def gis0() = rel.select(group.as("g"), item.as("item")).distinct()
        time("distinct-only")(gis0())
        def gis() = {
          val gi = gis0().localCheckpoint(true)
          val big = gi.groupBy(col("g")).agg(count(lit(1)).as("n"))
            .filter(col("n") > 1024L).select(col("g"))
          gi.join(big, Seq("g"), "left_anti").localCheckpoint(true)
        }
        time("capped+ck")(gis())
        val n = spark.sessionState.conf.numShufflePartitions
        time("pair-join-only")({
          val g = gis()
          g.repartition(n, col("g")).as("x").join(g.as("y"),
              col("x.g") === col("y.g") && col("x.item") < col("y.item"))
            .select(col("x.item").as("src"), col("y.item").as("dst"))
        })
        time("join+agg(full)")({
          val g = gis()
          g.repartition(n, col("g")).as("x").join(g.as("y"),
              col("x.g") === col("y.g") && col("x.item") < col("y.item"))
            .groupBy(col("x.item").as("src"), col("y.item").as("dst"))
            .agg(count(lit(1)).as("shared"))
            .filter(col("shared") >= 8L)
        })
        time("join+repart+agg")({
          val g = gis()
          g.repartition(n, col("g")).as("x").join(g.as("y"),
              col("x.g") === col("y.g") && col("x.item") < col("y.item"))
            .select(col("x.item").as("src"), col("y.item").as("dst"))
            .repartition(n, col("src"), col("dst"))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("shared"))
            .filter(col("shared") >= 8L)
        })
        time("join+sortagg")({
          val g = gis()
          g.repartition(n, col("g")).as("x").join(g.as("y"),
              col("x.g") === col("y.g") && col("x.item") < col("y.item"))
            .select(col("x.item").as("src"), col("y.item").as("dst"))
            .repartition(n, col("src"), col("dst"))
            .sortWithinPartitions(col("src"), col("dst"))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("shared"))
            .filter(col("shared") >= 8L)
        })
      case "quality" =>
        val docs = t("documents")
        time("hashedGramCounts(all)")(TextOps.hashedGramCounts(docs, 1024))
        time("hashedQualityWeights")(TextOps.hashedQualityWeights(docs, 1024))
        time("hashedQualityScore")(TextOps.hashedQualityScore(docs,
          TextOps.hashedQualityWeights(docs, 1024),
          TextOps.hashedQualityPrior(docs), 1024))
        time("qualityDeciles")(TextOps.qualityDeciles(docs))
        time("lineQuality")(TextOps.lineQuality(docs))
      case "ppjoin" =>
        val docs = t("documents")
        time("ppjoinExactPairs")(Dedup.ppjoinExactPairs(docs, 4, 5))
        time("ngramJaccardPairs")(Dedup.ngramJaccardPairs(docs))
      case other =>
        sys.error(s"unknown probe '$other'")
    }
  }
}
