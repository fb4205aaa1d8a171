package graft.operators

import graft.SparkSpec
import graft.operators.CdcOps

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile: one row per column with nulls/distinct/min/max") {
    val df = Seq((1L, Some("a"), 1.5), (2L, None, 2.5), (3L, Some("a"), 2.5))
      .toDF("id", "s", "v")
    val got = Profiler.profile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, String, String, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 0L, 3L, "1", "3", 3L)))
    assert(got("s") == (("s", 1L, 1L, "a", "a", 2L)))
    assert(got("v") == (("v", 0L, 2L, "1.5", "2.5", 3L)))
  }

  test("txidsByCommitTs groups txid sets per commit timestamp") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val log = Seq((ts, 1L), (ts, 2L), (ts, 1L)).toDF("ts", "user_id")
    val got = CdcOps.txidsByCommitTs(log)
      .as[(java.sql.Timestamp, Seq[Long])].collect()
    assert(got.length == 1)
    assert(got.head._2 == Seq(1L, 2L)) // sorted distinct set
  }

  test("GraftSession builder carries the recommended configs") {
    // the whole list, static settings included: the repo benchmark's
    // session is built from it, so any drift here moves its numbers
    assert(graft.GraftSession.settings(4) == Seq(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" ->
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
      "spark.local.dir" -> graft.GraftSession.localDir,
      "spark.file.transferTo" ->
        sys.env.getOrElse("SPARK_GRAFT_TRANSFER_TO", "false")))
    // the shared test session already exists, so getOrCreate applies
    // only the runtime SQL settings to it: each must arrive as listed
    val s = graft.GraftSession.builder(4).getOrCreate()
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    graft.GraftSession.settings(4).filter(kv => s.conf.isModifiable(kv._1))
      .foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }
}
