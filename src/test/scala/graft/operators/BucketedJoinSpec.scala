package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Bucketed co-location — the storage-layout half of the 100 TB join
 * story: two fact tables bucketed AND sorted on the join key at write
 * time join with ZERO exchanges and ZERO sorts at read time (the
 * SortMergeJoin consumes the on-disk order directly). At warehouse
 * scale this converts the recurring every-query shuffle of a
 * fact-to-fact join into a one-time write-side cost — the same
 * contract a Hive-bucketed or Iceberg-bucket-partitioned layout
 * carries. The plan is the proof: Spark only elides the exchanges
 * when bucket counts match and the join key equals the bucket key.
 */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Drop catalog entry AND stale on-disk location (the warehouse dir
    * outlives the per-JVM in-memory catalog across test runs). */
  private def reset(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(s"target/spark-warehouse/$table")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  test("matched bucketed+sorted tables join with no exchange, no sort") {
    val n = 10000L
    reset("bkt_orders"); reset("bkt_lines")
    // repartition on the bucket key so each bucket is ONE file —
    // Spark only trusts sortBy order (and elides read-side sorts)
    // for single-file buckets
    spark.range(n).select($"id".as("k"), ($"id" % 97).as("v1"))
      .repartition(8, $"k")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
      .saveAsTable("bkt_orders")
    spark.range(n).select($"id".as("k"), ($"id" % 31).as("v2"))
      .repartition(8, $"k")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
      .saveAsTable("bkt_lines")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_lines"), "k")
        .filter($"v1" =!= $"v2")
      val p = plan(joined)
      // the 100 TB claim: co-located buckets join with ZERO network
      // exchange on either side
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
      // with single-file buckets, the legacy outputOrdering flag also
      // trusts the sortBy order and elides the read-side sorts
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val p2 = plan(spark.table("bkt_orders")
        .join(spark.table("bkt_lines"), "k").filter($"v1" =!= $"v2"))
      assert(!p2.contains("Exchange"), p2)
      assert(!p2.contains("Sort ["),
        s"sorted single-file buckets still sort:\n$p2")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("mismatched bucket counts fall back to a shuffle (the contract edge)") {
    reset("bkt_a"); reset("bkt_b")
    spark.range(1000).select($"id".as("k"))
      .write.bucketBy(8, "k").mode("overwrite").saveAsTable("bkt_a")
    spark.range(1000).select($"id".as("k"))
      .write.bucketBy(4, "k").mode("overwrite").saveAsTable("bkt_b")
    // disable auto-broadcast so the join shape is honest
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(spark.table("bkt_a").join(spark.table("bkt_b"), "k"))
      // one side (the coarser) must still exchange or coalesce buckets
      assert(p.contains("Exchange") || p.contains("coalesced"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
