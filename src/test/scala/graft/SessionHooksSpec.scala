package graft

import graft.streaming.TaskMetricsListener

/** The hooks a session carries for the engine: the custom SQL functions
  * `GraftExtensions` registers, and the per-task metrics listener that
  * `graft.util.Meter` reads. */
class SessionHooksSpec extends SparkSpec {
  import spark.implicits._

  test("custom functions are SQL-registered via GraftExtensions") {
    val sim = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    val sim2 = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    assert(sim == sim2 && sim != 0L)
    val mh = spark.sql(
      "SELECT minhash_signature(array('x'), 4) AS m").as[Seq[Long]].head()
    assert(mh.size == 4)
    val fp = spark.sql(
      "SELECT rolling_fingerprints('hello world rolling', 8, 2) AS f")
      .as[Seq[Long]].head()
    assert(fp.forall(_ % 2 == 0))
  }

  test("task metrics listener records per-task durations and rows") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 10000
      while (listener.samples.size < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val s = listener.samples
      assert(s.size >= 4)
      assert(s.forall(_.durationMs >= 0))
      assert(listener.toDF(spark).columns.contains("recordsRead"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
