package graft

/** Driver t1 stand-in: runs [[SparkEntry.entry]] exactly as the driver's
  * smoke check does (rows > 0 on sf0.001) and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val rows = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$rows sample:")
    SparkEntry.entry(spark).show(3, truncate = false)
    spark.stop()
    assert(rows > 0, "entry() returned no rows")
  }
}
