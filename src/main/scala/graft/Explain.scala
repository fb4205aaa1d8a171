package graft

/**
 * Dev-only plan inspector: prints the formatted physical plan of the
 * named queries so shuffle count, pushed filters, codegen spans and
 * partial aggregation are reviewable without running anything.
 *
 * Usage: runMain graft.Explain [query ...]
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
