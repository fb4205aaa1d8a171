package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Driver-contract invariants that a Scala `Map` literal cannot enforce
 * on its own: duplicate keys in the source silently collapse to the
 * LAST entry, so a new query registration that reuses an existing name
 * SHADOWS the old query without any compile- or run-time signal (bit
 * round 8: a second "text_repetition" replaced the token-level one and
 * only the oracle mismatch caught it). This spec scans the SOURCE for
 * registrations and pins them against the runtime maps.
 */
class ContractSpec extends AnyFunSuite {

  private lazy val source = {
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/SparkEntry.scala", "UTF-8")
    try src.mkString finally src.close()
  }

  /** Every `.scala` file under `src/main/scala`, with its text. */
  private lazy val mainSources: Seq[(java.nio.file.Path, String)] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p)).toSeq

  private lazy val registered: Seq[String] =
    """"([a-z0-9_]+)" -> \(\(s, dir\)""".r
      .findAllMatchIn(source).map(_.group(1)).toSeq

  test("no query name is registered twice (shadowing) in the source") {
    val dups = registered.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"shadowed query registrations: $dups")
  }

  test("every source registration is live in the queries map, and vice versa") {
    assert(registered.toSet == SparkEntry.queries.keySet,
      s"source vs map drift: only-in-source=" +
        s"${registered.toSet -- SparkEntry.queries.keySet} " +
        s"only-in-map=${SparkEntry.queries.keySet -- registered.toSet}")
  }

  test("every oracle entry points at a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("GraftSession is the only SparkSession factory in the main sources") {
    // one factory keeps every main's settings identical; a main that
    // builds its own session drifts (cores, time zone, session floors)
    val builders = mainSources
      .collect { case (p, src) if src.contains("SparkSession.builder(") =>
        p.getFileName.toString }.toSet
    assert(builders == Set("GraftSession.scala"),
      s"files building their own SparkSession: ${builders - "GraftSession.scala"}")
  }

  test("the main sources hold one change-log source: one TableProvider, one MicroBatchStream") {
    // one offset contract over every log; a second stream copy drifts
    // (an empty-log start and numPartitions once differed between two)
    val src = mainSources.map(_._2).mkString("\n")
    for (iface <- Seq("MicroBatchStream", "TableProvider")) {
      val n = s"extends $iface\\b".r.findAllMatchIn(src).size
      assert(n == 1, s"$n classes extend $iface")
    }
  }

  test("no main source extends StreamingQueryListener: freshness stays scoped to one query") {
    // a session-wide listener sees every query's progress; the
    // extraction's staleness comes from its own sink's freshness log
    val src = mainSources.map(_._2).mkString("\n")
    val n = "extends StreamingQueryListener\\b".r.findAllMatchIn(src).size
    assert(n == 0, s"$n classes extend StreamingQueryListener")
  }

  test("every public def of Sinks has a caller in the main sources outside sinks/") {
    // Sinks is the extractor's sink: a writer that only its own spec
    // reaches is surface that no extraction, query or main runs
    val (sinks, callers) = mainSources.partition(_._1.startsWith(
      java.nio.file.Paths.get("src/main/scala/graft/sinks")))
    val defs = sinks.flatMap { case (_, src) =>
      """(?m)^  def (\w+)""".r.findAllMatchIn(src).map(_.group(1)) }
    val text = callers.map(_._2).mkString("\n")
    val orphans = defs.filterNot(d => s"\\bSinks\\.$d\\b".r.findFirstIn(text).isDefined)
    assert(defs.nonEmpty && orphans.isEmpty,
      s"Sinks defs no main source outside sinks/ calls: $orphans")
  }

  test("queries without an oracle are the known rows-only set") {
    // anything missing an oracle silently downgrades to a rows-only
    // check — adding a query without one must be a DELIBERATE entry
    // here. sim_ivf_topk: officially rows-only since r13 (r12 verdict
    // item 8) — learned quantizer, schema + recall spec-pinned in
    // IvfLearnedSpec. text_quality_learned: rows-only since r14 (r13
    // verdict item 6) — logistic regression, floating sigmoid; its
    // accuracy floor and agreement with the integer-lattice twin
    // (text_quality_hashed, hash-gated) are pinned in
    // QualityClassifierSpec.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("sim_ivf_topk", "text_quality_learned"),
      s"queries silently lacking a DuckDB oracle: $noOracle")
  }
}
