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
    val builders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p)
        .contains("SparkSession.builder("))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("GraftSession.scala"),
      s"files building their own SparkSession: ${builders - "GraftSession.scala"}")
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
