package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.QueryRuns
import graft.util.{Meter, Run}

/**
 * Bench's output contract: the last stdout line is parsed by a reader
 * that keeps a ~2000-char tail, and a query that throws must not be
 * timed as a result.
 */
class BenchSpec extends AnyFunSuite {

  private def ok(name: String, wall: Double, cpu: Double): QueryRuns =
    QueryRuns(name, Seq(Run(Right(()), wall, cpu, 0.0, 0.0)))

  /** The line format before failed queries were tracked, verbatim: a
    * clean run's line must stay byte-identical to it. */
  private def referenceLine(walls: Seq[(String, Double)], total: Double,
                            cpuTotal: Double, stealPct: Double,
                            busyPct: Double, reps: Int, sfDir: String): String = {
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def line(qs: Seq[(String, Double)], omitted: Int): String = {
      val m = qs.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""cpu_total":${fmt(cpuTotal)},"steal_pct":${fmt(stealPct)},""" +
        s""""host_busy_pct":${fmt(busyPct)},"reps":$reps,""" +
        s""""queries":$m$om,"sf":"$sfDir"}"""
    }
    val bySlow = walls.sortBy(-_._2)
    val full = line(bySlow, 0)
    if (full.length <= 1800) full
    else {
      var keep = bySlow
      var s = full
      while (s.length > 1800 && keep.nonEmpty) {
        keep = keep.dropRight(1)
        s = line(keep, walls.size - keep.size)
      }
      s
    }
  }

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("a clean run's line is byte-identical to the pinned format") {
    val results = Seq(ok("q1", 0.5, 1.0), ok("cdc_a", 1.2345, 2.0),
      ok("q_b", 0.0004, 0.2))
    val got = Bench.renderLine(results, 0.5, 80.0, 3, "/d/sf0.1")
    assert(got == """{"metric":"total","value":1.735,"unit":"sec",""" +
      """"cpu_total":3.200,"steal_pct":0.500,"host_busy_pct":80.000,""" +
      """"reps":3,"queries":{"cdc_a":1.235,"q1":0.500,"q_b":0.000},""" +
      """"sf":"/d/sf0.1"}""")
    val (total, cpu) = Bench.totals(results)
    assert(got == referenceLine(results.map(q => q.name -> q.median.wallS),
      total, cpu, 0.5, 80.0, 3, "/d/sf0.1"))
  }

  test("a clean line past the 1800-char cap drops the fastest queries exactly as before") {
    val results = (0 until 300).map(i =>
      ok(f"family_query_$i%03d", 0.001 + i * 0.0137, 0.01 * i))
    val (total, cpu) = Bench.totals(results)
    val got = Bench.renderLine(results, 1.25, 60.5, 3, "/data/sf0.1")
    assert(got == referenceLine(results.map(q => q.name -> q.median.wallS),
      total, cpu, 1.25, 60.5, 3, "/data/sf0.1"))
    assert(got.length <= 1800)
    val j = parse(got)
    assert(j.get("queries_omitted").asInt() == 300 - j.get("queries").size())
    assert(j.get("queries").has("family_query_299")) // slowest kept
    assert(!j.has("failed"))
  }

  test("a throwing query is listed as failed and kept out of the total") {
    var boomCalls = 0
    val results = Bench.measure(Seq(
      "cdc_fast" -> (() => Thread.sleep(5)),
      "cdc_boom" -> (() => {
        boomCalls += 1; throw new IllegalStateException("injected")
      }),
      "cdc_slow" -> (() => Thread.sleep(30))), reps = 3)
    val byName = results.map(q => q.name -> q).toMap
    // stopped at the first throw: repeating it would time the crash again
    assert(boomCalls == 1 && byName("cdc_boom").runs.size == 1)
    assert(!byName("cdc_boom").ok)
    assert(byName("cdc_boom").error.map(_.getMessage).contains("injected"))
    assert(byName("cdc_fast").ok && byName("cdc_fast").runs.size == 3)

    val (total, _) = Bench.totals(results)
    val goodWall = byName("cdc_fast").median.wallS + byName("cdc_slow").median.wallS
    assert(total == goodWall)

    val line = Bench.renderLine(results, 0.0, 10.0, 3, "/sf")
    val j = parse(line)
    assert(j.get("failed").size() == 1 && j.get("failed").get(0).asText() == "cdc_boom")
    assert(!j.get("queries").has("cdc_boom"))
    assert(j.get("queries").has("cdc_fast") && j.get("queries").has("cdc_slow"))
    assert(line.startsWith(s"""{"metric":"total","value":${Bench.fmt(goodWall)},"""))
  }

  test("a rep that throws after clean reps still fails its query") {
    var calls = 0
    val Seq(q) = Bench.measure(Seq("flaky" -> (() => {
      calls += 1; if (calls == 2) throw new RuntimeException("second rep")
    })), reps = 3)
    assert(!q.ok && q.runs.size == 2 && calls == 2)
    assert(Bench.totals(Seq(q)) == ((0.0, 0.0)))
  }

  test("the failed list survives the 1800-char cap") {
    val timed = (0 until 300).map(i => ok(f"family_query_$i%03d", 0.5 + i, 1.0))
    val failed = Seq("x_failed_b", "x_failed_a").map(n =>
      QueryRuns(n, Seq(Meter.run[Unit](throw new RuntimeException(n)))))
    val got = Bench.renderLine(timed ++ failed, 0.0, 0.0, 3, "/sf")
    assert(got.length <= 1800)
    assert(got.contains(""","failed":["x_failed_a","x_failed_b"],"sf":"/sf"}"""))
    val j = parse(got)
    assert(j.get("queries_omitted").asInt() == 300 - j.get("queries").size())
    assert(got.startsWith(
      s"""{"metric":"total","value":${Bench.fmt(timed.map(_.median.wallS).sum)},"""))
  }
}
