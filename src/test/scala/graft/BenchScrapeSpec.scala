package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench]]'s output contract: the final stdout line fits the
  * driver's bounded log tail and carries exactly the contract keys, the
  * committed full artifact min-merges same-round runs, and the
  * diagnostics block keeps its shape.
  */
class BenchScrapeSpec extends AnyFunSuite {
  private val tailWindow = 2000
  private val byLen = SparkEntry.queries.keySet.toSeq.sortBy(-_.length)
  private val worstCalib = (9999.999, 9999.999)

  test("unparseable artifact text yields empty, not a throw") {
    // an unreadable committed artifact is overwritten, not merged
    assert(Bench.parseFullPasses("not json at all") == (Map.empty, 1))
    assert(Bench.parseFullPasses("") == (Map.empty, 1))
  }

  test("worst-case summary LINE fits the driver's tail window whole") {
    // the driver JSON-parses the final stdout line, so the summary line
    // must fit the window whole: top-10 longest names at 9999.999 s,
    // three failed names, worst-case calibration and total
    val line = Bench.renderTotal("/root/testdata/sf0.1", Some(9999),
      byLen.take(10).map(_ -> Some(9999.999)), byLen.take(3), worstCalib,
      99999.999)
    assert(line.length <= tailWindow,
      s"worst-case summary line ${line.length} chars exceeds the " +
        s"$tailWindow-char driver tail window")
  }

  /** The full line is ordered ascending by cost with failed/calibration/
    * value LAST, so front truncation can only eat the cheap end of the
    * per-query map. This pins, at the CURRENT registry size, that the
    * worst-case summary block still fits the tail window with room for
    * the most expensive queries in front of it.
    */
  test("worst-case summary block fits the driver's tail window") {
    val line = Bench.renderTotal("/root/testdata/sf0.1", None, Seq.empty,
      byLen.take(3), worstCalib, 99999.999)
    val summary = line.substring(line.indexOf("\"failed\""))
    def entry(n: String) = "\"" + n + "\":9999.999"
    // the summary must leave at least 25 top-cost query entries' worth
    // of room inside the window
    val topRoom = byLen.take(25).map(entry(_) + ",").map(_.length).sum
    assert(summary.length + topRoom <= tailWindow,
      s"summary block ${summary.length} chars + $topRoom chars of top " +
        s"queries exceeds the $tailWindow-char driver tail window")
  }

  test("summary line carries exactly the contract keys, value last") {
    import org.json4s._
    val line = Bench.renderTotal("x", Some(3),
      Seq("b" -> Some(2.0), "a" -> Some(0.5)), Seq("c"), (1.0, 1.1), 2.5)
    val JObject(fields) = org.json4s.jackson.JsonMethods.parse(line)
    assert(fields.map(_._1) == List("metric", "unit", "sf", "summary_of",
      "queries", "failed", "calibration", "value"))
    assert(fields.last._2 == JDouble(2.5))
    // the map keeps the caller's order (cost-descending here)
    assert(line.contains(""""queries":{"b":2.000,"a":0.500}"""))
  }

  /** A full run over an existing same-round artifact must MERGE, not
    * clobber (VERDICT r16 next #3): the round-16 driver's post-commit
    * run overwrote the session's three-run min-merge with a single
    * degraded-window run. The merge kernel concatenates pass lists per
    * query (minima recompute over the union) and never drops a query
    * the new run didn't cover.
    */
  test("full-artifact merge concatenates passes and keeps old-only queries") {
    val oldText =
      """{"metric":"total","unit":"sec","sf":"x","queries":{"a":1.0,"b":2.0},""" +
        """"failed":[],"calibration":{"start":1.0,"end":1.0},"isolated":{},""" +
        """"prev_ref":null,"passes":{"a":[1.5,1.0],"b":[2.0,null],"gone":[0.5,0.6]},""" +
        """"value":3.0}"""
    val (oldPasses, oldRuns) = Bench.parseFullPasses(oldText)
    assert(oldRuns == 1, "absent merged_runs must read as 1")
    assert(oldPasses("b").count(_.isNaN) == 1,
      "null pass must survive as NaN, preserving the pass count")
    val merged = Bench.mergeFullPasses(oldPasses,
      Map("a" -> Seq(0.8, 1.2), "c" -> Seq(4.0)))
    assert(merged("a") == Seq(1.5, 1.0, 0.8, 1.2),
      s"passes must concatenate: ${merged("a")}")
    assert(merged("gone") == Seq(0.5, 0.6),
      "a query the new run didn't cover must keep its old passes")
    assert(merged("c") == Seq(4.0))
    // min over the union is the committed-merge convention
    assert(merged("a").min == 0.8)
    // the rendered merge recomputes minima, failed and total from the
    // union and round-trips its stamp
    val text = Bench.renderFull("x", merged + ("f" -> Seq(Double.NaN)),
      (1.0, 1.0), Some(oldRuns + 1), Bench.renderDiagnostics())
    assert(text.contains(
      """"queries":{"f":null,"gone":0.500,"a":0.800,"b":2.000,"c":4.000}"""), text)
    assert(text.contains(""""failed":["f"]"""), text)
    assert(text.endsWith(""""value":7.300}"""), text)
    val (reread, runs) = Bench.parseFullPasses(text)
    assert(runs == 2 && reread("b").count(_.isNaN) == 1 && reread("f").head.isNaN)
  }

  test("diagnostics block renders the pinned shape and parses as JSON") {
    // VERDICT r18 stretch #8: operator-internals counters ride the
    // committed artifact so a union-find pass-count or
    // sampler-certification regression is an artifact diff, not a
    // soak-rerun discovery. The keys are load-bearing for that diff.
    val block = Bench.renderDiagnostics()
    val parsed = org.json4s.jackson.JsonMethods.parse("{" + block + "}")
    val keys = parsed \ "diagnostics" match {
      case org.json4s.JObject(fs) => fs.map(_._1)
      case other => fail(s"diagnostics must be an object, got $other")
    }
    assert(keys == List("cc_passes", "sampler_attempts", "sampler_hits"),
      s"pinned key set changed: $keys")
  }
}
