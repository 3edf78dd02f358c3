package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract: the one-line JSON summary must stay
  * within Bench.LineBudget no matter how large the query registry
  * grows (the driver's tail capture is ~2000 chars; r3's artifacts
  * were lost to an overgrown line). */
class BenchLineSpec extends AnyFunSuite {

  private def mkMedians(n: Int): Map[String, Double] =
    (1 to n).map(i => f"q_some_rather_long_query_name_$i%04d" -> i * 0.123).toMap

  test("summary line stays within the budget at any registry size") {
    for (n <- Seq(0, 1, 50, SparkEntry.queries.size, 500, 2000)) {
      val line = Bench.summaryLine(mkMedians(n), Nil, "/root/testdata/sf0.1")
      assert(line.length <= Bench.LineBudget,
        s"n=$n line is ${line.length} chars > ${Bench.LineBudget}")
      assert(line.startsWith("""{"metric":"total","value":"""))
    }
  }

  test("current registry with realistic names fits with errors present") {
    val medians = SparkEntry.queries.keys.map(_ -> 12.345).toMap
    val errs = SparkEntry.queries.keys.take(5).toSeq
    val line = Bench.summaryLine(medians, errs, "/root/testdata/sf0.1")
    assert(line.length <= Bench.LineBudget, s"${line.length} chars")
  }

  test("summary line parses as JSON under a comma-decimal default locale") {
    val prior = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line =
      try Bench.summaryLine(Map("q_a" -> 1.5, "q_b" -> 0.25), Seq("q_\"c\n"), "sf")
      finally java.util.Locale.setDefault(prior)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("value").asDouble() == 1.75)
    assert(json.get("queries").get("q_b").asDouble() == 0.25)
    assert(json.get("errors").get(0).asText() == "q_\"c\n")
  }

  test("outlier re-run rule: fires on material spread, not on noise") {
    // the r6 failure modes — a single degradation window poisoning
    // later reps — must trigger a re-measurement
    assert(Bench.suspectSpread(Seq(9.1, 46.1, 85.3)))
    assert(Bench.suspectSpread(Seq(3.96, 3.37, 117.4)))
    // steady reps of any magnitude: no re-run
    assert(!Bench.suspectSpread(Seq(3.3, 3.5, 3.4)))
    assert(!Bench.suspectSpread(Seq(46.0, 47.1, 45.2)))
    // trivial-query timer wobble (4× spread but max under the floor):
    // not evidence, no re-run
    assert(!Bench.suspectSpread(Seq(0.01, 0.04, 0.02)))
    // exactly-at-floor max with large spread fires
    assert(Bench.suspectSpread(Seq(0.1, 0.5, 0.12)))
    // degenerate zero/negative min with material max fires rather
    // than dividing by zero
    assert(Bench.suspectSpread(Seq(0.0, 2.0, 2.0)))
    assert(!Bench.suspectSpread(Nil))
  }

  test("value is the total over ALL queries, included or omitted") {
    val medians = mkMedians(300)
    val line = Bench.summaryLine(medians, Nil, "sf")
    val v = """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(v - medians.values.sum) < 0.01)
    // the expensive entries are the ones reported individually
    assert(line.contains("q_some_rather_long_query_name_0300"))
    val om = """"omitted":\{"n":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    assert(om > 0 && om < 300)
  }
}
