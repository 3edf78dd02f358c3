package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.tools.ScaleAudit

/** Guards the scale audit: its family table names registered queries,
  * and its JSON keeps the shape of the committed `bench_*_scale.json`
  * artifacts. */
class ScaleAuditSpec extends SparkSpec {

  private val json = new ObjectMapper()

  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  /** A point's keys, each with the keys of its object value. */
  private def shape(p: JsonNode): Seq[(String, Seq[String])] =
    keys(p).map(k => k -> (if (p.get(k).isObject) keys(p.get(k)) else Nil))

  test("every registry-body family names registered queries") {
    for (f <- Seq("rel", "graph", "misc", "text", "stream", "sample");
         q <- ScaleAudit.families(f).stages)
      assert(SparkEntry.queries.contains(q), s"$f: $q")
  }

  test("stream audit at 1,2 keeps the committed shape; events double") {
    val work = scratchDir("graft_scale_audit").toString
    val got = json.readTree(ScaleAudit.run(spark, "stream",
      "/root/testdata/sf0.001", work, Seq(1, 2)))
    val committed = json.readTree(new java.io.File("bench_stream_scale.json"))
    assert(keys(got) == keys(committed))
    assert(got.get("metric").asText == committed.get("metric").asText)
    val want = committed.get("points").elements.asScala.map(shape).toSet
    assert(want.size == 1)
    val points = got.get("points").elements.asScala.toSeq
    assert(points.map(shape).toSet == want)
    assert(points.map(_.get("label").asText) == Seq("x1", "x2"))
    val events = points.map(_.get("events_rows").asLong)
    assert(events(0) > 0 && events(1) == 2 * events(0))
  }

  test("ann names the missing embeddings set instead of generating one") {
    val work = scratchDir("graft_scale_audit_ann").toString
    val e = intercept[RuntimeException](ScaleAudit.run(spark, "ann",
      "/root/testdata/sf0.001", work, Seq(1)))
    assert(e.getMessage.contains(s"$work/x1/embeddings.parquet"))
  }
}
