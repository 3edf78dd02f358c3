package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Sketch

/** Sketch queries: the engine-portable deterministic HLL next to the
  * exact answer it approximates (the differential proves BOTH the
  * estimate arithmetic and that the sketch state is cross-engine
  * identical). */
object SketchQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Approximate distinct users per event type, with the exact count
    // alongside (exact side shuffles keys; sketch side shuffles ≤64
    // registers per group — the 100 TB trade in one plan).
    QuerySpec("q_approx_distinct", (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val approx = Sketch.approxCountDistinct(
        events, col("user_id"), "n_approx", Seq(col("event_type")))
      val exact = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(broadcast(approx), "event_type")
    }, Some {
      val est = Sketch.estimateSql(
        "events", "user_id", "event_type", "n_approx")
      s"""WITH approx AS ($est),
         |exact AS (
         | SELECT event_type,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         | FROM events GROUP BY 1)
         |SELECT e.event_type, e.n_exact, a.n_approx
         |FROM exact e JOIN approx a USING (event_type)""".stripMargin
    }),

    // Count-min word frequencies next to the exact counts: the sketch
    // side collapses to depth×width counters before the shuffle no
    // matter the corpus size; estimates only ever overestimate.
    QuerySpec("q_cms_counts", (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      val sketch = Sketch.cmsSketch(toks, col("w"))
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      val est = Sketch.cmsEstimate(sketch, toks.distinct(), col("w"))
        .withColumnRenamed("__item", "w")
      exact.join(est, "w")
    }, Some {
      val toks = graft.functions.Text.tokensSql("text")
      val cellB = Sketch.cmsBucketSql("w", "r")
      val addrB = Sketch.cmsBucketSql("p.w", "d.r")
      s"""WITH t AS (SELECT unnest($toks) AS w FROM documents),
         |d AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         | SELECT r, $cellB AS b, CAST(COUNT(*) AS BIGINT) AS cnt
         | FROM t CROSS JOIN d GROUP BY 1, 2),
         |probes AS (SELECT DISTINCT w FROM t),
         |addr AS (
         | SELECT p.w, d.r, $addrB AS b FROM probes p CROSS JOIN d),
         |est AS (
         | SELECT a.w, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
         | FROM addr a LEFT JOIN cells c ON a.r = c.r AND a.b = c.b
         | GROUP BY a.w),
         |exact AS (
         | SELECT w, CAST(COUNT(*) AS BIGINT) AS n_exact FROM t GROUP BY w)
         |SELECT e.w, e.n_exact, s.est
         |FROM exact e JOIN est s USING (w)""".stripMargin
    })
  )
}
