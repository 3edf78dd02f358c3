package graft

/** Repeat-execution safety law (r7 VERDICT #2): NO registry query may
  * leave a CacheManager entry behind after it returns and its result
  * is consumed. A leaked entry is the storm class the pagerank/dedup
  * rounds fixed — a later identical execution's persist can plan-match
  * onto the half-dropped InMemoryRelation and intermittently pay a
  * 10–30× recompute through dead cache blocks — and the honesty class:
  * bench reps 2–3 silently reusing rep 1's cached result. Index state
  * and materialized results are local checkpoints (no CacheManager
  * key) and every staged persist must be released by its builder
  * before the operator returns.
  *
  * The sweep runs EVERY registry query against the sf0.001 fixture —
  * the same builders the driver's gate executes — and asserts the
  * CacheManager is empty after each. The IndexCache holds checkpoint
  * blocks, not cache entries, so it does not trip the law; it is
  * cleared at the end so the suite leaves no pinned blocks.
  */
class CacheHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every registry query leaves zero CacheManager entries behind") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    graft.operators.IndexCache.clear()
    val leaked = scala.collection.mutable.ListBuffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      SparkEntry.queries(name)(spark, dir).count()
      if (!cm.isEmpty) {
        leaked += name
        spark.catalog.clearCache() // don't cascade one leak into all
      }
    }
    graft.operators.IndexCache.clear()
    assert(leaked.isEmpty,
      s"queries leaving CacheManager entries: ${leaked.mkString(", ")}")
  }
}
