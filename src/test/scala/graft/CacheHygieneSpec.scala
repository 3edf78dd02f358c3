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
  * The check reads RegistrySweep, which runs EVERY registry query
  * against the sf0.001 fixture — the same builders the driver's gate
  * executes — and records whether the CacheManager is empty after each
  * of the query's two full `collect()`s. The IndexCache holds
  * checkpoint blocks, not cache entries, so it does not trip the law;
  * the sweep clears it at the end so the suite leaves no pinned blocks.
  */
class CacheHygieneSpec extends SparkSpec {

  test("every registry query leaves zero CacheManager entries behind") {
    val leaked = RegistrySweep.completed.filter(_.leaked).map(_.name)
    assert(leaked.isEmpty,
      s"queries leaving CacheManager entries: ${leaked.mkString(", ")}")
  }
}
