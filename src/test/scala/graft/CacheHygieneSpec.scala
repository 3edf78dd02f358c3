package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.operators.Frames

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

  test("Frames.free drops the blocks of the frames it is given and no others") {
    val sc = spark.sparkContext
    def stagedIds(df: DataFrame): Set[Int] = df.queryExecution.logical
      .collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet
    val base = spark.range(1, 101).toDF("v")
    val a = Frames.stage(base.filter(col("v") % 2 === 0))
    val b = Frames.stage(base.filter(col("v") % 3 === 0))
    val p = base.filter(col("v") % 5 === 0).persist()
    def cache = spark.sharedState.cacheManager
      .lookupCachedData(p.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    try {
      assert(p.count() == 20)
      val cached = cache.get.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
      val (ia, ib) = (stagedIds(a), stagedIds(b))
      val mine = ia ++ ib + cached
      assert(ia.size == 1 && ib.size == 1 && mine.size == 3)
      assert(mine.subsetOf(sc.getPersistentRDDs.keySet))
      Frames.free(a)
      assert(sc.getPersistentRDDs.keySet.intersect(mine) == ib + cached)
      assert(b.collect().map(_.getLong(0)).sorted.toSeq == (3L to 99L by 3L))
      assert(p.count() == 20)
      assert(cache.isDefined)
    } finally {
      Frames.free(b)
      p.unpersist(true)
    }
  }
}
