package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window}
import org.scalatest.Assertions

import graft.operators.IndexCache
import graft.queries.QuerySpec

/** One pass over the query registry that records, per query, every
  * property a registry-wide check asserts; the checks in ContractSpec,
  * CacheHygieneSpec and PlanQualitySpec read its flags instead of each
  * running all 173 queries again. Each query is built and collected
  * twice: its plans are read off the first build before its action, and
  * the CacheManager is checked after each full `collect()`. Only the
  * flags are kept, so the pass holds no query results. */
object RegistrySweep {

  /** One query's verdicts; `error` is set, and every flag false, when
    * building or running it threw. */
  final case class Result(
      name: String,
      deterministic: Boolean = false,
      leaked: Boolean = false,
      globalWindowOverRawRows: Boolean = false,
      cartesian: Boolean = false,
      error: Option[Throwable] = None)

  /** The registry, sorted by name, at the sf0.001 fixture: run once per
    * JVM, which every suite shares. */
  private lazy val results: Seq[Result] = sweep(TestSpark.spark,
    "/root/testdata/sf0.001", SparkEntry.registry.sortBy(_.name))

  /** `results`, after failing the calling check with the name of every
    * query that threw. */
  def completed: Seq[Result] = {
    val threw = results.filter(_.error.isDefined)
    if (threw.nonEmpty)
      Assertions.fail(threw.map(r => s"${r.name}: ${r.error.get}")
        .mkString("queries that threw: ", "; ", ""), threw.head.error.get)
    results
  }

  def sweep(spark: SparkSession, sf: String, specs: Seq[QuerySpec]): Seq[Result] = {
    val cm = spark.sharedState.cacheManager
    // run one action; report its rows as a multiset and whether it left
    // a CacheManager entry, then clear so one leak does not cascade
    def collected(df: DataFrame): (Map[String, Long], Boolean) = {
      val fp = df.collect().map(_.toString).groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
      val leaked = !cm.isEmpty
      spark.catalog.clearCache()
      (fp, leaked)
    }
    spark.catalog.clearCache()
    IndexCache.clear()
    try specs.map { q =>
      try {
        val df = q.body(spark, sf)
        val window = globalWindowOverRawRows(df.queryExecution.optimizedPlan)
        val cartesian = df.queryExecution.executedPlan.toString
          .contains("CartesianProduct")
        val (fp1, leak1) = collected(df)
        val (fp2, leak2) = collected(q.body(spark, sf))
        Result(q.name, fp1 == fp2, leak1 || leak2, window, cartesian)
      } catch {
        case NonFatal(e) =>
          spark.catalog.clearCache()
          Result(q.name, error = Some(e))
      }
    } finally IndexCache.clear()
  }

  /** A Window with an empty partitionSpec and no Aggregate below it:
    * its whole unaggregated input funnels into one task. */
  private def globalWindowOverRawRows(plan: LogicalPlan): Boolean =
    plan.exists {
      case w: Window => w.partitionSpec.isEmpty &&
        !w.child.exists(_.isInstanceOf[Aggregate])
      case _ => false
    }
}
