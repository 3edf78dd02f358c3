package graft

import org.apache.spark.sql.catalyst.expressions.{ElementAt, Literal}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** Plan-quality guards for the scale-critical properties: predicate
  * pushdown and column pruning must reach the parquet scan, small-dim
  * joins must broadcast, and no query may plan a raw cartesian product
  * (broadcast nested-loop against a broadcast-small side is the only
  * sanctioned non-equi join shape). These are the properties that decide
  * whether a plan survives a 100 TB input, asserted so a refactor can't
  * silently regress them. */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("filter + projection push down to the parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("small-dimension join plans as broadcast (no shuffle of the big side)") {
    val plan = RelationalQueriesAccess.q("q_join").queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("q_p90 windows run over aggregated histograms, never raw rows") {
    // The range-refinement quantile must not contain a per-group sort
    // of raw values: every Window's input subtree has to pass through
    // an Aggregate (bucket or value histogram) first. A Window directly
    // over the scan would be the all-distinct single-partition sort
    // that melts at scale.
    val plan = RelationalQueriesAccess.q("q_p90").queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(aggBelow.nonEmpty,
        s"window over raw rows (no aggregate below):\n$w")
    }
  }

  test("stencil windows are per-partition, never a global sort") {
    // The radius-r stencil's lag/lead windows must all be keyed by the
    // partition id — a Window.orderBy with no partitionBy collapses the
    // whole table into one task, the shape the halo exchange exists to
    // avoid.
    // The stencil returns an eagerly-checkpointed result (flat
    // LogicalRDD), so the windows live in the plans that EXECUTED
    // while the query materialized (the halo collect + the checkpoint
    // action) — capture them via PlanCapture and unwrap AQE/cache
    // wrappers explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case qs: QueryStageExec => allNodes(qs.plan)
      case imts: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        imts +: allNodes(imts.relation.cachedPlan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val qes = PlanCapture.during(spark, minPlans = 2) {
      SparkEntry.queries("q_stencil5")(spark, sf).count()
    }
    val windows = qes.map(_.executedPlan).flatMap(allNodes).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"global (unpartitioned) window in stencil plan:\n$w")
    }
  }

  test("decontamination probes a broadcast benchmark, never shuffles the corpus join") {
    val plan = RelationalQueriesAccess.q("q_decontam").queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle into the benchmark join:\n$plan")
  }

  test("chunking runs in the scan stage with no shuffle at all") {
    val plan = RelationalQueriesAccess.q("q_chunk").queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must be a narrow scan-stage transform:\n$plan")
  }

  test("outlier gate broadcasts the per-type stats, never shuffles events into them") {
    val plan = RelationalQueriesAccess.q("q_outliers").queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"events must not shuffle into the stats join:\n$plan")
  }

  test("kNN-graph build is window-free with bounded exchanges") {
    // knnJoinHier's whole point: the probe pick is a NARROW array-sort
    // pass (no Window partitionBy(query) exchange) and the per-query
    // top-k is the bounded-heap aggregate (partial+final exchange pair),
    // so the only data movements are probes-by-cell and heap entries.
    val df = SparkEntry.queries("q_ann_knn")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"kNN-graph plan contains Window: $windows")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 3,
      s"kNN-graph plan has ${exchanges.size} exchanges (expect <= 3: " +
        "probes-by-cell join + the top-k aggregate pair)")
  }

  test("no query plans an unpartitioned window over unaggregated rows") {
    // A Window with an empty partitionSpec funnels its whole input into
    // ONE task — the single shape guaranteed to melt at 100 TB. The
    // sweep covers EVERY registry query. An unpartitioned window is
    // tolerated only when its input is already an Aggregate subtree
    // (dictionary/histogram-sized by construction: label dictionaries,
    // bin grids, per-group stats), or the query is in the documented
    // whitelist below.
    // Currently empty: every registry query's global windows sit over
    // aggregates (label dictionaries, bin grids). Add a name here ONLY
    // with a doc comment proving the windowed input is bounded.
    val whitelist: Set[String] = Set()
    val offenders = RegistrySweep.completed
      .filter(r => r.globalWindowOverRawRows && !whitelist.contains(r.name))
      .map(_.name)
    assert(offenders.isEmpty,
      s"unpartitioned windows over raw rows in: $offenders")
  }

  test("no query plans a cartesian product") {
    val offenders = RegistrySweep.completed.filter(_.cartesian).map(_.name)
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q_bloom_join broadcasts below the break-even, with no Bloom probe on either scan") {
    val plan = RelationalQueriesAccess.q("q_bloom_join").queryExecution.sparkPlan
    assert(plan.collect { case j: BaseJoinExec => j.nodeName } ==
      Seq("BroadcastHashJoin"), s"expected a broadcast join:\n$plan")
    // a Bloom probe is an `element_at` over the packed word literal; it
    // can only cut an exchange, so a join whose dim broadcasts has none
    val probes = plan.collect {
      case f: FilterExec if f.condition.exists {
        case e: ElementAt => e.left.isInstanceOf[Literal]
        case _ => false
      } => f
    }
    assert(probes.isEmpty, s"Bloom probe in a broadcast join:\n$plan")
  }

  private object RelationalQueriesAccess {
    def q(name: String) = SparkEntry.queries(name)(spark, sf)
  }
}
