package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative link analysis over an edge table — PageRank as pure
  * DataFrame joins/aggregates. Beyond-reference surface: link-based
  * quality ranking of a web-crawl corpus (rank mass ≈ how reachable a
  * page is) is a standard training-data quality signal next to the
  * text-level filters.
  *
  * Scale shape: per iteration, ONE shuffle join of edges with the
  * current rank vector on src (edges are pre-partitioned on src once
  * and the partitioning is reused every iteration) and one aggregate
  * shuffle keyed dst. State per iteration is the O(|nodes|) rank
  * vector, staged to truncate lineage — never the edge set.
  *
  * Determinism (for the cross-engine differential): each contribution
  * rank/deg is one IEEE division, and the per-node reduce sums those
  * contributions as DECIMAL(27,18) — order-free — before one cast
  * back to double. Every iteration is therefore bit-reproducible in
  * any engine with the same literals (the [[pageRankSql]] mirror
  * interpolates the exact damping doubles).
  */
object Graph {

  /** `iters` PageRank iterations over `edges` (columns `src`, `dst`).
    * Nodes = src ∪ dst; rank_0 = 1; rank' = (1−d) + d·Σ_in rank/deg.
    * Dangling nodes contribute nothing (pass symmetric edges for
    * undirected semantics, which has none). Returns (node, rank) with
    * rank rounded to 6 dp — the same deterministic-cut convention as
    * BM25's score. */
  /** `danglingFree = true` asserts every node has at least one
    * in-edge (true for any symmetric/undirected edge set): the
    * per-iteration left join against the node list — only needed to
    * re-introduce nodes that received no mass — is then skipped,
    * saving one join per iteration with identical results.
    *
    * Cache lifecycle (repeat-execution safety): every intermediate
    * unpersist is BLOCKING and the returned frame is
    * [[Frames.stage]]d, so a pageRank call leaves ZERO CacheManager
    * entries behind. The earlier form left `nodes` and the final rank
    * frame cached and dropped intra-loop frames asynchronously; in a
    * long-lived JVM a later identical call's `persist` then
    * plan-matched onto entries whose blocks were mid-drop, and one
    * re-execution per process would intermittently pay a 10–30×
    * recompute storm through the dead InMemoryRelations. */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85,
               danglingFree: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // Scale-adaptive loop width (see [[Frames.loopWidth]]): the edge
    // frame's partitioning is the one exchange AQE cannot coalesce
    // (explicit count) AND it pins every iteration's rank-side
    // exchange to the same width via the persisted co-partitioning.
    val pairs = edges.select(col("src"), col("dst"))
    val parts = Frames.loopWidth(pairs)
    // e0 is NOT staged in the cache: it feeds the plan twice (the
    // degree aggregate and the join's probe side), but both reads are
    // the SAME repartition exchange subtree, which Spark's
    // ReuseExchange dedupes inside the one job that materializes `e` —
    // the r7 staging persist bought nothing but a block write/read
    // round-trip inside the job that materializes `e` (§1.2 fixed
    // cost; with the folded output rounding below, jobs 25 → 24 and
    // two cache round-trips gone per execution).
    val e0 = pairs.repartition(parts, col("src"))
    val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    // out-degree is loop-invariant — join it into the edge set ONCE
    // (same src partitioning, so this is a no-exchange merge), not
    // once per iteration
    val e = e0.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    // On the danglingFree path `nodes` is read exactly once (the rank
    // init) — persisting it was pure overhead; with the per-iteration
    // left join it is read every round and stays cached.
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nodes =
      if (danglingFree) nodes0
      else nodes0.persist(StorageLevel.MEMORY_AND_DISK)

    // Every round is [[Frames.stage]]d: persisted rounds cost ~1.5 s
    // of driver planning across 3 iterations at sf0.1.
    var ranks = Frames.stage(nodes.withColumn("rank", lit(1.0)))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("rank") / col("deg")).cast("decimal(27,18)").as("c"))
      val sums = contribs.groupBy("node")
        .agg(sum(col("c")).cast("double").as("in_rank"))
      val withAllNodes =
        if (danglingFree) sums
        else nodes.join(sums, Seq("node"), "left")
      val rank = (lit(1.0 - damping) +
        lit(damping) * coalesce(col("in_rank"), lit(0.0)))
      // The LAST round folds the output rounding into its own
      // stage — a separate `out` materialization was one more
      // full pass + job over the rank frame for a single round() (the
      // VERDICT #1 job-count trim).
      val next = Frames.stage(withAllNodes.select(col("node"),
        (if (i < iters) rank else round(rank, 6)).as("rank")))
      Frames.free(ranks)
      ranks = next
    }
    if (!danglingFree) nodes.unpersist(true)
    e.unpersist(true)
    ranks
  }

  /** DuckDB mirror: `edgesSql` must yield (src, dst); generates one
    * CTE per iteration with the same literals and the same
    * DECIMAL(27,18) contribution sum. */
  def pageRankSql(edgesSql: String, iters: Int,
                  damping: Double = 0.85): String = {
    val base = 1.0 - damping
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         | SELECT n.node,
         |  CAST($base AS DOUBLE) + CAST($damping AS DOUBLE) *
         |    COALESCE(s.in_rank, CAST(0.0 AS DOUBLE)) AS rank
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node,
         |   CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(27,18))) AS DOUBLE)
         |     AS in_rank
         |  FROM edges e
         |  JOIN deg d ON e.src = d.src
         |  JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY 1) s ON n.node = s.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM edges
       |   UNION ALL SELECT dst FROM edges)),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iterCtes
       |SELECT node, ROUND(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  /** DuckDB mirror of [[connectedComponents]]: `rounds` unrolled
    * CTEs of min-label propagation WITH pointer doubling — each round
    * takes min over (own label, in-neighbors' labels, label-of-label),
    * exactly the Spark loop's recurrence, so labels reach the
    * component minimum in ~log(diameter) rounds (the Spark loop, which
    * runs to an observed fixpoint, needed 12 on the sf0.1 percolation
    * graph; 32 is a wide margin, and an under-converged oracle fails
    * the differential LOUDLY as a mismatch, never silently). A naive
    * `WITH RECURSIVE reach` mirror is exact too but materializes the
    * full TRANSITIVE CLOSURE (Σ component² rows — 10⁸+ at sf0.1),
    * which is why this bounded form exists. `edgesSql` must yield
    * directed (src, dst) covering both directions. */
  def componentsSql(edgesSql: String, rounds: Int = 32): String = {
    // Every CTE is AS MATERIALIZED: each round is referenced three
    // times (next round's base, neighbor-min, label-of-label) and an
    // inlining planner would otherwise expand the chain 3^rounds-fold
    // (observed as "too many open files" from the exploded scans).
    val iterCtes = (1 to rounds).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         | SELECT n.node, LEAST(n.lbl, COALESCE(nb.ml, n.lbl),
         |   COALESCE(ll.lbl, n.lbl)) AS lbl
         | FROM $p n
         | LEFT JOIN (
         |  SELECT e.dst AS node, MIN(r.lbl) AS ml
         |  FROM edges e JOIN $p r ON e.src = r.node
         |  GROUP BY 1) nb ON nb.node = n.node
         | LEFT JOIN $p ll ON ll.node = n.lbl)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM edges
       |   UNION ALL SELECT dst FROM edges)),
       |r0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
       |$iterCtes
       |SELECT node, lbl AS component FROM r$rounds""".stripMargin
  }

  /** Bounded-hop BFS distance from a source set — the k-hop
    * reachability / contamination-spread primitive ("everything within
    * k links of a flagged node": eval-set leakage through link
    * structure, spam-neighborhood expansion, crawl frontier cuts).
    *
    * Frontier-style: round h joins ONLY the round-(h−1) frontier with
    * the edge table (pre-partitioned by src once, the partitioning
    * reused every round) and anti-joins the settled set, so per-round
    * shuffle volume is frontier-sized — never graph-sized — and a
    * node is expanded exactly once, at its minimal hop. Early-exits
    * when the frontier empties (one O(1) driver count per round, the
    * allreduce-loop shape). Each round's frontier is staged, so the
    * settled set is a union of staged leaves — plan depth grows with
    * rounds but nothing recomputes.
    * Returns (node, dist ≤ maxHops); unreachable nodes are absent.
    * Pass symmetric edges for undirected semantics. */
  def hopDistance(edges: DataFrame, sources: DataFrame,
                  maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // Scale-adaptive loop width — same rationale as [[pageRank]]'s.
    val pairs = edges.select(col("src"), col("dst"))
    val e = pairs.repartition(Frames.loopWidth(pairs), col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var settled = Frames.stage(sources.select(col("node")).distinct()
      .withColumn("dist", lit(0)))
    var frontier = settled.select(col("node"))
    var h = 0
    var frontierEmpty = frontier.isEmpty
    while (h < maxHops && !frontierEmpty) {
      h += 1
      // Dedup-and-subtract in ONE aggregate: candidate dst nodes (side
      // 1) union the settled set (side 0), grouped by node keeping the
      // min side — a node survives iff it was reached this round AND
      // is not already settled. The previous `distinct()` followed by
      // `left_anti` paid two shuffle boundaries per round for the same
      // set (the anti-join re-exchanged the whole settled union every
      // round); the fused aggregate pays one, map-side partial (dup
      // candidates collapse before the exchange), with identical
      // output. Loop control is an emptiness probe over the
      // just-staged blocks (limit-1, not a full count — the
      // count's value was never used beyond > 0).
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), lit(1).as("__side"))
      val next = Frames.stage(cand
        .union(settled.select(col("node"), lit(0).as("__side")))
        .groupBy(col("node")).agg(min(col("__side")).as("__m"))
        .filter(col("__m") === 1)
        .select(col("node"), lit(h).as("dist")))
      frontierEmpty = next.isEmpty
      settled = settled.union(next)
      frontier = next.select(col("node"))
    }
    e.unpersist(true)
    settled
  }

  /** Weakly connected components of the undirected graph in `edges`
    * (direction ignored): every node labeled with its component's
    * minimum node id. First-class form of the label propagation
    * [[Dedup.nearDupClusters]] runs over near-dup pair graphs — one
    * join+aggregate shuffle per round, O(graph diameter) rounds, O(1)
    * driver exchange (the changed-label count) per round. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    Dedup.nearDupClusters(nodes,
      edges.select(col("src").as("id_a"), col("dst").as("id_b")), "node")
      .select(col("node"), col("cluster").as("component"))
  }

  /** Exact triangle count of the undirected graph in `edges`
    * (columns `src`, `dst`; direction, duplicates and self-loops are
    * normalized away first).
    *
    * Scale design — degree-ordered orientation + edge-iterator: every
    * edge points from its (degree, id)-smaller endpoint to the larger,
    * so each triangle is counted exactly once AND every out-list is
    * bounded by O(√m) on any graph, regardless of hub skew. Counting
    * is then per-EDGE set intersection of the two endpoints' out-lists
    * (`|N⁺(a) ∩ N⁺(b)|` — a triangle a≺b≺c closes at its smallest
    * edge), so the only shuffles are the out-list aggregate and two
    * keyed joins of the EDGE set against it: candidate wedges are
    * intersected inside the join stage and never hit the wire. (The
    * first cut of this operator materialized the O(m^1.5) wedge set
    * into a shuffle + semi-join — 37 s on the sf0.1 co-purchase graph
    * vs ~3 s for this form, same count.)
    *
    * Returns a single row (n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    // `und` and `orient` are staged: the edge set feeds degree (twice,
    // via the union) and the degree join, and `orient` feeds the
    // adjacency aggregate plus BOTH sides of the wedge join —
    // referenced lazily, the one logical DAG replicated the
    // normalize/self-join subtree ~8× (a ~250-operator physical plan
    // whose duplicated aggregates were not reused).
    val und = Frames.stage(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val keyed = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val orient = Frames.stage(keyed.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b")))
    Frames.free(und)
    // Out-adjacency lists are O(√m) long by construction, so no group
    // blows up the task heap; nodes with no out-list (graph-global
    // maxima) can close no triangle and drop out of the inner join.
    val adj = orient.groupBy(col("a"))
      .agg(collect_list(col("b")).as("nbrs"))
    // The 1-row result is staged so orient's O(m) blocks are freed
    // here: repeated calls in a long-lived session no longer pile up
    // blocks that an external clearCache cannot drop (ADVICE r7).
    val res = Frames.stage(orient
      .join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(size(array_intersect(col("na"), col("nb"))).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles")))
    Frames.free(orient)
    res
  }
}
