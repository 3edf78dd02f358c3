package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** Link-analysis queries. The graph is the part–supplier incidence of
  * lineitem made symmetric (an undirected supply graph: rank ≈ how
  * central a part/supplier is in the sourcing network).
  *
  * Node-id encoding — LONGS in flight, strings only at the edge of
  * the query: the two key spaces are kept distinct by an arithmetic
  * bijection (left space ↦ 2k, right space ↦ 2k+1) rather than the
  * earlier `'p'||key` string tags. Every pageRank/CC/BFS iteration
  * shuffles the node-keyed frame, so the key representation is paid
  * |nodes|+|edges| times per iteration: 8-byte longs roughly halve
  * the exchange bytes and hash/compare cost of ~10-char strings (the
  * x100 graph probe's pagerank step was memory-pressure-bound on 96M
  * string-keyed rows per iteration). Because the source keys are
  * already dense integers, the bijection needs NO distinct pass, no
  * dictionary shuffle, and no join to decode — an arbitrary
  * string-keyed corpus would instead pay one distinct+zipWithIndex
  * dictionary build up front and a decode join at the end, which
  * amortizes over the iterations all the same. The ORACLES mirror the
  * encoding (encode in SQL, decode in the final select) because the
  * component representative — min over node ids — depends on the key
  * ordering, and both conventions are equally arbitrary; what must
  * match is the decoded output, and it does, bit-for-bit.
  */
object GraphQueries {

  private val Iters = 3

  /** Decode a 2k/2k+1 long node id back to its `left`/`right`-tagged
    * string form — exact integer ops (shiftright/bit-and), no FP
    * division. */
  private def decodeNode(node: Column, left: String, right: String): Column =
    when(node.bitwiseAND(1) === 0,
      concat(lit(left), shiftright(node, 1).cast("string")))
      .otherwise(concat(lit(right), shiftright(node, 1).cast("string")))

  private def evenOf(c: Column): Column = c.cast("long") * 2
  private def oddOf(c: Column): Column = c.cast("long") * 2 + 1

  private def edges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "lineitem")
      .select(evenOf(col("l_partkey")).as("a"),
        oddOf(col("l_suppkey")).as("b"))
      .distinct()
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Co-purchase projection: parts sharing an order. The per-order
    * self-join is bounded by order size (TPC-H ≤ 7 lines), so the
    * projection never squares a large group. */
  private def coPurchase(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    li.alias("l").join(li.alias("r"),
        col("l.o") === col("r.o") && col("l.p") < col("r.p"))
      .select(col("l.p").as("src"), col("r.p").as("dst"))
      .distinct()
  }

  /** Sparse high-quantity order↔part incidence (~4% of lineitem),
    * long-encoded: orders even, parts odd. */
  private def sparseOrderPart(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 48)
      .select(evenOf(col("l_orderkey")).as("src"),
        oddOf(col("l_partkey")).as("dst"))
      .distinct()

  /** SQL mirror of [[decodeNode]] (DuckDB `//` is integer division on
    * BIGINTs, exact). */
  private def decodeSql(c: String, left: String, right: String): String =
    s"CASE WHEN $c % 2 = 0 THEN '$left' || CAST($c // 2 AS BIGINT) " +
      s"ELSE '$right' || CAST($c // 2 AS BIGINT) END"

  private val edgesSql =
    """SELECT a AS src, b AS dst FROM
      | (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS a,
      |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS b
      |  FROM lineitem)
      |UNION ALL
      |SELECT b AS src, a AS dst FROM
      | (SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS a,
      |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS b
      |  FROM lineitem)""".stripMargin

  private val sparseEdgesSql =
    """SELECT a AS src, b AS dst FROM
      | (SELECT DISTINCT CAST(l_orderkey AS BIGINT) * 2 AS a,
      |         CAST(l_partkey AS BIGINT) * 2 + 1 AS b
      |  FROM lineitem WHERE l_quantity > 48)
      |UNION ALL
      |SELECT b AS src, a AS dst FROM
      | (SELECT DISTINCT CAST(l_orderkey AS BIGINT) * 2 AS a,
      |         CAST(l_partkey AS BIGINT) * 2 + 1 AS b
      |  FROM lineitem WHERE l_quantity > 48)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // symmetric edges ⇒ no dangling nodes ⇒ skip the per-iteration
    // node-list left join
    QuerySpec("q_pagerank", (s, dir) =>
      Graph.pageRank(edges(s, dir), Iters, danglingFree = true)
        .select(decodeNode(col("node"), "p", "s").as("node"), col("rank")),
      Some(
        s"""SELECT ${decodeSql("node", "p", "s")} AS node, rank
           |FROM (${Graph.pageRankSql(edgesSql, Iters)})""".stripMargin)),

    // Exact triangle count of the part co-purchase graph —
    // degree-ordered orientation bounds the wedge join at O(m^1.5)
    // regardless of hub skew.
    QuerySpec("q_triangles", (s, dir) =>
      Graph.triangleCount(coPurchase(s, dir)),
      // Mirror of Graph.triangleCount on the co-purchase projection:
      // same (degree, id) orientation, wedge join, closure semi-join.
      Some(
        """WITH und AS (
          |  SELECT DISTINCT l.l_partkey AS u, r.l_partkey AS v
          |  FROM lineitem l JOIN lineitem r
          |    ON l.l_orderkey = r.l_orderkey AND l.l_partkey < r.l_partkey),
          |deg AS (
          |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
          |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
          |  GROUP BY 1),
          |keyed AS (
          |  SELECT und.u, und.v, du.d AS du, dv.d AS dv
          |  FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n),
          |orient AS (
          |  SELECT
          |   CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
          |   CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b,
          |   CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS db
          |  FROM keyed),
          |wedges AS (
          |  SELECT e1.b AS x, e2.b AS y
          |  FROM orient e1 JOIN orient e2 ON e1.a = e2.a
          |  WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          |FROM wedges w
          |WHERE EXISTS (SELECT 1 FROM orient e
          |              WHERE e.a = w.x AND e.b = w.y)""".stripMargin)),

    // Weakly connected components of the SPARSE high-quantity
    // order↔part graph: min-label propagation, O(diameter) rounds;
    // oracle = the same bounded min-label recurrence on the same
    // long keys.
    QuerySpec("q_components", (s, dir) =>
      Graph.connectedComponents(sparseOrderPart(s, dir))
        .select(decodeNode(col("node"), "o", "p").as("node"),
          decodeNode(col("component"), "o", "p").as("component")),
      // Bounded pointer-doubled min-label rounds, NOT a recursive
      // reachability CTE: the closure form is exact but materializes
      // Σ component² rows (hours of DuckDB at sf0.1); this mirror runs
      // the Spark loop's own recurrence 32 rounds, on the same long
      // keys (the min-label representative depends on key order).
      Some(
        s"""SELECT ${decodeSql("node", "o", "p")} AS node,
           |       ${decodeSql("component", "o", "p")} AS component
           |FROM (${Graph.componentsSql(sparseEdgesSql)})""".stripMargin)),

    // k-hop contamination spread over the same sparse order↔part
    // graph: sources = parts with partkey % 500 == 0 ("flagged"),
    // BFS out to 6 hops, symmetric edges. Frontier-only shuffles —
    // each round moves the newly-discovered nodes, never the graph.
    // Oracle: bounded recursive CTE (UNION-deduped, so rows are
    // capped at nodes × hops, never path-enumerated) + MIN(dist).
    QuerySpec("q_khop", (s, dir) => {
      val e0 = sparseOrderPart(s, dir)
      val edges = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      val sources = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 48 && col("l_partkey") % 500 === 0)
        .select(oddOf(col("l_partkey")).as("node"))
        .distinct()
      Graph.hopDistance(edges, sources, maxHops = 6)
        .select(decodeNode(col("node"), "o", "p").as("node"), col("dist"))
    }, Some(
      // Bounded-depth BFS as a recursive CTE: UNION (not UNION ALL)
      // dedupes (node, dist) rows per step, so the working set is capped
      // at nodes × (hops+1) — never the path enumeration a closure
      // would do — and MIN(dist) is exactly the frontier BFS's
      // first-discovery distance.
      s"""WITH RECURSIVE eb AS MATERIALIZED (
         |  $sparseEdgesSql),
         |walk(node, dist) AS (
         |  SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 + 1 AS node,
         |         0 AS dist
         |  FROM lineitem
         |  WHERE l_quantity > 48 AND l_partkey % 500 = 0
         |  UNION
         |  SELECT e.dst AS node, w.dist + 1 AS dist
         |  FROM walk w JOIN eb e ON e.src = w.node
         |  WHERE w.dist < 6)
         |SELECT ${decodeSql("node", "o", "p")} AS node,
         |       CAST(MIN(dist) AS INT) AS dist
         |FROM walk GROUP BY 1""".stripMargin))
  )
}
