package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Profile, Sketch}

/** Profiling queries: per-column statistics (with the portable-HLL
  * ndv) and a fixed-bound histogram. */
object ProfileQueries {

  private val ProfCols = Seq("event_id", "user_id", "event_type", "props")

  /** Mirror of the two-scan profile: a stats UNION ALL branch per
    * column, plus the stacked-pairs HLL pipeline (same registers as
    * [[Sketch.estimateSql]], grouped by col_name). */
  private val profileOracle: String = {
    val pairs = ProfCols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM events")
      .mkString("\n UNION ALL ")
    val stats = ProfCols.map(c =>
      s"""SELECT '$c' AS col_name, CAST(COUNT($c) AS BIGINT) AS n_vals,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  CAST(MIN($c) AS VARCHAR) AS min_s,
         |  CAST(MAX($c) AS VARCHAR) AS max_s
         | FROM events""".stripMargin)
      .mkString("\n UNION ALL ")
    val scale = "18446744073709551616"
    s"""WITH pairs AS (
       | $pairs),
       |pnn AS (SELECT * FROM pairs WHERE v IS NOT NULL),
       |regs AS (
       | SELECT col_name, ${Sketch.bucketSql("v")} AS bucket,
       |  MAX(${Sketch.rhoSql("v")}) AS m
       | FROM pnn GROUP BY 1, 2),
       |sums AS (
       | SELECT col_name,
       |  SUM(CAST(POWER(2, 64 - m) AS DECIMAL(38,0)))
       |    + (64 - COUNT(*)) * CAST('$scale' AS DECIMAL(38,0)) AS s,
       |  CAST(64 - COUNT(*) AS DOUBLE) AS v
       | FROM regs GROUP BY 1),
       |est AS (
       | SELECT col_name,
       |  CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE) * CAST(64 AS DOUBLE)
       |    * CAST('$scale' AS DECIMAL(38,0))::DOUBLE / CAST(s AS DOUBLE)
       |    AS raw, v
       | FROM sums),
       |ndv AS (
       | SELECT col_name,
       |  ROUND(CASE WHEN raw <= CAST(160.0 AS DOUBLE) AND v > 0
       |    THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
       |    ELSE raw END, 3) AS ndv_approx
       | FROM est),
       |stats AS (
       | $stats)
       |SELECT st.col_name, st.n_vals, st.n_nulls, st.min_s, st.max_s,
       | n.ndv_approx
       |FROM stats st JOIN ndv n USING (col_name)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q_profile", (s, dir) =>
      Profile.tableProfile(Tables.load(s, dir, "events"), ProfCols),
      Some(profileOracle)),

    QuerySpec("q_histogram", (s, dir) =>
      Profile.histogram(Tables.load(s, dir, "orders"),
        col("o_totalprice"), lo = 0.0, hi = 600000.0, bins = 12),
      // All literals cast to DOUBLE: bare 50000.0 is DECIMAL in DuckDB
      // and would change the arithmetic type (and the hash) vs Spark.
      Some(
        """SELECT bin,
          | CAST(0.0 AS DOUBLE) + bin * CAST(50000.0 AS DOUBLE) AS lo_edge,
          | CAST(COUNT(*) AS BIGINT) AS n_rows
          |FROM (SELECT LEAST(GREATEST(
          |   CAST(FLOOR((o_totalprice - CAST(0.0 AS DOUBLE))
          |     / CAST(50000.0 AS DOUBLE)) AS BIGINT), 0), 11)
          |   AS bin FROM orders)
          |GROUP BY bin""".stripMargin)),

    // Association screening: is event type independent of time-of-day
    // quadrant? One contingency-table scan; the statistic's term sum is
    // decimal-staged (order-free) so both engines agree at 6 dp.
    QuerySpec("q_chi2", (s, dir) =>
      Profile.chiSquare(Tables.load(s, dir, "events"),
        col("event_type"),
        expr("((ts div 3600000000000) % 24) div 6")),
      Some(
        """WITH p AS (
          |  SELECT event_type AS a,
          |   ((epoch_ns(ts) // 3600000000000) % 24) // 6 AS b FROM events),
          |obs AS (SELECT a, b, COUNT(*) AS o FROM p GROUP BY 1, 2),
          |ra AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY 1),
          |rb AS (SELECT b, SUM(o) AS rb FROM obs GROUP BY 1),
          |nn AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs),
          |grid AS (
          |  SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(obs.o, 0) AS o
          |  FROM ra CROSS JOIN rb
          |  LEFT JOIN obs ON obs.a = ra.a AND obs.b = rb.b),
          |terms AS (
          |  SELECT a, b,
          |   CAST((CAST(o AS DOUBLE) - CAST(ra * rb AS DOUBLE) / nn.n)
          |     * (CAST(o AS DOUBLE) - CAST(ra * rb AS DOUBLE) / nn.n)
          |     / (CAST(ra * rb AS DOUBLE) / nn.n) AS DECIMAL(38,18)) AS t
          |  FROM grid, nn)
          |SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
          | CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
          |   AS dof,
          | ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2
          |FROM terms""".stripMargin)),

    // Ingest constraint suite: every row-level check on a table fused
    // into ONE aggregate scan, plus key-uniqueness (one exact
    // count-distinct) and two referential-integrity anti-joins.
    QuerySpec("q_dq_report", (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val lineitem = Tables.load(s, dir, "lineitem")
      val customer = Tables.load(s, dir, "customer")
      Profile.dqRowChecks(orders, Seq(
          "orders.custkey_not_null" -> col("o_custkey").isNull,
          "orders.status_accepted" ->
            !col("o_orderstatus").isin("O", "F", "P"),
          "orders.price_range" ->
            (col("o_totalprice") <= 0.0 || col("o_totalprice") > 600000.0)))
        .unionAll(Profile.dqRowChecks(lineitem, Seq(
          "lineitem.qty_range" ->
            (col("l_quantity") < 1.0 || col("l_quantity") > 30.0))))
        .unionAll(Profile.dqUnique(orders, Seq("o_orderkey"),
          "orders.orderkey_unique"))
        .unionAll(Profile.dqReferential(orders, col("o_custkey"),
          customer, col("c_custkey"), "orders.custkey_in_customer"))
        .unionAll(Profile.dqReferential(lineitem, col("l_orderkey"),
          orders, col("o_orderkey"), "lineitem.orderkey_in_orders"))
    }, Some(
      """SELECT 'orders.custkey_not_null' AS check_name,
        | CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS violations,
        | CAST(COUNT(*) AS BIGINT) AS total FROM orders
        |UNION ALL
        |SELECT 'orders.status_accepted',
        | CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |   THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(COUNT(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.price_range',
        | CAST(SUM(CASE WHEN o_totalprice <= CAST(0.0 AS DOUBLE)
        |   OR o_totalprice > CAST(600000.0 AS DOUBLE)
        |   THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(COUNT(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'lineitem.qty_range',
        | CAST(SUM(CASE WHEN l_quantity < CAST(1.0 AS DOUBLE)
        |   OR l_quantity > CAST(30.0 AS DOUBLE)
        |   THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders.orderkey_unique',
        | CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        | CAST(COUNT(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.custkey_in_customer',
        | CAST((SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey IS NOT NULL
        |    AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  AS BIGINT),
        | CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem.orderkey_in_orders',
        | CAST((SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL
        |    AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |  AS BIGINT),
        | CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)""".stripMargin)),

    // Distribution-drift monitor: PSI of the order-price distribution,
    // pre-1998 slice vs the rest, over the q_histogram bin grid.
    QuerySpec("q_drift", (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      Profile.psiDrift(
        orders.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        orders.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
        col("o_totalprice"), lo = 0.0, hi = 600000.0, bins = 12)
    }, Some(
      // Mirrors psiDrift's op order: same floor/clamp bin, completed
      // 0..11 grid, eps-clamped proportions, (pa−pb)·ln(pa/pb) term,
      // decimal-staged total, 6dp + signed-zero canonicalization.
      """WITH binned AS (
        | SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice
        |     - CAST(0.0 AS DOUBLE)) / CAST(50000.0 AS DOUBLE))
        |    AS BIGINT), 0), 11) AS bin,
        |  o_orderdate < TIMESTAMP '1998-01-01' AS in_a
        | FROM orders),
        |ga AS (SELECT bin, COUNT(*) AS n FROM binned WHERE in_a GROUP BY 1),
        |gb AS (SELECT bin, COUNT(*) AS n FROM binned WHERE NOT in_a GROUP BY 1),
        |grid AS (
        | SELECT t.bin, COALESCE(ga.n, 0) AS na, COALESCE(gb.n, 0) AS nb
        | FROM range(0, 12) t(bin)
        |  LEFT JOIN ga ON ga.bin = t.bin LEFT JOIN gb ON gb.bin = t.bin),
        |tots AS (
        | SELECT CAST(SUM(na) AS DOUBLE) AS ta,
        |  CAST(SUM(nb) AS DOUBLE) AS tb FROM grid),
        |terms AS (
        | SELECT bin, na, nb,
        |  (CASE WHEN na = 0 THEN 1e-6 ELSE CAST(na AS DOUBLE) / ta END
        |   - CASE WHEN nb = 0 THEN 1e-6 ELSE CAST(nb AS DOUBLE) / tb END)
        |  * ln(CASE WHEN na = 0 THEN 1e-6 ELSE CAST(na AS DOUBLE) / ta END
        |     / CASE WHEN nb = 0 THEN 1e-6 ELSE CAST(nb AS DOUBLE) / tb END)
        |   AS term_raw
        | FROM grid, tots),
        |total AS (
        | SELECT round(CAST(SUM(CAST(term_raw AS DECIMAL(38,18)))
        |   AS DOUBLE), 6) AS psi FROM terms)
        |SELECT bin, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        | round(term_raw, 6) + 0.0 AS term, psi + 0.0 AS psi
        |FROM terms, total""".stripMargin))
  )
}
