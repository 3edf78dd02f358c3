package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.{Agg, Table}
import graft.functions.Exact.{d, dsum}

/** Relational query suite: every SURVEY §2.2-§2.7 operator exercised on
  * the TPC-H-ish fixtures, with a DuckDB-equivalent oracle per query.
  *
  * Query shapes mirror the reference's end-to-end tests:
  *  - q26_shape: /root/reference/test/q26_test.jl:63-88 (join → filter →
  *    wide conditional-sum aggregate → having-filter)
  *  - q05_shape: /root/reference/test/q05_test.jl:40-60 (sentinel filter →
  *    join → wide aggregate → join → join)
  *  - q25_shape: /root/reference/test/length_unique_test.jl:9-18 +
  *    examples/queries_devel/q25.jl:3-27 (count-distinct/max/sum
  *    aggregate + union)
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String) =
    Table(Tables.load(s, dir, name))

  val specs: Seq[QuerySpec] = Seq(

    // TPC-H Q1 shape: scan → filter → partial/final hash aggregate,
    // through the DSL's composite-key aggregate (two group keys).
    QuerySpec("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .aggregate(Seq("l_returnflag", "l_linestatus"),
          Seq("l_returnflag", "l_linestatus"),
          "sum_qty" -> dsum(col("l_quantity")),
          "sum_base_price" -> dsum(col("l_extendedprice")),
          "sum_disc_price" -> sum(d(col("l_extendedprice")) *
            (d(lit(1)) - d(col("l_discount")))).cast("double"),
          "avg_qty" -> (sum(d(col("l_quantity"))).cast("double") / count(lit(1))),
          "count_order" -> Agg.length())
        .df,
      Some(
        """SELECT l_returnflag, l_linestatus,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          | COUNT(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Filter: reference t[cond] — capture-api.jl:208-272.
    QuerySpec("q_filter", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
        .df,
      Some(
        """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
          |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05""".stripMargin)),

    // SQL front door: the same engine through `spark.sql` text over
    // registered fixture views — Catalyst plans it identically to the
    // DataFrame form (one broadcast join + partial/final hash agg).
    QuerySpec("q_sql", (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""SELECT c_nationkey AS nation,
              |  COUNT(*) AS n_orders,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_nationkey""".stripMargin)
    }, Some(
      """SELECT c_nationkey AS nation,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin)),

    // TPC-H Q6 shape (forecast-revenue change): tight scan-stage filter
    // (pushed to parquet) + single exact-decimal product-sum — the
    // canonical "filter selectivity decides everything" query.
    QuerySpec("q_tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .df
        .agg(sum(d(col("l_extendedprice")) * d(col("l_discount")))
          .cast("double").as("revenue")),
      Some(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
          |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): filtered dims, broadcast the
    // small customer side, SMJ lineitem⋈orders, exact-decimal revenue,
    // deterministic top-10 (revenue desc, orderkey tiebreak).
    QuerySpec("q_tpch_q3", (s, dir) => {
      val cutoff = lit("1997-03-15").cast("timestamp")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(d(col("l_extendedprice")) *
            (d(lit(1)) - d(col("l_discount")))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey").as("orderkey"), col("revenue"),
          // parquet reads NTZ; session TZ is UTC so this cast is the
          // identity wall-clock → epoch mapping DuckDB's epoch_us uses
          unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
          col("o_orderpriority"))
    }, Some(
      """SELECT l.l_orderkey AS orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  epoch_us(o.o_orderdate) AS orderdate_us, o.o_orderpriority
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue DESC, orderkey ASC
        |LIMIT 10""".stripMargin)),

    // Left outer join: every customer, null-extended (sentinel-coalesced
    // for the cross-engine compare) where no order matched.
    QuerySpec("q_left_join", (s, dir) =>
      t(s, dir, "customer")
        .joinOuter(t(s, dir, "orders"), Seq("c_custkey"), Seq("o_custkey"),
          Seq("custkey"), how = "left")
        .select(col("custkey"), col("c_name"),
          coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
          coalesce(col("o_totalprice"), lit(-1.0)).as("o_totalprice"))
        .df,
      Some(
        """SELECT c.c_custkey AS custkey, c.c_name,
          | COALESCE(o.o_orderkey, -1) AS o_orderkey,
          | COALESCE(o.o_totalprice, CAST(-1.0 AS DOUBLE)) AS o_totalprice
          |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin)),

    // Full outer join: per-user purchase counts ⟗ click counts — rows
    // survive from either side, key coalesced ANSI USING-style.
    QuerySpec("q_full_join", (s, dir) => {
      def side(tpe: String, out: String) =
        Table(Tables.load(s, dir, "events")
          .filter(col("event_type") === tpe)
          .groupBy(col("user_id")).agg(count(lit(1)).as(out)))
      side("purchase", "n_purchase")
        .joinOuter(side("click", "n_click"), Seq("user_id"), Seq("user_id"),
          Seq("user_id"), how = "full")
        .select(col("user_id"),
          coalesce(col("n_purchase"), lit(-1L)).as("n_purchase"),
          coalesce(col("n_click"), lit(-1L)).as("n_click"))
        .df
    }, Some(
      """WITH p AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchase
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_click
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT COALESCE(p.user_id, c.user_id) AS user_id,
        |  COALESCE(p.n_purchase, -1) AS n_purchase,
        |  COALESCE(c.n_click, -1) AS n_click
        |FROM p FULL JOIN c ON p.user_id = c.user_id""".stripMargin)),

    // Join: key-coalesced inner equi-join — capture-api.jl:286-378.
    // customer is small → broadcast (no shuffle of orders).
    QuerySpec("q_join", (s, dir) =>
      t(s, dir, "orders")
        .joinBroadcast(t(s, dir, "customer"), "o_custkey", "c_custkey", "custkey")
        .select(col("custkey"), col("o_orderkey"), col("o_totalprice"),
          col("c_name"), col("c_acctbal"))
        .df,
      Some(
        """SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_name, c_acctbal
          |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // q26 shape: join → filter → conditional-sum aggregate → having.
    QuerySpec("q26_shape", (s, dir) => {
      val j = t(s, dir, "lineitem")
        .joinBroadcast(t(s, dir, "part"), "l_partkey", "p_partkey", "partkey")
        .filter(col("p_type") === "STANDARD")
      val ag = j.aggregate("l_orderkey", "orderkey",
        (1 to 7).map(k => s"id$k" -> Agg.countIf(col("p_size") % 7 === (k - 1))) :+
          ("cnt" -> Agg.length()): _*)
      ag.filter(col("cnt") >= 1 && col("cnt") <= 100).df
    }, Some(
      """SELECT l_orderkey AS orderkey,
        | CAST(SUM(CASE WHEN p_size % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS id1,
        | CAST(SUM(CASE WHEN p_size % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS id2,
        | CAST(SUM(CASE WHEN p_size % 7 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS id3,
        | CAST(SUM(CASE WHEN p_size % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS id4,
        | CAST(SUM(CASE WHEN p_size % 7 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS id5,
        | CAST(SUM(CASE WHEN p_size % 7 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS id6,
        | CAST(SUM(CASE WHEN p_size % 7 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS id7,
        | COUNT(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'STANDARD'
        |GROUP BY l_orderkey
        |HAVING COUNT(*) >= 1 AND COUNT(*) <= 100""".stripMargin)),

    // q05 shape: sentinel filter → join → wide aggregate → join → join.
    QuerySpec("q05_shape", (s, dir) => {
      val j1 = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 0) // sentinel not-null filter, q05_test.jl:46
        .join(t(s, dir, "orders"), "l_orderkey", "o_orderkey", "orderkey")
      val ag = j1.aggregate("o_custkey", "custkey",
        "r1" -> Agg.countIf(col("o_orderpriority") === "1-URGENT"),
        "r2" -> Agg.countIf(col("o_orderpriority") === "2-HIGH"),
        "r3" -> Agg.countIf(col("o_orderpriority") === "3-MEDIUM"),
        "r4" -> Agg.countIf(col("o_orderpriority") === "4-NOT SPECIFIED"),
        "r5" -> Agg.countIf(col("o_orderpriority") === "5-LOW"),
        "flag_r" -> Agg.countIf(col("l_returnflag") === "R"),
        "stat_f" -> Agg.countIf(col("o_orderstatus") === "F"),
        "amount" -> dsum(col("l_extendedprice")))
      ag.join(t(s, dir, "customer"), "custkey", "c_custkey", "custkey")
        .joinBroadcast(t(s, dir, "nation"), "c_nationkey", "n_nationkey", "nationkey")
        .select(col("custkey"), col("n_name"), col("r1"), col("r2"), col("r3"),
          col("r4"), col("r5"), col("flag_r"), col("stat_f"), col("amount"))
        .df
    }, Some(
      """WITH ag AS (
        |  SELECT o_custkey AS custkey,
        |   CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |   CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |   CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |   CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |   CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS r5,
        |   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS flag_r,
        |   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS stat_f,
        |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity > 0
        |  GROUP BY o_custkey)
        |SELECT custkey, n_name, r1, r2, r3, r4, r5, flag_r, stat_f, amount
        |FROM ag
        |JOIN customer ON custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // q25 shape: count-distinct/max/sum aggregate per date range + vcat.
    QuerySpec("q25_shape", (s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      def aggFor(tab: Table): Table = tab.aggregate("o_custkey", "cid",
        "frequency" -> Agg.lengthUnique(col("o_orderkey")),
        "most_recent" -> Agg.maximum(date_format(col("o_orderdate"), "yyyy-MM-dd")),
        "amount" -> dsum(col("o_totalprice")))
      val o = t(s, dir, "orders")
      aggFor(o.filter(col("o_orderdate") < cut))
        .vcat(aggFor(o.filter(col("o_orderdate") >= cut)))
        .df
    }, Some(
      """SELECT o_custkey AS cid, COUNT(DISTINCT o_orderkey) AS frequency,
        | MAX(strftime(o_orderdate, '%Y-%m-%d')) AS most_recent,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_custkey
        |UNION ALL
        |SELECT o_custkey AS cid, COUNT(DISTINCT o_orderkey) AS frequency,
        | MAX(strftime(o_orderdate, '%Y-%m-%d')) AS most_recent,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_custkey""".stripMargin)),

    // vcat: union-all with exact schema match — capture-api.jl:146-184.
    QuerySpec("q_vcat", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val hi = li.filter(col("l_quantity") > 48)
        .select(col("l_orderkey"), col("l_quantity"))
      val lo = li.filter(col("l_quantity") < 2)
        .select(col("l_orderkey"), col("l_quantity"))
      hi.vcat(lo).df
    }, Some(
      """SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 48
        |UNION ALL
        |SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 2""".stripMargin)),

    // Declared-surface sort + limit (q25.jl:25, q02.jl:48-49). Ties broken
    // by the unique key so top-k is deterministic.
    QuerySpec("q_sort_limit", (s, dir) =>
      t(s, dir, "orders")
        .sort(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .df,
      Some(
        """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    // INTERSECT/EXCEPT set ops (§2.6 "absent" in the reference):
    // ordering customers who never placed a high-value order.
    QuerySpec("q_setops", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val ordering = Table(o.select(col("o_custkey").as("custkey")))
      val big = Table(o.filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey")))
      val cust = Table(Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("custkey")))
      cust.intersect(ordering).except(big).df
    }, Some(
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT SELECT o_custkey AS custkey FROM orders
        |EXCEPT SELECT o_custkey AS custkey FROM orders
        |  WHERE o_totalprice > 400000""".stripMargin)),

    // Equi-depth (quartile) histogram per priority: cut points from
    // the exact range-refinement quantile (never a per-group raw
    // sort), broadcast back, bucket counts in one aggregate. All three
    // ranks come from ONE quantilesByGroup call — the fact-table
    // passes (stats scan, bucket histogram, winning-bucket selection)
    // are rank-independent, so three separate quantileByGroup calls
    // paid 3× the scans for identical cut points (r7: 1.79 → ~0.8 s).
    QuerySpec("q_equidepth", (s, dir) => {
      val df = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p"), col("o_totalprice").as("v"))
      val cut = graft.operators.Stats
        .quantilesByGroup(df, "p", col("v"), Seq(250, 500, 750))
        .groupBy(col("p"))
        .agg(
          max(when(col("permille") === 250, col("quantile"))).as("q250"),
          max(when(col("permille") === 500, col("quantile"))).as("q500"),
          max(when(col("permille") === 750, col("quantile"))).as("q750"))
      df.join(broadcast(cut), "p")
        .groupBy(col("p").as("o_orderpriority"),
          col("q250").as("q25"), col("q500").as("q50"),
          col("q750").as("q75"))
        .agg(
          sum((col("v") <= col("q250")).cast("long")).as("n0"),
          sum((col("v") > col("q250") && col("v") <= col("q500"))
            .cast("long")).as("n1"),
          sum((col("v") > col("q500") && col("v") <= col("q750"))
            .cast("long")).as("n2"),
          sum((col("v") > col("q750")).cast("long")).as("n3"))
    }, Some(
      """WITH ranked AS (
        | SELECT o_orderpriority AS p, o_totalprice AS v,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice) AS rn,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM orders),
        |cuts AS (
        | SELECT p,
        |  MAX(CASE WHEN rn = (250 * n + 999) // 1000 THEN v END) AS q25,
        |  MAX(CASE WHEN rn = (500 * n + 999) // 1000 THEN v END) AS q50,
        |  MAX(CASE WHEN rn = (750 * n + 999) // 1000 THEN v END) AS q75
        | FROM ranked GROUP BY p)
        |SELECT r.p AS o_orderpriority, c.q25, c.q50, c.q75,
        | CAST(SUM(CASE WHEN r.v <= c.q25 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        | CAST(SUM(CASE WHEN r.v > c.q25 AND r.v <= c.q50 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n1,
        | CAST(SUM(CASE WHEN r.v > c.q50 AND r.v <= c.q75 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n2,
        | CAST(SUM(CASE WHEN r.v > c.q75 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |FROM ranked r JOIN cuts c ON r.p = c.p
        |GROUP BY r.p, c.q25, c.q50, c.q75""".stripMargin)),

    // Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): multiplicity
    // preserved — the variant the distinct forms can't express.
    QuerySpec("q_setops_all", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("custkey"))
      val big = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey"))
      o.exceptAll(big)
        .groupBy("custkey").agg(count(lit(1)).as("n_after_except"))
    }, Some(
      """SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_after_except FROM (
        | SELECT o_custkey AS custkey FROM orders
        | EXCEPT ALL
        | SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |GROUP BY custkey""".stripMargin)),

    // Explicit GROUPING SETS (beyond rollup/cube): the two named
    // groupings in one pass with grouping_id disambiguation.
    QuerySpec("q_grouping_sets", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id() AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
    }, Some(
      """SELECT o_orderstatus, o_orderpriority,
        | CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 2 END AS gid,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"""
        .stripMargin)),

    // Window frames: moving 4-row sum and average per customer in
    // order-date order (exact-decimal sum inside the frame).
    QuerySpec("q_window_frames", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("moving_sum"),
          count(lit(1)).over(w).as("frame_n"))
    }, Some(
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   AS moving_sum,
        | CAST(COUNT(*) OVER w AS BIGINT) AS frame_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Distinct (set-op surface beyond the reference, free in Spark).
    QuerySpec("q_distinct", (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // Windowed top-k per group (partitioned sort, no global shuffle).
    QuerySpec("q_topk_window", (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.load(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
    }, Some(
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  ROW_NUMBER() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        | FROM part) WHERE rn <= 3""".stripMargin)),

    // Same per-group top-k through the native bounded-heap aggregate
    // (TopKPairs): map-side partial top-3 per brand, so the shuffle
    // carries ≤ 3·partitions rows per brand instead of sorting each
    // whole group in one task — the plan that survives when the group
    // count is low and the groups are huge. Same oracle as
    // q_topk_window (identical tie semantics: score desc, id asc).
    QuerySpec("q_topk_agg", (s, dir) =>
      Tables.load(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(graft.functions.TopKFunctions
          .topK(col("p_partkey"), col("p_retailprice"), 3).as("topk"))
        .select(col("p_brand"), posexplode(col("topk")).as(Seq("rank0", "e")))
        .select(col("p_brand"), col("e.id").as("p_partkey"),
          col("e.score").as("p_retailprice"),
          (col("rank0") + 1).cast("int").as("rn")),
      Some(
        """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
          | SELECT p_brand, p_partkey, p_retailprice,
          |  ROW_NUMBER() OVER (PARTITION BY p_brand
          |    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
          | FROM part) WHERE rn <= 3""".stripMargin)),

    // ROLLUP subtotals (grouping-sets class, §2.5 "not supported" in
    // the reference; one shuffle here).
    QuerySpec("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(Seq("l_returnflag", "l_linestatus"),
          "n" -> Agg.length(),
          "qty" -> dsum(col("l_quantity")))
        .df,
      Some(
        """SELECT l_returnflag, l_linestatus,
          | CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // List aggregation (devel-surface `collect`, q01.jl:23) — sorted
    // distinct priorities per order status, joined to one scalar string
    // so every comparator (driver's pandas sort/hash included) can
    // order and hash the rows.
    QuerySpec("q_collect", (s, dir) =>
      t(s, dir, "orders")
        .aggregate("o_orderstatus",
          "prios" -> array_join(Agg.collectSorted(col("o_orderpriority")), ","),
          "n" -> Agg.length())
        .df,
      Some(
        """SELECT o_orderstatus,
          | array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
          | CAST(COUNT(*) AS BIGINT) AS n
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // CUBE over both group keys (grouping-sets class, §2.5 "not
    // supported" in the reference; one expanded shuffle).
    // Aggregate BEFORE the Expand (guide §2.3): cube() multiplies
    // every input row by its 4 grouping sets before the partial
    // aggregate, so the raw form pushed 4×|lineitem| rows through the
    // hash aggregate. Collapsing to the (flag, status) cells first
    // feeds the Expand ~|cells| rows instead of the table. count and
    // the DECIMAL sum are exactly associative (sub-sums widen, never
    // round), so the regrouped result is bit-identical — gated by the
    // unchanged oracle.
    QuerySpec("q_cube", (s, dir) => {
      val pre = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("__s"))
      pre.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__s")).cast("double").as("qty"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // Exact distributed median per group: the sorted-multiset values
    // at ranks (n+1)/2 and (n+2)/2 averaged — decimal-exact and
    // expressed identically in the oracle (unlike
    // percentile()/quantile_cont(), whose interpolation arithmetic
    // differs across engines at 1 ulp). Scale shape: a row-level
    // window would sort each whole group in ONE partition (the group
    // key is low-cardinality); instead a hash-aggregate collapses to
    // the per-group VALUE HISTOGRAM first — fully partial-aggregated,
    // shuffle carries |distinct values| rows — and the rank selection
    // walks the tiny cumulative histogram. Double-counts the value
    // when both ranks land on it (odd n), so median = picked-sum / 2.
    QuerySpec("q_median", (s, dir) =>
      graft.operators.Stats.medianByGroup(
        Tables.load(s, dir, "lineitem"), "l_returnflag",
        d(col("l_quantity"))),
      Some(
        """WITH c AS (
          |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
          |  FROM lineitem GROUP BY 1, 2),
          |w AS (
          |  SELECT *, SUM(cnt) OVER (PARTITION BY l_returnflag
          |    ORDER BY l_quantity) AS cum,
          |   SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
          |  FROM c),
          |p AS (
          |  SELECT *,
          |   (CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
          |     THEN 1 ELSE 0 END) +
          |   (CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum
          |     THEN 1 ELSE 0 END) AS picks
          |  FROM w)
          |SELECT l_returnflag,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * picks) AS DOUBLE) / 2
          |  AS median
          |FROM p WHERE picks > 0
          |GROUP BY l_returnflag""".stripMargin)),

    // P90 via the same histogram rank selection — type-1 (no
    // interpolation), rank derived in integer arithmetic on both
    // engines.
    QuerySpec("q_p90", (s, dir) =>
      graft.operators.Stats.quantileByGroup(
        Tables.load(s, dir, "orders"), "o_orderpriority",
        d(col("o_totalprice")), permille = 900),
      Some(
        """WITH c AS (
          |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
          |   COUNT(*) AS cnt
          |  FROM orders GROUP BY 1, 2),
          |w AS (
          |  SELECT *, SUM(cnt) OVER (PARTITION BY o_orderpriority
          |    ORDER BY v) AS cum,
          |   SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
          |  FROM c)
          |SELECT o_orderpriority, CAST(v AS DOUBLE) AS quantile
          |FROM w
          |WHERE cum - cnt < (900 * n + 999) // 1000
          |  AND (900 * n + 999) // 1000 <= cum""".stripMargin)),

    // Null repair: knock out 1-in-7 prices, impute each with its
    // priority group's exact rank-selected median (an actual data
    // value, so the decimal-exact sum over the filled column stays
    // engine-exact — a mean fill would not hash-match). The quantile
    // table is one row per group, broadcast back; the fill is a
    // map-side coalesce in the scan stage.
    QuerySpec("q_impute", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price"))
      graft.operators.Clean.imputeGroupQuantile(o, "o_orderpriority",
          "price", permille = 500)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("price_was_null").cast("long")).as("n_filled"),
          dsum(col("price_filled")).as("filled_sum"))
    }, Some(
      """WITH w AS (
        | SELECT o_orderpriority AS p,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS v
        | FROM orders),
        |med AS (
        | SELECT p, v AS m FROM (
        |  SELECT p, v, ROW_NUMBER() OVER (PARTITION BY p ORDER BY v) AS rn,
        |   COUNT(*) OVER (PARTITION BY p) AS n
        |  FROM w WHERE v IS NOT NULL) t
        | WHERE rn = (500 * n + 999) // 1000),
        |f AS (SELECT w.p, COALESCE(v, m) AS fv, (v IS NULL) AS filled
        |      FROM w JOIN med USING (p))
        |SELECT p AS o_orderpriority,
        | CAST(SUM(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        | CAST(SUM(CAST(fv AS DECIMAL(18,2))) AS DOUBLE) AS filled_sum
        |FROM f GROUP BY 1""".stripMargin)),

    // Quantile ladder: four exact per-group ranks from ONE set of
    // fact-table passes (stats, bucket counts, winning-bucket
    // selection are rank-independent; only the tiny per-group
    // histogram is crossed with the rank list).
    QuerySpec("q_quantiles", (s, dir) =>
      graft.operators.Stats.quantilesByGroup(
        Tables.load(s, dir, "orders"), "o_orderpriority",
        d(col("o_totalprice")), Seq(250, 500, 750, 900))
        .select(col("o_orderpriority"), col("permille"), col("quantile")),
      Some(
        """WITH c AS (
          |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
          |   COUNT(*) AS cnt
          |  FROM orders GROUP BY 1, 2),
          |w AS (
          |  SELECT *, SUM(cnt) OVER (PARTITION BY o_orderpriority
          |    ORDER BY v) AS cum,
          |   SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
          |  FROM c),
          |p(permille) AS (VALUES (250), (500), (750), (900))
          |SELECT o_orderpriority, permille, CAST(v AS DOUBLE) AS quantile
          |FROM w CROSS JOIN p
          |WHERE cum - cnt < (permille * n + 999) // 1000
          |  AND (permille * n + 999) // 1000 <= cum""".stripMargin)),

    // Robust preprocessing: winsorize value per event type at the
    // exact rank-selected [p05, p95], then aggregate the clipped
    // column. Cut points are one broadcast row per group; the clip is
    // a codegen'd greatest/least in the scan stage — the fact table
    // never shuffles for the clip, only for the final aggregate.
    QuerySpec("q_winsorize", (s, dir) =>
      graft.operators.Clean.winsorizeByGroup(
        Tables.load(s, dir, "events").select("event_type", "value"),
        "event_type", "value", loPermille = 50, hiPermille = 950)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value_clipped")).as("clipped_sum"),
          sum(col("value_clipped_lo").cast("long")).as("n_lo"),
          sum(col("value_clipped_hi").cast("long")).as("n_hi")),
      Some(
        """WITH c AS (
          |  SELECT event_type, value AS v, COUNT(*) AS cnt
          |  FROM events GROUP BY 1, 2),
          |w AS (
          |  SELECT *, SUM(cnt) OVER (PARTITION BY event_type
          |    ORDER BY v) AS cum,
          |   SUM(cnt) OVER (PARTITION BY event_type) AS n
          |  FROM c),
          |lo AS (SELECT event_type, v AS lo FROM w
          |  WHERE cum - cnt < (50 * n + 999) // 1000
          |   AND (50 * n + 999) // 1000 <= cum),
          |hi AS (SELECT event_type, v AS hi FROM w
          |  WHERE cum - cnt < (950 * n + 999) // 1000
          |   AND (950 * n + 999) // 1000 <= cum),
          |cl AS (
          |  SELECT e.event_type,
          |   GREATEST(lo.lo, LEAST(hi.hi, e.value)) AS cv,
          |   e.value < lo.lo AS is_lo, e.value > hi.hi AS is_hi
          |  FROM events e
          |  JOIN lo ON e.event_type = lo.event_type
          |  JOIN hi ON e.event_type = hi.event_type)
          |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(SUM(CAST(cv AS DECIMAL(18,2))) AS DOUBLE) AS clipped_sum,
          | CAST(SUM(CASE WHEN is_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
          | CAST(SUM(CASE WHEN is_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
          |FROM cl GROUP BY 1""".stripMargin)),

    // Salted join: skew-safe variant, result identical to q_join.
    QuerySpec("q_join_salted", (s, dir) =>
      t(s, dir, "orders")
        .joinSalted(t(s, dir, "customer"), "o_custkey", "c_custkey",
          "custkey", factor = 8)
        .select(col("custkey"), col("o_orderkey"), col("o_totalprice"),
          col("c_name"), col("c_acctbal"))
        .df,
      Some(
        """SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_name, c_acctbal
          |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // Semi/anti joins (beyond-reference capability, SURVEY §2.4 "not
    // supported" list — first-class in our engine).
    QuerySpec("q_semi_join", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),
    QuerySpec("q_anti_join", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),

    // Pivot (crosstab): status columns per priority, exact-decimal
    // sums. An explicit value list keeps the plan a single pass (no
    // distinct-values pre-query) — the shape to use at scale.
    QuerySpec("q_pivot", (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .na.fill(0.0, Seq("F", "O", "P"))
        .withColumnRenamed("F", "f_sum")
        .withColumnRenamed("O", "o_sum")
        .withColumnRenamed("P", "p_sum"),
      Some(
        """SELECT o_orderpriority,
          | COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F'
          |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
          |   AS f_sum,
          | COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O'
          |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
          |   AS o_sum,
          | COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P'
          |   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
          |   AS p_sum
          |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Selective join (the dim keeps ~4% of part keys), planned as the
    // plain join. A Bloom prefilter of the dim keys
    // (`Prune.bloomPrefilter`) can only cut an exchange, and here the
    // dim's estimate is within the broadcast threshold: the hash join
    // already drops non-matching lineitem rows in the scan stage, so a
    // Bloom would add a build job and per-row probes and cut nothing.
    QuerySpec("q_bloom_join", (s, dir) => {
      val dim = Tables.load(s, dir, "part")
        .filter(col("p_size") <= 2).select(col("p_partkey"))
      Tables.load(s, dir, "lineitem")
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty_sum"))
    }, Some(
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 2
        |GROUP BY 1""".stripMargin)),

    // Unpivot (melt) — the inverse of q_pivot: lineitem's four measure
    // columns to (variable, value) rows in the scan stage (narrow, no
    // shuffle), then a per-metric exact-decimal aggregate.
    QuerySpec("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .melt(Seq("l_orderkey"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          "metric", "value")
        .df
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(27,6)")).cast("double")
            .as("value_sum")),
      Some(
        """WITH m AS (
          | SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS value
          |  FROM lineitem
          | UNION ALL
          | SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
          | UNION ALL
          | SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
          | UNION ALL
          | SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
          |SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS value_sum
          |FROM m GROUP BY metric""".stripMargin)),

    // General window-analytics surface: dense_rank + lag in one pass,
    // per-customer windows (partition-parallel; never a global sort).
    QuerySpec("q_window_analytics", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wr = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          dense_rank().over(wr).as("price_rank"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0))
            .as("prev_price"))
    }, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | DENSE_RANK() OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
        | COALESCE(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey), -1.0) AS prev_price
        |FROM orders""".stripMargin))
  )
}
