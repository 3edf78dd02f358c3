package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** The remaining TPCx-BB-derived devel queries of the reference
  * (q01/q02/q03 — /root/reference/examples/queries_devel/q01.jl,
  * q02.jl, q03.jl), re-expressed as declarative Spark plans over the
  * fixture tables. The reference formulates each as
  * collect-into-array + per-group Julia closures (makePairs,
  * session_split, get_view_items); the Spark-first versions keep the
  * data flat and express the same semantics with self-joins and window
  * functions — no per-group arrays ever materialize, so a 100 TB
  * clickstream never builds a billion-element basket in one task.
  *
  *  - q01_shape: basket-pair counting (affinity). Per-ticket distinct
  *    items, pair = co-partitioned self-join on the ticket key, count,
  *    threshold, deterministic top-k.
  *  - q02_shape: gap-sessionization (session_split) + "sessions
  *    containing item K" co-occurrence counts, all gaps-and-islands
  *    window arithmetic.
  *  - q03_shape: per-user "last N views in the W window before each
  *    purchase of item K" — an interval join (user equi-key + time
  *    range) plus a recency rank per purchase.
  *
  * `events.ts` is epoch-nanos long (nanosAsLong parquet read);
  * integer-divide to micros exactly like StreamTextQueries.
  */
object BasketQueries {

  private val tsUs = expr("ts DIV 1000")
  private val itemCol = get_json_object(col("props"), "$.k").cast("int")

  val specs: Seq[QuerySpec] = Seq(

    // q01: items bought together. join → filter → per-ticket distinct →
    // pair self-join → count → threshold → ordered top-k.
    QuerySpec("q01_shape", (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_type") === "STANDARD")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ord"), col("l_partkey").as("item"))
        .distinct() // union per basket (q01.jl map!(union, ...))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.ord") === col("b.ord") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
        .agg(count(lit(1)).as("cnt"))
      pairs.filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("item_a").asc, col("item_b").asc)
        .limit(100)
    }, Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD')
        |SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM items a JOIN items b ON a.ord = b.ord AND a.item < b.item
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2
        |ORDER BY cnt DESC, item_a ASC, item_b ASC
        |LIMIT 100""".stripMargin)),

    // q02: per-user 24-hour gap sessions (fixture inter-event gaps
    // median ~7 h, so day-scale sessions hold several events); for
    // sessions containing item 11, count the other items
    // clicked/viewed in the same session.
    QuerySpec("q02_shape", (s, dir) => {
      val gapUs = 86400000000L // 24 h
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), tsUs.as("us"),
          itemCol.as("item"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val sid = ev
        .withColumn("brk",
          when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) >= gapUs, 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sw = Window.partitionBy(col("user_id"), col("sid"))
      sid
        .withColumn("has_item",
          max(when(col("item") === 11, 1).otherwise(0)).over(sw))
        .filter(col("has_item") === 1 && col("item") =!= 11)
        .groupBy(col("item"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("item").asc)
        .limit(30)
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(props->>'$.k' AS INT) AS item
        |  FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w >= 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |h AS (
        |  SELECT *, MAX(CASE WHEN item = 11 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id, sid) AS has_item
        |  FROM g)
        |SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM h WHERE has_item = 1 AND item != 11
        |GROUP BY item
        |ORDER BY cnt DESC, item ASC
        |LIMIT 30""".stripMargin)),

    // q03: items viewed in the 72 h before each purchase of item 7
    // (last 5 views per purchase, "category" filter item % 5 <= 2),
    // counted across purchases.
    QuerySpec("q03_shape", (s, dir) => {
      val windowUs = 259200000000L // 72 h
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), tsUs.as("us"),
          col("event_type"), itemCol.as("item"))
      val purchases = ev.filter(col("event_type") === "purchase" &&
          col("item") === 7)
        .select(col("user_id"), col("us").as("pts"), col("event_id").as("pid"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("vts"), col("item"),
          col("event_id").as("vid"))
      val recency = Window.partitionBy(col("user_id"), col("pid"))
        .orderBy(col("vts").desc, col("vid").desc)
      views
        .join(purchases, Seq("user_id"))
        .filter(col("vts") <= col("pts") && col("vts") >= col("pts") - windowUs)
        .withColumn("rk", row_number().over(recency))
        .filter(col("rk") <= 5 && col("item") % 5 <= 2)
        .groupBy(col("item"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("item").asc)
        .limit(100)
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type,
        |    CAST(props->>'$.k' AS INT) AS item
        |  FROM events),
        |p AS (
        |  SELECT user_id, us AS pts, event_id AS pid FROM e
        |  WHERE event_type = 'purchase' AND item = 7),
        |v AS (
        |  SELECT user_id, us AS vts, item, event_id AS vid FROM e
        |  WHERE event_type = 'view'),
        |j AS (
        |  SELECT v.item, ROW_NUMBER() OVER (PARTITION BY v.user_id, p.pid
        |      ORDER BY v.vts DESC, v.vid DESC) AS rk
        |  FROM v JOIN p ON v.user_id = p.user_id
        |   AND v.vts <= p.pts AND v.vts >= p.pts - 259200000000)
        |SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM j WHERE rk <= 5 AND item % 5 <= 2
        |GROUP BY item
        |ORDER BY cnt DESC, item ASC
        |LIMIT 100""".stripMargin)),

    // Ordered conversion funnel view → click → purchase: each step
    // counts users whose earliest qualifying event is strictly after
    // their previous step's completion. Chain of keyed one-row-per-user
    // aggregates — nothing event×event.
    QuerySpec("q_funnel", (s, dir) =>
      graft.operators.Behavior.funnelSteps(
        Tables.load(s, dir, "events"),
        col("user_id"), tsUs, col("event_type"),
        Seq("view", "click", "purchase")),
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
          |s0 AS (
          |  SELECT user_id, MIN(us) AS t FROM e
          |  WHERE event_type = 'view' GROUP BY 1),
          |s1 AS (
          |  SELECT e.user_id, MIN(us) AS t FROM e
          |  JOIN s0 ON e.user_id = s0.user_id
          |  WHERE event_type = 'click' AND e.us > s0.t GROUP BY 1),
          |s2 AS (
          |  SELECT e.user_id, MIN(us) AS t FROM e
          |  JOIN s1 ON e.user_id = s1.user_id
          |  WHERE event_type = 'purchase' AND e.us > s1.t GROUP BY 1)
          |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
          |  CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
          |UNION ALL SELECT CAST(2 AS INT), 'click',
          |  CAST(COUNT(*) AS BIGINT) FROM s1
          |UNION ALL SELECT CAST(3 AS INT), 'purchase',
          |  CAST(COUNT(*) AS BIGINT) FROM s2""".stripMargin)),

    // First-order Markov transition matrix of event types per user
    // stream: keyed lag window + hash aggregate, row-normalized.
    QuerySpec("q_transitions", (s, dir) =>
      graft.operators.Behavior.transitions(
        Tables.load(s, dir, "events"),
        col("user_id"), tsUs, col("event_type")),
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
          |l AS (
          |  SELECT user_id, event_type AS nxt,
          |    lag(event_type) OVER (
          |      PARTITION BY user_id ORDER BY us, event_type) AS prv
          |  FROM e),
          |c AS (
          |  SELECT prv, nxt, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM l WHERE prv IS NOT NULL GROUP BY 1, 2)
          |SELECT prv AS prev_step, nxt AS next_step, n,
          |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prv) AS p
          |FROM c""".stripMargin)),

    // Daily cohort retention: users bucketed by first-active epoch-day,
    // counted in every day-offset they return.
    QuerySpec("q_cohort", (s, dir) =>
      graft.operators.Behavior.cohortRetention(
        Tables.load(s, dir, "events"),
        col("user_id"), tsUs, bucket = 86400000000L)
        .withColumnRenamed("cohort", "cohort_day")
        .withColumnRenamed("offset", "day_offset"),
      Some(
        """WITH e AS (
          |  SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS d
          |  FROM events),
          |f AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY 1),
          |a AS (SELECT DISTINCT user_id, d FROM e)
          |SELECT f.d0 AS cohort_day, a.d - f.d0 AS day_offset,
          |  CAST(COUNT(*) AS BIGINT) AS n_users
          |FROM a JOIN f ON a.user_id = f.user_id
          |GROUP BY 1, 2""".stripMargin)),

    // Linear multi-touch attribution: each purchase's value split
    // equally over the user's click/view touches in the trailing 72 h;
    // per-touch credit totals. Pairs via the bucket-replication range
    // join — never a per-user cross product.
    QuerySpec("q_attribution", (s, dir) =>
      graft.operators.Behavior.attributionLinear(
        Tables.load(s, dir, "events"),
        col("user_id"), tsUs, col("event_type"), col("value"),
        col("event_id"), convType = "purchase",
        touchTypes = Seq("click", "view"), lookback = 259200000000L),
      // Per-pair credit v/n (double / bigint, same IEEE op order as
      // Spark), decimal-staged order-free sum, 6dp cut.
      Some(
        """WITH conv AS (
          |  SELECT user_id AS u, epoch_ns(ts) // 1000 AS t, value AS v,
          |   event_id AS cid
          |  FROM events WHERE event_type = 'purchase'),
          |tch AS (
          |  SELECT user_id AS u, epoch_ns(ts) // 1000 AS tt,
          |   event_id AS tid
          |  FROM events WHERE event_type IN ('click', 'view')),
          |p AS (
          |  SELECT c.cid, t.tid, c.v,
          |   COUNT(*) OVER (PARTITION BY c.cid) AS n
          |  FROM conv c JOIN tch t
          |   ON c.u = t.u AND t.tt <= c.t AND t.tt >= c.t - 259200000000)
          |SELECT tid AS event_id, CAST(COUNT(*) AS BIGINT) AS n_conversions,
          | ROUND(CAST(SUM(CAST(v / n AS DECIMAL(27,18))) AS DOUBLE), 6)
          |  + 0.0 AS credit
          |FROM p GROUP BY tid""".stripMargin))
  )
}
