package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Series
import graft.functions.Exact.d

/** Ordered-series queries over the `events` table (natural unique order
  * key `event_id`). Mirrors the reference's cumsum/stencil tests
  * (/root/reference/test/cumsum_test.jl, stencil_test1.jl) at fixture
  * scale.
  */
object SeriesQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Distributed prefix sum (HPAT cumsum — MPI_Exscan pattern).
    QuerySpec("q_cumsum", (s, dir) =>
      Series.cumsum(
        Tables.load(s, dir, "events"),
        col("event_id"), d(col("value")), "running")
        .select(col("event_id"), col("running").cast("double").as("running")),
      Some(
        """SELECT event_id,
          | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (ORDER BY event_id) AS DOUBLE) AS running
          |FROM events""".stripMargin)),

    // Contiguous 0-based global ids over orders by o_orderkey — the
    // example-numbering primitive (exscan of per-partition counts; no
    // global single-task sort).
    QuerySpec("q_global_ids", (s, dir) =>
      Series.globalRowNumbers(
        Tables.load(s, dir, "orders").select(col("o_orderkey")),
        col("o_orderkey"), "rid"),
      Some(
        """SELECT o_orderkey,
          | CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS rid
          |FROM orders""".stripMargin)),

    // 3-point stencil (x[-1]+2*x[0]+x[1])/4 with borders copying input
    // (stencil_test1.jl golden semantics).
    QuerySpec("q_stencil", (s, dir) =>
      Series.stencil3(
        Tables.load(s, dir, "events"),
        col("event_id"), col("value"), "smoothed")(
        (l, v, r) => (l + lit(2.0) * v + r) / lit(4.0))
        .select(col("event_id"), col("smoothed")),
      Some(
        """SELECT event_id,
          | CASE WHEN lag(value) OVER w IS NULL OR lead(value) OVER w IS NULL
          |   THEN value
          |   ELSE (lag(value) OVER w + 2.0 * value + lead(value) OVER w) / 4.0
          | END AS smoothed
          |FROM events WINDOW w AS (ORDER BY event_id)""".stripMargin)),

    // Radius-2 (5-point) stencil — the generalized runStencil lambda
    // surface. Gaussian-ish taps 1,4,6,4,1; per-row fixed double op
    // sequence mirrored in the oracle, so hash-exact.
    QuerySpec("q_stencil5", (s, dir) =>
      Series.stencil(
        Tables.load(s, dir, "events"),
        col("event_id"), col("value"), "smoothed", radius = 2)(
        xs => (xs(0) + lit(4.0) * xs(1) + lit(6.0) * xs(2) +
          lit(4.0) * xs(3) + xs(4)) / lit(16.0))
        .select(col("event_id"), col("smoothed")),
      // Same op order as the Spark lambda: ((((l2 + 4*l1) + 6*v) + 4*r1)
      // + r2) / 16 — fixed per-row double sequence, engine-exact.
      Some(
        """SELECT event_id,
          | CASE WHEN lag(value, 2) OVER w IS NULL OR lag(value, 1) OVER w IS NULL
          |   OR lead(value, 1) OVER w IS NULL OR lead(value, 2) OVER w IS NULL
          |   THEN value
          |   ELSE ((((lag(value, 2) OVER w + 4.0 * lag(value, 1) OVER w)
          |     + 6.0 * value) + 4.0 * lead(value, 1) OVER w)
          |     + lead(value, 2) OVER w) / 16.0
          | END AS smoothed
          |FROM events WINDOW w AS (ORDER BY event_id)""".stripMargin)),

    // As-of join: each purchase matched to the user's most recent click
    // at or before it (inner variant — unmatched purchases dropped so
    // the compared columns stay integral end-to-end).
    QuerySpec("q_asof_join", (s, dir) => {
      def side(t: String) = Tables.load(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("us"))
      Series.asofJoin(side("purchase"), side("click"),
        key = "user_id", time = "us", payload = Seq("event_id"))
        .filter(col("asof_us").isNotNull)
    }, Some(
      // Most recent click at or before each purchase, ties on time broken
      // by the larger click event_id (mirrors the payload-struct order).
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT l.event_id, l.user_id, l.us,
        |  r.us AS asof_us, r.event_id AS asof_event_id
        |FROM e l JOIN e r
        |  ON l.event_type = 'purchase' AND r.event_type = 'click'
        | AND l.user_id = r.user_id AND r.us <= l.us
        |QUALIFY row_number() OVER (PARTITION BY l.event_id
        |  ORDER BY r.us DESC, r.event_id DESC) = 1""".stripMargin)),

    // As-of with a 1-hour lookback tolerance (merge_asof semantics):
    // clicks older than an hour no longer explain a purchase.
    QuerySpec("q_asof_tol", (s, dir) => {
      def side(t: String) = Tables.load(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("us"))
      Series.asofJoinTolerance(side("purchase"), side("click"),
        key = "user_id", time = "us", payload = Seq("event_id"),
        tolerance = 3600000000L)
    }, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT l.event_id, l.user_id, l.us,
        |  r.us AS asof_us, r.event_id AS asof_event_id
        |FROM e l JOIN e r
        |  ON l.event_type = 'purchase' AND r.event_type = 'click'
        | AND l.user_id = r.user_id AND r.us <= l.us
        | AND l.us - r.us <= 3600000000
        |QUALIFY row_number() OVER (PARTITION BY l.event_id
        |  ORDER BY r.us DESC, r.event_id DESC) = 1""".stripMargin)),

    // Same as-of semantics through the custom Catalyst path
    // (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec physical merge):
    // one co-partitioned shuffle + sorted streaming merge per
    // partition, verified against the identical DuckDB oracle.
    QuerySpec("q_asof_native", (s, dir) => {
      def side(t: String) = Tables.load(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("us"))
      graft.plans.AsOfJoinPlan.asofJoin(side("purchase"), side("click"),
        key = "user_id", time = "us", payload = Seq("event_id"))
        .filter(col("asof_us").isNotNull)
    }, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT l.event_id, l.user_id, l.us,
        |  r.us AS asof_us, r.event_id AS asof_event_id
        |FROM e l JOIN e r
        |  ON l.event_type = 'purchase' AND r.event_type = 'click'
        | AND l.user_id = r.user_id AND r.us <= l.us
        |QUALIFY row_number() OVER (PARTITION BY l.event_id
        |  ORDER BY r.us DESC, r.event_id DESC) = 1""".stripMargin)),

    // Range join: (purchase, click) pairs by the same user within ±1
    // hour — bucket-replication equi-join, no per-key cross product.
    QuerySpec("q_range_join", (s, dir) => {
      def side(t: String) = Tables.load(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("us"))
      Series.rangeJoin(side("purchase"), side("click"),
        key = "user_id", time = "us", delta = 3600L * 1000000L,
        payload = Seq("event_id", "us"))
    }, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT l.event_id, l.user_id, l.us,
        |  r.event_id AS r_event_id, r.us AS r_us
        |FROM e l JOIN e r
        |  ON l.event_type = 'purchase' AND r.event_type = 'click'
        | AND l.user_id = r.user_id
        | AND abs(l.us - r.us) <= 3600000000""".stripMargin)),

    // Trailing 1-hour rolling count + exact sum per user at every
    // event: one keyed RANGE window, no self-join.
    QuerySpec("q_rolling", (s, dir) =>
      Series.rollingRange(
        Tables.load(s, dir, "events")
          .select(col("user_id"), expr("ts DIV 1000").as("us"), col("value")),
        key = "user_id", time = "us", value = "value",
        lookback = 3600000000L),
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events)
          |SELECT user_id, us,
          |  CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |    AS sum_window
          |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
          |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Linear interpolation onto exact hourly grid instants within each
    // user's observed span: fixed IEEE op sequence on integer time
    // deltas, so the interpolated doubles compare bit-exact.
    QuerySpec("q_interp", (s, dir) =>
      Series.resampleInterp(
        Tables.load(s, dir, "events")
          .select(col("user_id"), expr("ts DIV 1000").as("us"), col("value")),
        key = "user_id", time = "us", value = "value",
        step = 3600000000L, out = "grid_us"),
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
          |o AS (
          |  SELECT user_id, us AS t, MAX(value) AS v, 0 AS side
          |  FROM e GROUP BY 1, 2),
          |span AS (
          |  SELECT user_id, MIN(us) AS tmin, MAX(us) AS tmax FROM e GROUP BY 1),
          |bs AS (
          |  SELECT user_id, (tmin + 3599999999) // 3600000000 AS b0,
          |    tmax // 3600000000 AS b1 FROM span),
          |grid AS (
          |  SELECT user_id, unnest(range(b0, b1 + 1)) * 3600000000 AS t,
          |    CAST(NULL AS DOUBLE) AS v, 1 AS side FROM bs WHERE b0 <= b1),
          |u AS (SELECT * FROM o UNION ALL SELECT * FROM grid),
          |f AS (
          |  SELECT *,
          |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
          |      OVER fw AS pt,
          |    last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
          |      OVER fw AS pv,
          |    last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
          |      OVER bw AS nv,
          |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
          |      OVER bw AS nt
          |  FROM u WINDOW
          |    fw AS (PARTITION BY user_id ORDER BY t ASC, side ASC
          |           ROWS UNBOUNDED PRECEDING),
          |    bw AS (PARTITION BY user_id ORDER BY t DESC, side DESC
          |           ROWS UNBOUNDED PRECEDING))
          |SELECT user_id, t AS grid_us,
          |  CASE WHEN pt = t THEN pv
          |       ELSE pv + (nv - pv) *
          |         (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
          |  END AS value
          |FROM f WHERE side = 1""".stripMargin)),

    // Resample per-user event values onto an hourly grid with
    // forward-fill (LOCF): the fill only copies existing doubles (no
    // arithmetic), so the values compare bit-exact cross-engine.
    QuerySpec("q_resample", (s, dir) =>
      Series.resampleLocf(
        Tables.load(s, dir, "events")
          .select(col("user_id"), expr("ts DIV 1000").as("us"), col("value")),
        key = "user_id", time = "us", value = "value",
        step = 3600000000L, out = "bucket_us"),
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
          |o AS (SELECT user_id, us // 3600000000 AS b, us, value FROM e),
          |r AS (
          |  SELECT user_id, b, value, row_number() OVER (
          |    PARTITION BY user_id, b ORDER BY us DESC, value DESC) AS rn
          |  FROM o),
          |obs AS (SELECT user_id, b, value FROM r WHERE rn = 1),
          |span AS (SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM o GROUP BY 1),
          |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM span),
          |j AS (
          |  SELECT g.user_id, g.b, o.value
          |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b)
          |SELECT user_id, b * 3600000000 AS bucket_us,
          |  last_value(value IGNORE NULLS) OVER (
          |    PARTITION BY user_id ORDER BY b
          |    ROWS UNBOUNDED PRECEDING) AS value
          |FROM j""".stripMargin))
  )
}
