package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.squaredDistanceSql
import graft.operators.ML

/** ML-kernel queries (reference §2.9 surface). Each hash-matches a
  * DuckDB mirror of its kernel: the fits fold exact-decimal sufficient
  * statistics, so they do not depend on summation order.
  */
object MLQueries {

  /** DuckDB mirror of [[ML.kmeansLloyd]] with the loop UNROLLED as
    * chained CTEs over the non-null vectors (a null vector joins no
    * cell) — one assignment CTE per iteration under the previous
    * centroids, one exact-decimal mean CTE per update, carrying empty
    * cells forward, then the final assignment counted per cell. Every
    * arithmetic step mirrors the Scala kernel's op order (distance
    * accumulates in index order with a 0.0 seed; means divide the
    * decimal-exact component sum, cast to double, by the count), so the
    * compare is bit-exact. */
  private def kmeansNativeOracle(k: Int, iters: Int, dim: Int): String = {
    s"""WITH ${materialized(kmeansCtePrefix(k, iters, dim))}
       |SELECT c.cell AS cluster, CAST(COALESCE(n.cnt, 0) AS BIGINT) AS size
       |FROM c$iters c LEFT JOIN (
       | SELECT cell, COUNT(*) AS cnt FROM a${iters + 1} GROUP BY cell) n
       | ON c.cell = n.cell""".stripMargin
  }

  /** Pins each CTE of a chain to one evaluation. DuckDB's
    * small-cardinality heuristic inlines a CTE at every reference, and
    * each unrolled k-means step reads the previous centroids twice, so
    * an inlined chain re-expands exponentially with the iteration count
    * (at 10 iterations it opens more files than the process may). */
  private[queries] def materialized(ctes: String): String =
    ctes.replace(" AS (", " AS MATERIALIZED (")

  /** The kmeansLloyd CTE chain (everything after `WITH `): `pts`, `c0`,
    * `a1..a$iters`/`c1..c$iters`, and the final full-corpus assignment
    * `a${iters+1}` under `c$iters`. Shared by the k-means oracle and
    * the IVF oracle (whose index build IS this k-means). */
  private[queries] def kmeansCtePrefix(k: Int, iters: Int, dim: Int,
                                       prefix: String = "",
                                       xExpr: String = "embedding"): String =
    kmeansCteGeneric(k.toString, iters, dim, prefix, xExpr)

  /** [[kmeansCtePrefix]] generalized over the SOURCE relation and a
    * dynamic cluster count: `kExpr` may be any scalar SQL expression
    * (e.g. `greatest(16, CAST(ceil((SELECT count(*) …)/64.0) AS INT))`
    * — the corpus-adaptive IVF sizing rule), and `table`/`idCol` name
    * the input relation (a prior CTE works: the two-level IVF oracle
    * chains a second k-means over the FIRST chain's centroid CTE).
    * The id column is aliased to `vec_id` inside the chain so the
    * generated steps are relation-agnostic. */
  private[queries] def kmeansCteGeneric(kExpr: String, iters: Int, dim: Int,
                                        prefix: String = "",
                                        xExpr: String = "embedding",
                                        table: String = "embeddings",
                                        idCol: String = "vec_id"): String = {
    def assign(i: Int) =
      s"""${prefix}a$i AS (
         | SELECT vec_id, x, cell FROM (
         |  SELECT p.vec_id, p.x, c.cell,
         |   ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |     ORDER BY ${squaredDistanceSql("p.x", "c.c")} ASC, c.cell ASC) AS rnk
         |  FROM ${prefix}pts p, ${prefix}c${i - 1} c) t
         | WHERE rnk = 1)""".stripMargin
    def update(i: Int) =
      s"""${prefix}c$i AS (
         | SELECT cell, list(m ORDER BY dim) AS c FROM (
         |  SELECT cell, dim,
         |   CAST(SUM(CAST(CAST(list_extract(x, dim) AS DOUBLE)
         |     AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM ${prefix}a$i, range(1, ${dim + 1}) r(dim)
         |  GROUP BY cell, dim) t
         | GROUP BY cell
         | UNION ALL
         | SELECT cell, c FROM ${prefix}c${i - 1}
         | WHERE cell NOT IN (SELECT cell FROM ${prefix}a$i))""".stripMargin
    val steps = (1 to iters).flatMap(i => Seq(assign(i), update(i)))
    s"""${prefix}pts AS (SELECT $idCol AS vec_id, $xExpr AS x FROM $table
       | WHERE $xExpr IS NOT NULL),
       |${prefix}c0 AS (
       | SELECT CAST(ROW_NUMBER() OVER (ORDER BY $idCol) - 1 AS INT) AS cell,
       |  list_transform($xExpr, v -> CAST(v AS DOUBLE)) AS c
       | FROM (SELECT * FROM $table WHERE $xExpr IS NOT NULL
       |  ORDER BY $idCol LIMIT $kExpr) t),
       |${steps.mkString(",\n")},
       |${assign(iters + 1)}""".stripMargin
  }

  /** DuckDB mirror of [[ML.logisticRegression]] unrolled: per iteration
    * an error CTE (margin expanded as the same left-associated 64-term
    * sum the Scala plan builds, then the sigmoid) and an exact-decimal
    * gradient CTE; the weight update repeats the Scala op order
    * `w - (lr*g)/n`. */
  /** The left-to-right margin sum `x[1]*w[1] + … + x[dim]*w[dim]` —
    * the exact op order of the Scala kernel's `reduce(_ + _)`. */
  private[queries] def logregMargin(dim: Int): String =
    (1 to dim).map(j => s"x[$j]*w[$j]").mkString(" + ")

  /** The gradient-descent CTE chain (everything after a caller-supplied
    * `pts(x, y, …)` CTE): `nn`, `w0`, and `e$i`/`g$i`/`w$i` per
    * unrolled iteration. Shared by the embedding logreg oracle and the
    * text quality-classifier oracle, which differ only in `pts`. */
  private[queries] def logregSteps(iters: Int, dim: Int, lr: Double): String = {
    val margin = logregMargin(dim)
    def step(i: Int) =
      s"""e$i AS (
         | SELECT x, 1.0/(1.0 + exp(-($margin))) - y AS err
         | FROM pts, w${i - 1}),
         |g$i AS (
         | SELECT dim, CAST(SUM(CAST(list_extract(x, dim) * err
         |   AS DECIMAL(27,18))) AS DOUBLE) AS g
         | FROM e$i, range(1, ${dim + 1}) r(dim) GROUP BY dim),
         |w$i AS (
         | SELECT list(wj ORDER BY dim) AS w FROM (
         |  SELECT g.dim AS dim, w.w[g.dim] - ($lr * g.g) / nn.nv AS wj
         |  FROM g$i g, w${i - 1} w, nn) t)""".stripMargin
    s"""nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM pts),
       |w0 AS (SELECT list_transform(range(1, ${dim + 1}),
       |  v -> CAST(0.0 AS DOUBLE)) AS w),
       |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
  }

  private def logregOracle(iters: Int, dim: Int, lr: Double): String = {
    // `+ 0.0` canonicalizes DuckDB ROUND's signed zero (Spark's
    // BigDecimal round has none) — a weight rounding to -0.0 would
    // hash-mismatch an identical result.
    s"""WITH pts AS (
       | SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
       |  CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
       |${logregSteps(iters, dim, lr)}
       |SELECT CAST(dim - 1 AS INT) AS idx, ROUND(w[dim], 6) + 0.0 AS w
       |FROM w$iters, range(1, ${dim + 1}) r(dim)""".stripMargin
  }

  /** DuckDB mirror of the Gaussian NB statistics (everything after
    * `WITH `): `pts(vec_id, label, y, x)`, the row total `tot(t)`, and
    * per (class, 1-based dim) the count and the decimal-exact Σv and
    * Σv² cast to double, `st(y, dim, n, s, ss)`. Shared by the fit and
    * predict oracles. */
  private val nbStatsCtes: String =
    """pts AS (
      | SELECT vec_id, label, CAST(label AS INT) AS y,
      |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      | FROM embeddings),
      |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM pts),
      |st AS (
      | SELECT y, dim,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(x[dim] AS DECIMAL(27,18))) AS DOUBLE) AS s,
      |  CAST(SUM(CAST(x[dim] * x[dim] AS DECIMAL(27,18))) AS DOUBLE) AS ss
      | FROM pts, range(1, 65) r(dim) GROUP BY y, dim)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Closed-form OLS: l_extendedprice ~ l_quantity from exact decimal
    // sufficient statistics (one distributed aggregate). Output rounded
    // to 6 decimals: the normal-equation subtraction cancels ~15 of the
    // inputs' significant digits at sf0.1, so the engines' (both
    // correct) decimal→double cast rounding diverges in the last ulps;
    // rounding keeps the compare meaningful without asserting ulp-level
    // agreement through catastrophic cancellation.
    QuerySpec("q_ml_ols", (s, dir) => {
      val r = ML.olsExact(Tables.load(s, dir, "lineitem"),
        col("l_quantity"), col("l_extendedprice"))
      r.select(round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"))
    }, Some(
      """WITH s AS (SELECT
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy
        | FROM lineitem),
        |sl AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  n, sx, sy FROM s)
        |SELECT ROUND(slope, 6) AS slope,
        |  ROUND(sy / n - slope * (sx / n), 6) AS intercept FROM sl""".stripMargin)),

    // Per-group OLS ("a model per segment" in ONE aggregate pass):
    // value regressed on hour-of-day per event type. Exact-decimal
    // sufficient statistics make every group's fit bit-reproducible;
    // outputs rounded 6 dp for the same cancellation reason as
    // q_ml_ols.
    QuerySpec("q_grouped_ols", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ML.olsByGroup(ev, col("event_type"),
        expr("ts div 3600000000000") % 24, // ns → hour-of-day, exact
        col("value"))
        .select(col("event_type"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
    }, Some(
      """WITH s AS (SELECT event_type,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(h AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(h AS DECIMAL(18,4)) * CAST(h AS DECIMAL(18,4)))
        |    AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(h AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |    AS DOUBLE) AS sxy
        | FROM (SELECT event_type, value,
        |   (epoch_ns(ts) // 3600000000000) % 24 AS h FROM events)
        | GROUP BY event_type),
        |sl AS (SELECT event_type, n, sx, sy,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | ROUND(slope, 6) AS slope,
        | ROUND(sy / n - slope * (sx / n), 6) AS intercept FROM sl""".stripMargin)),

    // Kmeans(points, k, iters) on the embeddings table.
    QuerySpec("q_ml_kmeans", (s, dir) =>
      ML.kmeansLloyd(Tables.load(s, dir, "embeddings"), "embedding",
        "vec_id", k = 8, iters = 10)
        .select(col("cluster"), col("size")),
      Some(kmeansNativeOracle(k = 8, iters = 10, dim = 64))),

    // The same Lloyd kernel at 5 iterations: deterministic init,
    // codegen'd assignment, partial-aggregated centroid update.
    QuerySpec("q_ml_kmeans_native", (s, dir) =>
      ML.kmeansLloyd(Tables.load(s, dir, "embeddings"), "embedding",
        "vec_id", k = 8, iters = 5)
        .select(col("cluster"), col("size")),
      Some(kmeansNativeOracle(k = 8, iters = 5, dim = 64))),

    // NaiveBayes(points, responses, classes) — gaussian, per-row preds
    // over the fixture's labels 0..9.
    // The oracle scores the textbook form of ML.naiveBayes's score from
    // the shared statistics; the argmax takes the lowest class on a tie.
    QuerySpec("q_ml_nb", (s, dir) =>
      ML.naiveBayes(Tables.load(s, dir, "embeddings"),
        "embedding", "label", classes = 10, "vec_id"),
      Some(
        s"""WITH $nbStatsCtes,
           |m AS (
           | SELECT y, dim, ln(n / t) AS lp, s / n AS mu,
           |  var + CAST(1e-9 AS DOUBLE) * max(var) OVER () AS v
           | FROM (SELECT *, ss / n - (s / n) * (s / n) AS var
           |  FROM st, tot WHERE y IS NOT NULL) t),
           |sc AS (
           | SELECT p.vec_id, p.label, m.y, any_value(m.lp) + SUM(
           |   -0.5 * ln(2 * pi() * m.v)
           |   - (p.x[m.dim] - m.mu) * (p.x[m.dim] - m.mu) / (2 * m.v)) AS score
           | FROM pts p, m GROUP BY p.vec_id, p.label, m.y)
           |SELECT vec_id, label, y AS prediction FROM sc
           |QUALIFY ROW_NUMBER() OVER (
           | PARTITION BY vec_id ORDER BY score DESC, y) = 1""".stripMargin)),

    // Engine-native Gaussian NB fit: exact-decimal sufficient
    // statistics → (prior, mean, variance) per (class, dim),
    // oracle-exact.
    QuerySpec("q_ml_nb_native", (s, dir) =>
      ML.naiveBayesExact(Tables.load(s, dir, "embeddings"),
        "embedding", "label", classes = 10),
      // Same op order as naiveBayesExact: decimal-exact s/ss, then
      // mean = s/n, var = ss/n - (s/n)^2, prior = n/total, ROUND 6dp.
      Some(
        s"""WITH $nbStatsCtes
           |SELECT y, CAST(dim - 1 AS INT) AS dim,
           | ROUND(n / t, 6) + 0.0 AS prior,
           | ROUND(s / n, 6) + 0.0 AS mean,
           | ROUND(ss / n - (s / n) * (s / n), 6) + 0.0 AS variance
           |FROM st, tot""".stripMargin)),

    // Monte-Carlo Pi (reference README.md:88-105 benchmark): a pure
    // generated-parfor + reduction, no table input. The point stream is
    // a deterministic 31-bit LCG with an xor-shift mix (a plain affine
    // LCG would make x and y perfectly correlated mod 1), so every
    // double is exact (value/2^31 is a power-of-two division) and the
    // DuckDB oracle reproduces the count bit-for-bit.
    QuerySpec("q_pi_mc", (s, dir) => {
      val n = 1000000L
      val m = 2147483648L // 2^31
      def mix(t: org.apache.spark.sql.Column) = {
        val u = (lit(1103515245L) * t + 12345L) % m
        (lit(1103515245L) * u.bitwiseXOR(shiftright(u, 15)) + 12345L) % m
      }
      s.range(n).toDF("i")
        .select(
          (mix(col("i")).cast("double") / lit(m.toDouble)).as("x"),
          (mix(col("i") + n).cast("double") / lit(m.toDouble)).as("y"))
        .agg(sum(when(col("x") * col("x") + col("y") * col("y") < 1.0, 1)
          .otherwise(0)).cast("long").as("n_inside"))
        .select(col("n_inside"),
          (lit(4.0) * col("n_inside") / lit(n.toDouble)).as("pi_est"))
    }, Some(
      """WITH p AS (
        |  SELECT
        |   CAST((1103515245 * xor((1103515245*i + 12345) % 2147483648,
        |        ((1103515245*i + 12345) % 2147483648) >> 15) + 12345)
        |     % 2147483648 AS DOUBLE) / 2147483648.0 AS x,
        |   CAST((1103515245 * xor((1103515245*(i+1000000) + 12345) % 2147483648,
        |        ((1103515245*(i+1000000) + 12345) % 2147483648) >> 15) + 12345)
        |     % 2147483648 AS DOUBLE) / 2147483648.0 AS y
        |  FROM range(0, 1000000) t(i))
        |SELECT CAST(SUM(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
        |  4.0 * SUM(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END) / 1000000.0 AS pi_est
        |FROM p""".stripMargin)),

    // Black-Scholes (examples/blackscholes.jl): the reference's
    // element-wise parfor + allreduce benchmark, generated data. erf
    // is not built into either engine, so cndf uses the
    // Abramowitz–Stegun 7.1.26 rational approximation with the SAME
    // nesting on both sides; row-independent constants (den, exp of
    // -rate·time, (rate+powterm)·time) are folded to Scala doubles and
    // interpolated into BOTH plans, leaving log10 + two exp calls as
    // the only per-row libm exposure (≤1 ulp each, invisible under the
    // decimal-staged sum's 6 dp cut).
    QuerySpec("q_blackscholes", (s, dir) => {
      val n = 100000L
      def erfAs(x: org.apache.spark.sql.Column) = {
        val ax = abs(x)
        val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * ax)
        val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
          t * (lit(1.421413741) + t * (lit(-1.453152027) +
            t * lit(1.061405429)))))
        signum(x) * (lit(1.0) - poly * exp(-(x * x)))
      }
      def cndf(x: org.apache.spark.sql.Column) =
        lit(0.5) + lit(0.5) * erfAs(lit(0.707106781) * x)
      val den = 0.2 * math.sqrt(0.5)           // vol · sqrt(time)
      val num = (0.5 + 0.5 * 0.2 * 0.2) * 0.5  // (rate + powterm) · time
      val fvF = math.exp(-(0.5 * 0.5))         // exp(−rate · time)
      val iD = (col("id") + 1).cast("double")
      val strike = lit(40.0) + iD / lit(n.toDouble)
      val d1 = (lit(num) + log10(lit(42.0) / strike)) / lit(den)
      val d2 = d1 - lit(den)
      val fv = strike * lit(fvF)
      val call = lit(42.0) * cndf(d1) - fv * cndf(d2)
      val put = call - fv + lit(42.0)
      s.range(n)
        .select(put.as("put"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("put").cast("decimal(38,18)")).cast("double"), 6)
            + lit(0.0)).as("put_sum"))
    }, Some {
      def D(x: Double) = s"CAST($x AS DOUBLE)"
      val den = 0.2 * math.sqrt(0.5)
      val num = (0.5 + 0.5 * 0.2 * 0.2) * 0.5
      val fvF = math.exp(-(0.5 * 0.5))
      def poly(t: String) =
        s"$t * (${D(0.254829592)} + $t * (${D(-0.284496736)} + $t * " +
          s"(${D(1.421413741)} + $t * (${D(-1.453152027)} + $t * " +
          s"${D(1.061405429)}))))"
      s"""WITH r AS (SELECT CAST(i + 1 AS DOUBLE) AS i
         |  FROM range(0, 100000) t(i)),
         |b AS (SELECT ${D(40.0)} + i / ${D(100000.0)} AS strike FROM r),
         |d AS (SELECT strike,
         |  (${D(num)} + log10(${D(42.0)} / strike)) / ${D(den)} AS d1
         | FROM b),
         |e AS (SELECT strike, d1, d1 - ${D(den)} AS d2 FROM d),
         |x AS (SELECT strike,
         |  ${D(0.707106781)} * d1 AS x1,
         |  ${D(0.707106781)} * d2 AS x2 FROM e),
         |tt AS (SELECT strike, x1, x2,
         |  ${D(1.0)} / (${D(1.0)} + ${D(0.3275911)} * abs(x1)) AS t1,
         |  ${D(1.0)} / (${D(1.0)} + ${D(0.3275911)} * abs(x2)) AS t2
         | FROM x),
         |er AS (SELECT strike,
         |  sign(x1) * (${D(1.0)} - (${poly("t1")}) * exp(-(x1 * x1))) AS e1,
         |  sign(x2) * (${D(1.0)} - (${poly("t2")}) * exp(-(x2 * x2))) AS e2
         | FROM tt),
         |p AS (SELECT strike,
         |  ${D(0.5)} + ${D(0.5)} * e1 AS n1,
         |  ${D(0.5)} + ${D(0.5)} * e2 AS n2 FROM er),
         |pv AS (SELECT
         |  ${D(42.0)} * n1 - (strike * ${D(fvF)}) * n2
         |   - strike * ${D(fvF)} + ${D(42.0)} AS put
         | FROM p)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         | round(CAST(SUM(CAST(put AS DECIMAL(38,18))) AS DOUBLE), 6)
         |  + 0.0 AS put_sum
         |FROM pv""".stripMargin
    }),

    // Iterative logistic regression (reference flagship loop shape):
    // binary label = (label % 2), 5 gradient-descent iterations.
    // Weights rounded to 6dp for the oracle compare: the gradient sums
    // are decimal-exact (order-independent), leaving libm exp()'s
    // last-ulp variation across engines as the only divergence source.
    QuerySpec("q_ml_logreg", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .withColumn("y", (col("label") % 2).cast("double"))
      ML.logisticRegression(e, "embedding", "y", dim = 64,
        iters = 5, lr = 0.5)
        .select(posexplode(col("weights")).as(Seq("idx", "w")))
        .select(col("idx"), round(col("w"), 6).as("w"))
    }, Some(logregOracle(iters = 5, dim = 64, lr = 0.5)))
  )
}
