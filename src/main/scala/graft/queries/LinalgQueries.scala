package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Gemm

/** Distributed blocked GEMM queries (reference §2.8 GEMM patterns /
  * 2-D ScaLAPACK path, src/distributed-pass.jl:489-610). Every
  * multiplication is a correctly-rounded double op with a DuckDB
  * mirror of the identical op order, and all cross-block combining is
  * the exact-decimal vector sum (partition-order-free); outputs round
  * to 6dp because the engines' double→decimal casts disagree in the
  * 18th fractional digit (see Gemm.gram scaladoc).
  */
object LinalgQueries {

  private val bs = 16
  private val dim = 64

  /** embeddings as COO: (vec_id, dim, value) — the X matrix, n×64. */
  private def xCoo(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("i"),
        posexplode(transform(col("embedding"), v => v.cast("double")))
          .as(Seq("j", "v")))

  val specs: Seq[QuerySpec] = Seq(

    // Gram matrix XᵀX of the embedding corpus — the gemm-reduce
    // pattern, one exact fold of each row's upper-triangle products
    // (Pca.stats), mirrored to the full matrix on the driver.
    // Output rounded to 6dp: the engines' double→decimal(27,18) casts
    // round differently in the 18th fractional digit (shortest-repr
    // HALF_UP vs binary-value round-nearest), so per-product 1e-18
    // deltas accumulate to ~1e-15 at fixture scale — real, bounded,
    // and invisible at 6dp (same convention as every decimal-sum
    // oracle in MLQueries).
    // `+ 0.0` canonicalizes the signed zero: a near-zero cell rounds
    // to -0.0 under DuckDB's double ROUND but +0.0 under Spark's
    // BigDecimal round (no signed zero there) — caught by the sf0.1
    // audit on one cancellation cell.
    QuerySpec("q_gemm_gram", (s, dir) =>
      Gemm.gram(Tables.load(s, dir, "embeddings"), "embedding", dim)
        .select(col("i"), col("j"),
          (round(col("val"), 6) + lit(0.0)).as("val")),
      // Exact mirror: each cell is the exact decimal sum of the
      // correctly-rounded double products x[i]·x[j] over all rows —
      // order-free, so plain SUM reproduces the engine bit-for-bit.
      Some(
        s"""WITH pts AS (
           | SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
           | FROM embeddings)
           |SELECT CAST(di - 1 AS INT) AS i, CAST(dj - 1 AS INT) AS j,
           | ROUND(CAST(SUM(CAST(x[di] * x[dj] AS DECIMAL(27,18))) AS DOUBLE),
           |   6) + 0.0 AS val
           |FROM pts, range(1, ${dim + 1}) r1(di), range(1, ${dim + 1}) r2(dj)
           |GROUP BY di, dj""".stripMargin)),

    // Covariance matrix of the embedding corpus — PCA's sufficient
    // statistic: gram/n − μμᵀ, every sum exact decimal, fixed IEEE op
    // order, 6dp cut (+0.0 kills DuckDB ROUND's signed zero on
    // cancellation cells).
    QuerySpec("q_ml_cov", (s, dir) =>
      graft.operators.Pca.covariance(
        Tables.load(s, dir, "embeddings"), "embedding", dim)
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov")),
      // Mirror of Pca.covariance's op order: exact decimal sums → double
      // → (gram/n) − (sum_i/n)·(sum_j/n).
      Some(
        s"""WITH pts AS (
           | SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
           | FROM embeddings),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
           |mu AS (
           | SELECT CAST(d - 1 AS INT) AS i,
           |  CAST(SUM(CAST(x[d] AS DECIMAL(27,18))) AS DOUBLE) / nn.n AS m
           | FROM pts, range(1, ${dim + 1}) r(d), nn GROUP BY d, nn.n),
           |g AS (
           | SELECT CAST(di - 1 AS INT) AS i, CAST(dj - 1 AS INT) AS j,
           |  CAST(SUM(CAST(x[di] * x[dj] AS DECIMAL(27,18))) AS DOUBLE) AS val
           | FROM pts, range(1, ${dim + 1}) r1(di), range(1, ${dim + 1}) r2(dj)
           | GROUP BY di, dj)
           |SELECT g.i, g.j,
           | ROUND(g.val / nn.n - mi.m * mj.m, 6) + 0.0 AS cov
           |FROM g
           |JOIN mu mi ON mi.i = g.i
           |JOIN mu mj ON mj.i = g.j
           |CROSS JOIN nn""".stripMargin)),

    // PC1 power-iteration twin of the Jacobi eigensolve — the
    // native-twin discipline the kmeans/NB bridges use: the PRODUCTION
    // path stays q_ml_pca's driver-local Jacobi; this query runs 8
    // deterministic power steps on the oracled covariance so the eigen
    // path has a driver-green differential too. 6dp cut: the engines'
    // gram op orders differ at ~1e-15 and power iteration CONTRACTS,
    // so the divergence stays ~7 orders below the cut.
    QuerySpec("q_ml_pca_power", (s, dir) =>
      graft.operators.Pca.powerIterationPc1(
        Tables.load(s, dir, "embeddings"), "embedding", dim, iters = 8)
        .select(col("d"),
          (round(col("loading"), 6) + lit(0.0)).as("loading"),
          (round(col("lam"), 6) + lit(0.0)).as("lam")),
      // Mirror of powerIterationPc1: the UNROLLED 8-step chain over the
      // unrounded covariance CTE (cov). Per step: matvec w = C·v with
      // DECIMAL(27,18)-staged term sums (order-free, same as the Spark
      // aggregate), norm via decimal-staged squares, then the IEEE
      // division. Sign fix and Rayleigh quotient mirror the Scala tail.
      // Every CTE MATERIALIZED: the v-chain is referenced repeatedly and
      // inlining would re-expand it exponentially.
      Some {
        val steps = (1 to 8).map { i =>
          s"""w$i AS MATERIALIZED (
             | SELECT c.i AS d,
             |  CAST(SUM(CAST(c.cov * v.x AS DECIMAL(27,18))) AS DOUBLE) AS x
             | FROM cov c JOIN v${i - 1} v ON v.d = c.j GROUP BY 1),
             |n$i AS MATERIALIZED (
             | SELECT sqrt(CAST(SUM(CAST(x * x AS DECIMAL(27,18)))
             |   AS DOUBLE)) AS nrm FROM w$i),
             |v$i AS MATERIALIZED (
             | SELECT d, x / (SELECT nrm FROM n$i) AS x FROM w$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH pts AS MATERIALIZED (
           | SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
           | FROM embeddings),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
           |mu AS MATERIALIZED (
           | SELECT CAST(d - 1 AS INT) AS i,
           |  CAST(SUM(CAST(x[d] AS DECIMAL(27,18))) AS DOUBLE) / nn.n AS m
           | FROM pts, range(1, ${dim + 1}) r(d), nn GROUP BY d, nn.n),
           |g AS MATERIALIZED (
           | SELECT CAST(di - 1 AS INT) AS i, CAST(dj - 1 AS INT) AS j,
           |  CAST(SUM(CAST(x[di] * x[dj] AS DECIMAL(27,18))) AS DOUBLE) AS val
           | FROM pts, range(1, ${dim + 1}) r1(di), range(1, ${dim + 1}) r2(dj)
           | GROUP BY di, dj),
           |cov AS MATERIALIZED (
           | SELECT g.i, g.j, g.val / nn.n - mi.m * mj.m AS cov
           | FROM g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j
           | CROSS JOIN nn),
           |v0 AS (SELECT CAST(d - 1 AS INT) AS d, 1.0 AS x
           |  FROM range(1, ${dim + 1}) r(d)),
           |$steps,
           |sgn AS (SELECT CASE WHEN (SELECT x FROM v8
           |   ORDER BY abs(x) DESC, d ASC LIMIT 1) < 0
           |  THEN -1.0 ELSE 1.0 END AS s),
           |lam AS (SELECT CAST(SUM(CAST(a.x * c.cov * b.x
           |   AS DECIMAL(27,18))) AS DOUBLE) AS l
           | FROM cov c JOIN v8 a ON a.d = c.i JOIN v8 b ON b.d = c.j)
           |SELECT v.d, ROUND(v.x * s.s, 6) + 0.0 AS loading,
           | ROUND(l.l, 6) + 0.0 AS lam
           |FROM v8 v, sgn s, lam l""".stripMargin
      }),

    // PCA projection: top-2 principal scores per vector. The
    // eigenbasis is driver-local Jacobi on the 64×64 covariance
    // (sufficient-stats-then-local-solve, like q_ml_ols) — not
    // SQL-expressible, so rows-only; PcaSpec pins the algebra laws.
    QuerySpec("q_ml_pca", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(e, "embedding", dim, k = 2)
      graft.operators.Pca.project(e, "vec_id", "embedding", model)
        .select(col("vec_id"), round(col("pc1"), 6).as("pc1"),
          round(col("pc2"), 6).as("pc2"))
    }),

    // General 2-D blocked multiply: C = X·W where W is the 64×64
    // matrix of the first 64 embedding rows. X goes through
    // COO→blocks, the SUMMA-shaped join/aggregate multiply, and
    // blocks→COO; padding cells from the last partial block row are
    // trimmed by a semi-join against the real row ids.
    QuerySpec("q_gemm_multiply", (s, dir) => {
      val x = xCoo(s, dir)
      val w = x.filter(col("i") < dim)
        // W's row index is X's column index space already (0..63).
        .select(col("i"), col("j"), col("v"))
      val c = Gemm.multiplyBlocked(
        Gemm.toBlocks(x, bs), Gemm.toBlocks(w, bs), bs)
      // The row-id trim set is exactly the distinct vec_ids — read them
      // straight off the table instead of re-deriving the 64n-row COO
      // explode a third time just to distinct it back down to n.
      val ids = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("i")).distinct()
      Gemm.blocksToCoo(c, bs)
        .join(broadcast(ids), Seq("i"), "left_semi")
        .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v"))
    }, Some(
      // Mirror of multiplyBlocked's op order: within an inner block the
      // kernel folds the $bs products in ascending k with a 0.0 seed
      // (list_reduce over the k-ordered term list); across inner blocks
      // the partials combine with the exact decimal sum.
      s"""WITH xe AS (
         | SELECT vec_id AS i, CAST(dim - 1 AS BIGINT) AS j,
         |  CAST(embedding[dim] AS DOUBLE) AS v
         | FROM embeddings, range(1, ${dim + 1}) r(dim)),
         |we AS (SELECT i, j, v FROM xe WHERE i < $dim),
         |terms AS (
         | SELECT a.i AS i, b.j AS j, a.j // $bs AS kb, a.j AS k,
         |  a.v * b.v AS t
         | FROM xe a JOIN we b ON a.j = b.i),
         |partials AS (
         | SELECT i, j, kb,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(t ORDER BY k)), (acc, e) -> acc + e) AS p
         | FROM terms GROUP BY i, j, kb)
         |SELECT i, j,
         | ROUND(CAST(SUM(CAST(p AS DECIMAL(27,18))) AS DOUBLE), 6) + 0.0 AS v
         |FROM partials GROUP BY i, j""".stripMargin))
  )
}
