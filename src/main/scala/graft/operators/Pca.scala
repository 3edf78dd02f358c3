package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ExactSumFunctions.foldExactVectorSumByKey

/** Tall-skinny PCA over an embedding column — the dimensionality
  * reduction a 100 TB embedding corpus can actually afford: ONE exact
  * fold ([[stats]]) gathers the row count, coordinate sums and the
  * exact d×d Gram matrix in the reference's DAAL topology (local
  * partials, one gather, the driver's master step; d = 64 here, so the
  * statistics are KiB-sized no matter how many rows flow through), the
  * d×d eigenproblem is solved on the driver — the same
  * sufficient-statistics-then-local-solve topology as
  * [[ML.olsExact]]'s normal equations — and the projection
  * is a narrow codegen'd pass with the mean/components baked in as
  * literals. Nothing iterative ever touches the corpus.
  *
  * Determinism: Gram and mean use exact decimal sums (order-free), the
  * Jacobi sweep order is fixed, and each eigenvector's sign is
  * canonicalized (largest-|component| positive), so fit and projection
  * are bit-reproducible run-to-run and partitioning-independent. The
  * covariance is oracle-checkable cell-by-cell; the eigenbasis is
  * driver-local math, pinned by spec laws (orthonormality, C·v = λv,
  * known-axis goldens) rather than a SQL mirror.
  */
object Pca {

  /** Fitted model: per-coordinate mean, eigenvalues (descending), and
    * the top-k eigenvectors (rows of `components`). */
  final case class PcaModel(mean: Array[Double], eigenvalues: Array[Double],
                            components: Array[Array[Double]])

  /** The Gram family's sufficient statistics (n, Σx, XᵀX) of an
    * `array<numeric>` column, in ONE exact fold
    * ([[graft.functions.ExactSumFunctions.foldExactVectorSumByKey]]
    * under the key 0) over the rows spread to every core (a small
    * single-split input would otherwise run the O(dim²)-per-row
    * products on one task). Each row
    * contributes `x ++ [x_i·x_j for i ≤ j]`, the upper triangle only;
    * the driver mirrors it into the full matrix (IEEE multiplication
    * commutes, so a mirrored cell keeps its bits). Every cell is the
    * exact decimal sum of single correctly-rounded double products,
    * `SUM(CAST(x_i·x_j AS DECIMAL(27,18)))` cast back to double,
    * independent of partitioning and order. `n` counts every row; a
    * null vector adds nothing to the sums (no non-null vector: zeros). */
  def stats(df: DataFrame, vec: String,
            dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val upper = (x: Column) => flatten(transform(sequence(lit(1), lit(dim)),
      i => transform(slice(x, i, lit(dim + 1) - i), xj => element_at(x, i) * xj)))
    val (s0, n) = foldExactVectorSumByKey(
      Frames.spread(df.select(col(vec).cast("array<double>").as("x")))
        .select(lit(0), concat(col("x"), upper(col("x")))), 1)(0)
    val s = Option(s0).getOrElse(new Array[Double](dim + dim * (dim + 1) / 2))
    val gram = Array.ofDim[Double](dim, dim)
    var p = dim
    for (i <- 0 until dim; j <- i until dim) {
      gram(i)(j) = s(p); gram(j)(i) = s(p); p += 1
    }
    (n, s.take(dim), gram)
  }

  /** (means, covariance matrix) from [[stats]]:
    * `cov_ij = gram_ij/n − (sum_i/n)·(sum_j/n)` — every term an exact
    * decimal sum cast to double, then a fixed IEEE op sequence, so a
    * SQL mirror reproduces it bit-for-bit. */
  private def meanAndCov(df: DataFrame, vec: String,
                         dim: Int): (Array[Double], Array[Array[Double]]) = {
    val (n, sums, gram) = stats(df, vec, dim)
    val nD = n.toDouble
    val means = sums.map(_ / nD)
    (means, Array.tabulate(dim, dim)((i, j) => gram(i)(j) / nD - means(i) * means(j)))
  }

  /** Covariance matrix as a local (i, j, cov) frame of [[meanAndCov]]'s
    * cells (before the caller's 6dp cut). */
  def covariance(df: DataFrame, vec: String, dim: Int): DataFrame =
    Gemm.cells(df.sparkSession, meanAndCov(df, vec, dim)._2, "cov")

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — exact
    * enough at d≤a few hundred, deterministic (fixed sweep order, fixed
    * convergence threshold). Returns (eigenvalues, eigenvectors as
    * rows), sorted by eigenvalue descending, sign-canonicalized. */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // tan of the annihilating rotation; theta → ±∞ gives t → ±0
            // (no-op rotation, the right limit), theta = 0 gives t = 1.
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off = math.max(off, math.abs(a(i)(j))); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      // canonical sign: largest-|component| positive
      val m = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(m) < 0) col.map(x => -x) else col
    }.toArray
    (vals, vecs)
  }

  /** Fit: one distributed pass for the sufficient statistics, local
    * eigen solve, top-k components kept. */
  def fit(df: DataFrame, vec: String, dim: Int, k: Int): PcaModel = {
    val (means, c) = meanAndCov(df, vec, dim)
    val (vals, vecs) = jacobiEigen(c)
    PcaModel(means, vals.take(k), vecs.take(k))
  }

  /** Oracle-replayable PC1 twin: `iters` power iterations on the
    * (oracled) covariance — the Jacobi [[fit]] stays the production
    * solve, this twin exists so the eigen path has a driver-green
    * differential. Each iteration's matvec Σ_j cov_ij·v_j and the
    * norm's squares are staged through the SAME
    * `BigDecimal.valueOf(·).setScale(18, HALF_UP)` rounding Spark's
    * double→decimal cast uses, so all `iters` steps are
    * bit-reproducible and an unrolled SQL chain replays them.
    * Deterministic regardless of convergence: the twin's contract is
    * "same `iters` steps from the all-ones start", not "converged
    * eigenpair". Returns (d, loading, lam): the iterated unit vector,
    * sign-canonicalized (largest-|component| positive, ties to the
    * lowest index), and its Rayleigh quotient vᵀCv. */
  def powerIterationPc1(df: DataFrame, vec: String, dim: Int,
                        iters: Int): DataFrame = {
    val spark = df.sparkSession
    // ONE exact fold ([[stats]]); the `iters` matvec/norm/Rayleigh
    // steps run driver-local on the d×d covariance. The earlier form ran
    // each matvec as its own DataFrame aggregate over the persisted
    // cov frame — 8 cluster-wide barrier jobs plus 8 plan compilations
    // for arithmetic over 4096 doubles (measured: ~1.3 s of the
    // query's 2.1 s at sf0.1, size-INDEPENDENT, so the same seconds
    // would be paid in front of a 100 TB corpus). Bit-identity with
    // the unrolled-SQL oracle is preserved because each staged term
    // replays Spark's exact double→DECIMAL(27,18) cast semantics —
    // BigDecimal.valueOf(x).setScale(18, HALF_UP) — and the decimal
    // sum is order-free, exactly the [[decStage]] discipline the norm
    // accumulation already used. Bounded-magnitude assumption
    // (ADVICE r7): Spark's cast returns NULL (sum skips the term) for
    // |term| ≥ 1e9 — above DECIMAL(27,18)'s 9 integer digits — while
    // decStage keeps it with unbounded precision, so the twin diverges
    // from the grouped aggregate only for covariance entries whose
    // matvec terms reach 1e9; the fixtures' standardized inputs are
    // ~1e0 and the oracle gate would fail LOUDLY if a corpus ever
    // crossed it.
    import java.math.{BigDecimal => JBD, RoundingMode}
    def decStage(x: Double): JBD =
      JBD.valueOf(x).setScale(18, RoundingMode.HALF_UP)
    def decSum(xs: Iterator[Double]): Double =
      xs.foldLeft(JBD.ZERO)((acc, x) => acc.add(decStage(x))).doubleValue()
    val c = meanAndCov(df, vec, dim)._2
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to iters) {
      // w_i = Σ_j stage18(cov_ij · v_j), summed exactly, cast back —
      // the same value the grouped decimal aggregate produced.
      val w = Array.tabulate(dim)(i =>
        decSum((0 until dim).iterator.map(j => c(i)(j) * v(j))))
      val norm = math.sqrt(decSum(w.iterator.map(x => x * x)))
      require(norm > 0,
        "power iteration collapsed to the zero vector (all-constant / " +
          "zero-covariance input has no principal direction)")
      v = w.map(_ / norm)
    }
    val lam = decSum((for (i <- 0 until dim; j <- 0 until dim)
      yield v(i) * c(i)(j) * v(j)).iterator)
    // canonical sign: largest-|component| positive (ties: lowest index)
    val m = v.indices.maxBy(k => (math.abs(v(k)), -k))
    val signed = if (v(m) < 0) v.map(x => -x) else v
    spark.createDataFrame(
      signed.zipWithIndex.map { case (x, d) => (d, x, lam) }.toSeq)
      .toDF("d", "loading", "lam")
      .select(col("d").cast("int").as("d"), col("loading"), col("lam"))
  }

  /** Project each row onto the model's components: (id, pc1..pck) —
    * a narrow pass, each score a fixed-order codegen'd sum of
    * `(x_d − μ_d)·v_cd` terms with the model baked in as literals. */
  def project(df: DataFrame, id: String, vec: String,
              model: PcaModel): DataFrame = {
    val x = col(vec).cast("array<double>")
    val dim = model.mean.length
    val scores = model.components.zipWithIndex.map { case (comp, ci) =>
      (0 until dim).map { d =>
        (element_at(x, d + 1) - lit(model.mean(d))) * lit(comp(d))
      }.reduce(_ + _).as(s"pc${ci + 1}")
    }
    df.select(col(id) +: scores.toSeq: _*)
  }
}
