package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ExactSumFunctions.{exactVectorSum, foldExactVectorSumByKey}
import graft.functions.VectorFunctions.nearestCell

/** ML kernels — one engine-native implementation per reference call.
  *
  * Reference surface (/root/reference/src/api.jl:6,32-55):
  * `Kmeans(points, k, iters)`, `LinearRegression(points, responses)`,
  * `NaiveBayes(points, responses, classes)`; DistributedPass swaps in
  * Intel DAAL distributed kernels (partial results gathered to rank 0,
  * model broadcast back — src/cgen-hpat-pattern-match-daal.jl:28-471).
  * Each kernel here has that topology: [[olsExact]] and [[naiveBayes]]
  * fold exact-decimal partials in one aggregate, [[lloyd]] (under
  * [[kmeansLloyd]]) and [[logisticRegression]] in one per-partition
  * fold per step; the driver finalizes the k·dim (or five) numbers,
  * and the model re-enters the next plan as literals. The
  * exact sums make every fit independent of partitioning and summation
  * order, so each has a DuckDB oracle.
  *
  * `transposeHcat` replaces the reference's `__hpat_transpose_hcat`
  * fusion (src/domain-pass.jl:590-617): instead of materializing a D×N
  * matrix, rows carry an array<double> feature vector — no transpose
  * ever exists.
  */
object ML {

  /** `transpose(hcat(cols...))` — N scalar columns to one feature array
    * per row (the reference's matrix-build,
    * test/tables_transpose_hcat.jl:20). */
  def transposeHcat(df: DataFrame, cols: Seq[String], out: String): DataFrame =
    df.withColumn(out, array(cols.map(c => col(c).cast("double")): _*))

  /** The (`__id`, `x`: array<double>) points [[lloyd]] reads. */
  private[graft] def points(df: DataFrame, id: String, features: String): DataFrame =
    df.select(col(id).as("__id"), col(features).cast("array<double>").as("x"))

  /** The one Lloyd loop, in the reference's DAAL topology (local
    * partials → gather → master update → broadcast,
    * src/cgen-hpat-pattern-match-daal.jl:28-471). `data` is
    * [[points]]; the caller caches it. The seeds are the non-null
    * vectors of the k smallest ids. Each step is ONE exact fold
    * ([[graft.functions.ExactSumFunctions.foldExactVectorSumByKey]]) of
    * (`assign(centroids)`, x): `assign` is a codegen'd kernel carrying
    * the centroid matrix as a reference object, so no join and no
    * exchange runs, and the step compiles once. The means divide the
    * exact-decimal sums, so the trajectory does not depend on
    * partitioning (DuckDB-replayable). A null vector joins no cell; an
    * empty cell keeps its centroid. */
  private[graft] def lloyd(data: DataFrame, k: Int, iters: Int,
                           assign: Array[Array[Double]] => Column): Array[Array[Double]] = {
    var centroids = data.filter(col("x").isNotNull).orderBy(col("__id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      val sums = foldExactVectorSumByKey(
        data.select(assign(centroids), col("x")), centroids.length)
      centroids = centroids.indices.map { cell =>
        val (s, n) = sums(cell)
        if (s == null) centroids(cell) else s.map(_ / n)
      }.toArray
    }
    centroids
  }

  /** `Kmeans(points, k, iters)`: [[lloyd]] with the flat
    * [[graft.functions.NearestCell]] assignment, then one more fold
    * under the final centroids for the cell sizes. Returns the k rows
    * (cluster, size, centroid) as a local frame; an empty cell has
    * size 0 and a null vector counts in no cell. Deterministic for a
    * fixed input. */
  def kmeansLloyd(df: DataFrame, features: String, id: String,
                  k: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    val data = points(df, id, features)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assign = (cs: Array[Array[Double]]) => nearestCell(col("x"), cs)
    val centroids = lloyd(data, k, iters, assign)
    // sizes only: a null array counts without summing
    val sizes = foldExactVectorSumByKey(data.select(assign(centroids),
      lit(null).cast("array<double>")), centroids.length).map(_._2)
    data.unpersist(true)
    spark.createDataFrame(centroids.indices.map(i => (i, sizes(i), centroids(i).toSeq)))
      .toDF("cluster", "size", "centroid")
  }

  /** Closed-form single-feature OLS from EXACT decimal sufficient
    * statistics — deterministic and oracle-checkable (summation-order
    * independent), unlike any float solver. slope/intercept by the
    * textbook formula; one distributed aggregate, driver does two
    * divisions. */
  def olsExact(df: DataFrame, x: Column, y: Column): DataFrame = {
    val xd = x.cast("decimal(18,4)")
    val yd = y.cast("decimal(18,4)")
    val cc = df.filter(x.isNotNull && y.isNotNull)
    // Exact decimal sufficient statistics, then a fixed double-op
    // sequence — mirrored verbatim in the DuckDB oracle. (Keeping the
    // n·Sxy products in decimal would overflow DuckDB's 38-digit type
    // derivation; casting the exact sums to double first is
    // deterministic on both engines.)
    cc.agg(
      count(lit(1)).cast("double").as("n"),
      sum(xd).cast("double").as("sx"), sum(yd).cast("double").as("sy"),
      sum(xd * xd).cast("double").as("sxx"),
      sum(xd * yd).cast("double").as("sxy"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        col("n"), col("sx"), col("sy"))
      .select(col("slope"),
        (col("sy") / col("n") - col("slope") * (col("sx") / col("n")))
          .as("intercept"))
  }

  /** Per-group simple linear regression — "many small models in one
    * pass". Same exact-decimal sufficient statistics as [[olsExact]]
    * but grouped: each group's entire state is five numbers, folded by
    * ONE partial-aggregated hash shuffle, so a million groups cost the
    * same plan as one (no per-group iteration, no per-group task, no
    * driver loop — the degenerate-but-common "fit a model per segment"
    * workload that tempts people into collect()-and-loop). Groups with
    * zero x-variance yield null slope/intercept (0/0), surfaced rather
    * than masked. Returns (group, n, slope, intercept). */
  def olsByGroup(df: DataFrame, grp: Column, x: Column,
                 y: Column): DataFrame = {
    val xd = x.cast("decimal(18,4)")
    val yd = y.cast("decimal(18,4)")
    // Complete cases only: an unfiltered count(*) would disagree with
    // the null-skipping sums and silently bias every group's fit.
    df.filter(x.isNotNull && y.isNotNull).groupBy(grp)
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(xd).cast("double").as("__sx"), sum(yd).cast("double").as("__sy"),
        sum(xd * xd).cast("double").as("__sxx"),
        sum(xd * yd).cast("double").as("__sxy"))
      .withColumn("__den",
        col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope", when(col("__den") === 0.0, lit(null))
        .otherwise((col("__n") * col("__sxy") -
          col("__sx") * col("__sy")) / col("__den")))
      .withColumn("intercept",
        col("__sy") / col("__n") - col("slope") * (col("__sx") / col("__n")))
      .withColumn("n", col("__n").cast("long"))
      .drop("__n", "__sx", "__sy", "__sxx", "__sxy", "__den")
  }

  /** Gaussian NB sufficient statistics, the DAAL partial step: per
    * class `y`, the count `n` and the per-dim Σv (`sv`) and Σv² (`ssv`)
    * as whole-vector native exact sums, independent of partition and
    * summation order. */
  private def nbStats(df: DataFrame, features: String, label: String): DataFrame = {
    val x = col(features).cast("array<double>")
    df.groupBy(col(label).cast("int").as("y")).agg(count(lit(1)).as("n"),
      exactVectorSum(x).as("sv"), exactVectorSum(transform(x, v => v * v)).as("ssv"))
  }

  /** `NaiveBayes(points, responses, classes)` — Gaussian NB (features
    * may be negative, e.g. embeddings). The k [[nbStats]] rows are
    * gathered to the driver and finalized unrounded in
    * [[naiveBayesExact]]'s op order. One narrow projection then scores
    * each class, ln(prior) + Σ_d [−½·ln(2π·v) − (x_d − μ_d)²/(2v)] with
    * the spark.ml/scikit-learn smoothing v = var + 1e-9·max(var) (a
    * zero-variance dimension stays finite), expanded to
    * K − x²·(1/2v) + x·(μ/v) so a class costs two native dot kernels;
    * the DuckDB oracle's unexpanded form differs by ~1e-13, far below
    * the fixtures' smallest best-vs-second gap (1.6e-4). The argmax
    * takes the lowest class on a tie. Returns (id, label, prediction: int). */
  def naiveBayes(df: DataFrame, features: String, label: String,
                 id: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val stats = nbStats(df, features, label).collect()
    val total = stats.map(_.getLong(1)).sum.toDouble
    val classes = stats.filterNot(_.isNullAt(0)).sortBy(_.getInt(0)).toSeq
    val fit = classes.map { r => // (n, mean, variance) per class
      val (n, s, ss) = (r.getLong(1).toDouble, r.getSeq[Double](2), r.getSeq[Double](3))
      (n, s.map(_ / n), s.indices.map(d => ss(d) / n - (s(d) / n) * (s(d) / n)))
    }
    val eps = 1e-9 * fit.flatMap(_._3).max
    val scores = fit.map { case (n, mu, variance) =>
      val v = variance.map(_ + eps)
      val k = math.log(n / total) - v.indices.map(d =>
        0.5 * math.log(2 * math.Pi * v(d)) + mu(d) * mu(d) / (2 * v(d))).sum
      lit(k) - dot(col("__x2"), typedLit(v.map(vd => 1 / (2 * vd)))) +
        dot(col("__x"), typedLit(v.indices.map(d => mu(d) / v(d))))
    }
    // x, x² and the scores are each computed once per row (read twice
    // below, so not inlined); array_position finds the FIRST max.
    df.select(col(id), col(label),
        col(features).cast("array<double>").as("__x"))
      .withColumn("__x2", transform(col("__x"), v => v * v))
      .select(col(id), col(label), array(scores: _*).as("__s"))
      .select(col(id), col(label), element_at(typedLit(classes.map(_.getInt(0))),
        array_position(col("__s"), array_max(col("__s"))).cast("int")).as("prediction"))
  }

  /** Engine-native Gaussian Naive Bayes FIT — the DAAL-bridge topology
    * (local partials → gather → master finalize): the [[nbStats]]
    * aggregate exploded per (class, dim), then the fixed double op
    * sequence mean = s/n, var = ss/n − (s/n)², prior = n/total.
    * Deterministic and DuckDB-oracle-checkable. Returns
    * (y, dim, prior, mean, variance) rounded to 6dp — the variance
    * subtraction cancels a few digits, so ulp-level agreement through
    * the cancellation is not asserted (same rationale as [[olsExact]]). */
  def naiveBayesExact(df: DataFrame, features: String, label: String): DataFrame = {
    val total = df.count().toDouble // O(1) driver scalar for the prior
    nbStats(df, features, label)
      .select(col("y"), col("n"),
        posexplode(arrays_zip(col("sv"), col("ssv"))).as(Seq("dim", "z")))
      .select(col("y"), col("dim"), col("n"),
        col("z.sv").as("s"), col("z.ssv").as("ss"))
      .select(col("y"), col("dim"),
        round(col("n") / lit(total), 6).as("prior"),
        round(col("s") / col("n"), 6).as("mean"),
        round(col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")), 6)
          .as("variance"))
  }

  /** The reference's flagship iterative pattern
    * (examples/logistic_regression.jl:35-47): batch gradient descent,
    * w replicated, one gradient allreduce per iteration. Here: the
    * (x, y) rows are cached once, spread over the cores; each step is
    * ONE job that folds the gradient exactly inside every partition
    * ([[graft.functions.ExactSumFunctions.foldExactVectorSumByKey]],
    * under the one key 0) and
    * returns only the merged fixed-point sums (≈ MPI_Allreduce); w
    * re-enters the next step's plan as an array literal (≈ broadcast).
    * The row count rides on each fold, so no `count()` job runs.
    * Returns final weights as one row. */
  def logisticRegression(df: DataFrame, features: String, label: String,
                         dim: Int, iters: Int, lr: Double): DataFrame = {
    val spark = df.sparkSession
    val data = Frames.spread(df.select(
        col(features).cast("array<double>").as("x"),
        col(label).cast("double").as("y")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w = Array.fill(dim)(0.0)
    for (_ <- 1 to iters) {
      // Margin and gradient scaling are the native vector kernels
      // (graft_dot / graft_scale): an index-order loop from a 0.0 seed,
      // the same IEEE per-row arithmetic as the left-associated
      // element_at chain the oracle mirrors, in an O(1) expression
      // tree. Spark's Exp is StrictMath.exp, so the sigmoid is the same
      // on every JVM. The array literal is a codegen reference object:
      // the generated code is identical every step and compiles once.
      val margin = graft.functions.VectorFunctions.dot(col("x"), typedLit(w))
      val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")
      // Per-row products stay double (deterministic per row); the
      // cross-row sum is exact decimal, so the gradient — and the whole
      // descent trajectory — is independent of partitioning and of
      // summation order (oracle-checkable). `n` counts every row, as
      // `count()` does.
      val (grad, n) = foldExactVectorSumByKey(
        data.select(lit(0), graft.functions.VectorFunctions.scale(col("x"), err)), 1)(0)
      // a step with no complete row has no gradient and leaves w as is
      if (grad != null)
        w = w.zip(grad).map { case (wi, gi) => wi - lr * gi / n.toDouble }
    }
    data.unpersist(true)
    spark.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("weights")
  }
}
