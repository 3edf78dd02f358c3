package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ExactSumFunctions.foldExactVectorSumByKey
import graft.functions.VectorFunctions.nearestCell

/** ML kernels — one engine-native implementation per reference call.
  *
  * Reference surface (/root/reference/src/api.jl:6,32-55):
  * `Kmeans(points, k, iters)`, `LinearRegression(points, responses)`,
  * `NaiveBayes(points, responses, classes)`; DistributedPass swaps in
  * Intel DAAL distributed kernels (partial results gathered to rank 0,
  * model broadcast back — src/cgen-hpat-pattern-match-daal.jl:28-471).
  * Each kernel here has that topology: [[olsExact]] sums exact-decimal
  * partials in one aggregate, [[naiveBayes]] folds them per partition
  * in one job, and [[lloyd]] (under [[kmeansLloyd]]) and
  * [[logisticRegression]] in one such fold per step; the driver
  * finalizes the k·dim (or five) numbers,
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
    * [[points]]; the caller stages it. The seeds are the non-null
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
    val data = Frames.stage(points(df, id, features), eager = false)
    val assign = (cs: Array[Array[Double]]) => nearestCell(col("x"), cs)
    val centroids = lloyd(data, k, iters, assign)
    // sizes only: a null array counts without summing
    val sizes = foldExactVectorSumByKey(data.select(assign(centroids),
      lit(null).cast("array<double>")), centroids.length).map(_._2)
    Frames.free(data)
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

  /** One class's Gaussian NB fit: label (None for the null label), row
    * count and per-dim mean and population variance. */
  private final case class NbClass(y: Option[Int], n: Long,
                                   mean: Array[Double], variance: Array[Double])

  /** Gaussian NB fit in the DAAL topology: ONE exact fold
    * ([[graft.functions.ExactSumFunctions.foldExactVectorSumByKey]])
    * keyed by class over `x ++ x²` gives each class's count, Σx and Σx²
    * (exact, so independent of partition and summation order); the
    * driver finalizes mean = s/n, var = ss/n − (s/n)². A null label
    * folds into the spare slot `classes` and counts in the total; a
    * class with no rows (or only null vectors) yields nothing; a
    * non-null label outside 0..classes-1 fails. Returns (total rows,
    * classes in label order, the null label last). */
  private def nbFit(df: DataFrame, features: String, label: String,
                    classes: Int): (Long, Seq[NbClass]) = {
    val y = col(label).cast("int")
    val slot = when(y.isNull, classes).when(y >= 0 && y < classes, y)
      .otherwise(classes + 1)
    val slots = foldExactVectorSumByKey(
      df.select(slot.as("k"), col(features).cast("array<double>").as("x"))
        .select(col("k"), concat(col("x"), transform(col("x"), v => v * v))),
      classes + 2)
    require(slots(classes + 1)._2 == 0,
      s"naive Bayes: $label outside 0..${classes - 1} in ${slots(classes + 1)._2} rows")
    val fit = (0 to classes).collect { case k if slots(k)._1 != null =>
      val (s, n) = slots(k)
      val nD = n.toDouble
      val d = s.length / 2
      val mean = Array.tabulate(d)(i => s(i) / nD)
      NbClass(if (k < classes) Some(k) else None, n, mean,
        Array.tabulate(d)(i => s(d + i) / nD - mean(i) * mean(i)))
    }
    (slots.map(_._2).sum, fit)
  }

  /** `NaiveBayes(points, responses, classes)` — Gaussian NB (features
    * may be negative, e.g. embeddings) over labels 0..classes-1. The
    * [[nbFit]] of each class enters one narrow projection that scores
    * each class, ln(prior) + Σ_d [−½·ln(2π·v) − (x_d − μ_d)²/(2v)] with
    * the spark.ml/scikit-learn smoothing v = var + 1e-9·max(var) (a
    * zero-variance dimension stays finite), expanded to
    * K − x²·(1/2v) + x·(μ/v) so a class costs two native dot kernels;
    * the DuckDB oracle's unexpanded form differs by ~1e-13, far below
    * the fixtures' smallest best-vs-second gap (1.6e-4). The argmax
    * takes the lowest class on a tie. Returns (id, label, prediction: int). */
  def naiveBayes(df: DataFrame, features: String, label: String,
                 classes: Int, id: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val (total, all) = nbFit(df, features, label, classes)
    val fit = all.filter(_.y.isDefined)
    val eps = 1e-9 * fit.flatMap(_.variance).max
    val scores = fit.map { c =>
      val v = c.variance.map(_ + eps)
      val k = math.log(c.n.toDouble / total) - v.indices.map(d =>
        0.5 * math.log(2 * math.Pi * v(d)) + c.mean(d) * c.mean(d) / (2 * v(d))).sum
      lit(k) - dot(col("__x2"), typedLit(v.map(vd => 1 / (2 * vd)))) +
        dot(col("__x"), typedLit(v.indices.map(d => c.mean(d) / v(d))))
    }
    // x, x² and the scores are each computed once per row (read twice
    // below, so not inlined); array_position finds the FIRST max.
    df.select(col(id), col(label),
        col(features).cast("array<double>").as("__x"))
      .withColumn("__x2", transform(col("__x"), v => v * v))
      .select(col(id), col(label), array(scores: _*).as("__s"))
      .select(col(id), col(label), element_at(typedLit(fit.map(_.y.get)),
        array_position(col("__s"), array_max(col("__s"))).cast("int")).as("prediction"))
  }

  /** Engine-native Gaussian Naive Bayes FIT: the [[nbFit]] of each
    * class (the null label's included) as a local frame of
    * (y, dim, prior, mean, variance) with prior = n/total, rounded to
    * 6dp — the variance subtraction cancels a few digits, so
    * ulp-level agreement through the cancellation is not asserted (same
    * rationale as [[olsExact]]). Deterministic and DuckDB-oracle-checkable. */
  def naiveBayesExact(df: DataFrame, features: String, label: String,
                      classes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (total, fit) = nbFit(df, features, label, classes)
    fit.flatMap(c => c.mean.indices.map(d =>
        (c.y, d, c.n.toDouble / total, c.mean(d), c.variance(d))))
      .toDF("y", "dim", "prior", "mean", "variance")
      .select(col("y"), col("dim"), round(col("prior"), 6).as("prior"),
        round(col("mean"), 6).as("mean"), round(col("variance"), 6).as("variance"))
  }

  /** The reference's flagship iterative pattern
    * (examples/logistic_regression.jl:35-47): batch gradient descent,
    * w replicated, one gradient allreduce per iteration. Here: the
    * (x, y) rows are staged once, spread over the cores; each step is
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
    val data = Frames.stage(Frames.spread(df.select(
        col(features).cast("array<double>").as("x"),
        col(label).cast("double").as("y"))), eager = false)
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
    Frames.free(data)
    spark.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("weights")
  }
}
