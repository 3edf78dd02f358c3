package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature preparation over corpus-scale tables: categorical label
  * encoding (fit/transform split), the hashing trick, and per-dimension
  * standardization of embedding columns.
  *
  * Reference scope: HPAT's ML surface hands dense matrices straight to
  * the kernels (/root/reference/src/capture-api.jl:147-205) and leaves
  * featurization to the user; these are the operators that produce
  * those matrices from raw columns in a training-data pipeline.
  *
  * Scale shapes:
  *  - label fit = one partial-aggregated hash aggregate to the
  *    CARDINALITY-sized dictionary; the code-assigning window sorts the
  *    dictionary, never the corpus (a categorical dictionary that does
  *    not fit one task is not a categorical column).
  *  - transform = broadcast hash join riding the scan stage.
  *  - hashing trick = stateless md5 arithmetic per token: no dictionary
  *    at any corpus size, engine-portable (the [[Sampling]] md5-prefix
  *    discipline), one (id, bucket) hash aggregate.
  *  - standardization = sufficient statistics (2·dim exact-decimal
  *    sums, KiB at any corpus size) gathered in one exact fold, then a
  *    literal-baked codegen'd projection — the [[Pca]] shape.
  */
object Encode {

  /** Fit a frequency-ordered label dictionary for a categorical
    * column: code 0 = most frequent value, ties broken by value
    * ascending — the StringIndexer contract made fully deterministic
    * (spark.ml breaks frequency ties by hash-partition order). Nulls
    * are not coded (they encode to -1 in [[labelTransform]]).
    * Returns (value, n, code). */
  def labelFit(df: DataFrame, value: Column): DataFrame = {
    val counts = df.select(value.as("value"))
      .filter(col("value").isNotNull)
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
    // Dictionary-sized single-partition window (cardinality rows).
    val w = Window.orderBy(col("n").desc, col("value").asc)
    counts.withColumn("code", (row_number().over(w) - 1).cast("int"))
  }

  /** Apply a fitted dictionary: adds `<valueCol>_code`, -1 for values
    * absent from the dictionary (and for nulls). Broadcast join — the
    * corpus never shuffles. */
  def labelTransform(df: DataFrame, valueCol: String,
                     dict: DataFrame): DataFrame =
    df.join(broadcast(dict.select(col("value").as("__dict_v"),
        col("code").as("__dict_c"))),
        col(valueCol) === col("__dict_v"), "left")
      .withColumn(s"${valueCol}_code",
        coalesce(col("__dict_c"), lit(-1)))
      .drop("__dict_v", "__dict_c")

  /** Hashing-trick bag-of-tokens features: whitespace tokens hashed to
    * `nBuckets` buckets by md5-prefix arithmetic (engine-portable,
    * deterministic, no fitted state), counts aggregated per
    * (id, bucket). Collisions are the accepted trade — the classic
    * fixed-width featurizer whose cost at 100 TB is one scan + one
    * partially-aggregated (id, bucket) aggregate. Returns
    * (id, bucket, n) sparse features; empty/whitespace-only texts
    * produce no rows. `nBuckets` ≤ 2²⁴ so the 6-hex-char prefix is
    * uniform across buckets. */
  def hashFeatures(df: DataFrame, id: Column, text: Column,
                   nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 24),
      s"nBuckets must be in [1, 2^24], got $nBuckets")
    df.select(id.as("id"),
        explode(graft.functions.Text.tokens(text)).as("__t"))
      .filter(col("__t") =!= "")
      .select(col("id"),
        (conv(substring(md5(col("__t")), 1, 6), 16, 10).cast("long")
          % nBuckets).cast("int").as("bucket"))
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-dimension standardization of an array column: `out(i) =
    * (x(i) − mean_i) / std_i`, zero-variance dimensions map to 0.
    *
    * One exact fold
    * ([[graft.functions.ExactSumFunctions.foldExactVectorSumByKey]]
    * under the key 0) gathers the component sums of `x ++ x²` and the
    * row count — order-free, so mean/std are bit-reproducible under any
    * partition layout; the 2·dim-double stats (KiB regardless of
    * corpus size, like the ML weight reductions) are baked into one
    * codegen'd literal projection. Population variance is computed as
    * `E[x²] − mean²` in a fixed IEEE op order — cancellation makes the
    * last ~3 digits engine-specific, so oracle comparisons round to
    * 6dp (the decimal-sum convention). */
  def standardScale(df: DataFrame, vec: String, out: String): DataFrame = {
    val xd = col(vec).cast("array<double>")
    val (s, count) = graft.functions.ExactSumFunctions.foldExactVectorSumByKey(
      df.select(xd.as("x")).select(lit(0),
        concat(col("x"), transform(col("x"), v => v * v))), 1)(0)
    val n = count.toDouble
    val dim = s.length / 2
    val mean = s.take(dim).toSeq.map(_ / n)
    val ex2 = s.drop(dim).toSeq.map(_ / n)
    // Clamp: E[x²] − mean² can be a tiny negative for a constant /
    // near-constant dimension (catastrophic cancellation of the rounded
    // doubles); without it sqrt yields NaN instead of the documented
    // zero-variance → 0 behavior.
    val std = mean.indices.map(i =>
      math.sqrt(math.max(0.0, ex2(i) - mean(i) * mean(i))))
    val mLit = typedlit(mean)
    val sLit = typedlit(std)
    df.withColumn(out,
      zip_with(
        zip_with(xd, mLit, (v, mn) => v - mn),
        sLit,
        (c, sd) => when(sd === 0.0, lit(0.0)).otherwise(c / sd)))
  }
}
