package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ExactSumFunctions

/** General distributed dense GEMM on block-partitioned matrices — the
  * reference's 2-D block-cyclic ScaLAPACK path re-expressed as Spark
  * relational algebra (reference: src/distributed-pass.jl:489-610,
  * `__hpat_gemm_2d`, BLOCK_SIZE=128 block-cyclic at src/HPAT.jl:94; the
  * reference ships that path disabled in its own CI,
  * test/runtests.jl:42-43).
  *
  * Layout: a matrix is a DataFrame of dense square blocks
  * `(bi int, bj int, m array<double>)`, `m` row-major `bs×bs`. This IS
  * the 2-D distribution: Spark hash-partitions blocks by (bi, bj), so
  * an n×n matrix spreads over the cluster in O(n²/bs²) units with no
  * driver-resident state — the Spark analog of the block-cyclic
  * ScaLAPACK grid (cyclicity itself is pointless under hash
  * partitioning, which already load-balances block coordinates).
  *
  * Multiply is the standard SUMMA-shaped plan, as a join + aggregate so
  * Catalyst owns the physical strategy:
  *   - equi-join A-blocks to B-blocks on the inner block index
  *     (A.bj = B.bi): each side is shuffled ONCE on one key — the
  *     replication that a broadcast-SUMMA would do per step rides in
  *     the join's hash exchange;
  *   - per pair, a local bs³ kernel (tight double loop — at bs=128
  *     that's the BLAS-3 granularity the reference uses);
  *   - partial C-blocks combine under `groupBy (A.bi, B.bj)` with the
  *     exact-decimal whole-vector sum, so the result is independent of
  *     the reduction order AND map-side partial aggregation keeps the
  *     final shuffle at O(#C-blocks × partitions), not O(#pairs).
  *
  * At 100 TB scale the shuffle volume is 2·|A|+|B| block bytes for the
  * join plus partial-aggregated C — the minimum any one-pass
  * distributed GEMM moves without replicating a side; when one operand
  * fits in memory Catalyst/AQE picks a broadcast join and the big side
  * is never shuffled at all.
  *
  * The Gram matrix is not blocked: `XᵀX` of a tall-skinny X is a
  * KiB-sized statistic the driver reads, so [[gram]] gathers it in one
  * exact fold, the DAAL topology of the ML kernels.
  */
object Gemm {

  /** COO (i, j, v) → dense `bs×bs` blocks (bi, bj, m). Absent cells are
    * 0; duplicate (i, j) entries are a data error (the scatter throws).
    * Indices are 0-based. One shuffle, keyed by block coordinate. */
  def toBlocks(coo: DataFrame, bs: Int,
               i: String = "i", j: String = "j",
               v: String = "v"): DataFrame = {
    // One-pass scatter of the collected (pos, val) entries into the
    // dense block (duplicate (i,j) entries are a data error). A
    // map_from_entries + per-cell element_at assembly is O(bs⁴) per
    // block in interpreted lookups — measurably the dominant cost.
    val scatter = udf((entries: Seq[org.apache.spark.sql.Row]) => {
      val out = new Array[Double](bs * bs)
      val seen = new Array[Boolean](bs * bs)
      entries.foreach { r =>
        val p = r.getInt(0)
        if (seen(p)) throw new IllegalArgumentException(
          s"duplicate COO entry at block position $p")
        seen(p) = true
        out(p) = r.getDouble(1)
      }
      out
    })
    val pos = ((col(i) % bs) * bs + (col(j) % bs)).cast("int")
    coo
      .select(
        (col(i).cast("long") / bs).cast("int").as("bi"),
        (col(j).cast("long") / bs).cast("int").as("bj"),
        pos.as("pos"), col(v).cast("double").as("val"))
      .groupBy("bi", "bj")
      .agg(collect_list(struct(col("pos"), col("val"))).as("e"))
      .select(col("bi"), col("bj"), scatter(col("e")).as("m"))
  }

  /** Blocks (bi, bj, m) → COO (i, j, v), all `bs²` cells per block
    * (dense within covered blocks). Narrow — no shuffle. */
  def blocksToCoo(blocks: DataFrame, bs: Int): DataFrame =
    blocks
      .select(col("bi"), col("bj"), posexplode(col("m")).as(Seq("pos", "v")))
      .select(
        (col("bi").cast("long") * bs + (col("pos") / bs).cast("long")).as("i"),
        (col("bj").cast("long") * bs + col("pos") % bs).as("j"),
        col("v"))

  /** C = A·B on block DataFrames (same `bs` both sides). The local
    * bs³ kernel runs in double (each partial C-block is a
    * deterministic function of its two operand blocks); the cross-pair
    * combine is the exact-decimal vector sum, so C is bit-identical
    * under any partitioning of the inner dimension. */
  def multiplyBlocked(a: DataFrame, b: DataFrame, bs: Int): DataFrame = {
    a.as("a").join(b.as("b"), col("a.bj") === col("b.bi"))
      .select(col("a.bi").as("bi"), col("b.bj").as("bj"),
        graft.functions.VectorFunctions
          .blockMultiply(col("a.m"), col("b.m"), bs).as("p"))
      .groupBy("bi", "bj")
      .agg(ExactSumFunctions.exactVectorSum(col("p")).as("m"))
  }

  /** Gram matrix `XᵀX` of an `array<numeric>` feature column — the
    * reference's `points·pointsʼ` gemm-reduce pattern
    * (src/distributed-pass.jl:699-820), a reduce to one rank, not a
    * distributed result: [[Pca.stats]]'s one exact fold, returned as
    * the local (i, j, val) frame of the full dim×dim matrix. Every cell
    * is an exact decimal sum of single correctly-rounded double products
    * (no local dot accumulation), so it equals
    * `SUM(CAST(x[i]*x[j] AS DECIMAL(27,18)))` bit-for-bit under Spark's
    * cast semantics, and is partition-order-free.
    * (Cross-engine caveat: DuckDB's double→decimal cast rounds the
    * binary value where Java rounds the shortest decimal repr, so the
    * 18th fractional digit of individual products can differ — oracle
    * compares round to 6dp, like every decimal-sum oracle here.) */
  def gram(df: DataFrame, features: String, dim: Int): DataFrame =
    cells(df.sparkSession, Pca.stats(df, features, dim)._3, "val")

  /** A driver-held square matrix as a local (i, j, `name`) frame. */
  private[operators] def cells(spark: SparkSession, m: Array[Array[Double]],
                               name: String): DataFrame = {
    import spark.implicits._
    (for (i <- m.indices; j <- m.indices) yield (i, j, m(i)(j))).toDF("i", "j", name)
  }
}
