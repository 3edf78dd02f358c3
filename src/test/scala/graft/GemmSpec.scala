package graft

import org.apache.spark.sql.functions._
import graft.operators.Gemm

/** Blocked distributed GEMM: exact goldens against a naive in-memory
  * multiply (integer-valued doubles — every product and partial dot is
  * exact in double, so equality is bit-level, not tolerance). */
class GemmSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)

  /** Random integer-valued m×n matrix as a local array. */
  private def mat(m: Int, n: Int): Array[Array[Double]] =
    Array.fill(m, n)((rnd.nextInt(19) - 9).toDouble)

  private def naive(a: Array[Array[Double]],
                    b: Array[Array[Double]]): Array[Array[Double]] = {
    val (m, k, n) = (a.length, b.length, b(0).length)
    val c = Array.fill(m, n)(0.0)
    for (i <- 0 until m; p <- 0 until k; j <- 0 until n)
      c(i)(j) += a(i)(p) * b(p)(j)
    c
  }

  private def toCoo(x: Array[Array[Double]]) = {
    import spark.implicits._
    (for (i <- x.indices; j <- x(i).indices)
      yield (i.toLong, j.toLong, x(i)(j))).toDF("i", "j", "v")
  }

  test("toBlocks/blocksToCoo round-trips, zero-padding the edge blocks") {
    val a = mat(7, 5) // 7×5 with bs=4 → 2×2 blocks, padded
    val back = Gemm.blocksToCoo(Gemm.toBlocks(toCoo(a), 4), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(back.size == 64) // 2×2 blocks × 16 cells, dense
    for (i <- 0 until 8; j <- 0 until 8) {
      val want = if (i < 7 && j < 5) a(i)(j) else 0.0
      assert(back((i.toLong, j.toLong)) == want, s"cell ($i,$j)")
    }
  }

  test("multiplyBlocked matches the naive multiply exactly") {
    val a = mat(9, 12)
    val b = mat(12, 6)
    val want = naive(a, b)
    val got = Gemm.blocksToCoo(
      Gemm.multiplyBlocked(Gemm.toBlocks(toCoo(a), 4),
        Gemm.toBlocks(toCoo(b), 4), 4), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    for (i <- 0 until 9; j <- 0 until 6)
      assert(got((i.toLong, j.toLong)) == want(i)(j), s"cell ($i,$j)")
    // padded cells outside the true shape are exactly zero
    for (((i, j), v) <- got if i >= 9 || j >= 6)
      assert(v == 0.0, s"padding ($i,$j)")
  }

  test("multiplyBlocked is invariant to inner-dimension partitioning") {
    val a = mat(8, 8)
    val b = mat(8, 8)
    def run(parts: Int) = Gemm.blocksToCoo(
      Gemm.multiplyBlocked(Gemm.toBlocks(toCoo(a).repartition(parts), 4),
        Gemm.toBlocks(toCoo(b).repartition(parts), 4), 4), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(run(1) == run(7))
  }

  test("gram equals the direct XᵀX computation") {
    import spark.implicits._
    val x = Array.fill(30, 8)(rnd.nextDouble() - 0.5)
    val df = x.toSeq.map(r => Tuple1(r.toSeq)).toDF("fv")
    val got = Gemm.gram(df, "fv", 8)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(got.size == 64)
    for (i <- 0 until 8; j <- 0 until 8) {
      // reference: exact-decimal sum of the double products, same
      // contract the engine promises
      val want = x.map(r => BigDecimal(r(i) * r(j))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(got((i, j)) == want, s"cell ($i,$j)")
    }
  }

  test("Pca.fit and gram each execute one query, the fold, with no aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = Array.fill(20, 8)(1.0).toSeq.map(r => Tuple1(r.toSeq)).toDF("gram_fv")
    for (run <- Seq[() => Unit](
        () => graft.operators.Pca.fit(df, "gram_fv", 8, k = 2),
        () => Gemm.gram(df, "gram_fv", 8))) {
      // A straggling event of an earlier test does not read gram_fv.
      val qes = PlanCapture.during(spark)(run())
        .filter(_.analyzed.toString.contains("gram_fv"))
      assert(qes.size == 1, qes.map(_.analyzed).mkString("\n---\n"))
      assert(qes.head.optimizedPlan.collect { case a: Aggregate => a }.isEmpty,
        qes.head.optimizedPlan.toString)
    }
  }
}
