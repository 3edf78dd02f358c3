package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca

/** PCA laws: known-axis golden on planted 2-D data, eigenbasis algebra
  * on the fixture covariance, projection variance == eigenvalues. */
class PcaSpec extends SparkSpec {

  test("fit recovers a planted principal axis in 2-D") {
    import spark.implicits._
    // points on the line y = 2x plus a small orthogonal wiggle:
    // first PC ∝ (1,2)/√5, second ∝ (-2,1)/√5 (canonical sign flips
    // it to (2,-1)-negative form → largest-|comp| positive).
    val pts = (0 until 200).map { i =>
      val t = (i - 100) / 10.0
      val w = if (i % 2 == 0) 0.05 else -0.05
      (i.toLong, Seq((t - 2.0 * w).toFloat, (2.0 * t + w).toFloat))
    }
    val df = pts.toDF("id", "v")
    val m = Pca.fit(df, "v", dim = 2, k = 2)
    val n1 = math.sqrt(m.components(0).map(x => x * x).sum)
    val c1 = m.components(0).map(_ / n1)
    assert(math.abs(c1(0) - 1.0 / math.sqrt(5)) < 1e-3)
    assert(math.abs(c1(1) - 2.0 / math.sqrt(5)) < 1e-3)
    assert(m.eigenvalues(0) > 100 * m.eigenvalues(1))
  }

  test("eigenbasis is orthonormal and satisfies C·v = λv on the fixture") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dim = 64
    val m = Pca.fit(e, "embedding", dim, k = 4)
    // orthonormal rows
    for (a <- 0 until 4; b <- a until 4) {
      val dot = (0 until dim).map(d => m.components(a)(d) * m.components(b)(d)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"v${a}.v$b = $dot")
    }
    // C·v ≈ λ·v against the independently-computed covariance rows
    val cov = Array.ofDim[Double](dim, dim)
    Pca.covariance(e, "embedding", dim).collect()
      .foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    for (c <- 0 until 4) {
      val v = m.components(c); val lam = m.eigenvalues(c)
      for (i <- 0 until dim) {
        val cv = (0 until dim).map(j => cov(i)(j) * v(j)).sum
        assert(math.abs(cv - lam * v(i)) < 1e-8,
          s"(Cv)_$i=$cv vs λv_$i=${lam * v(i)}")
      }
    }
  }

  test("power-iteration twin: converges on a dominant axis; bounded on the fixture") {
    import spark.implicits._
    // planted spectrum: a strongly dominant direction (λ1 >> λ2), so 8
    // steps converge hard — the (λ2/λ1)^k rate is what power iteration
    // guarantees; the near-flat random-embedding spectrum is NOT a
    // convergence case and the fixture assertions below are the
    // variational bounds instead.
    val planted = (0 until 40).map { i =>
      val t = (i - 19.5) / 4.0
      (i.toLong, Seq(10.0 * t, math.sin(i.toDouble), math.cos(3.0 * i)))
    }.toDF("id", "embedding")
    val pm = Pca.fit(planted, "embedding", dim = 3, k = 1)
    val prow = Pca.powerIterationPc1(planted, "embedding", dim = 3, iters = 8)
      .collect().sortBy(_.getInt(0))
    val pv = prow.map(_.getDouble(1))
    val pdot = pv.zip(pm.components(0)).map { case (a, b) => a * b }.sum
    assert(pdot > 0.999, s"planted PC1 alignment $pdot")
    assert(math.abs(prow.head.getDouble(2) - pm.eigenvalues(0))
      < 1e-6 * (1 + pm.eigenvalues(0)))

    // fixture (flat spectrum): unit norm, and the Rayleigh quotient is
    // sandwiched by the variational bounds λ_min ≤ vᵀCv ≤ λ_max and
    // must already beat the all-ones start's quotient (each step is
    // non-decreasing in exact arithmetic).
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val m = Pca.fit(e, "embedding", dim = 64, k = 64)
    val rows = Pca.powerIterationPc1(e, "embedding", dim = 64, iters = 8)
      .collect().sortBy(_.getInt(0))
    val v = rows.map(_.getDouble(1))
    val lam = rows.head.getDouble(2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    assert(lam <= m.eigenvalues(0) * (1 + 1e-9), s"λ $lam > λ1")
    assert(lam >= m.eigenvalues.last - 1e-9, s"λ $lam < λmin")
  }

  test("projected scores are centered with variance == eigenvalues") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val m = Pca.fit(e, "embedding", dim = 64, k = 2)
    val rows = Pca.project(e, "vec_id", "embedding", m).collect()
    val n = rows.length.toDouble
    for (c <- 0 until 2) {
      val xs = rows.map(_.getDouble(c + 1))
      val mean = xs.sum / n
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(mean) < 1e-9, s"pc${c + 1} mean $mean")
      assert(math.abs(varc - m.eigenvalues(c)) < 1e-6 * (1 + varc),
        s"pc${c + 1} var $varc vs λ ${m.eigenvalues(c)}")
    }
  }

  test("covariance bits: same on 1, 3 and 8 partitions, equal to the decimal-cast sums") {
    import spark.implicits._
    val dim = 5
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * 3.0))).toDF("id", "v")
    def cov(parts: Int) = Pca.covariance(df.repartition(parts), "v", dim)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // the statistics as plain decimal aggregates over the same rows
    def dec(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(27,18)")).cast("double")
    val x = (d: Int) => element_at(col("v"), d + 1)
    val aggs = (0 until dim).map(d => dec(x(d))) ++
      (for (i <- 0 until dim; j <- 0 until dim) yield dec(x(i) * x(j)))
    val r = df.agg(count(lit(1)).cast("double"), aggs: _*).head()
    val n = r.getDouble(0)
    val mean = Array.tabulate(dim)(d => r.getDouble(1 + d) / n)
    val want = (for (i <- 0 until dim; j <- 0 until dim) yield (i, j) ->
      (r.getDouble(1 + dim + i * dim + j) / n - mean(i) * mean(j))).toMap
    for (parts <- Seq(1, 3, 8)) assert(cov(parts) == want, s"$parts partitions")
  }
}
