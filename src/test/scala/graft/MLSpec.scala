package graft

import org.apache.spark.sql.functions._
import graft.operators.ML

/** Golden tests for the ML kernels on small separable data. */
class MLSpec extends SparkSpec {

  test("transposeHcat builds per-row feature arrays") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)).toDF("a", "b", "c")
    val got = ML.transposeHcat(df, Seq("a", "b", "c"), "fv")
      .select("fv").collect().map(_.getSeq[Double](0))
    assert(got.toSeq == Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
  }

  test("olsExact recovers a known linear relation") {
    import spark.implicits._
    // y = 3x + 7, exactly representable at decimal(18,4)
    val df = (1 to 100).map(i => (i.toDouble, 3.0 * i + 7.0))
      .toDF("x", "y")
    val r = ML.olsExact(df, col("x"), col("y")).head()
    assert(math.abs(r.getDouble(0) - 3.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 7.0) < 1e-9)
  }

  test("olsByGroup fits each segment independently in one aggregate") {
    import spark.implicits._
    // group a: y = 2x + 1; group b: y = -0.5x + 10; group c: constant x
    // (zero variance → null fit, surfaced not masked)
    val df = ((1 to 50).map(i => ("a", i.toDouble, 2.0 * i + 1.0)) ++
      (1 to 50).map(i => ("b", i.toDouble, -0.5 * i + 10.0)) ++
      (1 to 5).map(_ => ("c", 4.0, 9.0)))
      .toDF("g", "x", "y")
    val r = ML.olsByGroup(df, col("g"), col("x"), col("y"))
      .collect().map(row => row.getString(0) ->
        (row.getLong(3), Option(row.get(1)).map(_ => row.getDouble(1)),
          Option(row.get(2)).map(_ => row.getDouble(2)))).toMap
    assert(r("a")._1 == 50 && math.abs(r("a")._2.get - 2.0) < 1e-9 &&
      math.abs(r("a")._3.get - 1.0) < 1e-9)
    assert(math.abs(r("b")._2.get + 0.5) < 1e-9 &&
      math.abs(r("b")._3.get - 10.0) < 1e-9)
    assert(r("c")._2.isEmpty && r("c")._3.isEmpty)
    // null x or y drops the ROW (complete cases): n must agree with the
    // sums, or the fit is silently biased
    val withNulls = ((1 to 50).map(i =>
      ("a", Some(i.toDouble), Some(2.0 * i + 1.0))) ++
      (1 to 50).map(i => ("a", Some(i.toDouble), None: Option[Double])))
      .toDF("g", "x", "y")
    val rn = ML.olsByGroup(withNulls, col("g"), col("x"), col("y")).head()
    assert(rn.getLong(3) == 50 &&
      math.abs(rn.getDouble(1) - 2.0) < 1e-9 &&
      math.abs(rn.getDouble(2) - 1.0) < 1e-9)
    // one partial/final hash aggregate, no window or per-group sort
    val plan = ML.olsByGroup(df, col("g"), col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("Window") &&
      !plan.toLowerCase.contains("sortaggregate"))
  }

  test("kmeansLloyd separates blobs, deterministic across runs") {
    import spark.implicits._
    val pts = (1 to 50).map(i => (i.toLong, Seq(0.0 + i * 0.001, 0.0))) ++
      (1 to 50).map(i => (50L + i, Seq(10.0 + i * 0.001, 10.0)))
    val df = pts.toDF("id", "embedding")
    def run() = ML.kmeansLloyd(df, "embedding", "id", k = 2, iters = 5)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toList))
    val a = run()
    assert(a.map(_._2).sorted.toSeq == Seq(50L, 50L))
    // centroids land on the blob means
    assert(a.exists(c => math.abs(c._3.head - 0.0255) < 1e-3 &&
      c._3(1) == 0.0))
    assert(a.exists(c => math.abs(c._3.head - 10.0255) < 1e-3 &&
      c._3(1) == 10.0))
    // bit-identical on re-run (deterministic init + codegen'd path)
    assert(a.toSeq == run().toSeq)
  }

  test("kmeansLloyd: a null vector seeds no cell and counts in none") {
    import spark.implicits._
    val pts = (1 to 30).map(i =>
      (i.toLong, Option(Seq((i % 3) * 5.0 + i * 0.01, i * 0.1))))
    def run(rows: Seq[(Long, Option[Seq[Double]])]) =
      ML.kmeansLloyd(rows.toDF("id", "embedding"), "embedding", "id",
          k = 3, iters = 4)
        .orderBy("cluster").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toList)).toSeq
    // the null vector holds the smallest id, so a seed pick that took
    // it would start from a null centroid
    val got = run((0L, None) +: pts)
    assert(got == run(pts))
    assert(got.map(_._2).sum == 30)
  }

  test("native sqDist matches scala reference") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(2.0, 0.0, 3.5))).toDF("a", "b")
    val got = df.select(graft.functions.VectorFunctions
      .sqDist(col("a"), col("b"))).head().getDouble(0)
    assert(got == (1.0 + 4.0 + 0.25))
  }

  test("naiveBayes classifies separable gaussians") {
    import spark.implicits._
    val rows = (1 to 40).map(i =>
      (i.toLong, Seq(1.0 + (i % 5) * 0.01, 1.0), 0)) ++
      (41 to 80).map(i => (i.toLong, Seq(-1.0 - (i % 5) * 0.01, -1.0), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val preds = ML.naiveBayes(df, "embedding", "label", classes = 2, "vec_id")
    val acc = preds.filter(col("label") === col("prediction")).count().toDouble /
      preds.count()
    assert(acc == 1.0)
  }

  test("naiveBayes: identical class statistics tie to the lower class") {
    import spark.implicits._
    // labels 7 and 3 each hold x ∈ {0, 2}: equal priors (½), means (1)
    // and variances (1), so every row scores the two classes equally
    val df = Seq((1L, Seq(0.0), 7), (2L, Seq(2.0), 7),
      (3L, Seq(0.0), 3), (4L, Seq(2.0), 3)).toDF("vec_id", "embedding", "label")
    val got = ML.naiveBayes(df, "embedding", "label", classes = 8, "vec_id")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(got == Seq((1L, 3), (2L, 3), (3L, 3), (4L, 3)))
  }

  test("naiveBayesExact: hand-computed priors/means/variances") {
    import spark.implicits._
    // class 0: x1 ∈ {1, 3} → mean 2, var 1; class 1: x1 ∈ {6} → var 0
    val df = Seq(
      (1L, Seq(1.0, 10.0), 0), (2L, Seq(3.0, 10.0), 0),
      (3L, Seq(6.0, -2.0), 1)).toDF("vec_id", "embedding", "label")
    val got = ML.naiveBayesExact(df, "embedding", "label", classes = 2)
      .orderBy("y", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      (0, 0, 0.666667, 2.0, 1.0), (0, 1, 0.666667, 10.0, 0.0),
      (1, 0, 0.333333, 6.0, 0.0), (1, 1, 0.333333, -2.0, 0.0)))
  }

  test("naive Bayes label domain: null label counts, empty class absent, outside fails") {
    import spark.implicits._
    // class 0: x ∈ {1, 3}; a null label holds x = 5; class 2 has no rows
    val df = Seq((1L, Seq(1.0), Some(0)), (2L, Seq(3.0), Some(0)),
      (3L, Seq(5.0), None)).toDF("vec_id", "embedding", "label")
    val got = ML.naiveBayesExact(df, "embedding", "label", classes = 3)
      .collect().map(r => (Option(r.get(0)), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == Set((Some(0), 0, 0.666667, 2.0, 1.0), (None, 0, 0.333333, 5.0, 0.0)))
    // naiveBayes predicts the labelled classes only
    val preds = ML.naiveBayes(df, "embedding", "label", classes = 3, "vec_id")
      .collect().map(_.getInt(2)).toSet
    assert(preds == Set(0))
    val bad = Seq((1L, Seq(1.0), 0), (2L, Seq(3.0), 3))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException](
      ML.naiveBayesExact(bad, "embedding", "label", classes = 3))
    assert(e.getMessage.contains("label outside 0..2"), e.getMessage)
  }

  test("logisticRegression learns a separating direction") {
    import spark.implicits._
    val rows = (1 to 40).map(i => (Seq(1.0, 0.5 + (i % 7) * 0.01), 1.0)) ++
      (41 to 80).map(i => (Seq(-1.0, -0.5 - (i % 7) * 0.01), 0.0))
    val df = rows.toDF("x", "y")
    val w = ML.logisticRegression(df, "x", "y", dim = 2, iters = 50, lr = 1.0)
      .head().getSeq[Double](0)
    assert(w(0) > 0.5, s"w=$w should point toward the positive class")
  }

  test("logisticRegression descent is bit-pinned for any input partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019)
    val rows = Seq.fill(300) {
      val x = Seq.fill(8)(rnd.nextGaussian())
      (x, if (x(0) - 0.5 * x(3) + 0.3 * rnd.nextGaussian() > 0) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "y")
    def bits(parts: Int): Seq[String] =
      ML.logisticRegression(df.repartition(parts), "x", "y", dim = 8,
        iters = 5, lr = 0.5).head().getSeq[Double](0)
        .map(d => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
    // raw weight bits, recorded from the earlier loop that ran one
    // exact-sum aggregate per step
    val pinned = Seq("3fe7387de6c95baf", "3fab8beb88c2a3e5", "3f9655ceaf8321df",
      "bfcfa074bb70bf1b", "bf8a9d88a247a09b", "bfb94807c0a481bc",
      "3fa397ab78e0f6e0", "bfac67edf4b10df2")
    Seq(1, 3, 8).foreach(p => assert(bits(p) == pinned, s"$p partitions"))
  }

  test("logisticRegression runs the spread's map stage plus one job per step") {
    import spark.implicits._
    val sc = spark.sparkContext
    val df = (1 to 40).map(i => (Seq(i % 7 - 3.0, 1.0), (i % 2).toDouble))
      .toDF("x", "y").coalesce(1)
    val group = "graft-logreg-jobs"
    sc.setJobGroup(group, "logisticRegression job count")
    try ML.logisticRegression(df, "x", "y", dim = 2, iters = 3, lr = 0.5).collect()
    finally sc.clearJobGroup()
    // job starts reach the status store through the async listener bus
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group).length < 4 &&
        System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(500)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1 + 3, s"jobs: ${jobs.sorted.mkString(", ")}")
  }
}
