package graft

import org.apache.spark.sql.functions._
import graft.operators.Encode

/** Feature-prep goldens: label-encoding determinism (frequency order,
  * tie-break, unseen → -1), hashing-trick invariants, standardization
  * math. */
class EncodeSpec extends SparkSpec {

  test("labelFit orders codes by frequency desc then value asc") {
    import spark.implicits._
    val df = Seq("b", "b", "a", "a", "c", "b", null.asInstanceOf[String])
      .toDF("v")
    val dict = Encode.labelFit(df, col("v")).collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    // b (3) → 0; a (2) → 1; c (1) → 2; null not coded
    assert(dict == Map("b" -> 0, "a" -> 1, "c" -> 2))
  }

  test("labelTransform encodes unseen and null values as -1") {
    import spark.implicits._
    val fit = Seq("x", "x", "y").toDF("v")
    val dict = Encode.labelFit(fit, col("v"))
    val data = Seq(Some("x"), Some("y"), Some("zzz"), None).toDF("v")
    val got = Encode.labelTransform(data, "v", dict)
      .select(col("v"), col("v_code")).collect()
      .map(r => (Option(r.getString(0)), r.getInt(1))).toSet
    assert(got == Set((Some("x"), 0), (Some("y"), 1),
      (Some("zzz"), -1), (None, -1)))
  }

  test("hashFeatures: bucket range, token conservation, determinism") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat"), (2L, "  "), (3L, "a a a"))
      .toDF("id", "text")
    val got = Encode.hashFeatures(df, col("id"), col("text"), 32)
    val rows = got.collect()
    assert(rows.forall { r =>
      val b = r.getInt(1); b >= 0 && b < 32
    })
    // token counts are conserved per doc (6 tokens for doc 1, 0 for
    // the whitespace-only doc, 3 for doc 3 — all in one bucket)
    val perDoc = rows.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(perDoc == Map(1L -> 6L, 3L -> 3L))
    // same token → same bucket on repartitioned input
    val again = Encode.hashFeatures(df.repartition(7), col("id"),
      col("text"), 32).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == rows.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("standardScale: scaled dims have mean 0 / var 1; zero-var dim → 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 5.0)), (2L, Seq(2.0, 5.0)),
      (3L, Seq(3.0, 5.0)), (4L, Seq(4.0, 5.0))).toDF("id", "v")
    val got = Encode.standardScale(df, "v", "s")
      .select(col("id"), col("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // dim 1: mean 2.5, population std sqrt(1.25)
    val std = math.sqrt(1.25)
    (1 to 4).foreach { i =>
      assert(math.abs(got(i.toLong).head - (i - 2.5) / std) < 1e-12)
      assert(got(i.toLong)(1) == 0.0) // zero-variance dim
    }
    val scaled = (1 to 4).map(i => got(i.toLong).head)
    assert(math.abs(scaled.sum) < 1e-12)
    assert(math.abs(scaled.map(x => x * x).sum / 4 - 1.0) < 1e-12)
  }

  test("standardScale bits: same on 1 and 7 partitions, equal to the decimal-cast sums") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(30)(i =>
      (i.toLong, Seq.fill(3)(rnd.nextGaussian() * 2.0 + 1.0))).toDF("id", "v")
    def scaled(parts: Int) = Encode.standardScale(df.repartition(parts), "v", "s")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    def dec(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(27,18)")).cast("double")
    val r = df.agg(count(lit(1)).cast("double"), (0 until 3).flatMap { d =>
      val x = element_at(col("v"), d + 1); Seq(dec(x), dec(x * x)) }: _*).head()
    val n = r.getDouble(0)
    val mean = (0 until 3).map(d => r.getDouble(1 + 2 * d) / n)
    val std = (0 until 3).map(d =>
      math.sqrt(math.max(0.0, r.getDouble(2 + 2 * d) / n - mean(d) * mean(d))))
    val want = df.collect().map { row =>
      row.getLong(0) -> row.getSeq[Double](1).indices.map(d =>
        (row.getSeq[Double](1)(d) - mean(d)) / std(d))
    }.toMap
    assert(scaled(1) == want)
    assert(scaled(7) == want)
  }
}
