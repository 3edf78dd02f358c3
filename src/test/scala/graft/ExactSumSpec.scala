package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.ExactSumFunctions.{exactVectorSum, foldExactVectorSumByKey}

/** VectorExactSum must be indistinguishable from the decimal-cast form
  * `sum(cast(v as decimal(27,18)))` per dimension — the contract that
  * keeps every oracle mirroring that op order valid. */
class ExactSumSpec extends SparkSpec {
  import spark.implicits._

  private def diffTest(values: Seq[Seq[Double]], parts: Int): Unit = {
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x").repartition(parts)
    val dim = values.head.size
    val native = df.agg(exactVectorSum(col("x")).as("s"))
      .head().getSeq[Double](0).toSeq
    val decimal = df
      .select(posexplode(col("x")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(sum(col("v").cast("decimal(27,18)")).cast("double").as("s"))
      .orderBy("dim").collect().map(_.getDouble(1)).toSeq
    assert(native.size == dim)
    // bit-exact: compare raw long bits, not approximate equality
    assert(native.map(java.lang.Double.doubleToRawLongBits) ==
      decimal.map(java.lang.Double.doubleToRawLongBits), s"$native vs $decimal")
  }

  test("matches decimal-cast sums bit-exactly on random vectors") {
    val rnd = new scala.util.Random(42)
    val values = Seq.fill(500)(Seq.fill(8)(rnd.nextDouble() * 18.0 - 9.0))
    diffTest(values, parts = 7)
  }

  test("matches on adversarial magnitudes and signs") {
    val values = Seq(
      Seq(1e-18, -1e-18, 5e-19, -5e-19),
      Seq(0.1, -0.3, 0.7, -0.9),
      Seq(8.999999999999999, -8.999999999999999, 1.0 / 3.0, -2.0 / 7.0),
      Seq(0.0, -0.0, 1e-300, -1e-300),
      Seq(2.5e-18, -2.5e-18, 1.5e-18, -1.5e-18),
      // beyond one long limb of unscaled value (|v| up to 1e9)
      Seq(12345678.9, -987654321.123456789, 7.7e8, -3.3e8))
    diffTest(values, parts = 3)
  }

  test("partition-order independent (exact, not float, accumulation)") {
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(2000)(Seq.fill(4)(rnd.nextGaussian()))
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    def run(parts: Int) =
      df.repartition(parts).agg(exactVectorSum(col("x")))
        .head().getSeq[Double](0).map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(run(1) == run(13))
  }

  test("grouped aggregation sums per group") {
    val df = Seq((0, Seq(1.0, 2.0)), (0, Seq(0.25, -1.0)), (1, Seq(3.0, 4.0)))
      .toDF("g", "x")
    val got = df.groupBy("g").agg(exactVectorSum(col("x")).as("s"))
      .orderBy("g").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(got == Seq(Seq(1.25, 1.0), Seq(3.0, 4.0)))
  }

  test("magnitude beyond the decimal(27,18) domain throws, not corrupts") {
    val df = Seq(Tuple1(Seq(1.5e9))).toDF("x")
    intercept[Exception] {
      df.agg(exactVectorSum(col("x"))).collect()
    }
  }

  test("empty input evaluates to null like a decimal sum") {
    val df = Seq(Tuple1(Seq(1.0))).toDF("x").filter(lit(false))
    assert(df.agg(exactVectorSum(col("x"))).head().isNullAt(0))
  }

  test("per-partition fold matches the aggregate bit-exactly, counts every row") {
    val rnd = new scala.util.Random(11)
    // keys 0..3 (key 3 holds only a null array), a null-key row, and a
    // null array under key 0
    val rows = Seq.fill(400)(Row(rnd.nextInt(3),
      Seq.fill(6)(rnd.nextGaussian() * 1e3))) ++
      Seq(Row(0, null), Row(3, null), Row(null, Seq.fill(6)(1.0)))
    val schema = StructType(Seq(StructField("key", IntegerType),
      StructField("x", ArrayType(DoubleType))))
    def frame(rs: Seq[Row], parts: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)
    def bits(v: Seq[Double]) = Option(v).map(_.map(java.lang.Double.doubleToRawLongBits))
    Seq(1, 3, 8).foreach { parts =>
      // `parts` filled partitions plus one empty one
      val df = frame(rows, parts).union(frame(Nil, 1))
      assert(df.rdd.getNumPartitions == parts + 1)
      val agg = df.filter(col("key").isNotNull).groupBy("key")
        .agg(exactVectorSum(col("x")), count(lit(1))).collect()
        .map(r => r.getInt(0) -> (bits(r.getSeq[Double](1)), r.getLong(2))).toMap
      // one key past the last non-null one stays untouched
      val fold = foldExactVectorSumByKey(df, 5)
      assert(agg.keySet == Set(0, 1, 2, 3), s"$parts partitions")
      agg.foreach { case (key, want) =>
        val (sum, n) = fold(key)
        assert((bits(Option(sum).map(_.toSeq).orNull), n) == want,
          s"key $key, $parts partitions")
      }
      assert(fold(4) == ((null, 0L)))
    }
    // no non-null array under the key: a null sum, as the aggregate
    // gives, but the null rows still count (the one-key form logistic
    // regression folds with)
    val (none, n) = foldExactVectorSumByKey(frame(Seq(Row(0, null), Row(0, null)), 2), 1)(0)
    assert(none == null && n == 2)
  }
}
