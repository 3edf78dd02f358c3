package graft

import org.apache.spark.sql.functions._

import graft.functions.ZOrderKey
import graft.operators.{Layout, Sketch}

/** Z-order key + layout clustering and the engine-portable HLL:
  * bit-level goldens, locality/accuracy laws, and plan shape.
  */
class LayoutSketchSpec extends SparkSpec {

  test("ZOrderKey golden bit interleave") {
    // x=0b101 → z bits {0,4} = 17; y=0b011 → z bits {1,3} = 10;
    // z = 17 | 10 = 27
    assert(ZOrderKey.spread(5L) == 17L) // 0b10001
    assert((ZOrderKey.spread(5L) | (ZOrderKey.spread(3L) << 1)) == 27L)
    import spark.implicits._
    val out = Seq((5L, 3L), (0L, 0L), (1L, 0L), (0L, 1L))
      .toDF("x", "y")
      .select(ZOrderKey.zorder(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(27L, 0L, 1L, 2L))
  }

  test("ZOrderKey matches its DuckDB-mirror arithmetic in Spark SQL") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i * 7919L % 4096L, i * 104729L % 4096L))
      .toDF("x", "y")
    df.createOrReplaceTempView("zin")
    val mirror = ZOrderKey.zorderSql("x", "y")
      .replace(">>", ">>>") // Spark's logical right shift; same on ≥0
    val rows = spark.sql(
      s"SELECT graft_zorder(x, y) AS a, CAST($mirror AS BIGINT) AS b FROM zin")
      .collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("ZOrderKey rejects negative and over-width dimensions") {
    import spark.implicits._
    val bad = Seq((-1L, 3L)).toDF("x", "y")
      .select(ZOrderKey.zorder(col("x"), col("y")))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage != null)
  }

  test("zorderLayout clusters both dimensions tighter than a 1-D sort") {
    import spark.implicits._
    // 64x64 grid, one row per cell, 16 files
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)).toDF("x", "y").repartition(8)
    def meanYRange(df: org.apache.spark.sql.DataFrame): Double = {
      val stats = Layout.fileStats(df, col("x"), col("y"))
        .select(avg(col("y_max") - col("y_min"))).collect()
      stats(0).getDouble(0)
    }
    val zed = Layout.zorderLayout(grid, col("x"), col("y"), 16)
    val xSorted = grid.repartitionByRange(16, col("x"))
      .sortWithinPartitions(col("x"))
    // x-sorted files span the full y domain; z-ordered files don't
    assert(meanYRange(xSorted) > 55.0)
    assert(meanYRange(zed) < 40.0,
      s"z-order should bound y ranges, got ${meanYRange(zed)}")
    // a y-point lookup reads a strictly smaller fraction of files
    def yFrac(df: org.apache.spark.sql.DataFrame): Double =
      Layout.fileStats(df, col("x"), col("y"))
        .agg(Layout.pruneFraction("y", 64)).collect()(0).getDouble(0)
    assert(yFrac(zed) < yFrac(xSorted))
  }

  test("HLL sketch estimate is within 20% at 10k distinct keys") {
    import spark.implicits._
    val df = (1L to 10000L).toDF("k").withColumn("g", lit("all"))
    val est = Sketch.approxCountDistinct(df, col("k"), "n", Seq(col("g")))
      .collect()(0).getAs[Double]("n")
    assert(math.abs(est - 10000.0) / 10000.0 < 0.20, s"estimate $est")
  }

  test("HLL sketch is exactly duplication- and partition-invariant") {
    import spark.implicits._
    val a = (1L to 3000L).toDF("k").withColumn("g", lit("all"))
    val dup = a.union(a).union(a).repartition(13)
    def est(df: org.apache.spark.sql.DataFrame): Double =
      Sketch.approxCountDistinct(df, col("k"), "n", Seq(col("g")))
        .collect()(0).getAs[Double]("n")
    assert(est(a) == est(dup))
  }

  test("HLL rank is 61 minus the bit length of the hash window; null stays null") {
    import spark.implicits._
    val df = ((1L to 2000L).map(Option(_)) :+ None).toDF("k")
    val v = conv(substring(md5(col("k").cast("string")), 3, 15), 16, 10).cast("long")
    val want = (lit(61) - length(regexp_replace(bin(v), "^0+", ""))).cast("int")
    val rows = df.select(Sketch.rho(col("k")), want).collect()
    assert(rows.forall(r => r.get(0) == r.get(1)))
    assert(rows.count(_.isNullAt(0)) == 1)
  }

  test("HLL aggregate shuffles registers, not keys (partial aggregate)") {
    import spark.implicits._
    val df = (1L to 5000L).toDF("k").withColumn("g", lit("all"))
    val plan = Sketch.approxCountDistinct(df, col("k"), "n", Seq(col("g")))
      .queryExecution.executedPlan.toString
    // both aggregate levels are hash aggregates with partial modes
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("Window"))
  }

  test("CMS estimates only ever overestimate, exactly when collision-free") {
    import spark.implicits._
    // zipf-ish: item i appears 1000/i times
    val items = (1 to 40).flatMap(i => Seq.fill(1000 / i)(s"item$i"))
    val df = items.toDF("w")
    val sketch = Sketch.cmsSketch(df, col("w"))
    val got = Sketch.cmsEstimate(sketch, df.distinct(), col("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = items.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(got.keySet == truth.keySet)
    truth.foreach { case (w, n) =>
      assert(got(w) >= n, s"$w: est ${got(w)} under true $n")
      // 40 items in 4x256 cells: each row collides with prob ~40/256;
      // the min over 4 independent rows is almost surely exact
      assert(got(w) <= n + items.size / 16L, s"$w: est ${got(w)} way over $n")
    }
    // sketch size is depth x width bounded regardless of input size
    assert(sketch.count() <= Sketch.CmsDepth.toLong * Sketch.CmsWidth)
  }

  test("CMS is partition- and duplication-order invariant") {
    import spark.implicits._
    val df = (1 to 500).map(i => s"w${i % 37}").toDF("w")
    def est(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Sketch.cmsEstimate(Sketch.cmsSketch(d, col("w")), d.distinct(), col("w"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est(df) == est(df.repartition(11)))
  }

  test("CMS probe of an absent item estimates near zero") {
    import spark.implicits._
    val sketch = Sketch.cmsSketch((1 to 100).map(i => s"w$i").toDF("w"), col("w"))
    val ghost = Seq("never-seen-item").toDF("w")
    val est = Sketch.cmsEstimate(sketch, ghost, col("w"))
      .collect()(0).getLong(1)
    // 100 items spread over 256 buckets: a disjoint item's min cell is
    // tiny (0 unless all 4 addressed cells collide)
    assert(est <= 3, s"ghost estimate $est")
  }

  test("trainShards: full fixed-size shards in md5 order, partition invariant") {
    import spark.implicits._
    val df = (0L until 330L).toDF("id")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Layout.trainShards(d, col("id"), shardSize = 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val got = run(df)
    // reference permutation: rank in (md5, id) order
    val ranked = (0L until 330L)
      .map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (h, i)
      }.sorted.map(_._2).zipWithIndex
      .map { case (i, r) => (i, r.toLong / 64L, r.toLong % 64L) }.toSet
    assert(got == ranked)
    // 330 rows / 64 → shards 0..4 full (64), shard 5 holds 10
    val sizes = got.groupBy(_._2).map { case (s, rs) => s -> rs.size }
    assert(sizes == Map(0L -> 64, 1L -> 64, 2L -> 64, 3L -> 64,
      4L -> 64, 5L -> 10))
    // per-shard positions are contiguous from 0
    got.groupBy(_._2).foreach { case (s, rs) =>
      assert(rs.map(_._3) == (0L until rs.size.toLong).toSet, s"shard $s")
    }
    assert(run(df.repartition(7)) == got)
  }
}
