package graft

import org.apache.spark.sql.functions._

/** Guards the scaling-audit generator: a k× fixture must be a faithful
  * blow-up — row counts scale, dimensions stay fixed, shifted keys are
  * collision-free, and the per-copy value distributions are the
  * source's (otherwise audit ratios measure the generator, not the
  * engine). */
class ScaleUpSpec extends SparkSpec {

  test("2x scale-up preserves structure and shifts keys disjointly") {
    val src = "/root/testdata/sf0.001"
    val dst = scratchDir("graft_scaleup").toString
    graft.tools.ScaleUp.run(spark, src, dst, 2)

    // dimensions fixed, fact tables doubled
    for (t <- Seq("region", "nation"))
      assert(spark.read.parquet(s"$dst/$t.parquet").count() ==
        spark.read.parquet(s"$src/$t.parquet").count(), t)
    for (t <- Seq("orders", "lineitem", "documents", "embeddings"))
      assert(spark.read.parquet(s"$dst/$t.parquet").count() ==
        2 * spark.read.parquet(s"$src/$t.parquet").count(), t)

    // shifted primary keys never collide across copies
    val o = spark.read.parquet(s"$dst/orders.parquet")
    assert(o.select(countDistinct(col("o_orderkey"))).head().getLong(0)
      == o.count())

    // join fan-out is preserved: every scaled lineitem still finds its
    // (equally shifted) order
    val l = spark.read.parquet(s"$dst/lineitem.parquet")
    val dangling = l.join(o, l("l_orderkey") === o("o_orderkey"),
      "left_anti").count()
    assert(dangling == 0)

    // value distributions are the source's: quantity histogram is
    // exactly doubled per value
    val srcHist = spark.read.parquet(s"$src/lineitem.parquet")
      .groupBy("l_quantity").count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val dstHist = l.groupBy("l_quantity").count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(dstHist == srcHist.map { case (k, v) => k -> 2 * v })
  }
}
