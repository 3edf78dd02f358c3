package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Native CosineSimilarity expression: correctness, codegen path,
  * bit-exactness vs the interpreted fold form, SQL registration. */
class VectorExpressionSpec extends SparkSpec {

  private def foldCosine(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column) = {
    def fold(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (s, x) => s + x)
    val dot = fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = fold(transform(a, x => x.cast("double") * x.cast("double")))
    val nb = fold(transform(b, x => x.cast("double") * x.cast("double")))
    dot / sqrt(na) / sqrt(nb)
  }

  test("cosine of known vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-15)
    assert(math.abs(got(1) - 1.0) < 1e-15)
    assert(math.abs(got(2) + 1.0) < 1e-15)
  }

  test("native expression is bit-exact vs the interpreted fold on fixtures") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(100)
    val both = e.as("a").crossJoin(e.as("b")).limit(500)
      .select(
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        foldCosine(col("a.embedding"), col("b.embedding")).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
  }

  test("graft_cosine is registered as a SQL function via extensions") {
    import spark.implicits._
    Seq((Seq(3.0, 4.0), Seq(3.0, 4.0))).toDF("a", "b")
      .createOrReplaceTempView("vv")
    val r = spark.sql("SELECT graft_cosine(a, b) c FROM vv").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
  }

  test("StripVectorCasts: float embeddings reach the kernels uncast") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val df = e.as("a").crossJoin(broadcast(e.as("b"))).limit(50)
      .select(
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"),
        VectorFunctions.sqDist(col("a.embedding"), col("b.embedding")).as("d"))
    var floatToDoubleCasts = 0
    df.queryExecution.optimizedPlan.foreach(p => p.expressions.foreach(_.foreach {
      case c: Cast => (c.child.dataType, c.dataType) match {
        case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
          floatToDoubleCasts += 1
        case _ => ()
      }
      case _ => ()
    }))
    assert(floatToDoubleCasts == 0,
      "the Column API's array<float> -> array<double> casts must be " +
        "stripped by the optimizer rule (kernels widen per element)")
    // and the float-reading path still computes real scores
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.getDouble(0).isNaN && r.getDouble(1) >= 0.0))
  }

  // Reference (score desc, index asc) selection for the probe-pick
  // kernels, written independently of the kernel's insertion sort.
  private def cosRef(x: Array[Double], c: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- x.indices.take(c.length)) {
      dot += x(i) * c(i); na += x(i) * x(i); nb += c(i) * c(i)
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }
  private def pickRef(x: Array[Double], cand: Seq[Int],
                      cents: Array[Array[Double]], n: Int): Seq[Int] =
    cand.map(j => (cosRef(x, cents(j)), j))
      .sortBy { case (s, j) => (-s, j) }.take(n).map(_._2)

  test("probe-pick kernels match an independent reference (ties, empty supers)") {
    import spark.implicits._
    val dim = 6
    // duplicate centroids 2 and 5 force a score tie -> lower id wins
    val cells = Array.tabulate(8)(j =>
      Array.tabulate(dim)(d => math.sin((j % 6) * dim + d) + 2.0))
    val supers = Array.tabulate(4)(s =>
      Array.tabulate(dim)(d => math.cos(s * dim + d) + 2.0))
    // super 1 is EMPTY: it may rank in the top-nsp but contributes no cells
    val members = Array(Array(0, 1, 2), Array.empty[Int], Array(3, 4, 5),
      Array(6, 7))
    val qs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(0.7 * i + d) + 2.0)))
    val df = qs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")
    for (nsp <- Seq(1, 2, 4); nprobe <- Seq(1, 3, 8)) {
      val got = df.select(col("id"),
        graft.functions.VectorFunctions
          .hierProbeCells(col("v"), supers, cells, members, nsp, nprobe)
          .as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      qs.foreach { case (i, x) =>
        val topSupers = pickRef(x, supers.indices, supers, nsp)
        val candCells = topSupers.flatMap(s => members(s))
        assert(got(i) == pickRef(x, candCells, cells, nprobe),
          s"hier pick mismatch id=$i nsp=$nsp nprobe=$nprobe")
      }
      val gotFlat = df.select(col("id"),
        graft.functions.VectorFunctions.probeCells(col("v"), cells, nprobe)
          .as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      qs.foreach { case (i, x) =>
        assert(gotFlat(i) == pickRef(x, cells.indices, cells, nprobe),
          s"flat pick mismatch id=$i nprobe=$nprobe")
      }
    }
  }
  test("DotProduct is bit-exact vs the unrolled element_at chain") {
    import org.apache.spark.sql.functions.element_at
    val dim = 64
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(200)
      .select(col("embedding").cast("array<double>").as("x"))
    val w = Array.tabulate(dim)(d => math.cos(0.3 * d) - 0.4)
    val wCol = array(w.toIndexedSeq.map(lit): _*)
    val unrolled = (0 until dim)
      .map(j => element_at(col("x"), j + 1) * element_at(wCol, j + 1))
      .reduce(_ + _)
    val both = e.select(
      VectorFunctions.dot(col("x"), wCol).as("native"),
      unrolled.as("chain"))
    assert(both.filter(col("native") =!= col("chain")).count() == 0)
  }

  test("ScaleArray is bit-exact vs the unrolled array projection") {
    import org.apache.spark.sql.functions.element_at
    val dim = 64
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(200)
      .select(col("embedding").cast("array<double>").as("x"),
        (rand(7) - lit(0.5)).as("s"))
    val unrolled = array((0 until dim).map(j =>
      element_at(col("x"), j + 1) * col("s")): _*)
    val both = e.select(
      VectorFunctions.scale(col("x"), col("s")).as("native"),
      unrolled.as("chain"))
    assert(both.filter(col("native") =!= col("chain")).count() == 0)
  }
}
