package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.operators.Dedup

/** Native MinHashSignature / SimHashChunks kernels: shape, invariants,
  * differential agreement with the interpreted HOF formulations, SQL
  * registration via GraftExtensions. */
class SketchExpressionSpec extends SparkSpec {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely unrelated text about spark catalyst expression codegen"),
      (4L, "")
    ).toDF("doc_id", "text")
  }

  test("minhash signature: length, permutation-invariance, dup sensitivity") {
    val d = docs()
      .select(col("doc_id"),
        array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
      .withColumn("sig", SketchFunctions.minhashSignature(col("sh"), 64))
    val rows = d.collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(rows.values.forall(_.length == 64))
    // near-identical docs agree on most minima; unrelated docs don't
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(rows(1L), rows(2L)) > 40)
    assert(agree(rows(1L), rows(3L)) < 10)
    // signature is a function of the SET: shuffled shingle order → same sig
    val shuffled = d.withColumn("sig2",
      SketchFunctions.minhashSignature(reverse(col("sh")), 64))
      .filter(col("sig") =!= col("sig2")).count()
    assert(shuffled == 0)
  }

  test("simhash chunks: native kernel matches the HOF formulation bit-for-bit") {
    val d = docs().select(col("doc_id"),
      SketchFunctions.simhashChunks(
        graft.functions.Text.tokens(col("text")), 4).as("native"),
      Dedup.simhashChunks(col("text"), 4).as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() == 0)
    // chunks are unsigned 16-bit
    val flat = d.select(explode(col("native")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(flat.getInt(0) >= 0 && flat.getInt(1) <= 0xFFFF)
  }

  test("minhash native kernel matches the built-in-primitive HOF bit-for-bit") {
    // Same affine family from independent primitives: xxhash64(x) +
    // s·xxhash64(x, Seed2). Wrap-around long arithmetic → ANSI off for
    // the duration (the native kernel itself has no such constraint).
    withConf("spark.sql.ansi.enabled" -> "false") {
      val d = docs()
        .filter(col("text") =!= "") // empty set: native=MaxValue, HOF=null
        .select(col("doc_id"),
          array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"),
          SketchFunctions.minhashSignature(col("sh"), 64).as("native"),
          Dedup.minhashSignatureHof(col("sh"), 64).as("hof"))
      assert(d.count() == 3)
      assert(d.filter(col("native") =!= col("hof")).count() == 0)
    }
  }

  test("minhash interpreted eval agrees with codegen eval") {
    // force the interpreted path by evaluating inside a filter on a
    // cached relation vs the codegen'd projection
    val d = docs()
      .select(col("doc_id"),
        array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
    val gen = d.withColumn("sig", SketchFunctions.minhashSignature(col("sh"), 16))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    import graft.functions.MinHashSignature
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    d.collect().foreach { r =>
      val sh = r.getSeq[String](1)
      val lit = Literal.create(sh.map(UTF8String.fromString),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))
      val got = MinHashSignature(lit, 16).eval(null)
        .asInstanceOf[ArrayData].toLongArray().toSeq
      assert(got == gen(r.getLong(0)))
    }
  }

  test("SQL registration: graft_minhash and graft_simhash") {
    docs().createOrReplaceTempView("sketch_docs")
    val r = spark.sql(
      """SELECT doc_id,
        |  graft_minhash(split(lower(text), ' '), 8) AS mh,
        |  graft_simhash(split(lower(text), ' '), 4) AS sh
        |FROM sketch_docs WHERE doc_id = 1""".stripMargin).head()
    assert(r.getSeq[Long](1).length == 8)
    assert(r.getSeq[Int](2).length == 4)
  }

  test("SQL registration: graft_winnow_fps round-trips") {
    import spark.implicits._
    Seq(Tuple1("the quick brown fox jumps over the lazy dog"))
      .toDF("t").createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql(
      "SELECT graft_winnow_fps(t, 8, 4) fps FROM winnow_docs")
      .head().getSeq[Long](0)
    val viaCol = spark.table("winnow_docs")
      .select(graft.functions.SketchFunctions
        .winnowFingerprints(col("t"), 8, 4)).head().getSeq[Long](0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("winnow kernel matches the built-in-primitive HOF bit-for-bit") {
    import spark.implicits._
    import graft.operators.Dedup
    // fixture docs + adversarial shapes: empty, shorter than n, fewer
    // grams than w, repeated runs (distinct collapse), multi-byte
    // code points (byte-offset vs code-point-offset divergence trap)
    val extra = Seq(
      (9001L, ""),
      (9002L, "short"),
      (9003L, "exactly12chr"),
      (9004L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (9005L, "päö⸚99 tökens⸚99 wíth⸚99 multi⸚99 byte⸚99 runes⸚99 ok⸚99"),
      (9006L, "the the the the the the the the the the the the"))
      .toDF("doc_id", "text")
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).unionByName(extra)
    for ((n, w) <- Seq((12, 5), (24, 8), (8, 4))) {
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val kernel = canon(Dedup.winnowFingerprints(df, "doc_id", "text", n, w))
      val hof = canon(Dedup.winnowFingerprintsHof(df, "doc_id", "text", n, w))
      assert(kernel == hof, s"winnow kernel != HOF at n=$n w=$w")
      assert(kernel.nonEmpty)
    }
  }

  test("winnow kernel interpreted eval agrees with codegen eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog again",
      "päö⸚99 tökens⸚99 wíth⸚99 multi byte", "aaaaaaaaaaaaaaaa", "")
    // codegen path: through a DataFrame projection
    val viaCodegen = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), graft.functions.SketchFunctions
        .winnowFingerprints(col("t"), 8, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val interp = graft.functions.WinnowFingerprints(
        Literal.create(UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType), 8, 4)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(viaCodegen(i.toLong) == interp, s"text #$i")
    }
  }
}
