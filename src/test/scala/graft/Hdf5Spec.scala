package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.hdf5.{Hdf5Codec, Hdf5Store}

/** DataSourceV2 HDF5 container (reference
  * cgen-hpat-pattern-match.jl:849-1048/1201-1269): one 1-D dataset per
  * column, contiguous block reads, dataset-granularity pruning. The
  * bytes on disk are the real public HDF5 binary layout (Hdf5Codec:
  * superblock v0, v1 object headers, contiguous datasets) — asserted
  * below down to the magic signature and a from-raw-bytes reopen.
  */
class Hdf5Spec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.hdf5"

  test("stencil_test1 fixture shape: read (userid, val2) column datasets") {
    Hdf5Store.put("mem:t1", Seq(
      "userid" -> (LongType -> IndexedSeq[Any](1L, 2L, 3L, 1L, 2L)),
      "val2" -> (DoubleType -> IndexedSeq[Any](1.2, 2.1, 3.1, 3.2, 1.9))))
    val df = spark.read.format(fmt).option("path", "mem:t1").load()
    assert(df.schema.fieldNames.toSeq == Seq("userid", "val2"))
    assert(df.count() == 5)
    assert(df.agg(sum("val2")).head().getDouble(0) == 11.5)
    Hdf5Store.drop("mem:t1")
  }

  test("column pruning reaches the source: unreferenced dataset never opened") {
    Hdf5Store.put("mem:prune", Seq(
      "a" -> (LongType -> IndexedSeq[Any](1L, 2L, 3L)),
      "b" -> (StringType -> IndexedSeq[Any]("x", "y", "z")),
      "c" -> (DoubleType -> IndexedSeq[Any](0.1, 0.2, 0.3))))
    Hdf5Store.resetOpened()
    val got = spark.read.format(fmt).option("path", "mem:prune").load()
      .select("a").agg(sum("a")).head().getLong(0)
    assert(got == 6L)
    val opened = Hdf5Store.opened.keySet
    assert(opened.exists(_.endsWith("/a")))
    assert(!opened.exists(_.endsWith("/b")), s"pruned dataset read: $opened")
    assert(!opened.exists(_.endsWith("/c")), s"pruned dataset read: $opened")
    Hdf5Store.drop("mem:prune")
  }

  test("scan splits into contiguous disjoint blocks (1-D block distribution)") {
    Hdf5Store.put("mem:blocks", Seq(
      "i" -> (LongType -> IndexedSeq.tabulate[Any](103)(_.toLong))))
    val df = spark.read.format(fmt).option("path", "mem:blocks")
      .option("partitions", "8").load()
    assert(df.rdd.getNumPartitions == 8)
    // disjoint + complete: every row exactly once, in block order
    val got = df.select("i").collect().map(_.getLong(0)).toSeq
    assert(got.sorted == (0L until 103L))
    assert(df.count() == 103)
    Hdf5Store.drop("mem:blocks")
  }

  test("write path: per-partition blocks commit in partition order; round-trip") {
    val df = (1 to 50).map(i => (i.toLong, s"d$i", i * 0.5))
      .toDF("id", "name", "v").repartition(5, col("id"))
    df.write.format(fmt).option("path", "mem:w").mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", "mem:w").load()
    assert(back.schema.map(f => f.name -> f.dataType).toSeq ==
      Seq("id" -> LongType, "name" -> StringType, "v" -> DoubleType))
    assert(back.count() == 50)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == (1 to 50).map(i => (i.toLong, s"d$i")))
    // append mode extends the datasets
    (51 to 60).map(i => (i.toLong, s"d$i", i * 0.5)).toDF("id", "name", "v")
      .write.format(fmt).option("path", "mem:w").mode("append").save()
    assert(spark.read.format(fmt).option("path", "mem:w").load().count() == 60)
    Hdf5Store.drop("mem:w")
  }

  test("real HDF5 bytes: magic signature + footerless reopen from raw bytes") {
    val df = (1 to 20).map(i => (i.toLong, s"name$i", i * 1.5))
      .toDF("id", "label", "score")
    df.write.format(fmt).option("path", "mem:bytes").mode("overwrite").save()
    val f = Hdf5Store.resolve("mem:bytes")
    val raw = java.nio.file.Files.readAllBytes(f.toPath)
    // HDF5 file signature: \x89 H D F \r \n \x1a \n at offset 0
    assert(raw.take(8).toSeq == Seq(0x89.toByte, 'H'.toByte, 'D'.toByte,
      'F'.toByte, '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte),
      s"bad signature: ${raw.take(8).map(b => f"$b%02x").mkString(" ")}")
    // superblock v0, 8-byte offsets/lengths
    assert(raw(8) == 0, "superblock version")
    assert(raw(13) == 8 && raw(14) == 8, "offset/length sizes")
    // reopen from the raw bytes alone (fresh path, zero process state)
    val copy = scratchDir("graft_reopen").resolve("f.h5").toFile
    java.nio.file.Files.write(copy.toPath, raw)
    val back = Hdf5Codec.readAll(copy)
    assert(back.map(_._1) == Seq("id", "label", "score"))
    assert(back.find(_._1 == "id").get._2._2 == (1 to 20).map(_.toLong))
    assert(back.find(_._1 == "label").get._2._2 ==
      (1 to 20).map(i => s"name$i"))
    assert(back.find(_._1 == "score").get._2._2 == (1 to 20).map(_ * 1.5))
    Hdf5Store.drop("mem:bytes")
  }

  test("codec type coverage: long/int/double/float/bool/string round-trip") {
    import org.apache.spark.sql.types._
    val f = scratchDir("graft_types").resolve("f.h5").toFile
    val cols: Seq[(String, (DataType, IndexedSeq[Any]))] = Seq(
      "b" -> (BooleanType -> IndexedSeq[Any](true, false, true)),
      "d" -> (DoubleType -> IndexedSeq[Any](1.5, -2.25, 0.0)),
      "f" -> (FloatType -> IndexedSeq[Any](1.5f, -2.25f, 3.75f)),
      "i" -> (IntegerType -> IndexedSeq[Any](1, -2, Int.MaxValue)),
      "l" -> (LongType -> IndexedSeq[Any](Long.MinValue, 0L, Long.MaxValue)),
      "s" -> (StringType -> IndexedSeq[Any]("", "héllo", "xyz")))
    Hdf5Codec.write(f, cols)
    val back = Hdf5Codec.readAll(f)
    assert(back == cols, s"round-trip mismatch: $back")
    // contiguous block semantics: range read == slice of full read
    assert(Hdf5Codec.readRange(f, "l", 1L, 3L) == IndexedSeq(0L, Long.MaxValue))
    assert(Hdf5Codec.readRange(f, "s", 1L, 2L) == IndexedSeq("héllo"))
  }

  test("rank-2 (matrix) datasets: row-major contiguous, slab range reads") {
    import org.apache.spark.sql.types._
    val f = scratchDir("graft_mat").resolve("f.h5").toFile
    val m = IndexedSeq[Any](Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0),
      Array(7.0, 8.0, 9.0))
    Hdf5Codec.write(f, Seq(
      "id" -> (LongType -> IndexedSeq[Any](1L, 2L, 3L)),
      "m" -> (ArrayType(DoubleType, containsNull = false) -> m)))
    val back = Hdf5Codec.readAll(f)
    assert(back.find(_._1 == "m").get._2._1 ==
      ArrayType(DoubleType, containsNull = false))
    val rows = back.find(_._1 == "m").get._2._2
      .map(_.asInstanceOf[Array[Double]].toSeq)
    assert(rows == m.map(_.asInstanceOf[Array[Double]].toSeq))
    // a row-slab range read is the contiguous byte range of its rows
    val slab = Hdf5Codec.readRange(f, "m", 1L, 3L)
      .map(_.asInstanceOf[Array[Double]].toSeq)
    assert(slab == Seq(Seq(4.0, 5.0, 6.0), Seq(7.0, 8.0, 9.0)))
    // the scalar dataset beside it still reads rank-1
    assert(Hdf5Codec.readRange(f, "id", 0L, 3L) == IndexedSeq(1L, 2L, 3L))
  }

  test("codec rejects nulls and ragged columns with clear errors") {
    import org.apache.spark.sql.types._
    val f = scratchDir("graft_bad").resolve("f.h5").toFile
    val e1 = intercept[IllegalArgumentException] {
      Hdf5Codec.write(f, Seq("x" -> (LongType -> IndexedSeq[Any](1L, null))))
    }
    assert(e1.getMessage.contains("null"))
    val e2 = intercept[IllegalArgumentException] {
      Hdf5Codec.write(f, Seq(
        "x" -> (LongType -> IndexedSeq[Any](1L)),
        "y" -> (LongType -> IndexedSeq[Any](1L, 2L))))
    }
    assert(e2.getMessage.contains("ragged"))
  }
}
