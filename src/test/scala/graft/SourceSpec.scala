package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

import graft.sources.TextIO

/** Source/sink round-trips — the §2.1 DataSource/DataSink surface. */
class SourceSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    scratchDir(s"graft_$tag").toString + "/out"

  test("delimited text round-trip preserves longs and strings") {
    import spark.implicits._
    val df = Seq((1L, "alpha", 2.5), (2L, "beta", -0.125), (3L, "gamma", 1e9))
      .toDF("id", "name", "x")
    val path = tmpDir("txt")
    TextIO.writeDelimited(df, path, delimiter = "|")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("x", DoubleType)))
    val back = TextIO.readDelimited(spark, path, schema, delimiter = "|")
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("columnar round-trip is lossless for doubles") {
    import spark.implicits._
    val df = Seq((1L, math.Pi), (2L, 1.0 / 3.0), (3L, Double.MinPositiveValue))
      .toDF("id", "x")
    val path = tmpDir("col")
    TextIO.writeColumnar(df, path)
    val back = TextIO.readColumnar(spark, path)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("mergeUpsert replaces matched keys, appends new ones, idempotently") {
    import spark.implicits._
    import graft.operators.Snapshot
    val path = tmpDir("merge")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(path)
    val updates = Seq((2L, "B"), (4L, "d")).toDF("k", "v")
    def state() = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    Snapshot.mergeUpsert(spark, path, updates, "k")
    val expect = Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
    assert(state() == expect)
    // re-applying the same updates is a no-op
    Snapshot.mergeUpsert(spark, path, updates, "k")
    assert(state() == expect)
    // schema mismatch is rejected before any write
    intercept[IllegalArgumentException] {
      Snapshot.mergeUpsert(spark, path, Seq((1L, 2L)).toDF("k", "x"), "k")
    }
    assert(state() == expect)
  }

  test("ORC round-trip is lossless; scan filter reaches the ORC reader") {
    import spark.implicits._
    val df = Seq((1L, math.Pi, "a"), (2L, 1.0 / 3.0, "b"), (3L, -0.0, "c"))
      .toDF("id", "x", "s")
    val path = tmpDir("orc")
    TextIO.writeOrc(df, path)
    val back = TextIO.readOrc(spark, path)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    val plan = back.filter($"id" > 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"expected ORC pushdown in plan:\n$plan")
  }

  test("partitioned columnar write prunes partitions at the scan") {
    import spark.implicits._
    val df = Seq((1L, "F", 1.0), (2L, "O", 2.0), (3L, "F", 3.0), (4L, "P", 4.0))
      .toDF("id", "status", "x")
    val path = tmpDir("pp")
    TextIO.writePartitionedColumnar(df, path, Seq("status"))
    val back = TextIO.readColumnar(spark, path).filter(col("status") === "F")
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("(status"), s"expected partition pruning in:\n$plan")
  }

  test("delimited read is distributed: declared schema, no inference scan") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i * 7)).toDF("a", "b")
      .repartition(4)
    val path = tmpDir("par")
    TextIO.writeDelimited(df, path)
    // one part-file per partition (the rank-ordered parallel write)
    val parts = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts == 4)
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    val back = TextIO.readDelimited(spark, path, schema)
    assert(back.agg(sum(col("a")), sum(col("b"))).head().toSeq ==
      Seq(500500L, 3503500L))
  }

  test("overwritePartitions backfills one partition, leaves the rest intact") {
    import spark.implicits._
    val path = tmpDir("dyn")
    val full = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "c", 4.0)).toDF("id", "day", "v")
    TextIO.writePartitionedColumnar(full, path, Seq("day"))
    // reprocess day 'a' only — corrected values, one row dropped
    val fixedA = Seq((1L, "a", 10.0)).toDF("id", "day", "v")
    TextIO.overwritePartitions(fixedA, path, Seq("day"))
    val back = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(back == Map(1L -> 10.0, 3L -> 3.0, 4L -> 4.0))
    // idempotent: running the same backfill again converges
    TextIO.overwritePartitions(fixedA, path, Seq("day"))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("compact merges small files per partition without changing data") {
    import spark.implicits._
    val path = tmpDir("cmp")
    val df = (1L to 400L).map(i => (i, s"d${i % 3}", i * 1.5))
      .toDF("id", "day", "v").repartition(8)
    TextIO.writePartitionedColumnar(df, path, Seq("day"))
    def filesPerPartition: Map[String, Int] =
      new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(d => d.getName ->
          d.listFiles().count(_.getName.startsWith("part-"))).toMap
    assert(filesPerPartition.values.exists(_ > 1), "fixture not fragmented")
    val before = spark.read.parquet(path)
      .collect().map(_.toSeq).toSet
    TextIO.compact(spark, path, Seq("day"))
    assert(filesPerPartition.values.forall(_ == 1),
      s"expected 1 file per partition, got $filesPerPartition")
    val after = spark.read.parquet(path).collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("partition-column predicate prunes directories at planning time") {
    import spark.implicits._
    val path = tmpDir("prune")
    // 10 days, partitioned hive-style; repartition by day first so each
    // directory is a single task's file (the write-side discipline the
    // layout depends on at scale).
    val df = (1L to 300L).map(i => (i, s"2024-01-${10 + (i % 10).toInt}"))
      .toDF("id", "d").withColumn("day", to_date(col("d"))).drop("d")
      .repartition(col("day"))
    TextIO.writePartitionedColumnar(df, path, Seq("day"))
    assert(new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("day=")) == 10)
    val pruned = spark.read.parquet(path)
      .filter(col("day").between(
        to_date(lit("2024-01-12")), to_date(lit("2024-01-14"))))
    // the scan node must carry the predicate as a partition filter …
    val scanMeta = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scanMeta.contains("PartitionFilters") &&
      scanMeta.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"no partition filter in scan:\n$scanMeta")
    // … and only the 3 matching directories' files are read (collect —
    // not count() — so the action runs THIS QueryExecution and its
    // scan metrics are the ones populated)
    assert(pruned.collect().length == 90)
    val numFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }.sum
    assert(numFiles == 3, s"expected 3 pruned files read, got $numFiles")
  }

  test("readColumnarEvolved merges schemas across file generations") {
    import spark.implicits._
    val v1 = tmpDir("evo_v1"); val v2 = tmpDir("evo_v2")
    // generation 1: (id, a); generation 2 adds a quality column
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.parquet(v1)
    Seq((3L, "z", 0.9)).toDF("id", "a", "quality")
      .write.parquet(v2)
    val evolved = TextIO.readColumnarEvolved(spark, v1, v2)
    assert(evolved.columns.toSet == Set("id", "a", "quality"))
    val rows = evolved.select("id", "quality").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(0.9)))
    // a filter on the late column drops every old-generation row
    assert(evolved.filter(col("quality") > 0.5).count() == 1)
    // the default single-schema read stays the cheap path (no merge)
    assert(TextIO.readColumnar(spark, v1).columns.toSet == Set("id", "a"))
  }

  test("permissive delimited read quarantines malformed rows, keeps partials") {
    import org.apache.spark.sql.types._
    val dir = scratchDir("graft_badcsv")
    java.nio.file.Files.write(dir.resolve("data.csv"),
      Seq(
        "1 10",        // clean
        "oops 20",     // first column unparseable → corrupt, 20 retained
        "3 thirty",    // second column unparseable → corrupt, 3 retained
        "4 40"         // clean
      ).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val got = TextIO.readDelimitedPermissive(spark, dir.toString, schema)
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.isNullAt(2)))
      .toSet
    // any cast failure quarantines the ROW (raw line in _corrupt) while
    // the fields that did parse survive as data alongside it
    assert(got == Set(
      (Some(1L), Some(10L), true),
      (None, Some(20L), false),
      (Some(3L), None, false),
      (Some(4L), Some(40L), true)))
    // Corruptness is judged on the PARSED columns only: under column
    // pruning (here the scan reads just `a` + `_corrupt`), a row whose
    // failure lies in an unreferenced column is NOT corrupt. Queries
    // over the corrupt flag must therefore reference every column the
    // quarantine should cover (q_csv_badrows plants its failures in
    // the referenced key column for exactly this reason).
    val bad = TextIO.readDelimitedPermissive(spark, dir.toString, schema)
      .filter(col("_corrupt").isNotNull).select("a", "_corrupt").collect()
    assert(bad.map(_.getString(1)).toSet == Set("oops 20"))
  }

  test("registry sinks write under the run's scratch root, not /tmp") {
    import graft.sources.Scratch
    val t0 = System.currentTimeMillis()
    // two fresh input dirs (copies of sf0.001): no sink of theirs exists yet
    def roundTrips(): Set[String] = {
      val dir = scratchDir("graft_src_")
      Files.list(java.nio.file.Paths.get("/root/testdata/sf0.001"))
        .forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
      val before = Scratch.root.toFile.list().toSet
      // building a body runs its sinks; the read-back is not needed here
      graft.queries.SourceQueries.specs.foreach(_.body(spark, dir.toString))
      Scratch.root.toFile.list().toSet -- before
    }
    val a = roundTrips()
    val b = roundTrips()
    // each input gets its own sinks, all of them under the root
    assert(a.nonEmpty && b.nonEmpty && (a intersect b).isEmpty)
    val legacy = new java.io.File("/tmp").listFiles().filter(f =>
      f.getName.startsWith("graft_io_") && f.lastModified() >= t0)
    assert(legacy.isEmpty, legacy.mkString(", "))
    // the delete the exit hook runs removes a tree and all under it,
    // without following a symlink out of it (on a private tree: the
    // shared root must outlive this suite)
    val tree = scratchDir("graft_del_")
    val outside = scratchDir("graft_keep_")
    Files.write(outside.resolve("kept"), Array[Byte](1))
    Files.write(Files.createDirectories(tree.resolve("a/b")).resolve("f"),
      Array[Byte](2))
    Files.createSymbolicLink(tree.resolve("a/link"), outside)
    Scratch.deleteRecursively(tree)
    assert(!Files.exists(tree))
    assert(Files.exists(outside.resolve("kept")))
  }
}
