package graft.tools

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Bench, Session, SparkEntry}
import graft.functions.DistanceEvalCounter
import graft.operators.{Dedup, Similarity}

/** Three-point scaling probe of one family of operators:
  * `runMain graft.tools.ScaleAudit <family> <out.json> <baseDir>
  * <workDir> <k1,k2,...>`, e.g. `1,10,100` from sf0.1. Scales an order
  * of magnitude apart make curvature visible in wall time; two points
  * cannot tell linear from quadratic growth.
  *
  * Per scale k the family's fixture is written to `<workDir>/x<k>`
  * unless every table is already there as a parquet file or as a dir
  * with `_SUCCESS` (an interrupted write leaves a partial dir). One
  * untimed settle pass runs every stage (codegen, JIT and AQE warm at
  * that scale: join strategies flip with data size). Then each stage
  * is timed cold, after `clearCache` and `System.gc()`: CacheManager
  * would otherwise plan-match a rebuilt pipeline onto the settle
  * pass's caches and time a table scan. */
object ScaleAudit {

  /** A scale dir's stages: `run(stage)` returns the stage's figure
    * (output rows; distance evaluations for ann's build). `input` is
    * the frame every stage reads, re-persisted after each clear so its
    * scan stays out of the timings. */
  final case class Point(run: String => Long, input: Option[DataFrame] = None)

  /** One family: `fixture` writes `tables` at scale k from the base dir;
    * `countTable`'s rows are reported as `countLabel`; `fields` renders
    * one timed stage into the point's JSON. */
  final case class Family(
      tables: Set[String], countTable: String, countLabel: String,
      stages: Seq[String],
      open: (SparkSession, String) => Point = registryBodies,
      fixture: (SparkSession, String, String, Int, Set[String]) => Unit =
        ScaleUp.run,
      fields: (String, Double, Long) => String = secRows)

  /** Runs registry queries through [[force]]. Their ScaleUp fixtures are
    * k disjoint key-shifted copies, so true structure grows exactly k×
    * and time ratios read as algorithm curvature, not output growth. */
  private def registryBodies(spark: SparkSession, dir: String): Point =
    Point(q => force(SparkEntry.queries(q)(spark, dir)))

  private def secRows(stage: String, sec: Double, n: Long): String =
    s""""$stage":{"sec":${Bench.fmt(sec)},"rows":$n}"""

  val families: Map[String, Family] = Map(
    "rel" -> Family(Set("lineitem", "orders", "customer", "part", "nation"),
      "lineitem", "lineitem_rows",
      Seq("q1_agg", "q_tpch_q6", "q_tpch_q3", "q05_shape", "q26_shape",
        "q_ml_ols")),
    "graph" -> Family(Set("lineitem"), "lineitem", "lineitem_rows",
      Seq("q_pagerank", "q_components", "q_triangles", "q_khop")),
    "misc" -> Family(Set("documents", "events", "orders"),
      "documents", "docs_rows",
      Seq("q_mm_features", "q_mm_resize", "q_mm_phash", "q_mm_frames",
        "q_profile", "q_chi2", "q_histogram", "q_drift")),
    "text" -> Family(Set("documents"), "documents", "docs_rows",
      Seq("q_text_stats", "q_lang_id", "q_fingerprint", "q_vocab",
        "q_tfidf", "q_bm25_topk", "q_ngram_lm", "q_perplexity",
        "q_bpe_encode", "q_chunk", "q_pack")),
    "stream" -> Family(Set("events"), "events", "events_rows",
      Seq("q_sessionize", "q_window_agg", "q_window_sliding",
        "q_first_seen", "q_hll_stream", "q_cms_stream", "q_heavy_hitters")),
    "sample" -> Family(Set("documents"), "documents", "docs_rows",
      Seq("q_sample", "q_mix", "q_dsir", "q_split_safe", "q_reservoir",
        "q_weighted_sample", "q_token_budget", "q_shards")),
    "dedup" -> Family(Set("documents"), "documents", "n",
      Seq("minhash", "simhash", "winnow", "spans", "cluster"),
      dedupStages, perturbedCopies),
    "ann" -> Family(Set("embeddings"), "embeddings", "n",
      Seq("build", "knn", "semdedup", "table_build", "table_knn"),
      annStages, embeddingsRequired,
      (s, sec, n) =>
        if (s == "build") s""""build_sec":${Bench.fmt(sec)},"build_evals":$n"""
        else s""""${s}_sec":${Bench.fmt(sec)}"""))

  /** Dedup's fixture: copy 0 is the base corpus; copy i ≥ 1 shifts ids
    * by i·10⁸ and suffixes every token with a copy tag (from a non-token
    * alphabet, so no tokenizer merges it into a neighbour). Cross-copy
    * shingle overlap is zero, so true near-dup pairs grow linearly
    * with k instead of quadratically as with identical copies. */
  private def perturbedCopies(spark: SparkSession, baseDir: String,
                              dir: String, k: Int, tables: Set[String]): Unit = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 until k).map { i =>
      if (i == 0) base
      else base
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1⸚" + i))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Clustering runs on the minhash pair stream, the linear sketch path,
    * not the exact ngram path whose blocked all-pairs is quadratic. */
  private def dedupStages(spark: SparkSession, dir: String): Point = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def minhash = Dedup.minhashDedup(d, "doc_id", "text", k = 3, threshold = 0.8)
    val stages: Map[String, () => Long] = Map(
      "minhash" -> (() => minhash.count()),
      "simhash" -> (() =>
        Dedup.simhashDedup(d, "doc_id", "text", maxHamming = 3).count()),
      "winnow" -> (() =>
        Dedup.winnowNearDup(d, "doc_id", "text", n = 24, w = 8,
          minShared = 2).count()),
      "spans" -> (() => Dedup.dupSpanStats(d, "doc_id", "text", k = 8).count()),
      "cluster" -> (() =>
        Dedup.nearDupClusters(d.select(col("doc_id")),
          minhash.select(col("id_a"), col("id_b")), "doc_id")
          .filter(col("cluster") =!= col("doc_id")).count()))
    Point(s => stages(s)(), Some(d))
  }

  /** ScaleUp's copies duplicate every vector, which would measure
    * duplicate-dense cells rather than a larger corpus, and there is no
    * generator of distinct vectors here: ann reads prepared sets. */
  private def embeddingsRequired(spark: SparkSession, baseDir: String,
                                 dir: String, k: Int, tables: Set[String]): Unit =
    sys.error(s"ann needs $dir/embeddings.parquet: a set of " +
      s"distinct vectors at scale x$k; none is generated from $baseDir")

  /** A fresh hierarchical index build (uncached: the memo would amortize
    * what is under audit) with its distance-evaluation tally, which,
    * unlike wall time, host steal cannot move; the kNN-graph pass
    * (`q_ann_knn`'s body); SemDeDup (`q_semantic_dedup`'s); and the
    * distributed-centroid table index, whose crossover with the literal
    * index this records. */
  private def annStages(spark: SparkSession, dir: String): Point = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    var idx: Similarity.HierIvfIndex = null
    var tab: Similarity.HierIvfTableIndex = null
    Point({
      case "build" =>
        DistanceEvalCounter.reset()
        idx = Similarity.buildHierIvfIndex(e, "vec_id", "embedding")
        idx.base.assigned.count()
        DistanceEvalCounter.get
      case "knn" =>
        Similarity.knnJoinHier(idx, e, "vec_id", "embedding",
          k = 10, nprobe = 4, nsp = 4).count()
      case "semdedup" =>
        try Dedup.semanticDedup(idx.base, "vec_id", threshold = 0.30).count()
        finally idx.release()
      case "table_build" =>
        tab = Similarity.buildHierIvfTableIndex(e, "vec_id", "embedding")
        tab.assigned.count()
      case "table_knn" =>
        try Similarity.knnJoinHierTable(tab, e, "vec_id", "embedding",
          k = 10, nprobe = 4, nsp = 4).count()
        finally tab.release()
    }, Some(e))
  }

  /** Forces every output column: a bare count() lets Catalyst prune
    * the expressions being measured. The xxhash64 over all columns is
    * one codegen'd hash per row, paid alike at every scale, so it
    * cancels out of the between-point ratios. */
  private def force(df: DataFrame): Long =
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("__h")))
      .head().getLong(0)

  /** The audit JSON of `family` at scales `ks`. */
  def run(spark: SparkSession, family: String, baseDir: String,
          workDir: String, ks: Seq[Int]): String = {
    val f = families(family)
    val points = ks.map { k =>
      val dir = s"$workDir/x$k"
      if (!f.tables.forall { t =>
          val table = new File(s"$dir/$t.parquet")
          table.isFile || new File(table, "_SUCCESS").exists() })
        f.fixture(spark, baseDir, dir, k, f.tables)
      val m = spark.read.parquet(s"$dir/${f.countTable}.parquet").count()
      val p = f.open(spark, dir)
      def cold(): Unit = {
        spark.catalog.clearCache()
        p.input.foreach { d => d.persist(StorageLevel.MEMORY_AND_DISK).count() }
        System.gc()
      }
      cold()
      f.stages.foreach(p.run)
      val timed = f.stages.map { s =>
        cold()
        val t0 = System.nanoTime()
        val n = p.run(s)
        (s, (System.nanoTime() - t0) / 1e9, n)
      }
      p.input.foreach(_.unpersist(false))
      println(s"[$family-audit] x$k ${f.countLabel}=$m " + timed
        .map { case (s, sec, n) => s"$s=${Bench.fmt(sec)}s/$n" }.mkString(" "))
      (s""""label":"x$k","${f.countLabel}":$m""" +: timed.map(f.fields.tupled))
        .mkString("{", ",", "}")
    }
    s"""{"metric":"${family}_scale","points":[${points.mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 5 && families.contains(args(0)),
      s"usage: ScaleAudit <${families.keys.toSeq.sorted.mkString("|")}> " +
        "<out.json> <baseDir> <workDir> <k1,k2,...>")
    val Array(family, out, baseDir, workDir, ks) = args
    val spark = Session()
    val json = run(spark, family, baseDir, workDir,
      ks.split(",").map(_.trim.toInt).toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    spark.stop()
  }
}
