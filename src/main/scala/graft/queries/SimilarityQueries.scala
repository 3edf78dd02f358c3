package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.{cosineSql, dotSql,
  squaredDistanceSql}
import graft.operators.Similarity
import MLQueries.materialized

/** Similarity-search queries over the `embeddings` fixture. The query
  * set is the first 16 vectors (broadcast-small, per the ANN contract);
  * the corpus is the whole table.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  /** DuckDB replay of q_ann_pq: 8 per-subspace k-means chains (the
    * proven kmeansCtePrefix pattern, prefixed s0_..s7_ over
    * list_slice'd subvectors), neighbor codes = the final assignments
    * joined to their subcentroids, ADC = the left-associated sum of 8
    * subspace dots (the exact op order of the Spark LUT fold), top-40
    * candidate cut, exact-cosine re-rank to k=10. */
  private def pqOracle(m: Int, ksub: Int, ds: Int, iters: Int,
                       kCand: Int, k: Int): String = {
    val chains = (0 until m).map { j =>
      materialized(MLQueries.kmeansCtePrefix(ksub, iters, ds, prefix = s"s${j}_",
        xExpr = s"list_slice(embedding, ${j * ds + 1}, ${(j + 1) * ds})"))
    }.mkString(",\n")
    val nbrJoins = (0 until m).map { j =>
      val a = s"s${j}_a${iters + 1}"
      val c = s"s${j}_c$iters"
      val link = if (j == 0) s"$a a$j"
      else s"JOIN $a a$j ON a$j.vec_id = a0.vec_id"
      s"$link JOIN $c b$j ON b$j.cell = a$j.cell"
    }.mkString("\n  ")
    val rCols = (0 until m).map(j => s"b$j.c AS r$j").mkString(", ")
    val terms = (0 until m).map { j =>
      dotSql(s"list_slice(q.qv, ${j * ds + 1}, ${(j + 1) * ds})", s"n.r$j")
    }.mkString("\n  + ")
    s"""WITH $chains,
       |nbr AS (
       | SELECT a0.vec_id AS neighbor_id, $rCols
       | FROM $nbrJoins),
       |q AS (SELECT vec_id AS query_id,
       |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 16),
       |adc AS (
       | SELECT q.query_id, n.neighbor_id,
       |  $terms AS adc
       | FROM nbr n CROSS JOIN q
       | WHERE n.neighbor_id <> q.query_id),
       |cand AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rnk
       |  FROM adc) t WHERE rnk <= $kCand),
       |s AS (
       | SELECT c.query_id, c.neighbor_id,
       |  ${cosineSql("q2.embedding", "e.embedding")} AS cos
       | FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q2 ON q2.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       | SELECT query_id, neighbor_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       | FROM s) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of q_ann_ivfpq: the q_ann_ivf coarse chain
    * (unprefixed pts/c5/a6) + the 8 pqOracle subspace chains, neighbor
    * codes joined with their coarse cell, the probeIvf cell pick, ADC
    * restricted to probed cells, exact-cosine re-rank. */
  private def ivfPqOracle(nCells: Int, m: Int, ksub: Int, ds: Int,
                          iters: Int, nprobe: Int, kCand: Int,
                          k: Int): String = {
    val cellChain = materialized(MLQueries.kmeansCtePrefix(nCells, iters, 64))
    val subChains = (0 until m).map { j =>
      materialized(MLQueries.kmeansCtePrefix(ksub, iters, ds, prefix = s"s${j}_",
        xExpr = s"list_slice(embedding, ${j * ds + 1}, ${(j + 1) * ds})"))
    }.mkString(",\n")
    val nbrJoins = (0 until m).map { j =>
      val a = s"s${j}_a${iters + 1}"
      val c = s"s${j}_c$iters"
      val link = if (j == 0) s"$a a$j"
      else s"JOIN $a a$j ON a$j.vec_id = a0.vec_id"
      s"$link JOIN $c b$j ON b$j.cell = a$j.cell"
    }.mkString("\n  ")
    val rCols = (0 until m).map(j => s"b$j.c AS r$j").mkString(", ")
    val terms = (0 until m).map { j =>
      dotSql(s"list_slice(p.qv, ${j * ds + 1}, ${(j + 1) * ds})", s"n.r$j")
    }.mkString("\n  + ")
    s"""WITH $cellChain,
       |$subChains,
       |nbr AS MATERIALIZED (
       | SELECT a0.vec_id AS neighbor_id, g.cell AS cell, $rCols
       | FROM $nbrJoins
       |  JOIN a${iters + 1} g ON g.vec_id = a0.vec_id),
       |cells AS (SELECT cell, c FROM c$iters),
       |q AS (SELECT vec_id AS query_id,
       |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 16),
       |probes AS (
       | SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, cells.cell,
       |   ROW_NUMBER() OVER (PARTITION BY q.query_id
       |    ORDER BY ${cosineSql("q.qv", "cells.c")} DESC, cells.cell ASC)
       |    AS prank
       |  FROM q, cells) t WHERE prank <= $nprobe),
       |adc AS (
       | SELECT p.query_id, n.neighbor_id,
       |  $terms AS adc
       | FROM nbr n JOIN probes p
       |  ON p.cell = n.cell AND n.neighbor_id <> p.query_id),
       |cand AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rnk
       |  FROM adc) t WHERE rnk <= $kCand),
       |s AS (
       | SELECT c.query_id, c.neighbor_id,
       |  ${cosineSql("q2.embedding", "e.embedding")} AS cos
       | FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q2 ON q2.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       | SELECT query_id, neighbor_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       | FROM s) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of the r6 scale-safe hierarchical index build
    * ([[graft.operators.Similarity.buildHierIvfIndex]]) — the full
    * training trajectory, not just its output:
    *  - `smp` — the deterministic [[Similarity.sampleModFor]] training
    *    gate (`vec_id % (CASE n>1024 THEN 8 ELSE 1 END) = 0`);
    *  - `sup_*` — the super layer: the proven k-means CTE chain run
    *    over the SAMPLE with supersFor(cellsFor(n)) clusters;
    *  - `hc0` — cell seeds: first nCells sample rows by id;
    *  - per Lloyd iteration i: `hm$i` (cell→super map: every cell to
    *    its nearest super, ties to the smaller super — the driver
    *    nearestIdx mirror), `hsp$i` (each sample row's nearest
    *    NON-EMPTY super — the NearestCellHier stage-1 mirror),
    *    `ha$i` (nearest cell among that super's members — stage 2),
    *    `hc$i` (exact-decimal centroid update, empty cells keep);
    *  - `hm${iters+1}` — the final map, `haF` — the one full-corpus
    *    hierarchical assignment pass.
    * Every argmin is a ROW_NUMBER over the same (sqdist ASC, id ASC)
    * order the codegen'd kernel folds, so the replay is bit-exact. */
  private def hierBuildCtes(iters: Int, dim: Int): String = {
    val nExpr = "(SELECT count(*) FROM embeddings)"
    val nCellsExpr =
      s"greatest(16, CAST(ceil($nExpr / 64.0) AS INT))"
    val nSuperExpr =
      s"greatest(4, CAST(ceil(sqrt($nCellsExpr)) AS INT))"
    val modExpr = s"(CASE WHEN $nExpr > 1024 THEN 8 ELSE 1 END)"
    val supChain = materialized(MLQueries.kmeansCteGeneric(nSuperExpr,
      iters, dim, prefix = "sup_", table = "smp"))
    // cell→super map from the iteration's INCOMING cells `src`: every
    // super eligible (matches the driver-side nearestIdx over the full
    // super matrix).
    def cmap(i: Int, src: String) =
      s"""hm$i AS MATERIALIZED (
         | SELECT cell, c, sup FROM (
         |  SELECT h.cell, h.c, s.cell AS sup,
         |   ROW_NUMBER() OVER (PARTITION BY h.cell
         |     ORDER BY ${squaredDistanceSql("h.c", "s.c")} ASC, s.cell ASC) AS rnk
         |  FROM $src h, sup_c$iters s) t WHERE rnk = 1)""".stripMargin
    // two-stage hierarchical assignment of `pts` under map hm$i:
    // nearest non-empty super, then nearest member cell.
    def hassign(tag: String, i: Int, pts: String) =
      s"""hsp$tag AS MATERIALIZED (
         | SELECT vec_id, x, sup FROM (
         |  SELECT p.vec_id, p.x, s.cell AS sup,
         |   ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |     ORDER BY ${squaredDistanceSql("p.x", "s.c")} ASC, s.cell ASC) AS rnk
         |  FROM $pts p,
         |   (SELECT * FROM sup_c$iters
         |    WHERE cell IN (SELECT DISTINCT sup FROM hm$i)) s) t
         | WHERE rnk = 1),
         |ha$tag AS MATERIALIZED (
         | SELECT vec_id, x, cell FROM (
         |  SELECT q.vec_id, q.x, m.cell,
         |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${squaredDistanceSql("q.x", "m.c")} ASC, m.cell ASC) AS rnk
         |  FROM hsp$tag q JOIN hm$i m ON m.sup = q.sup) t
         | WHERE rnk = 1)""".stripMargin
    def update(i: Int) =
      s"""hc$i AS MATERIALIZED (
         | SELECT cell, list(m ORDER BY dim) AS c FROM (
         |  SELECT cell, dim,
         |   CAST(SUM(CAST(CAST(list_extract(x, dim) AS DOUBLE)
         |     AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM ha$i, range(1, ${dim + 1}) r(dim)
         |  GROUP BY cell, dim) t
         | GROUP BY cell
         | UNION ALL
         | SELECT cell, c FROM hc${i - 1}
         | WHERE cell NOT IN (SELECT cell FROM ha$i))""".stripMargin
    val steps = (1 to iters).map(i =>
      Seq(cmap(i, s"hc${i - 1}"), hassign(i.toString, i, "spts"),
        update(i)).mkString(",\n")).mkString(",\n")
    s"""smp AS MATERIALIZED (
       | SELECT * FROM embeddings WHERE vec_id % $modExpr = 0),
       |$supChain,
       |spts AS MATERIALIZED (
       | SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       | FROM smp),
       |hc0 AS MATERIALIZED (
       | SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
       | FROM (SELECT * FROM smp ORDER BY vec_id LIMIT $nCellsExpr) t),
       |$steps,
       |${cmap(iters + 1, s"hc$iters")},
       |fpts AS MATERIALIZED (
       | SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       | FROM embeddings),
       |${hassign("F", iters + 1, "fpts")}""".stripMargin
  }

  // knnJoinHier replay over the r6 SCALE-SAFE build: the full
  // sampled + super-restricted training trajectory (hierBuildCtes —
  // sample gate, sampled super chain, 5 hierarchical cell-Lloyd
  // iterations, final full-corpus assignment haF), then the
  // unchanged two-level probe pick: per query top-4 supers by
  // (scos DESC, super ASC) over ALL supers (empty ones burn a slot,
  // matching the array-sort literal), top-4 cells among the picked
  // supers' members (hm6), in-cell scoring with q_ann_brute's
  // tie-breaks.
  // q_ann_knn_table shares this oracle verbatim: the table-path
  // build/probe is bit-identical to the literal path by the
  // SimilaritySpec equality law.
  private val annKnnOracle =
    s"""WITH ${hierBuildCtes(iters = 5, dim = 64)},
       |cellsup AS (SELECT cell, sup FROM hm6),
       |q AS (SELECT vec_id AS query_id,
       |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
       |  FROM embeddings),
       |spick AS (
       | SELECT query_id, qv, sup FROM (
       |  SELECT q.query_id, q.qv, s.cell AS sup,
       |   ROW_NUMBER() OVER (PARTITION BY q.query_id
       |    ORDER BY ${cosineSql("q.qv", "s.c")} DESC, s.cell ASC)
       |    AS srank
       |  FROM q, sup_c5 s) t WHERE srank <= 4),
       |probes AS (
       | SELECT query_id, qv, cell FROM (
       |  SELECT sp.query_id, sp.qv, c.cell,
       |   ROW_NUMBER() OVER (PARTITION BY sp.query_id
       |    ORDER BY ${cosineSql("sp.qv", "c.c")} DESC, c.cell ASC)
       |    AS prank
       |  FROM spick sp JOIN cellsup cs ON cs.sup = sp.sup
       |   JOIN hc5 c ON c.cell = cs.cell) t WHERE prank <= 4),
       |s AS (
       | SELECT p.query_id, a.vec_id AS neighbor_id,
       |  ${cosineSql("p.qv", "a.x")} AS cos
       | FROM haF a JOIN probes p
       |  ON a.cell = p.cell AND a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       | SELECT query_id, neighbor_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       | FROM s) WHERE rank <= 10""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Exact cosine top-10 via broadcast + bounded-heap partial top-k.
    QuerySpec("q_ann_brute", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10)
    }, Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  ${cosineSql("qv", "e.embedding")} AS cos
         | FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         | SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         | FROM s) WHERE rank <= 10""".stripMargin)),

    // IVF (k-means cells, nprobe=4) approximate top-10. Approximate vs
    // the TRUE top-k (recall floor in SimilaritySpec), but fully
    // deterministic as a computation — the DuckDB oracle replays the
    // whole pipeline (Lloyd index build, position-indexed cells, probe
    // ranking, exact cosine inside probed cells) and hash-matches.
    // Build/probe split: the index is built once per (corpus, params)
    // via the content-keyed IndexCache and every subsequent invocation
    // over unchanged files — notably each timed bench rep — pays probe
    // cost only, which is the amortization IVF exists to buy.
    QuerySpec("q_ann_ivf", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedIvfIndex(e, "vec_id", "embedding",
        nCells = 16)
      Similarity.probeIvf(idx, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10, nprobe = 4)
    }, Some(
      // Mirror of cachedIvfIndex(nCells=16, 5 Lloyd iters) + probeIvf
      // (nprobe=4, k=10): the index build reuses the exact k-means CTE
      // chain that q_ml_kmeans_native already hash-matches; cells are the
      // final centroids c5, the corpus assignment is a6, the probe pick
      // is (ccos DESC, cell ASC) row_number <= nprobe, and the in-cell
      // scoring + top-k tie-breaks match q_ann_brute.
      s"""WITH ${MLQueries.kmeansCtePrefix(k = 16, iters = 5, dim = 64)},
         |cells AS (SELECT cell, c FROM c5),
         |q AS (SELECT vec_id AS query_id,
         |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 16),
         |probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.query_id, q.qv, cells.cell,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineSql("q.qv", "cells.c")} DESC, cells.cell ASC)
         |    AS prank
         |  FROM q, cells) t WHERE prank <= 4),
         |s AS (
         | SELECT p.query_id, a.vec_id AS neighbor_id,
         |  ${cosineSql("p.qv", "a.x")} AS cos
         | FROM a6 a JOIN probes p
         |  ON a.cell = p.cell AND a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         | SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         | FROM s) WHERE rank <= 10""".stripMargin)),

    // Incremental index maintenance: the index is TRAINED on the 80%
    // "historic" slice (vec_id % 5 <> 0) and the 20% delta is appended
    // WITHOUT re-clustering — assigned under the frozen centroids, the
    // segment-append pattern that amortizes the cluster pass across an
    // index's lifetime at 100 TB (a nightly ingest pays one narrow
    // assignment pass + a delta-sized shuffle; the main segment's
    // bytes never move). Probes then serve old+new uniformly. The
    // oracle trains the k-means chain on the SLICE and assigns the
    // FULL corpus under those centroids — exactly what append did.
    QuerySpec("q_ann_incr", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedAppendedIndex(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", nCells = 16)
      Similarity.probeIvf(idx, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10, nprobe = 4)
    }, Some {
      // Incremental-append replay: the k-means chain trains on the 80%
      // slice (table = the train CTE), then ONE assignment pass of the
      // FULL corpus under those frozen centroids (afull — the same
      // ROW_NUMBER-over-squared-distance mirror of NearestCell the
      // chain's own assignment steps use). Probe/score/tie-breaks are
      // the q_ann_ivf replay over afull.
      val chain = MLQueries.kmeansCteGeneric("16", iters = 5, dim = 64,
        table = "train")
      s"""WITH train AS (
         |  SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
         |$chain,
         |allp AS (SELECT vec_id,
         |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
         |  FROM embeddings),
         |afull AS (
         | SELECT vec_id, x, cell FROM (
         |  SELECT p.vec_id, p.x, c.cell,
         |   ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |     ORDER BY ${squaredDistanceSql("p.x", "c.c")} ASC, c.cell ASC) AS rnk
         |  FROM allp p, c5 c) t WHERE rnk = 1),
         |cells AS (SELECT cell, c FROM c5),
         |q AS (SELECT vec_id AS query_id,
         |   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 16),
         |probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.query_id, q.qv, cells.cell,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineSql("q.qv", "cells.c")} DESC, cells.cell ASC)
         |    AS prank
         |  FROM q, cells) t WHERE prank <= 4),
         |s AS (
         | SELECT p.query_id, a.vec_id AS neighbor_id,
         |  ${cosineSql("p.qv", "a.x")} AS cos
         | FROM afull a JOIN probes p
         |  ON a.cell = p.cell AND a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         | SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         | FROM s) WHERE rank <= 10""".stripMargin
    }),

    // Filtered vector search: top-5 neighbors restricted to the
    // query's own label (the block joins before any cosine — scoring
    // cost is the post-filter candidate count, with exact recall where
    // an unfiltered-probe-then-filter loses it).
    QuerySpec("q_ann_blocked", (s, dir) => {
      val e = emb(s, dir)
      Similarity.blockedTopK(e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", "label", k = 5)
    }, Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
         |  FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  ${cosineSql("qv", "e.embedding")} AS cos
         | FROM embeddings e JOIN q
         |  ON e.label = q.label AND e.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         | SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         | FROM s) WHERE rank <= 5""".stripMargin)),

    // kNN-graph construction: EVERY corpus vector is a query (top-10
    // neighbors each) through the shuffle-join KNN path — queries are
    // never broadcast (narrow cell pick, probes shuffled by cell
    // against the cell-partitioned index). Unlike the probe-set
    // queries (q_ann_ivf etc., whose cost is bounded by their 16
    // queries), this workload sizes its OWN index: nCells =
    // cellsFor(n) ∝ corpus so per-probe candidates stay constant, and
    // the probe pick is two-level (√nCells super-cells) so picking
    // doesn't become the new O(nCells) per-query term — the r5 sf1
    // audit measured the fixed-16-cell variant at 39.5× for 10× data;
    // this shape is ~linear. At sf0.01 (500 vectors) the sizing rule
    // yields the same 16 cells and nsp=4 opens all 4 supers, so
    // results there equal the flat pick exactly (SimilaritySpec law).
    QuerySpec("q_ann_knn", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedHierIvfIndex(e, "vec_id", "embedding")
      Similarity.knnJoinHier(idx, e, "vec_id", "embedding",
        k = 10, nprobe = 4, nsp = 4)
    }, Some(annKnnOracle)),

    // The SAME kNN-graph workload through the beyond-MaxLiteralCells
    // TABLE-path index (distributed cell-centroid state, sup-keyed
    // pick join, bounded-heap nprobe cut, aggregate-driven salt) —
    // the shape a >10⁷-vector corpus MUST use. The paths are
    // bit-identical by the SimilaritySpec equality law, so the oracle
    // is q_ann_knn's verbatim; this row exists so the driver's gate
    // actually EXECUTES the distributed-centroid code every round —
    // before it, a regression there was invisible to CORRECTNESS
    // (spec-covered only).
    QuerySpec("q_ann_knn_table", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedHierIvfTableIndex(e, "vec_id", "embedding")
      Similarity.knnJoinHierTable(idx, e, "vec_id", "embedding",
        k = 10, nprobe = 4, nsp = 4)
    }, Some(annKnnOracle)),

    // Symmetric int8 quantization of the corpus (the 4× ANN memory
    // lever) — pure IEEE arithmetic, exact oracle. The code array is
    // serialized to a CSV string for the registry output: the driver's
    // comparator sorts result columns with pandas, which cannot hash
    // ARRAY cells (r4 verdict item 1).
    QuerySpec("q_quantize", (s, dir) =>
      Similarity.quantizeInt8(emb(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",",
            transform(col("qvec"), _.cast("string"))).as("qvec")),
      Some(
        """WITH pts AS (
          | SELECT vec_id,
          |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
          | FROM embeddings),
          |sc AS (
          | SELECT vec_id, x,
          |  list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
          | FROM pts)
          |SELECT vec_id, scale,
          | array_to_string(list_transform(
          |  CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
          |   ELSE list_transform(x, v -> CAST(floor(v / scale + 0.5) AS INT))
          |   END, v -> CAST(v AS VARCHAR)), ',') AS qvec
          |FROM sc""".stripMargin)),

    // Top-10 by quantized integer dot product — all-integer scoring,
    // so the oracle compare needs no float discipline at all.
    QuerySpec("q_ann_quant", (s, dir) => {
      val e = emb(s, dir)
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10)
    }, Some(
      """WITH pts AS (
        | SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        | FROM embeddings),
        |sc AS (
        | SELECT vec_id, x,
        |  list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
        | FROM pts),
        |qv AS (
        | SELECT vec_id,
        |  CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
        |   ELSE list_transform(x, v -> CAST(floor(v / scale + 0.5) AS INT))
        |   END AS q
        | FROM sc),
        |pairs AS (
        | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  CAST(list_reduce(list_transform(list_zip(a.q, b.q),
        |    p -> p[1] * p[2]), (x, y) -> x + y) AS BIGINT) AS dot
        | FROM qv a JOIN qv b
        |  ON a.vec_id < 16 AND b.vec_id <> a.vec_id)
        |SELECT query_id, neighbor_id, rank, dot FROM (
        | SELECT query_id, neighbor_id, dot,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |   ORDER BY dot DESC, neighbor_id) AS INT) AS rank
        | FROM pairs) t WHERE rank <= 10""".stripMargin)),

    // Product quantization (IVF-PQ's compression half): 8 subspace
    // codebooks of 16 cells (32× corpus memory cut vs float32), ADC
    // scan over the 8-byte codes, exact re-rank of the top-40
    // candidates to k=10. Build/probe split via the IndexCache,
    // like q_ann_ivf. Approximate vs the true top-k (recall floor in
    // SimilaritySpec) but fully deterministic — the oracle replays the
    // 8 per-subspace k-means chains, the code assignment, the
    // left-associated ADC term sum, and the re-rank bit-for-bit.
    QuerySpec("q_ann_pq", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedPqIndex(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      Similarity.probePq(idx, e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10, refine = 4)
    }, Some(pqOracle(m = 8, ksub = 16, ds = 8, iters = 5, kCand = 40, k = 10))),

    // Composed IVF-PQ — the production ANN shape: coarse cells bound
    // WHICH codes a probe touches (nprobe/nCells of the corpus), PQ
    // bounds what each touch costs (8 LUT lookups over 8 bytes), then
    // exact re-rank. Shares the cached IVF cells AND PQ codebooks with
    // q_ann_ivf / q_ann_pq — each cluster pass is built once per
    // corpus. Fully deterministic; the oracle replays cells + 8
    // subspace chains + probe pick + in-cell ADC + re-rank.
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedIvfPqIndex(e, "vec_id", "embedding",
        nCells = 16, m = 8, ksub = 16)
      Similarity.probeIvfPq(idx, e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 10, nprobe = 4, refine = 4)
    }, Some(
      ivfPqOracle(nCells = 16, m = 8, ksub = 16, ds = 8, iters = 5,
        nprobe = 4, kCand = 40, k = 10))),

    // Semantic dedup (SemDeDup): k-means cells as the blocking key,
    // within-cell cosine ≥ 0.30 against any smaller id ⇒ duplicate.
    // Shares the ADAPTIVE index with q_ann_knn (one cluster pass buys
    // search AND dedup): cellsFor(n) cells keep each cell ~64 vectors
    // regardless of corpus size, so the within-cell quadratic — the
    // term that decides whether SemDeDup survives 100 TB — is bounded
    // by construction, not by caller discipline.
    QuerySpec("q_semantic_dedup", (s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.cachedHierIvfIndex(e, "vec_id", "embedding").base
      graft.operators.Dedup.semanticDedup(idx, "vec_id",
        threshold = 0.30)
    }, Some(
      // SemDeDup replay: the same r6 scale-safe hierarchical build as
      // q_ann_knn (shared adaptive index — one training trajectory buys
      // search AND dedup), then the within-cell smaller-id cosine test
      // over the final full-corpus assignment haF. Cosine is the
      // bit-exact cosineSql mirror, so the 0.30 threshold cut agrees
      // exactly; cells stay ~64 vectors by construction at any n.
      s"""WITH ${hierBuildCtes(iters = 5, dim = 64)},
         |d AS (
         | SELECT DISTINCT b.vec_id AS id
         | FROM haF a JOIN haF b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         | WHERE ${cosineSql("a.x", "b.x")} >= 0.30)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
         | a.vec_id IN (SELECT id FROM d) AS is_dup
         |FROM haF a""".stripMargin))
  )
}
