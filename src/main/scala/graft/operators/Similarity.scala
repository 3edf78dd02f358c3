package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. The scale-critical part is
  *    the shuffle shape: scoring happens map-side against a BROADCAST
  *    query set, and the per-query top-k is reduced with a bounded-heap
  *    [[TopKAgg]] `Aggregator`, so partial (map-side) aggregation sends
  *    only k candidates per query per partition to the shuffle — never
  *    the full |corpus|×|queries| score matrix. At 100 TB the cost is one
  *    corpus scan + an O(queries·k·partitions) shuffle.
  *  - [[ivfTopK]] — IVF (inverted-file) index: corpus is assigned to
  *    centroid cells once (k-means), queries probe only the `nprobe`
  *    nearest cells; exact cosine within probed cells. The standard
  *    recall/cost dial for embedding search at scale.
  *
  * Cosine is computed with [[Dedup.cosine]]'s strict left-to-right double
  * fold so results are bit-exact reproducible (and oracle-checkable).
  */
object Similarity {

  /** (neighbor id, score) pair carried through the top-k heap. */
  case class Scored(id: Long, score: Double)

  /** Bounded top-k aggregator: keeps the k best (score desc, id asc)
    * pairs. Buffer is a sorted Seq capped at k, so map-side partial
    * aggregation bounds both memory and shuffle volume. Deterministic
    * under any merge order because the comparator is total. */
  class TopKAgg(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    private val ord: Ordering[Scored] =
      Ordering.by((s: Scored) => (-s.score, s.id))
    override def zero: Seq[Scored] = Vector.empty
    override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
      ((b :+ a).sorted(ord)).take(k)
    override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
      ((a ++ b).sorted(ord)).take(k)
    override def finish(r: Seq[Scored]): Seq[Scored] = r
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Ceiling on the broadcast query-set size the probe-set APIs accept
    * (2²⁰ rows ≈ 0.5 GB of 64-dim doubles — past any sane broadcast). */
  val MaxProbeRows: Long = 1L << 20

  /** PROBE-SET-ONLY contract guard: [[bruteForceTopK]]/[[probeIvf]]
    * broadcast their query side — a corpus-sized query table belongs on
    * [[knnJoinIvf]]/[[knnJoinHier]] (shuffle-join KNN, queries never
    * broadcast). A statically-bounded plan (the usual limit-built probe
    * set) proves the contract from its `maxRows` for free; otherwise
    * the check is a limit-bounded count — bounded OUTPUT, though a
    * selective filter may still scan its input once, the price of
    * failing fast here instead of OOMing the broadcast three stages
    * later. */
  private def requireProbeSet(queries: DataFrame, api: String,
                              maxRows: Long): Unit = {
    if (queries.queryExecution.optimizedPlan.maxRows.exists(_ <= maxRows))
      return
    val seen = queries.limit((maxRows + 1).min(Int.MaxValue).toInt).count()
    require(seen <= maxRows,
      s"$api broadcasts its query set; got > $maxRows query rows — " +
        "use knnJoinIvf/knnJoinHier for large query sides")
  }

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Output: (query_id, neighbor_id, rank, cos), rank 1..k by
    * (cos desc, neighbor_id asc); self-matches excluded when ids collide.
    * `queries` must be broadcast-small (the ANN contract — guarded by
    * [[MaxProbeRows]]; kNN-graph-scale query sides use
    * [[knnJoinIvf]]/[[knnJoinHier]]). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     id: String, vec: String, k: Int,
                     maxProbeRows: Long = MaxProbeRows): DataFrame = {
    requireProbeSet(queries, "bruteForceTopK", maxProbeRows)
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    // Spread the corpus before scoring: a small single-file input
    // would otherwise evaluate every cosine on one task. Conditional
    // (Frames.spread) — a many-split production scan skips the
    // exchange of the vector payload entirely.
    val scored = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .transform(Frames.spread)
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** Reduce (query_id, neighbor_id, cos) rows to per-query top-k with
    * the native bounded-heap aggregate ([[graft.functions.TopKPairs]],
    * a `TypedImperativeAggregate` — primitive heap buffer, flat-bytes
    * shuffle format) + explode back to ranked rows. */
  private[graft] def topKByGroup(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKFunctions
        .topK(col("neighbor_id"), col("cos"), k).as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("rank0", "n")))
      .select(col("query_id"), col("n.id").as("neighbor_id"),
        (col("rank0") + 1).as("rank"), col("n.score").as("cos"))

  /** `Aggregator`-based formulation of the same top-k (encoder-buffered;
    * kept for differential testing of the native aggregate). */
  private[graft] def topKByGroupUdaf(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = udaf(new TopKAgg(k))
    scored
      .groupBy(col("query_id"))
      .agg(agg(col("neighbor_id"), col("cos")).as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("rank0", "n")))
      .select(col("query_id"), col("n.id").as("neighbor_id"),
        (col("rank0") + 1).as("rank"), col("n.score").as("cos"))
  }

  /** A built IVF index: the corpus with every row assigned to its
    * nearest centroid cell, plus the centroid table, both keyed by cell
    * POSITION (0..nCells-1, dense — positions, not k-means cluster ids,
    * so an empty training cluster can never desynchronize the
    * assignment kernel from the probe table). Built once, probed many
    * times; `assigned.write.partitionBy("cell")` would persist it.
    *
    * `assigned` is hash-partitioned by cell and [[Frames.stage]]d, so
    * no later build can plan-match onto a half-dropped
    * InMemoryRelation and a query using it leaves no CacheManager
    * entry. [[release]] frees it. */
  final case class IvfIndex(
      assigned: DataFrame,           // (neighbor_id, cv, cell)
      centroids: DataFrame,          // (cell, centroid), broadcast-small
      matrix: Array[Array[Double]]) extends IndexCache.Index {
    /** Per-cell member counts for the skew salt — fixed once the index
      * is built/appended, so they are computed at most once per index
      * instance (recomputing per probe call cost one extra Spark job
      * per kNN join). Null-cell rows (a null embedding in the corpus)
      * are skipped: a null key can never match a probe's cell. */
    lazy val cellCounts: Array[Long] = {
      val counts = new Array[Long](matrix.length)
      assigned.groupBy(col("cell")).count().collect()
        .foreach(r => if (!r.isNullAt(0)) counts(r.getInt(0)) = r.getLong(1))
      counts
    }
    def release(): Unit = Frames.free(assigned)
  }

  /** Build an IVF index over `corpus` with `nCells` k-means cells.
    *
    * Index build = the engine-native deterministic
    * [[graft.operators.ML.lloyd]] (codegen'd assignment, one exact fold
    * per step — an IVF index needs balanced-ish cells, not converged
    * clusters, so few iterations suffice and no opaque library sits in
    * the index path), then ONE narrow codegen'd assignment pass over
    * the corpus and a hash-repartition by cell.
    * The expensive part runs exactly once per corpus; [[probeIvf]]
    * touches only the probed cells. */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
                    nCells: Int = 16, iters: Int = 5): IvfIndex = {
    val spark = corpus.sparkSession
    val pts = Frames.stage(ML.points(corpus, id, vec), eager = false)
    val matrix = ML.lloyd(pts, nCells, iters,
      graft.functions.VectorFunctions.nearestCell(col("x"), _))
    Frames.free(pts)
    val centroids = broadcast(spark.createDataFrame(
        matrix.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid"))
    // assignment = one narrow codegen'd projection (same NearestCell
    // kernel the index build used); partitioned by cell so every probe
    // join is co-located on the index side.
    val assigned = Frames.stage(
      corpus.select(col(id), col(vec))
        .withColumn("cell", graft.functions.VectorFunctions
          .nearestCell(col(vec), matrix))
        .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("cell"))
        .repartition(spark.sparkContext.defaultParallelism, col("cell")))
    IvfIndex(assigned, centroids, matrix)
  }

  /** Probe a built [[IvfIndex]]: each query visits its `nprobe` closest
    * cells and runs exact cosine inside them. Same output shape as
    * [[bruteForceTopK]]; approximate — recall < 1 when a true neighbor
    * lives outside the probed cells. Cost is independent of the index
    * build: broadcast(queries × centroids) to pick cells, then one
    * co-located join against the pre-partitioned assigned corpus.
    *
    * PROBE SETS ONLY: the cell pick is a crossJoin against the
    * centroid table + a per-query window — per-query O(nCells), the
    * right plan for a handful of queries and the wrong one for a large
    * query side (guarded by [[MaxProbeRows]]; use
    * [[knnJoinIvf]]/[[knnJoinHier]] there). */
  def probeIvf(index: IvfIndex, queries: DataFrame,
               id: String, vec: String, k: Int, nprobe: Int = 4,
               maxProbeRows: Long = MaxProbeRows): DataFrame = {
    requireProbeSet(queries, "probeIvf", maxProbeRows)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = queries.select(col(id).as("query_id"), col(vec).as("qv"))
      .crossJoin(index.centroids)
      .withColumn("ccos", Dedup.cosine(col("qv"), col("centroid")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = index.assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** Metadata-filtered (blocked) exact top-k: neighbors are restricted
    * to corpus rows sharing the query's `block` value (same-language /
    * same-source / same-label search — the "filtered vector search"
    * shape). The block predicate joins BEFORE any cosine is computed,
    * so scoring cost is the post-filter candidate count, not |corpus|;
    * with a selective block this beats an unfiltered ANN probe + post
    * filter, which pays k-recall loss exactly where the filter is
    * selective. Same broadcast + bounded-heap shuffle contract as
    * [[bruteForceTopK]]. */
  def blockedTopK(corpus: DataFrame, queries: DataFrame,
                  id: String, vec: String, block: String,
                  k: Int): DataFrame = {
    val q = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("qv"), col(block).as("__qb")))
    val scored = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("cv"),
        col(block).as("__cb"))
      .transform(Frames.spread)
      .join(q, col("__cb") === col("__qb") &&
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** KNN join against a built [[IvfIndex]] for a LARGE query table —
    * the kNN-graph-construction shape (queries ≈ corpus), where
    * [[probeIvf]]'s broadcast probe set would not fit. Queries are
    * never broadcast and never pass through a window shuffle: the
    * nprobe cell pick is a NARROW codegen'd pass per query row
    * (transform over the broadcast centroid matrix literal +
    * `array_sort` with an explicit (cos desc, cell asc) comparator +
    * slice — no partitionBy(query) exchange), probes then shuffle by
    * CELL to meet the cell-partitioned index side, and the per-query
    * top-k is the bounded-heap partial aggregate, so the only shuffles
    * are (queries × nprobe) probe rows by cell and O(q·k·partitions)
    * heap entries. At scale, size `nCells` ≈ √corpus so per-cell
    * candidate lists — and the cell join's key cardinality — grow as
    * √corpus rather than linearly. Same output shape and tie-breaks as
    * [[probeIvf]] (identical results for identical parameters). */
  def knnJoinIvf(index: IvfIndex, queries: DataFrame,
                 id: String, vec: String, k: Int,
                 nprobe: Int = 4): DataFrame = {
    // Top-nprobe cell pick as one codegen'd kernel
    // ([[graft.functions.ProbeCells]] — same (cos desc, cell asc)
    // selection the interpreted array_sort comparator computed, minus
    // its per-row struct-array churn).
    val probes = queries
      .select(col(id).as("query_id"), col(vec).as("qv"))
      .withColumn("cell", explode(graft.functions.VectorFunctions
        .probeCells(col("qv"), index.matrix, nprobe)))
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = saltedCandidates(index, probes)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** FLOOR on the per-(cell, salt) bucket size in the corpus-sized-query
    * candidate joins (~4 design-size cells). Two-level policy:
    *
    *  - ENGAGE salting only when the biggest cell exceeds ONE TASK'S
    *    EVEN SHARE (`maxCell > max(this, corpus/parallelism)`) — that
    *    is the actual serialization hazard. Hash partitioning already
    *    balances many moderately-hot cells across tasks, and the salt
    *    is not free (the probe side explodes over the split factors,
    *    re-shuffling fanned-out query vectors: measured 2.3× on a
    *    duplicate-dense 200k-vector fixture whose 4100-row max cell a
    *    32-way partitioning handled fine unsalted).
    *  - Once engaged, split to buckets of [[saltTarget]] =
    *    `max(this, corpus/(4·parallelism))` — ~task-sized chunks, so
    *    per-cell fan-out is bounded by ~4·parallelism regardless of
    *    how degenerate the cell is. */
  private val SaltBucketRows = 256L

  /** See [[SaltBucketRows]]. */
  private def saltTarget(total: Long, par: Int): Long =
    math.max(SaltBucketRows, math.ceil(total / (4.0 * par)).toLong)

  /** See [[SaltBucketRows]]: salt only past a full task share. */
  private def saltEngages(maxCell: Long, total: Long, par: Int): Boolean =
    maxCell > math.max(SaltBucketRows, math.ceil(total.toDouble / par).toLong)

  /** Skew-safe candidate join for the kNN-graph APIs (corpus-sized
    * query side). A real corpus is never uniform over cells: duplicate
    * and dense regions concentrate BOTH members and probes onto the
    * same hot cells, and a plain join on `cell` serializes those cells'
    * candidate pairs into single tasks (measured at a 100×-duplicated
    * 200k-vector fixture: 127M of the candidate pairs landed on a few
    * tasks — 21 s where the even-spread equivalent costs < 1 s). Hot
    * cells are therefore SPLIT: one cheap cell-count pass (columnar
    * read of the persisted index's cell column, nCells ≤
    * [[MaxLiteralCells]] rows to the driver — the literal-path
    * contract) sizes `ceil(size/[[SaltBucketRows]])` splits per cell;
    * members salt by `pmod(hash(id), splits)`, probes explode over the
    * cell's splits, and the join key becomes (cell, salt). Candidate
    * PAIRS are unchanged (each member carries exactly one salt), so
    * results are bit-identical; probe-row fan-out grows only on the
    * split cells. A fully balanced index short-circuits to the plain
    * cell join on the persisted partitioning. Counts come from the
    * index's memoized [[IvfIndex.cellCounts]] (one job per index
    * lifetime, not per probe call). */
  private def saltedCandidates(index: IvfIndex,
                               probes: DataFrame): DataFrame = {
    val assigned = index.assigned
    val counts = index.cellCounts
    val par = assigned.sparkSession.sparkContext.defaultParallelism
    val total = counts.sum
    if (!saltEngages(counts.max, total, par))
      assigned.join(probes, Seq("cell"))
    else {
      val target = saltTarget(total, par)
      val salts = counts.map(c =>
        math.max(1L, math.ceil(c.toDouble / target).toLong).toInt)
      val saltLit = typedlit(salts.toSeq)
      val a = assigned.withColumn("salt",
        pmod(hash(col("neighbor_id")), element_at(saltLit, col("cell") + 1)))
      val p = probes.withColumn("salt",
        explode(sequence(lit(0), element_at(saltLit, col("cell") + 1) - 1)))
      a.join(p, Seq("cell", "salt")).drop("salt")
    }
  }

  /** Corpus-adaptive IVF sizing: cells of ~64 vectors
    * (`max(16, ceil(n/64))`). With FIXED nCells a growing corpus grows
    * every cell, so each probe's candidate list — and a full kNN-graph
    * build's total work — grows linearly per query (quadratic overall;
    * the r5 sf1 audit measured exactly that: 39.5× at 10× data).
    * Cells sized to the corpus keep per-probe candidates constant. */
  def cellsFor(n: Long): Int =
    math.max(16L, math.ceil(n / 64.0).toLong).toInt

  /** Super-cell count for the two-level probe pick: ⌈√nCells⌉ (floor
    * 4). With nCells ∝ corpus, a FLAT probe pick scores every centroid
    * per query — O(n) again. Grouping cells under √nCells super-cells
    * bounds the pick at O(√nCells) centroid scores per query. */
  def supersFor(nCells: Int): Int =
    math.max(4, math.ceil(math.sqrt(nCells.toDouble)).toInt)

  /** A two-level IVF index: the flat cell index plus a coarse layer of
    * super-cells (both trained with the same deterministic Lloyd
    * kernel, so the whole hierarchy is oracle-replayable).
    * `superMatrix(s)` is super-centroid `s`; `cellToSuper(c)` is cell
    * `c`'s super assignment under the same NearestCell tie-break the
    * corpus assignment uses. Both layers are KiB–MiB-scale driver
    * arrays up to [[MaxLiteralCells]] cells (≈ 10⁷-vector corpora);
    * beyond that use [[buildHierIvfTableIndex]]/[[knnJoinHierTable]],
    * where the cell layer is a cell-partitioned DataFrame and the pick
    * a join + bounded-heap aggregate — no corpus-proportional driver
    * or plan-literal state anywhere. */
  final case class HierIvfIndex(base: IvfIndex,
                                superMatrix: Array[Array[Double]],
                                cellToSuper: Array[Int])
      extends IndexCache.Index {
    def release(): Unit = base.release()
  }

  /** Ceiling on the cell count the literal-path index carries as driver
    * arrays / codegen references (~10⁵ cells × 64 dims × 8 B ≈ 50 MB —
    * the edge of comfortable task-broadcast). Past it,
    * [[buildHierIvfTableIndex]] keeps centroids distributed. */
  val MaxLiteralCells: Int = 100000

  /** Training-sample modulus: systematic 1-in-8 gate (`pmod(id, 8) = 0`)
    * once the corpus is past the fixed-floor regime, full corpus below
    * it. Scale-free by construction: with nCells = n/64 the sample is
    * always ~8 training points per cell, at any corpus size — the
    * sample bounds the CONSTANT of the training passes (the asymptotic
    * win is the super-layer assignment), and a deterministic id gate is
    * what lets a SQL oracle replay the exact same training set.
    * Production corpora with id-correlated content should pre-hash
    * their ids; the fixture/oracle contract assumes nonnegative ids. */
  def sampleModFor(n: Long): Int = if (n > 1024) 8 else 1

  /** Driver-side nearest-centroid pick over a small matrix — the same
    * ascending-index squared-distance fold and strict-< tie-keep as the
    * codegen'd kernels (used for the cell→super map, O(k·√k) per
    * build — never corpus-sized). */
  private[graft] def nearestIdx(x: Array[Double],
                                m: Array[Array[Double]]): Int = {
    var best = -1
    var bd = Double.PositiveInfinity
    var j = 0
    while (j < m.length) {
      val c = m(j)
      val n = math.min(x.length, c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x(i) - c(i)
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; best = j }
      j += 1
    }
    best
  }

  /** cell→super assignments inverted into per-super member lists
    * (ascending cell ids — the order the hier kernel's tie-break
    * depends on). */
  private def groupMembers(c2s: Array[Int], nSuper: Int): Array[Array[Int]] = {
    val out = Array.fill(nSuper)(scala.collection.mutable.ArrayBuffer[Int]())
    var c = 0
    while (c < c2s.length) { out(c2s(c)) += c; c += 1 }
    out.map(_.toArray)
  }

  /** Train the cell layer with super-restricted Lloyd — the scale-safe
    * replacement for a flat k-means with k ∝ corpus: [[ML.lloyd]] over
    * the [[ML.points]] `sample`, whose every step
    *   1. maps every cell centroid to its nearest (fixed) super —
    *      O(k·√k) driver work, never corpus-sized;
    *   2. assigns each sample row through [[graft.functions
    *      .NearestCellHier]] — O(√k) per row instead of O(k).
    * Returns (cellMatrix, cellToSuper-of-final-cells). */
  private[graft] def trainHierCells(sample: DataFrame,
                                    superMatrix: Array[Array[Double]],
                                    nCells: Int,
                                    iters: Int): (Array[Array[Double]], Array[Int]) = {
    val cells = ML.lloyd(sample, nCells, iters, cs =>
      graft.functions.VectorFunctions.nearestCellHier(col("x"), superMatrix, cs,
        groupMembers(cs.map(nearestIdx(_, superMatrix)), superMatrix.length)))
    (cells, cells.map(nearestIdx(_, superMatrix)))
  }

  /** Deterministic training sample for the adaptive build: the
    * [[sampleModFor]] id gate, with a fallback to the full corpus if
    * degenerate ids starve the gate below nCells rows (outside the
    * oracle contract — dense nonnegative ids never hit it). */
  private def trainingSample(corpus: DataFrame, id: String,
                             n: Long, nCells: Int): DataFrame = {
    val mod = sampleModFor(n)
    if (mod == 1) corpus
    else {
      val s = corpus.filter(pmod(col(id).cast("long"), lit(mod.toLong)) === 0)
      if (s.limit(nCells).count() >= nCells) s else corpus
    }
  }

  /** The lazily staged [[ML.points]] of [[trainingSample]], read by
    * both levels of a hierarchical build. */
  private def trainingPoints(corpus: DataFrame, id: String, vec: String,
                             n: Long, nCells: Int): DataFrame =
    Frames.stage(ML.points(trainingSample(corpus, id, n, nCells), id, vec),
      eager = false)

  /** The [[supersFor]](nCells) super-cells: flat [[ML.lloyd]], 5 steps. */
  private def trainSupers(samp: DataFrame, nCells: Int): Array[Array[Double]] =
    ML.lloyd(samp, supersFor(nCells), 5,
      graft.functions.VectorFunctions.nearestCell(col("x"), _))

  /** Build a corpus-adaptively-sized two-level IVF index, scale-safely:
    * nCells = [[cellsFor]](count) cells under [[supersFor]](nCells)
    * super-cells, with
    *   - supers trained by flat [[graft.operators.ML.lloyd]] on the
    *     deterministic [[sampleModFor]] training sample, cached once
    *     for both levels (flat Lloyd is fine here — nSuper is O(√k));
    *   - cells trained by [[trainHierCells]] on the same sample with
    *     super-restricted assignment (O(sample·√k) per pass, not
    *     O(n·k) — the flat adaptive build measured Θ(n²/64) total);
    *   - ONE final corpus pass through the same O(√k)-per-row
    *     [[graft.functions.NearestCellHier]] kernel, then the
    *     cell-partitioning shuffle.
    * Total build work is O(n·√k) distance evals with a sample-bounded
    * constant (the law SimilaritySpec asserts via
    * [[graft.functions.DistanceEvalCounter]]); driver state is the
    * centroid matrices — guarded by [[MaxLiteralCells]], past which
    * [[buildHierIvfTableIndex]] keeps them distributed. Deterministic
    * end to end: sample gate, seeds, exact-decimal updates, and both
    * argmin tie-breaks are all SQL-replayable (the q_ann_knn /
    * q_semantic_dedup oracles replay the full hierarchy). */
  def buildHierIvfIndex(corpus: DataFrame, id: String,
                        vec: String): HierIvfIndex = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val nCells = cellsFor(n)
    require(nCells <= MaxLiteralCells,
      s"nCells=$nCells exceeds MaxLiteralCells=$MaxLiteralCells — " +
        "use buildHierIvfTableIndex (distributed centroid state) at this scale")
    val samp = trainingPoints(corpus, id, vec, n, nCells)
    val superMatrix = trainSupers(samp, nCells)
    val (cells, c2s) = trainHierCells(samp, superMatrix, nCells, iters = 5)
    Frames.free(samp)
    val members = groupMembers(c2s, superMatrix.length)
    val assigned = Frames.stage(
      corpus.select(col(id), col(vec))
        .withColumn("cell", graft.functions.VectorFunctions
          .nearestCellHier(col(vec), superMatrix, cells, members))
        .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("cell"))
        .repartition(spark.sparkContext.defaultParallelism, col("cell")))
    val centroids = broadcast(spark.createDataFrame(
        cells.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid"))
    HierIvfIndex(IvfIndex(assigned, centroids, cells), superMatrix, c2s)
  }

  /** The beyond-[[MaxLiteralCells]] index shape: cell centroids are a
    * cell-partitioned DataFrame — `cells` is (cell, sup, centroid),
    * hash-partitioned by sup so every pick join is co-located — and
    * ONLY the super layer (O(√k), KiB–MiB at any corpus size) ever
    * lives on the driver or in a plan literal. Train/assign/probe all
    * replay the literal path's arithmetic bit-for-bit (SimilaritySpec
    * equality law), so the two paths are one index family with two
    * state layouts.
    *
    * Both state frames are [[Frames.stage]]d: a persisted 5-iteration
    * build still nests every iteration in its plan, and each later
    * probe re-planned it (2–6 s of driver time per action, at any n);
    * staged, the pick and candidate joins also skip their exchange.
    * [[release]] frees both. */
  final case class HierIvfTableIndex(assigned: DataFrame,
                                     cells: DataFrame,
                                     superMatrix: Array[Array[Double]])
      extends IndexCache.Index {
    /** (total rows, biggest cell) for the salt-engage check — fixed at
      * build time, memoized so repeated probes against one index pay
      * the 1-row aggregate once, not per call. O(1) driver state. */
    lazy val saltStats: (Long, Long) = {
      val stats = assigned.groupBy(col("cell")).count()
        .agg(sum(col("count")), max(col("count"))).head()
      if (stats.isNullAt(0)) (0L, 0L)
      else (stats.getLong(0), stats.getLong(1))
    }
    def release(): Unit = Frames.free(assigned, cells)
  }

  /** Assign rows to cells through the super layer with DISTRIBUTED cell
    * state: nearest non-empty super via a compacted [[graft.functions
    * .NearestCell]] literal (supers are always driver-small), then a
    * sup-keyed join against the cell table and a per-row
    * `min(struct(dist, cell))` — the same (dist asc, cell asc) argmin
    * tie-break as the fused hier kernel, through Spark's struct
    * ordering. Shuffle cost: |rows|·cellsPerSuper ≈ |rows|·√k join
    * rows. `keep` columns are carried through the aggregate. */
  private def assignHierTable(rows: DataFrame, vec: String, keep: Seq[String],
                              superMatrix: Array[Array[Double]],
                              cellsDf: DataFrame): DataFrame = {
    // Non-empty supers, compacted ascending so NearestCell's strict-<
    // keeps the smallest original super on ties — identical pick to
    // NearestCellHier's members-restricted scan.
    val allowed = cellsDf.select(col("sup")).distinct()
      .collect().map(_.getInt(0)).sorted
    val compact = allowed.map(superMatrix)
    val supOf = element_at(
      typedlit(allowed.toSeq),
      graft.functions.VectorFunctions.nearestCell(col(vec), compact) + 1)
    rows.withColumn("__sup", supOf)
      .join(cellsDf.select(col("sup").as("__sup"), col("cell"),
        col("centroid")), Seq("__sup"))
      .groupBy(col("__rid"))
      .agg(
        min(struct(
          graft.functions.VectorFunctions.sqDist(col(vec), col("centroid"))
            .as("d"),
          col("cell").as("cell"))).as("__best"),
        keep.map(c => first(col(c)).as(c)): _*)
      .select(col("__rid") +: keep.map(col) :+
        col("__best.cell").as("cell"): _*)
  }

  /** [[trainHierCells]] with distributed centroid state: the cell table
    * (cell, sup, centroid) never leaves the cluster. Same seeds, same
    * super-restricted assignment, same exact-decimal update — the
    * per-iteration map/assign/update are joins and aggregates instead
    * of driver arrays, and results are bit-identical to the literal
    * trainer (equality law in SimilaritySpec). `sample` is the
    * caller-staged [[ML.points]]. Returns the staged cell table. */
  private[graft] def trainHierCellsTable(sample: DataFrame,
                                         superMatrix: Array[Array[Double]],
                                         nCells: Int,
                                         iters: Int): DataFrame = {
    val data = sample.select(col("__id").as("__rid"), col("x"))
    // Seeds: first nCells non-null sample rows by id, position-indexed
    // (as [[ML.lloyd]] seeds). The
    // unpartitioned window runs over the LIMITED set (≤ nCells rows) —
    // the dictionary-sized exception, like labelFit.
    val w = Window.orderBy(col("__rid"))
    var cells = Frames.stage(
      data.filter(col("x").isNotNull).orderBy(col("__rid")).limit(nCells)
        .select((row_number().over(w) - 1).as("cell"),
          col("x").as("centroid")))
    for (_ <- 1 to iters) {
      val mapped = cells.withColumn("sup", graft.functions.VectorFunctions
        .nearestCell(col("centroid"), superMatrix))
      val assigned = assignHierTable(data, "x", Seq("x"),
        superMatrix, mapped)
      val sums = assigned.groupBy(col("cell"))
        .agg(graft.functions.ExactSumFunctions.exactVectorSum(col("x")).as("s"),
          count(lit(1)).as("n"))
      val next = Frames.stage(
        cells.join(sums, Seq("cell"), "left")
          .select(col("cell"),
            when(col("n").isNull, col("centroid"))
              .otherwise(transform(col("s"), v => v / col("n")))
              .as("centroid")))
      Frames.free(cells)
      cells = next
    }
    val out = Frames.stage(
      cells.withColumn("sup", graft.functions.VectorFunctions
          .nearestCell(col("centroid"), superMatrix))
        .repartition(sample.sparkSession.sparkContext.defaultParallelism,
          col("sup")))
    Frames.free(cells)
    out
  }

  /** [[buildHierIvfIndex]]'s distributed-state twin for corpora whose
    * cell count exceeds [[MaxLiteralCells]]: same sizing, same sample,
    * same super training — but the cell layer is built by
    * [[trainHierCellsTable]] and the corpus assignment by the sup-keyed
    * join, so NOTHING corpus-proportional ever touches the driver, a
    * plan literal, or a task broadcast. Bit-identical assignments to
    * the literal build (SimilaritySpec law). */
  def buildHierIvfTableIndex(corpus: DataFrame, id: String,
                             vec: String): HierIvfTableIndex = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val nCells = cellsFor(n)
    val samp = trainingPoints(corpus, id, vec, n, nCells)
    val superMatrix = trainSupers(samp, nCells)
    val cellsDf = trainHierCellsTable(samp, superMatrix, nCells, iters = 5)
    Frames.free(samp)
    val rows = corpus.select(col(id).as("__rid"),
      col(vec).cast("array<double>").as("x"), col(vec).as("cv"))
    // Staged: a persisted frame would re-plan the corpus scan + sup
    // join on every probe (see the HierIvfTableIndex scaladoc).
    val assigned = Frames.stage(
      assignHierTable(rows, "x", Seq("cv"),
          superMatrix, cellsDf)
        .select(col("__rid").as("neighbor_id"), col("cv"), col("cell"))
        .repartition(spark.sparkContext.defaultParallelism, col("cell")))
    HierIvfTableIndex(assigned, cellsDf, superMatrix)
  }

  /** The two-stage pick of [[knnJoinHierTable]]: (query_id, qv, cell)
    * probe rows. */
  private def hierTablePick(index: HierIvfTableIndex,
                            queries: DataFrame,
                            id: String, vec: String,
                            nprobe: Int, nsp: Int): DataFrame = {
    // Super pick = the codegen'd flat kernel over the super matrix
    // (supers are always driver-small — √nCells — even when the cell
    // layer is distributed state): same (cos desc, index asc)
    // selection the interpreted array_sort comparator computed, one
    // static call per query row instead of ~nSuper struct allocations
    // and a lambda sort. A super that ranks but owns no cells drops
    // out at the cells join, exactly as before.
    val qsup = queries
      .select(col(id).as("query_id"), col(vec).as("qv"))
      .withColumn("sup", explode(graft.functions.VectorFunctions
        .probeCells(col("qv"), index.superMatrix, nsp)))
      .select(col("query_id"), col("qv"), col("sup"))
    qsup
      .join(index.cells, Seq("sup"))
      .select(col("query_id"), col("qv"),
        col("cell"), Dedup.cosine(col("qv"), col("centroid")).as("ccos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKFunctions
        .topK(col("cell").cast("long"), col("ccos"), nprobe).as("pc"),
        first(col("qv")).as("qv"))
      .select(col("query_id"), col("qv"), explode(col("pc")).as("p"))
      .select(col("query_id"), col("qv"),
        col("p.id").cast("int").as("cell"))
  }

  /** [[knnJoinHier]] against a [[HierIvfTableIndex]] — the documented
    * beyond-literal probe pick: per query the √k super scores stay a
    * narrow literal pass (identical comparator), but candidate cells
    * come from a sup-keyed JOIN against the distributed cell table and
    * the nprobe cut is the bounded-heap [[graft.functions.TopKPairs]]
    * aggregate ((ccos desc, cell asc) — the same tie-break as the
    * literal array_sort comparator), so no plan ships Θ(k) centroid
    * state. Shuffles: queries×nsp probe rows by sup, the heap's
    * O(q·nprobe·partitions) entries, probes by cell, and the final
    * top-k heap — all corpus-sublinear. Results equal [[knnJoinHier]]
    * exactly for identical parameters (SimilaritySpec law). */
  def knnJoinHierTable(index: HierIvfTableIndex, queries: DataFrame,
                       id: String, vec: String, k: Int,
                       nprobe: Int = 4, nsp: Int = 4): DataFrame = {
    val picked = hierTablePick(index, queries, id, vec, nprobe, nsp)
    val scored = saltedCandidatesTable(index, picked)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** [[saltedCandidates]] for the distributed-cell-state regime: the
    * per-cell split factors come from a count AGGREGATE joined back on
    * `cell` (co-partitioned with the persisted index — no extra
    * exchange on the member side), never a driver collect, so the salt
    * plan carries zero driver/plan state at any nCells. Same
    * ceil(size/[[SaltBucketRows]]) sizing and (cell, salt) re-key as
    * the literal path; candidate pairs are unchanged. */
  private def saltedCandidatesTable(index: HierIvfTableIndex,
                                    probes: DataFrame): DataFrame = {
    val assigned = index.assigned
    val (total, maxCell) = index.saltStats
    val par = assigned.sparkSession.sparkContext.defaultParallelism
    // No task-dominating cell → skip the salt plumbing entirely (the
    // literal path's short-circuit): one 1-row aggregate — O(1) driver
    // state — buys back the splits joins and the fanned-out probe
    // re-shuffle, and keeps the join co-partitioned on the persisted
    // cell key.
    if (!saltEngages(maxCell, total, par)) assigned.join(probes, Seq("cell"))
    else {
      val target = saltTarget(total, par)
      // The splits table is nCells rows of two ints — BROADCAST it to
      // keep both salt attachments map-side (planned as shuffles, the
      // salt plumbing alone doubled the join's wall time).
      val splits = broadcast(assigned.groupBy(col("cell"))
        .agg(ceil(count(lit(1)).cast("double") / target)
          .cast("int").as("__splits")))
      val a = assigned.join(splits, Seq("cell"))
        .withColumn("__salt", pmod(hash(col("neighbor_id")), col("__splits")))
        .drop("__splits")
      val p = probes.join(splits, Seq("cell"))
        .withColumn("__salt", explode(sequence(lit(0), col("__splits") - 1)))
        .drop("__splits")
      a.join(p, Seq("cell", "__salt")).drop("__salt")
    }
  }

  /** [[knnJoinIvf]] with the two-level probe pick — the kNN-graph shape
    * sized for a corpus where nCells ∝ n: per query, score the
    * √nCells super-centroids (narrow, literal matrix), open the `nsp`
    * best supers, score only THEIR member cells (literal super→cells
    * map), probe the `nprobe` best. Per-query cost is
    * O(√nCells + nsp·√nCells + nprobe·64) — constant-ish in corpus
    * size — versus the flat pick's O(nCells). When `nsp ≥ nSuper`
    * every super opens and results equal [[knnJoinIvf]] exactly (the
    * spec law). Shuffle shape is unchanged: probes by cell, then the
    * bounded-heap top-k. */
  def knnJoinHier(index: HierIvfIndex, queries: DataFrame,
                  id: String, vec: String, k: Int,
                  nprobe: Int = 4, nsp: Int = 4): DataFrame = {
    // The whole two-stage pick — score √nCells supers, open nsp,
    // score their member cells, keep nprobe (empty supers rank but
    // contribute no cells) — is ONE codegen'd kernel
    // ([[graft.functions.HierProbeCells]]). The previous
    // array_sort(transform(...)) formulation computed the same pick
    // but Catalyst interprets higher-order-function lambdas: ~nsp·√k
    // struct allocations and two lambda sorts per query row were 98%
    // of the probe's wall time at a 200k-vector corpus (~30 s vs
    // 0.65 s for the candidate join + bounded heap they fed).
    val members = groupMembers(index.cellToSuper, index.superMatrix.length)
    val probes = queries
      .select(col(id).as("query_id"), col(vec).as("qv"))
      .withColumn("cell", explode(graft.functions.VectorFunctions
        .hierProbeCells(col("qv"), index.superMatrix, index.base.matrix,
          members, nsp, nprobe)))
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = saltedCandidates(index.base, probes)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))
    topKByGroup(scored, k)
  }

  /** Append a delta corpus to a built IVF index WITHOUT re-clustering:
    * the delta is assigned under the EXISTING centroids with the same
    * codegen'd NearestCell kernel (identical tie-break), repartitioned
    * by cell, and unioned into the index as a second segment. This is
    * the 100 TB index-maintenance pattern — the expensive cluster pass
    * is amortized over the index lifetime, and a nightly ingest pays
    * one narrow assignment pass plus a delta-sized shuffle (the main
    * segment's bytes never move). Centroid drift is the price: deltas
    * are served from the nearest OLD cell until the next rebuild, which
    * is exactly the FAISS/segment-merge contract. Probing is unchanged
    * ([[probeIvf]]/[[knnJoinIvf]] over the returned index): results
    * equal an index whose assignment pass ran over old+delta under the
    * old centroids (the oracle's formulation). */
  def appendToIndex(index: IvfIndex, delta: DataFrame,
                    id: String, vec: String): IvfIndex = {
    val spark = delta.sparkSession
    val newRows = delta.select(col(id), col(vec))
      .withColumn("cell", graft.functions.VectorFunctions
        .nearestCell(col(vec), index.matrix))
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("cell"))
      .repartition(spark.sparkContext.defaultParallelism, col("cell"))
    // The merged segment is staged on its own. The BASE index is NOT
    // released here — callers may still probe it (a freed stage cannot
    // recompute).
    IvfIndex(Frames.stage(index.assigned.union(newRows)), index.centroids,
      index.matrix)
  }

  /** One-shot convenience: build + probe + release. Prefer
    * [[buildIvfIndex]]/[[probeIvf]] whenever more than one probe batch
    * hits the same corpus — rebuilding the index per query inverts
    * IVF's economics. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              id: String, vec: String, k: Int,
              nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val index = buildIvfIndex(corpus, id, vec, nCells)
    // staged before the index blocks its plan reads are released
    try Frames.stage(probeIvf(index, queries, id, vec, k, nprobe))
    finally index.release()
  }

  /** Symmetric per-vector int8 quantization: `scale = max|v|/127`,
    * `q_d = floor(v_d/scale + 0.5)` in [-127, 127]. At 100 TB this is
    * the ANN memory lever — a 4× cut of the resident corpus (int8 vs
    * float32) with the candidate list re-scored exact afterward; every
    * op here is correctly-rounded IEEE (abs/max/div/floor — no libm),
    * so the quantized corpus is bit-identical in any engine. Returns
    * (id, scale, qvec). Zero vectors quantize to zeros with scale 0. */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val xd = transform(col(vec), v => v.cast("double"))
    df.select(col(id), xd.as("__x"))
      .select(col(id),
        (array_max(transform(col("__x"), v => abs(v))) / lit(127.0))
          .as("scale"), col("__x"))
      .select(col(id), col("scale"),
        when(col("scale") === 0,
          transform(col("__x"), _ => lit(0)))
          .otherwise(transform(col("__x"),
            v => floor(v / col("scale") + lit(0.5)).cast("int")))
          .as("qvec"))
  }

  /** Approximate top-k over the int8-QUANTIZED corpus: rank candidates
    * by the integer dot product of quantized vectors (broadcast
    * quantized query set, same shuffle shape as [[bruteForceTopK]]).
    * All scoring is exact integer arithmetic — bounded by
    * 127·127·dim ≪ 2³¹ — so ranking is fully deterministic and
    * SQL-oracle-able with no float discipline at all. This is the scan
    * half of quantized ANN (4× less corpus resident than float32);
    * production re-scores the k survivors with exact float cosine
    * ([[bruteForceTopK]] on the candidate set). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    id: String, vec: String, k: Int): DataFrame = {
    val qc = quantizeInt8(corpus, id, vec)
      .select(col(id).as("neighbor_id"), col("qvec").as("cv"))
      .transform(Frames.spread)
    val qq = broadcast(quantizeInt8(queries, id, vec)
      .select(col(id).as("query_id"), col("qvec").as("qv")))
    val scored = qc.join(qq, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dot"))
  }

  /** A built product-quantization (PQ) index: every corpus vector is
    * stored as `m` sub-codebook indices (bytes, carried as ints) — the
    * 100 TB ANN memory lever beyond int8: an m=8 code is 8 bytes where
    * the float32 vector was 256, a 32× cut of the resident corpus.
    *
    * `codes` is (neighbor_id, codes array&lt;int&gt; of length m);
    * `codebooks(j)(c)` is the `ds`-dim centroid `c` of subspace `j`
    * (m·ksub·ds doubles — KiB-scale, broadcastable regardless of corpus
    * size). Both pieces are plain DataFrames/arrays: write `codes` to
    * storage once, rebuild never. Call [[release]] when done. */
  final case class PqIndex(codes: DataFrame,
                           codebooks: Array[Array[Array[Double]]],
                           m: Int, ksub: Int, ds: Int)
      extends IndexCache.Index {
    def release(): Unit = Frames.free(codes)
  }

  /** Train a PQ index: the vector is split into `m` contiguous `ds`-dim
    * subspaces; each subspace gets its own `ksub`-cell codebook from
    * the engine-native deterministic [[graft.operators.ML.lloyd]]
    * (exact-decimal updates ⇒ the whole build is bit-reproducible and
    * DuckDB-oracle-checkable), then ONE narrow codegen'd pass encodes
    * every corpus row as its m nearest-subcentroid positions. A code
    * is a centroid's position in its codebook. Build cost: m small
    * Lloyd runs (each a few scans of one ds-dim slice of the cached
    * vectors) + one encode scan, paid once per corpus. */
  def buildPqIndex(corpus: DataFrame, id: String, vec: String,
                   m: Int = 8, ksub: Int = 16, iters: Int = 5): PqIndex = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vec)).as("d")).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val base = Frames.stage(
      corpus.select(col(id), col(vec).cast("array<double>").as("__x")),
      eager = false)
    val codebooks: Array[Array[Array[Double]]] = (0 until m).toArray.map { j =>
      ML.lloyd(base.select(col(id).as("__id"),
          slice(col("__x"), j * ds + 1, ds).as("x")), ksub, iters,
        graft.functions.VectorFunctions.nearestCell(col("x"), _))
    }
    val codeCols = (0 until m).map { j =>
      graft.functions.VectorFunctions.nearestCell(
        slice(col("__x"), j * ds + 1, ds), codebooks(j))
    }
    val codes = Frames.stage(base
      .select(col(id).as("neighbor_id"), array(codeCols: _*).as("codes"))
      .transform(Frames.spread))
    Frames.free(base)
    PqIndex(codes, codebooks, m, ksub, ds)
  }

  /** Probe a built [[PqIndex]]: asymmetric-distance (ADC) scan + exact
    * re-rank.
    *
    * Each query precomputes its LUT — dot(query subvector, subcentroid)
    * for all m·ksub cells, a narrow projection against the broadcast
    * codebook literal — and the corpus scan scores a code with m table
    * lookups instead of `dim` multiplies, touching only the m-byte
    * codes, never the vectors. The top `k·refine` ADC candidates per
    * query (bounded-heap partial aggregate, same shuffle contract as
    * [[bruteForceTopK]]) are then re-scored with exact cosine against
    * `corpus` — only `queries·k·refine` vector reads — and cut to k.
    * Output shape matches [[bruteForceTopK]]; every stage is a fixed
    * IEEE op sequence, so the approximate result itself is
    * deterministic and oracle-checkable. */
  def probePq(index: PqIndex, corpus: DataFrame, queries: DataFrame,
              id: String, vec: String, k: Int, refine: Int = 4): DataFrame = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val cbLit = typedlit(index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val lut = flatten(transform(sequence(lit(0), lit(index.m - 1)),
      j => transform(element_at(cbLit, j + 1),
        c => dot(slice(col("qv"), j * lit(index.ds) + lit(1),
          lit(index.ds)), c))))
    val q = broadcast(queries
      .select(col(id).as("query_id"),
        col(vec).cast("array<double>").as("qv"))
      .withColumn("lut", lut)
      .select(col("query_id"), col("lut")))
    val adc = index.codes
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
            (c, j) => element_at(col("lut"),
              j * lit(index.ksub) + c + lit(1))),
          lit(0.0), (acc, x) => acc + x).as("cos"))
    val cand = topKByGroup(adc, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("qv2")))
    val exact = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv2"), col("cv")).as("cos"))
    topKByGroup(exact, k)
  }

  /** The composed IVF-PQ index — the production ANN shape at 100 TB:
    * coarse k-means cells bound WHICH codes a probe touches (nprobe/
    * nCells of the corpus) and PQ codes bound what each touch costs
    * (m LUT lookups over m bytes). `codes` is (cell, neighbor_id,
    * codes), hash-partitioned by cell so every probe join is
    * co-located. */
  final case class IvfPqIndex(codes: DataFrame,
                              centroids: DataFrame,
                              matrix: Array[Array[Double]],
                              codebooks: Array[Array[Array[Double]]],
                              m: Int, ksub: Int, ds: Int)
      extends IndexCache.Index {
    def release(): Unit = Frames.free(codes)
  }

  /** Combine a built coarse index and a built PQ index over the SAME
    * corpus into one cell-partitioned code table (one build-time
    * shuffle; neither component is released — they may be shared). */
  def composeIvfPq(ivf: IvfIndex, pq: PqIndex): IvfPqIndex = {
    val spark = ivf.assigned.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val codes = Frames.stage(
      ivf.assigned.select(col("neighbor_id"), col("cell"))
        .join(pq.codes, Seq("neighbor_id"))
        .repartition(par, col("cell")))
    IvfPqIndex(codes, ivf.centroids, ivf.matrix, pq.codebooks,
      pq.m, pq.ksub, pq.ds)
  }

  /** Build IVF-PQ from scratch (both component indexes are private to
    * the result and released once the code table is materialized). */
  def buildIvfPqIndex(corpus: DataFrame, id: String, vec: String,
                      nCells: Int = 16, m: Int = 8, ksub: Int = 16,
                      iters: Int = 5): IvfPqIndex = {
    val ivf = buildIvfIndex(corpus, id, vec, nCells, iters)
    val pq = buildPqIndex(corpus, id, vec, m, ksub, iters)
    val out = composeIvfPq(ivf, pq)
    ivf.release(); pq.release()
    out
  }

  /** Probe IVF-PQ: the [[probeIvf]] cell pick (broadcast centroids,
    * (ccos desc, cell asc) top-nprobe), then the [[probePq]] ADC scan
    * restricted to the probed cells — a CO-LOCATED equi-join against
    * the cell-partitioned codes, touching nprobe/nCells of the corpus
    * and reading m bytes per touched row — bounded-heap candidate cut
    * and exact-cosine re-rank. Deterministic end to end. */
  def probeIvfPq(index: IvfPqIndex, corpus: DataFrame,
                 queries: DataFrame, id: String, vec: String, k: Int,
                 nprobe: Int = 4, refine: Int = 4): DataFrame = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val cbLit = typedlit(index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val lut = flatten(transform(sequence(lit(0), lit(index.m - 1)),
      j => transform(element_at(cbLit, j + 1),
        c => dot(slice(col("qv").cast("array<double>"),
          j * lit(index.ds) + lit(1), lit(index.ds)), c))))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = queries
      .select(col(id).as("query_id"), col(vec).as("qv"))
      .crossJoin(index.centroids)
      .withColumn("ccos", Dedup.cosine(col("qv"), col("centroid")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("cell"), lut.as("lut"))
    val scored = index.codes
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
            (c, j) => element_at(col("lut"),
              j * lit(index.ksub) + c + lit(1))),
          lit(0.0), (acc, x) => acc + x).as("cos"))
    val cand = topKByGroup(scored, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("qv2")))
    val exact = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosine(col("qv2"), col("cv")).as("cos"))
    topKByGroup(exact, k)
  }

  // The registry/bench entry points: each builder through the
  // [[IndexCache]]. IVF-PQ composes the SHARED cached IVF cells and PQ
  // codebooks (each built once per corpus), looked up first so that no
  // lookup runs inside another.
  def cachedIvfIndex(corpus: DataFrame, id: String, vec: String,
                     nCells: Int = 16): IvfIndex =
    IndexCache(s"ivf|$id|$vec|$nCells", corpus)(
      buildIvfIndex(corpus, id, vec, nCells))

  def cachedAppendedIndex(corpus: DataFrame, delta: DataFrame, id: String,
                          vec: String, nCells: Int = 16): IvfIndex =
    IndexCache(s"appended|$id|$vec|$nCells", corpus, delta) {
      // the base is private to the result, so it goes once merged
      val base = buildIvfIndex(corpus, id, vec, nCells)
      try appendToIndex(base, delta, id, vec) finally base.release()
    }

  def cachedHierIvfIndex(corpus: DataFrame, id: String,
                         vec: String): HierIvfIndex =
    IndexCache(s"hier|$id|$vec", corpus)(buildHierIvfIndex(corpus, id, vec))

  def cachedHierIvfTableIndex(corpus: DataFrame, id: String,
                              vec: String): HierIvfTableIndex =
    IndexCache(s"hiertable|$id|$vec", corpus)(
      buildHierIvfTableIndex(corpus, id, vec))

  def cachedPqIndex(corpus: DataFrame, id: String, vec: String,
                    m: Int = 8, ksub: Int = 16): PqIndex =
    IndexCache(s"pq|$id|$vec|$m|$ksub", corpus)(
      buildPqIndex(corpus, id, vec, m, ksub))

  def cachedIvfPqIndex(corpus: DataFrame, id: String, vec: String,
                       nCells: Int = 16, m: Int = 8,
                       ksub: Int = 16): IvfPqIndex = {
    val ivf = cachedIvfIndex(corpus, id, vec, nCells)
    val pq = cachedPqIndex(corpus, id, vec, m, ksub)
    IndexCache(s"ivfpq|$id|$vec|$nCells|$m|$ksub", corpus)(
      composeIvfPq(ivf, pq))
  }
}
