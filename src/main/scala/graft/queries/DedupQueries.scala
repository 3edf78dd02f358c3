package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSql
import graft.operators.Dedup

/** Deduplication queries over the `documents` / `embeddings` fixtures.
  *
  * Oracle strategy: the DuckDB oracles compute the near-dup sets by
  * brute force (blocked pairwise), while the Spark side runs the LSH
  * pipelines — the fixtures' pair-similarity distribution is cleanly
  * bimodal (planted dups at J≥0.98, background <0.15), so the
  * approximate candidate generation provably recovers the exact answer
  * (P(miss) < 1e-20 per pair at 16 bands × 4 rows) and the differential
  * check validates the whole pipeline, not just the verifier.
  * SimHash and IVF have no SQL-expressible oracle → rows-only + specs.
  */
object DedupQueries {

  private val toks = graft.functions.Text.tokensSql("text")
  // DuckDB 3-shingle set; range() is end-exclusive so this yields the
  // same n-2 shingles as Spark's sequence(0, n-3).
  private[queries] val shingleSet =
    s"""list_distinct(list_transform(range(1, len($toks) - 1),
       | i -> array_to_string(list_slice($toks, i, i + 2), ' ')))""".stripMargin
  /** Exact sparse Jaccard-pair CTEs over a `(doc_id, s)` shingle-SET
    * CTE: shingles exploded and self-joined on the shingle (a pair
    * sharing none has J = 0 and can never reach the threshold), the
    * intersection count from one group-by, J = c/(na + nb − c). Same
    * integers and the same final double division as a list-based
    * intersect/union form — bit-identical pairs — but without materializing
    * |docs|² rows of shingle LISTS, which made the sf0.1 audit's
    * DuckDB side pathological (an hour+ per dedup oracle). Emits
    * `prs(id_a, id_b, jaccard)`. */
  private[queries] def sparseJacCtes(shCte: String, threshold: Double): String =
    s"""ln AS (SELECT doc_id, len(s) AS n FROM $shCte),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM $shCte),
       |ix AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
       | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       | GROUP BY 1, 2),
       |prs AS (
       | SELECT id_a, id_b,
       |  CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
       | FROM ix JOIN ln na ON na.doc_id = ix.id_a
       |  JOIN ln nb ON nb.doc_id = ix.id_b
       | WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= $threshold)"""
      .stripMargin

  // q_split_cluster_sketch shares q_split_cluster's oracle verbatim:
  // both pair paths end in exact-Jaccard verification, so the cluster
  // set (and hence the gate) is identical up to banding recall, which
  // the differential would surface as a loud mismatch.
  private val splitClusterOracle = {
    val cpfx = graft.operators.Sampling.prefixSql("c.cluster")
    s"""WITH RECURSIVE sh AS (
       | SELECT doc_id, $shingleSet AS s FROM documents),
       |${sparseJacCtes("sh", 0.8)},
       |edges AS (
       | SELECT id_a AS u, id_b AS v FROM prs
       | UNION ALL SELECT id_b, id_a FROM prs),
       |reach(u, lbl) AS (
       | SELECT doc_id, doc_id FROM documents
       | UNION
       | SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u),
       |cl AS (SELECT u AS doc_id, MIN(lbl) AS cluster
       |       FROM reach GROUP BY u)
       |SELECT CASE WHEN $cpfx < '${"%04x".format(6554)}' THEN 'test'
       |  WHEN $cpfx < '${"%04x".format(13108)}' THEN 'val'
       |  ELSE 'train' END AS split,
       | CAST(COUNT(*) AS BIGINT) AS n,
       | CAST(SUM(d.n_chars) AS BIGINT) AS chars,
       | CAST(COUNT(DISTINCT c.cluster) AS BIGINT) AS clusters
       |FROM cl c JOIN documents d ON c.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // Exact dedup: survivors after content-hash grouping.
    QuerySpec("q_dedup_exact", (s, dir) =>
      Dedup.exactKeepers(Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some(
        s"""SELECT md5(array_to_string($toks, ' ')) AS fp, MIN(doc_id) AS doc_id
           |FROM documents GROUP BY 1""".stripMargin)),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified.
    QuerySpec("q_dedup_minhash", (s, dir) =>
      Dedup.minhashDedup(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8),
      Some(
        s"""WITH sh AS (SELECT doc_id, $shingleSet AS s FROM documents),
           |${sparseJacCtes("sh", 0.8)}
           |SELECT id_a, id_b, jaccard FROM prs""".stripMargin)),

    // Cross-corpus near-dup join: the incremental-crawl shape — A =
    // sources src0-9 (the existing corpus), B = src10-19 (the new
    // crawl); banded bucket join A×B + exact-Jaccard verify, no
    // self-join anywhere. Brute-force cross oracle.
    QuerySpec("q_dedup_cross", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val aSrc = (0 to 9).map(i => s"src$i")
      Dedup.crossNearDup(
        d.filter(col("source").isin(aSrc.map(x => x: Any): _*)),
        d.filter(!col("source").isin(aSrc.map(x => x: Any): _*)),
        "doc_id", "text", k = 3, threshold = 0.8)
    }, Some(
      s"""WITH sh AS (SELECT doc_id, source, $shingleSet AS s FROM documents),
         |ina AS (SELECT doc_id FROM sh WHERE source IN
         |  ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9')),
         |${sparseJacCtes("sh", 0.8)}
         |SELECT p.id_a, p.id_b, p.jaccard FROM prs p
         | JOIN ina ON ina.doc_id = p.id_a
         |WHERE p.id_b NOT IN (SELECT doc_id FROM ina)
         |UNION ALL
         |SELECT p.id_b, p.id_a, p.jaccard FROM prs p
         | JOIN ina ON ina.doc_id = p.id_b
         |WHERE p.id_a NOT IN (SELECT doc_id FROM ina)""".stripMargin)),

    // Exact n-gram Jaccard near-dup (no sketching): size-blocked
    // all-pairs with provably complete blocking — same brute-force
    // oracle as minhash, but here the equality is unconditional (the
    // operator is exact, not probabilistically exact).
    QuerySpec("q_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardDedup(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3, threshold = 0.8),
      Some(
        s"""WITH sh AS (SELECT doc_id, $shingleSet AS s FROM documents),
           |${sparseJacCtes("sh", 0.8)}
           |SELECT id_a, id_b, jaccard FROM prs""".stripMargin)),

    // SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures).
    QuerySpec("q_dedup_simhash", (s, dir) =>
      Dedup.simhashDedup(Tables.load(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),

    // md5-kernel SimHash twin: same banding/hamming logic as
    // q_dedup_simhash but with a token hash DuckDB can replay — this is
    // the hard-oracle coverage for Dedup.simhashPairs (the xxhash64
    // production variant above stays rows-only).
    QuerySpec("q_dedup_simhash_md5", (s, dir) =>
      Dedup.simhashDedupMd5(Tables.load(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3),
      // Full signature replay: per token, 64 bit-votes from md5 hex
      // digits (bit i of the hash = bit (i % 4) of hex digit i // 4);
      // vote sums sign into 4 × 16-bit chunks, pigeonhole banding on
      // chunk equality, exact hamming verify — the same pipeline the
      // Spark operator stages.
      Some(
        s"""WITH toks AS (
           | SELECT doc_id,
           |  unnest($toks) AS t
           | FROM documents),
           |th AS (SELECT doc_id, md5(t) AS h FROM toks WHERE t <> ''),
           |votes AS (
           | SELECT doc_id, b.bit,
           |  SUM(CASE WHEN
           |    ((strpos('0123456789abcdef',
           |       substring(h, CAST(b.bit // 4 + 1 AS INT), 1)) - 1)
           |     >> (b.bit % 4)) & 1 = 1
           |   THEN 1 ELSE -1 END) AS v
           | FROM th CROSS JOIN range(0, 64) b(bit)
           | GROUP BY doc_id, b.bit),
           |chunks AS (
           | SELECT doc_id, bit // 16 AS chunk,
           |  CAST(SUM(CASE WHEN v >= 0
           |   THEN (1 << CAST(bit % 16 AS INT)) ELSE 0 END) AS INT) AS cval
           | FROM votes GROUP BY doc_id, bit // 16),
           |cand AS (
           | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           | FROM chunks a JOIN chunks b
           |  ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id),
           |ham AS (
           | SELECT c.id_a, c.id_b,
           |  CAST(SUM(bit_count(xor(ca.cval, cb.cval))) AS INT) AS hamming
           | FROM cand c
           |  JOIN chunks ca ON ca.doc_id = c.id_a
           |  JOIN chunks cb ON cb.doc_id = c.id_b AND cb.chunk = ca.chunk
           | GROUP BY c.id_a, c.id_b)
           |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""".stripMargin)),

    // Winnowing (rolling-hash) fingerprint candidates + exact Jaccard
    // verification — same candidates-then-verify architecture as
    // minhash, so the brute-force J≥0.8 oracle holds whenever the
    // candidate stage recalls every qualifying pair (a share-count
    // threshold alone broke at sf0.1: two J≥0.98 pairs shared only 4
    // distinct fingerprints). Output drops the jaccard column — its
    // values are already compared via q_dedup_minhash/q_dedup_ngram.
    QuerySpec("q_dedup_winnow", (s, dir) =>
      Dedup.winnowNearDup(Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 24, w = 8, minShared = 2)
        .select(col("id_a"), col("id_b")),
      Some(
        s"""WITH sh AS (SELECT doc_id, $shingleSet AS s FROM documents),
           |${sparseJacCtes("sh", 0.8)}
           |SELECT id_a, id_b FROM prs""".stripMargin)),

    // Embedding-cosine near-dup, blocked on the label column. EXACT
    // within each label block — which means candidate pairs (and the
    // qualifying OUTPUT) grow quadratically when blocks grow linearly
    // with the corpus (SURVEY §8.3 measured 100.4× candidates at 10×
    // data; runtime grew only 24.7×). That is the contract's price,
    // not a plan defect; when blocks scale with the corpus, the
    // bounded path is q_semantic_dedup's adaptive cell blocking.
    QuerySpec("q_dedup_embed", (s, dir) =>
      Dedup.embeddingNearDup(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.35),
      Some(
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           | ${cosineSql("a.embedding", "b.embedding")} AS cos
           |FROM embeddings a JOIN embeddings b
           | ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35""".stripMargin)),

    // Near-dup clusters: exact J≥0.8 pairs (the q_dedup_ngram
    // operator) → connected components; cluster label = min doc_id =
    // the canonical keeper.
    QuerySpec("q_dedup_cluster", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Dedup.nearDupClusters(d.select(col("doc_id")),
        Dedup.ngramJaccardDedup(d, "doc_id", "text", k = 3,
          threshold = 0.8).select(col("id_a"), col("id_b")),
        "doc_id")
    }, Some(
      // Recursive transitive closure over the same exact J≥0.8 pair set;
      // MIN(reachable id) = the propagation fixpoint.
      s"""WITH RECURSIVE sh AS (
         | SELECT doc_id, $shingleSet AS s FROM documents),
         |${sparseJacCtes("sh", 0.8)},
         |edges AS (
         | SELECT id_a AS u, id_b AS v FROM prs
         | UNION ALL SELECT id_b, id_a FROM prs),
         |reach(u, lbl) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u)
         |SELECT u AS doc_id, MIN(lbl) AS cluster
         |FROM reach GROUP BY u""".stripMargin)),

    // Leakage-safe split keyed on NEAR-dup clusters: the [[q_split_safe]]
    // discipline upgraded from exact-dup groups to the transitive
    // closure of n-gram-Jaccard >= 0.8 pairs — a paraphrased copy of a
    // training doc can no longer land in the holdout. The cluster label
    // IS the component's min doc_id, so it is the split gate key
    // directly; one CC pass + one gate, both scale shapes already
    // audited (SURVEY 8.5/8.6).
    QuerySpec("q_split_cluster", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val clusters = Dedup.nearDupClusters(d.select(col("doc_id")),
        Dedup.ngramJaccardDedup(d, "doc_id", "text", k = 3,
          threshold = 0.8).select(col("id_a"), col("id_b")), "doc_id")
      clusters.join(d.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("split", graft.operators.Sampling.splitColumn(
          col("cluster"), Seq(("test", 6554), ("val", 13108))))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          countDistinct(col("cluster")).as("clusters"))
    }, Some(splitClusterOracle)),

    // The SAME leakage gate on the LINEAR pair path: pairs from
    // minhash banding (shingles ride as xxhash64 longs; candidate
    // volume ∝ corpus, the probe-audited §8.5 configuration) instead
    // of the exact prefix-filter path — this is the form a 100 TB
    // corpus runs, with q_split_cluster kept as the exact
    // differential. The oracle is q_split_cluster's verbatim: both
    // pair stages END in exact-Jaccard verification, so on any corpus
    // they differ only by banding recall (P(miss) < 1e-20 per
    // qualifying pair at 16 bands × 4 rows on the bimodal fixture —
    // a miss would fail the differential LOUDLY as a cluster split).
    QuerySpec("q_split_cluster_sketch", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val clusters = Dedup.nearDupClusters(d.select(col("doc_id")),
        Dedup.minhashDedup(d, "doc_id", "text", k = 3,
          threshold = 0.8).select(col("id_a"), col("id_b")), "doc_id")
      clusters.join(d.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("split", graft.operators.Sampling.splitColumn(
          col("cluster"), Seq(("test", 6554), ("val", 13108))))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          countDistinct(col("cluster")).as("clusters"))
    }, Some(splitClusterOracle)),

    // Eval-set decontamination: docs 0-4 stand in for a benchmark;
    // every other doc reports its count of shared 4-shingles.
    QuerySpec("q_decontam", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Dedup.decontaminate(d.filter(col("doc_id") >= 5),
        d.filter(col("doc_id") < 5), "doc_id", "text", k = 4)
    }, Some(
      // 4-shingles: range is end-exclusive → i = 1..len-3, the same
      // len-3 = n-k+1 shingles as Spark's sequence(0, size-4).
      s"""WITH sh AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, len($toks) - 2),
         |   i -> array_to_string(list_slice($toks, i, i + 3), ' '))) AS s
         | FROM documents),
         |bench AS (
         | SELECT DISTINCT unnest(s) AS t FROM sh WHERE doc_id < 5),
         |corp AS (
         | SELECT doc_id, unnest(s) AS t FROM sh WHERE doc_id >= 5)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |FROM corp WHERE t IN (SELECT t FROM bench)
         |GROUP BY doc_id""".stripMargin)),

    // Duplicated-span fraction (the exact-substring-dedup signal):
    // per-doc fraction of token 8-gram occurrences that occur ≥ 2
    // times anywhere in the corpus. Spark groups 64-bit gram
    // fingerprints; the oracle groups the raw gram strings — counts
    // agree unless xxhash64 collides (~n²/2⁶⁵).
    QuerySpec("q_dedup_spans", (s, dir) =>
      Dedup.dupSpanStats(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 8),
      // 8-gram occurrences (NOT distinct — within-doc repeats count);
      // range is end-exclusive → i = 1..len-7, the same len-7 = n-k+1
      // grams as Spark's sequence(0, size-8). Grouping key is the raw
      // gram string where Spark uses its xxhash64 fingerprint.
      Some(
        s"""WITH g AS (
           | SELECT doc_id,
           |  unnest(list_transform(range(1, len($toks) - 6),
           |   i -> array_to_string(list_slice($toks, i, i + 7), ' '))) AS g
           | FROM documents),
           |pg AS (SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY 1, 2),
           |gt AS (SELECT g, SUM(n) AS tot FROM pg GROUP BY 1)
           |SELECT pg.doc_id,
           | CAST(SUM(pg.n) AS BIGINT) AS n_grams,
           | CAST(SUM(CASE WHEN gt.tot > 1 THEN pg.n ELSE 0 END) AS BIGINT)
           |  AS dup_grams,
           | CAST(SUM(CASE WHEN gt.tot > 1 THEN pg.n ELSE 0 END) AS DOUBLE)
           |  / CAST(SUM(pg.n) AS DOUBLE) AS dup_frac
           |FROM pg JOIN gt USING (g) GROUP BY 1""".stripMargin)),

    // Exact duplicated-substring REMOVAL: rebuild each doc with every
    // non-canonical duplicated 8-gram occurrence scrubbed. The oracle
    // replays the same two-stage canonical rule on raw gram strings
    // and md5-compares the rebuilt text (order-sensitive).
    QuerySpec("q_dedup_scrub", (s, dir) =>
      Dedup.scrubDupSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 8),
      // Same canonical rule as scrubDupSpans: MIN doc, then MIN pos in
      // that doc; raw gram strings where Spark uses xxhash64. Positions
      // are 1-based here vs Spark's 0-based — both engines only compare
      // positions internally, and the rebuilt text is base-independent.
      Some(
        s"""WITH t AS (SELECT doc_id, $toks AS ts FROM documents),
           |tok AS (
           | SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
           |   i -> struct_pack(pos := i, tok := ts[i]))) AS u FROM t)),
           |gr AS (
           | SELECT doc_id, u.pos AS pos, u.g AS g FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 6),
           |   i -> struct_pack(pos := i,
           |     g := array_to_string(list_slice(ts, i, i + 7), ' ')))) AS u
           |  FROM t)),
           |gt AS (
           | SELECT g, MIN(doc_id) AS cd FROM gr
           | GROUP BY 1 HAVING COUNT(*) >= 2),
           |cp AS (
           | SELECT gr.g, MIN(gr.pos) AS cp FROM gr
           | JOIN gt ON gr.g = gt.g AND gr.doc_id = gt.cd GROUP BY 1),
           |rem AS (
           | SELECT DISTINCT doc_id, rp FROM (
           |  SELECT gr.doc_id,
           |   unnest(list_transform(range(0, 8), j -> gr.pos + j)) AS rp
           |  FROM gr JOIN gt ON gr.g = gt.g JOIN cp ON gr.g = cp.g
           |  WHERE NOT (gr.doc_id = gt.cd AND gr.pos = cp.cp))),
           |kept AS (
           | SELECT tok.* FROM tok
           | ANTI JOIN rem ON tok.doc_id = rem.doc_id AND tok.pos = rem.rp),
           |rb AS (
           | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |  string_agg(tok, ' ' ORDER BY pos) AS s
           | FROM kept GROUP BY 1)
           |SELECT t.doc_id,
           | coalesce(rb.n_kept, 0) AS n_kept,
           | CAST(len(t.ts) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed,
           | md5(coalesce(rb.s, '')) AS scrub_fp
           |FROM t LEFT JOIN rb ON t.doc_id = rb.doc_id""".stripMargin)),

    // Fuzzy record linkage: distinct part names within one edit of each
    // other (deletion-neighborhood blocking + exact levenshtein verify).
    // The oracle is the brute-force length-unblocked pairwise join —
    // tractable because the name relation is distinct-small, while the
    // Spark side runs the linear-signature pipeline.
    QuerySpec("q_fuzzy_join", (s, dir) => {
      val names = Tables.load(s, dir, "part")
        .select(col("p_name").as("name")).distinct()
      Dedup.fuzzyPairsD1(names, "name", "name")
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"),
          col("dist"))
    }, Some(
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        | ON a.p_name < b.p_name
        | AND levenshtein(a.p_name, b.p_name) <= 1""".stripMargin))
  )
}
