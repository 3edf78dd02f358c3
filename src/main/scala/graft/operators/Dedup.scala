package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus deduplication operators: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB shapes):
  *  - Exact dedup is one hash-groupBy: shuffle carries (fingerprint, id),
  *    never the document bodies.
  *  - MinHash+LSH: signatures and band hashes are computed in the scan
  *    stage (pure column expressions, whole-stage codegen); the candidate
  *    self-join shuffles only (band, bandHash, id) triples; exact Jaccard
  *    verification touches shingle sets for candidate pairs only. Hot
  *    buckets (boilerplate text that hashes thousands of docs to one
  *    bucket) are capped at `maxBucket` docs — at scale those need a
  *    dedicated pass (they are exact-dup families, caught by exact dedup).
  *  - SimHash: 64-bit signature in 4×16-bit chunks; pigeonhole banding —
  *    hamming ≤ 3 implies at least one chunk equal — so candidates come
  *    from 4 chunk-equality joins, then exact hamming verification.
  *  - Embedding near-dup: blocked pairwise cosine inside a blocking key
  *    (label, LSH bucket, or IVF cell); never an unblocked cross-join.
  *
  * The reference engine has no string/dedup surface (SURVEY §1.4);
  * this is part of the beyond-reference training-data pipeline layer.
  */
object Dedup {

  // Every pair-set result is [[Frames.stage]]d and its big input
  // caches are BLOCKING-dropped, so repeated dedup calls in one session
  // don't accumulate shingle/signature tables, and a later identical
  // call's persist cannot plan-match onto a result mid-drop (the
  // q_pagerank repeat-execution storm was exactly this lifecycle).

  /** Drop every row whose bucket (the `keys` tuple) holds more than
    * `maxBucket` members — the LSH/fingerprint hot-bucket cap, as a
    * partial-aggregable `groupBy` + anti-join instead of the previous
    * unbounded-frame window. The window form materialized EVERY bucket
    * inside one task's sort buffer just to count it — and the giant
    * buckets this cap exists to DROP are exactly the ones that funnel
    * (a boilerplate fingerprint shared by millions of documents is
    * millions of rows through a single task at corpus scale; the same
    * straggler shape the groupSafeSplit ADVICE fix removed). Here the
    * count partial-aggregates map-side (only (key, count) rows cross
    * the exchange), the over-cap key set is small by construction —
    * it IS the pathological minority — so the anti-join broadcasts,
    * and the bucket entries themselves never shuffle to be counted.
    * Row set identical: a row survives iff its bucket count stays
    * ≤ maxBucket (no ordering dependence). Precondition: bucket keys
    * are non-null (every caller explodes generated hash/signature
    * arrays) — a null key would compare unequal in the anti-join where
    * the old window grouped nulls together. */
  private def capBuckets(df: DataFrame, maxBucket: Int,
                         keys: String*): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsize"))
      .filter(col("__bsize") > maxBucket)
      .select(keys.map(col): _*)
    df.join(hot, keys, "left_anti")
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one surviving row (min id) per normalized-content
    * fingerprint. Returns (id, fp) of keepers. */
  def exactKeepers(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), Text.fingerprint(col(text)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(id)).as(id))

  // -------------------------------------------------------------- minhash

  /** MinHash signature over a shingle-set column: `numHashes` minima
    * over the affine family h1 + s·h2 — the native codegen'd
    * [[graft.functions.MinHashSignature]] kernel (one fused loop, two
    * xxhash64 evals per shingle, no intermediate arrays). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.SketchFunctions.minhashSignature(sh, numHashes)

  /** Built-in-primitive formulation of the native kernel's exact affine
    * family: sig[s-1] = min over x of xxhash64(x) + s·xxhash64(x, Seed2)
    * (`xxhash64(x, lit(Seed2))` chains hashLong(Seed2, ·) onto
    * xxhash64(x), which is precisely the kernel's h2). Bit-for-bit equal
    * to [[minhashSignature]] on non-empty inputs — the differential test
    * of the codegen'd kernel (SketchExpressionSpec). Test-only: the
    * affine accumulation relies on Java wrap-around long arithmetic, so
    * it must run with spark.sql.ansi.enabled=false (the native kernel
    * has no such constraint); and interpreted HOF lambdas re-evaluate
    * per element, so never put this on a hot path. */
  def minhashSignatureHof(sh: Column, numHashes: Int): Column = {
    val seed2 = lit(graft.functions.MinHashSignature.Seed2)
    transform(sequence(lit(1), lit(numHashes)),
      s => array_min(transform(sh,
        x => xxhash64(x) + s.cast("long") * xxhash64(x, seed2))))
  }

  /** LSH band hashes: signature split into `bands` bands of
    * `rowsPerBand` hashes, each band hashed to one long. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand)), j))

  /** Staged, cached (id, shingle-set, band-hash array) table: tokens →
    * shingles → signature → bands, each its own projection so every
    * regex split / hash runs exactly once per row, spread over
    * `defaultParallelism` partitions regardless of input file layout
    * (a single small parquet file otherwise pins the whole expression
    * pipeline to one task). */
  private def shingleBands(df: DataFrame, id: String, text: String,
                           k: Int, numHashes: Int, bands: Int): DataFrame = {
    df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id),
        array_distinct(Text.shinglesOfTokens(col("__toks"), k)).as("__shs"))
      .withColumn("sig", minhashSignature(col("__shs"), numHashes))
      // The SIGNATURE hashes the shingle STRINGS (its band values are
      // pinned by oracles and the batch≡stream law), but the persisted
      // verify-side shingle sets ride as xxhash64 longs — 8 bytes vs
      // ~30-char strings across the persist and both verify-join legs;
      // |∩|, |∪|, hence the Jaccard value, unchanged absent a
      // ~n²/2⁶⁵ collision (the q_dedup_spans discipline).
      .select(col(id),
        transform(col("__shs"), s => xxhash64(s)).as("sh"),
        bandHashes(col("sig"), bands, numHashes / bands).as("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Candidate pairs (idA < idB) that share at least one LSH band bucket.
    * Buckets larger than `maxBucket` are dropped (exact-dup families —
    * handled by [[exactKeepers]]; keeps the self-join skew-free). */
  def lshCandidates(df: DataFrame, id: String, text: String,
                    k: Int = 3, numHashes: Int = 64,
                    bands: Int = 16, maxBucket: Int = 64): DataFrame = {
    val prepped = shingleBands(df, id, text, k, numHashes, bands)
    try Frames.stage(lshCandidatesFrom(prepped, id, maxBucket))
    finally prepped.unpersist(true)
  }

  private def lshCandidatesFrom(prepped: DataFrame, id: String,
                                maxBucket: Int): DataFrame = {
    val buckets = prepped
      .select(col(id), posexplode(col("bands")).as(Seq("band", "bhash")))
    val capped = capBuckets(buckets, maxBucket, "band", "bhash")
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard between two shingle-set columns (set semantics,
    * deterministic int counts → bit-exact double across engines). */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB))

  /** MinHash+LSH near-dup pipeline: candidates from banding, verified
    * with exact shingle-set Jaccard ≥ `threshold`.
    * Returns (id_a, id_b, jaccard). */
  def minhashDedup(df: DataFrame, id: String, text: String,
                   k: Int = 3, threshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16,
                   maxBucket: Int = 64): DataFrame = {
    val prepped = shingleBands(df, id, text, k, numHashes, bands)
    val cands = lshCandidatesFrom(prepped, id, maxBucket)
    val sh = prepped.select(col(id), col("sh"))
    val pairs = cands
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    try Frames.stage(pairs) finally prepped.unpersist(true)
  }

  /** Cross-corpus MinHash+LSH near-dup join — dedup a NEW corpus (B,
    * e.g. today's crawl) against an EXISTING one (A) without the
    * self-join: band signatures on both sides, bucket-join A×B on
    * (band, bucket hash), then exact-Jaccard verification. Each
    * side's hot buckets are capped independently (same skew rationale
    * as [[lshCandidates]]); at 100 TB the A-side banding projection is
    * computed once and persisted/written, so an incremental crawl
    * pays only B's scan plus the bucket join. Returns
    * (id_a, id_b, jaccard) with ids drawn from A and B respectively.
    */
  def crossNearDup(dfA: DataFrame, dfB: DataFrame, id: String,
                   text: String, k: Int = 3, threshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16,
                   maxBucket: Int = 64): DataFrame = {
    val pa = shingleBands(dfA, id, text, k, numHashes, bands)
    val pb = shingleBands(dfB, id, text, k, numHashes, bands)
    def capped(p: DataFrame): DataFrame = capBuckets(
      p.select(col(id), posexplode(col("bands")).as(Seq("band", "bhash"))),
      maxBucket, "band", "bhash")
    val cands = capped(pa).as("a")
      .join(capped(pb).as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    val pairs = cands
      .join(pa.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(pb.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    try Frames.stage(pairs) finally { pa.unpersist(true); pb.unpersist(true) }
  }

  /** Exact n-gram Jaccard dedup WITHOUT sketching, by PREFIX FILTERING
    * (the AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.):
    * under any global total order on shingles, two sets with
    * J(A,B) ≥ t must share at least one element within each set's
    * first |A| − ⌈t·|A|⌉ + 1 elements — if all common elements sat in
    * A's suffix, the overlap would be < t·|A| ≤ |A∩B|. Ordering
    * rare-shingles-first (document frequency ascending) makes those
    * prefixes collide almost only for genuinely similar documents.
    *
    * Pipeline: shingle sets → global df counts (one partial-aggregated
    * groupBy) → per-document rank by (df, shingle) → explode only the
    * prefix (≈ (1−t)·|A| + 2 entries/doc) → equi-join on the prefix
    * shingle with a size-ratio prefilter (J ≥ t bounds sizes within
    * factor t) → distinct candidate pairs → exact Jaccard verify.
    * Unlike size-only blocking, selectivity does not collapse when the
    * corpus has uniform document lengths; cost tracks per-rare-shingle
    * density, never |corpus|². Prefix length uses floor(t·sz)+2 and
    * the ratio prefilter is loosened by +1 so float rounding can only
    * ADD candidates. Returns (id_a, id_b, jaccard). */
  def ngramJaccardDedup(df: DataFrame, id: String, text: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Shingles ride as xxhash64 LONGS end to end: the exploded prefix
    // rows, the document-frequency shuffle, and the verify arrays all
    // weigh 8 bytes instead of ~30-char strings (3-4× lighter
    // exchanges). |∩|, |∪| — hence the Jaccard value — are unchanged
    // unless xxhash64 collides (~n²/2⁶⁵, the q_dedup_spans
    // discipline). The df-tie prefix order changes from string to hash
    // order — a different but equally valid global total order, so the
    // prefix-filter recall guarantee is untouched (and the exact
    // verify decides membership either way).
    val sh = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id),
        array_distinct(transform(Text.shinglesOfTokens(col("__toks"), k),
          s => xxhash64(s))).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = sh.select(col(id), col("sz"), explode(col("sh")).as("t"))
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("df"), col("t"))
    val prefix = toks.join(dfreq, "t")
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= col("sz") - floor(d(col("sz")) * threshold) + 2)
      .select(col(id), col("sz"), col("t"))
    val cands = prefix.select(col(id).as("id_a"), col("sz").as("sz_a"), col("t"))
      .join(prefix.select(col(id).as("id_b"), col("sz").as("sz_b"), col("t")),
        Seq("t"))
      .filter(col("id_a") < col("id_b") &&
        d(col("sz_a")) * threshold <= col("sz_b") + 1 &&
        d(col("sz_b")) * threshold <= col("sz_a") + 1)
      .select(col("id_a"), col("id_b"))
      .distinct()
    val pairs = cands
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    try Frames.stage(pairs) finally sh.unpersist(true)
  }

  private def d(c: Column): Column = c.cast("double")

  // -------------------------------------------------------------- simhash

  /** SimHash vote vector from an already-materialized token-hash array:
    * +1/-1 vote per token per bit position, summed. */
  private def simhashVotes(hashes: Column): Column =
    aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(i =>
          when(shiftright(h, i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)): _*),
        (a, b) => a + b))

  /** Chunk a materialized 64-entry vote vector into `chunks` unsigned
    * 16-bit ints (LSB-chunk first). Chunked rather than one long so
    * banding and hamming stay in int arithmetic (ANSI-safe). */
  private def votesToChunks(votes: Column, chunks: Int): Column = {
    val bitsPerChunk = 64 / chunks
    array((0 until chunks).map { c =>
      (0 until bitsPerChunk).map { i =>
        when(element_at(votes, c * bitsPerChunk + i + 1) >= 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
  }

  /** SimHash of the token stream as chunked ints — convenience for
    * single-expression use (tests); pipelines stage each step. */
  def simhashChunks(text: Column, chunks: Int = 4): Column =
    votesToChunks(simhashVotes(transform(Text.tokens(text),
      t => xxhash64(t))), chunks)

  /** Hamming distance between two chunked simhashes. */
  def hammingChunks(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, d) => acc + d)

  /** Shared SimHash candidate/verify tail: pigeonhole banding on equal
    * chunks, exact hamming ≤ `maxHamming` verification over a cached
    * (id, sig) table. */
  private def simhashPairs(withSig: DataFrame, id: String,
                           maxHamming: Int): DataFrame = {
    val buckets = withSig.select(col(id), col("sig"),
      posexplode(col("sig")).as(Seq("chunk", "cval")))
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hammingChunks(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    try Frames.stage(pairs) finally withSig.unpersist(true)
  }

  /** SimHash near-dup: candidates share at least one equal 16-bit chunk
    * (pigeonhole: hamming ≤ chunks-1 guarantees this), verified with
    * exact hamming ≤ `maxHamming`. Returns (id_a, id_b, hamming). */
  def simhashDedup(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    // Native fused kernel: tokenize → SimHashChunks in the scan stage;
    // cached so both self-join legs reuse it.
    val withSig = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), graft.functions.SketchFunctions
        .simhashChunks(Text.tokens(col(text)), chunks).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simhashPairs(withSig, id, maxHamming)
  }

  /** md5-derived SimHash twin of [[simhashDedup]], built so an ANSI-SQL
    * engine can replay the signatures end-to-end (xxhash64 has no SQL
    * mirror): bit i (0-based, LSB-first) of a token's 64-bit hash is
    * bit (i % 4) of hex digit (i / 4 + 1) of md5(token) — every step is
    * exact string/integer arithmetic. Banding, hamming verification,
    * and output shape are identical to the production variant; prefer
    * that one at scale (one native hash call vs 16 substring parses per
    * token). Docs that tokenize to nothing are excluded on both sides:
    * an all-zero vote vector would stamp every empty doc with the same
    * all-ones signature and pair them quadratically. */
  def simhashDedupMd5(df: DataFrame, id: String, text: String,
                      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    // Signature computation as EXPLODE + one codegen'd partial
    // aggregate, not a per-doc interpreted HOF fold. The previous form
    // folded a 64-expression zip_with lambda over the token array —
    // Catalyst interprets HOF lambdas (no codegen, no CSE), and each
    // token paid 64 separate substr+conv nibble parses plus a
    // 64-element accumulator array copy; measured as ~2.5 s of the
    // 3.27 s driver-side bench row (the most expensive registry row in
    // BENCH_r07). Here each token row parses the 32-hex-digit md5
    // ONCE into two packed 32-bit halves (2 convs, not 64), the
    // per-bit votes become 64 whole-stage-codegen'd SUM aggregates
    // (map-side partial aggregation: the exchange carries one
    // 64-int row per doc, and explode keeps a doc's tokens in its
    // scan partition so the partial agg collapses locally), and
    // vote_i = 2·Σbit_i − n_tokens replays the ±1 fold exactly in
    // integer arithmetic — bit-for-bit the same signatures, pinned by
    // the unchanged DuckDB oracle. Banding/verify tail unchanged.
    val toks = df
      .select(col(id),
        filter(Text.tokens(col(text)), t => t =!= "").as("__toks"))
      .filter(size(col("__toks")) > 0)
      .transform(Frames.spread)
    // bit i (0-based, LSB-first) of a token's 64-bit hash = bit (i%4)
    // of hex digit (i/4 + 1) of md5(token); digits 1..8 ride packed in
    // __hi (digit 1 = most significant nibble), digits 9..16 in __lo.
    val packed = toks
      .select(col(id), explode(col("__toks")).as("__t"))
      .select(col(id), md5(col("__t")).as("__h"))
      .select(col(id),
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long").as("__hi"),
        conv(substring(col("__h"), 9, 8), 16, 10).cast("long").as("__lo"))
    def bit(i: Int): Column = {
      val digit = i / 4 + 1
      val (src, shift) =
        if (digit <= 8) (col("__hi"), 4 * (8 - digit) + i % 4)
        else (col("__lo"), 4 * (16 - digit) + i % 4)
      shiftright(src, shift).bitwiseAND(lit(1L))
    }
    val aggs = sum(bit(0)).as("__b0") +:
      ((1 until 64).map(i => sum(bit(i)).as(s"__b$i")) :+
        count(lit(1)).as("__n"))
    val votesWide = packed.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
    val bitsPerChunk = 64 / chunks
    val chunkCols = (0 until chunks).map { c =>
      (0 until bitsPerChunk).map { p =>
        val i = c * bitsPerChunk + p
        when(lit(2L) * col(s"__b$i") - col("__n") >= 0,
          lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    val withSig = votesWide
      .select(col(id), array(chunkCols: _*).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simhashPairs(withSig, id, maxHamming)
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): hash every character n-gram of the whitespace-normalized
    * text, slide a window of `w` consecutive gram hashes, keep each
    * window's minimum, dedupe. Guarantee: any shared substring of length
    * ≥ n + w - 1 between two documents shares at least one fingerprint —
    * the rolling-hash fingerprint scheme plagiarism/contamination
    * checkers use. Every step is staged as its own projection over
    * attribute inputs (interpreted HOF lambdas have no CSE, so nesting
    * the gram expression inside the hash transform would re-split per
    * element). Returns (id, fp) — one row per distinct fingerprint.
    */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
                         n: Int = 8, w: Int = 4): DataFrame = {
    df.select(col(id), concat_ws(" ", Text.tokens(col(text))).as("__t"))
      .transform(Frames.spread)
      .select(col(id), explode(graft.functions.SketchFunctions
        .winnowFingerprints(col("__t"), n, w)).as("fp"))
  }

  /** Built-in-primitive formulation of the winnow kernel — every gram a
    * `substr` + `xxhash64`, every window an `array_min(slice(...))`,
    * distinct via `array_distinct`. Value-identical to
    * [[winnowFingerprints]] (differential test in SketchExpressionSpec).
    * Test-only: the interpreted lambdas pay a substring copy per gram
    * and a w-element slice copy per window position — this pipeline
    * alone was 61 s of the 500k-doc scaling-audit corpus. */
  def winnowFingerprintsHof(df: DataFrame, id: String, text: String,
                            n: Int = 8, w: Int = 4): DataFrame = {
    val t = df
      .select(col(id), concat_ws(" ", Text.tokens(col(text))).as("__t"))
      .transform(Frames.spread)
    val grams = t.select(col(id),
      when(length(col("__t")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(col("__t")) - (n - 1)),
          i => col("__t").substr(i, lit(n))))
        .as("__grams"))
    val hashes = grams.select(col(id),
      transform(col("__grams"), g => xxhash64(g)).as("__h"))
    hashes.select(col(id),
      explode(array_distinct(
        when(size(col("__h")) === 0, array().cast("array<bigint>"))
          .when(size(col("__h")) < w, array(array_min(col("__h"))))
          .otherwise(transform(sequence(lit(1), size(col("__h")) - (w - 1)),
            i => array_min(slice(col("__h"), i, lit(w))))))).as("fp"))
  }

  /** Winnowing near-dup: pairs sharing ≥ `minShared` fingerprints.
    * The fingerprint table is tiny relative to text (one hash per ~w
    * chars), so the self-join shuffles (fp, id) pairs only; hot
    * fingerprints (boilerplate) are capped like LSH buckets.
    * Returns (id_a, id_b, n_shared). */
  def winnowDedup(df: DataFrame, id: String, text: String,
                  n: Int = 8, w: Int = 4, minShared: Int = 2,
                  maxBucket: Int = 64): DataFrame = {
    // Cache the RAW fingerprint table too: capBuckets reads its input
    // twice (hot-key aggregate leg + anti-join probe leg), and uncached
    // each leg would recompute the whole gram-hash + window-min
    // pipeline (ADVICE r7). The capped table is cached for the two
    // self-join legs as before.
    val fps = winnowFingerprints(df, id, text, n, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBuckets(fps, maxBucket, "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    try Frames.stage(pairs)
    finally { fps.unpersist(true); capped.unpersist(true) }
  }

  /** Winnow-candidate near-dup with exact verification: fingerprint
    * pairs sharing ≥ `minShared` winnow fingerprints are candidates
    * (cheap, substring-sensitive recall), then exact shingle-set
    * Jaccard ≥ `threshold` decides (precision exact by construction —
    * same candidates-then-verify architecture as [[minhashDedup]]).
    * A share-count threshold alone is not a similarity measure: at
    * larger corpora genuinely similar pairs can share few distinct
    * fingerprints (repetitive text collapses runs to one fingerprint),
    * so keep `minShared` low and let the verifier decide.
    * Returns (id_a, id_b, jaccard). */
  def winnowNearDup(df: DataFrame, id: String, text: String,
                    n: Int = 24, w: Int = 8, minShared: Int = 2,
                    maxBucket: Int = 64, k: Int = 3,
                    threshold: Double = 0.8): DataFrame = {
    // Winnow candidates are a WEAK filter by design (minShared must
    // stay low for recall — repetitive text collapses fingerprint
    // runs), so the verify side must assume candidate pairs ≫ true
    // pairs: the 500k-doc scaling audit measured 33.4M candidates for
    // 25.6k true pairs, and a verify join that attaches shingle-STRING
    // arrays to every candidate moves ~80 GB through two exchanges.
    // Three changes keep the verify linear in candidates:
    //  - shingles are xxhash64 LONGS (8 bytes vs ~30-char strings);
    //    |∩| and |∪| — hence the Jaccard VALUE — are unchanged unless
    //    xxhash64 collides (~n²/2⁶⁵, the q_dedup_spans discipline);
    //  - the shingle table is persisted once and reused by both legs
    //    (each leg used to recompute the tokenize+shingle pipeline);
    //  - candidates first join doc SIZES only (16-byte rows):
    //    |A∩B| ≤ min ⇒ J ≤ min(|A|,|B|)/max(|A|,|B|), so pairs failing
    //    the size-ratio test can never reach `threshold` — a necessary
    //    condition, never dropping a qualifying pair — and only the
    //    survivors attach the hash arrays for the exact decision.
    val sh = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id),
        array_distinct(transform(Text.shinglesOfTokens(col("__toks"), k),
          s => xxhash64(s))).as("sh"))
      .select(col(id), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size-band blocking is applied INSIDE the fingerprint-bucket
    // self-join, not on the aggregated candidate pairs after it: each
    // fingerprint row carries its document's shingle-set size, and the
    // join predicate requires min(sz)/max(sz) ≥ threshold — a pair
    // failing it can never reach J ≥ threshold (|A∩B| ≤ min ⇒
    // J ≤ min/max; necessary condition, drops no qualifying pair), so
    // the candidate stream shrinks BEFORE the (id_a, id_b) aggregate
    // shuffle, not after it. At the 500k-doc probe the post-join gate
    // passed 33.4M aggregated candidate rows to the size filter; the
    // in-join band cuts the same rows where they are produced, and
    // the pair aggregate never materializes them. Surviving pairs'
    // n_shared counts are unchanged (shared-fingerprint counts don't
    // depend on the band), so the output set is IDENTICAL. The size
    // rides from the SAME scan that emits the fingerprints (one extra
    // tokenize+shingle pass per doc, scan-stage, codegen'd) — NOT a
    // join against the shingle table, which would re-exchange the
    // whole fingerprint table by id (first cut of this change: 2.5×
    // on the sf0.1 bench from exactly that shuffle).
    // fpsSized is persisted because capBuckets reads it twice (hot-key
    // aggregate leg + anti-join probe leg); uncached, the whole
    // winnow-fingerprint pipeline above ran once per leg (ADVICE r7).
    val fpsSized = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id),
        concat_ws(" ", Text.tokens(col(text))).as("__t"),
        size(array_distinct(transform(
          Text.shinglesOfTokens(Text.tokens(col(text)), k),
          s => xxhash64(s)))).as("sz"))
      .select(col(id), col("sz"),
        explode(graft.functions.SketchFunctions
          .winnowFingerprints(col("__t"), n, w)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBuckets(fpsSized, maxBucket, "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$id") < col(s"b.$id") &&
          least(col("a.sz"), col("b.sz")).cast("double")
            >= lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"))
    val out = cands
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    try Frames.stage(out)
    finally Seq(sh, fpsSized, capped).foreach(_.unpersist(true))
  }

  // ---------------------------------------------------- embedding near-dup

  /** Bit-exact cosine between two array<float/double> columns: the
    * native codegen'd [[graft.functions.CosineSimilarity]] expression —
    * one fused loop, accumulators summed in index order, so the result
    * is IDENTICAL to a strict left-to-right double fold and the DuckDB
    * oracle can mirror it with list_reduce. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine(a, b)

  /** Embedding near-dup: pairwise cosine ≥ `threshold` inside a blocking
    * key (never unblocked). Returns (id_a, id_b, cos). */
  def embeddingNearDup(df: DataFrame, id: String, vec: String,
                       blockKey: String, threshold: Double): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val v = df.select(col(id), col(vec), col(blockKey).as("blk"))
      .repartition(par, col("blk"))
    v.as("a")
      .join(v.as("b"),
        col("a.blk") === col("b.blk") && col(s"a.$id") < col(s"b.$id"))
      .withColumn("cos", cosine(col(s"a.$vec"), col(s"b.$vec")))
      .filter(col("cos") >= threshold)
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"), col("cos"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540): cluster
    * the embedding space with k-means, then compare pairs ONLY within a
    * cluster — a near-identical pair is assigned to the same cell by
    * construction, so the clustering is the blocking key and the
    * quadratic comparison is bounded per cell instead of per corpus.
    * A point is a duplicate iff some SMALLER-id point in its cell has
    * cosine ≥ `threshold` to it (greedy min-id keeper — deterministic,
    * no transitive chaining). Returns (id, cell, is_dup).
    *
    * Takes a built [[graft.operators.Similarity.IvfIndex]]: the
    * expensive k-means runs once per corpus (q_semantic_dedup shares
    * q_ann_knn's index through [[IndexCache]]) and `assigned` is already
    * hash-partitioned by cell, so the within-cell self-join introduces
    * NO new exchange on either side. At 100 TB: size `nCells` ≈
    * √corpus so per-cell candidate lists grow as √corpus; the flag join
    * carries bare ids, never vectors. */
  def semanticDedup(index: graft.operators.Similarity.IvfIndex,
                    id: String, threshold: Double): DataFrame = {
    val a = index.assigned.select(col("neighbor_id").as(id),
      col("cv").as("__v"), col("cell"))
    val dupIds = a.as("x")
      .join(a.as("y"),
        col("x.cell") === col("y.cell") &&
          col(s"x.$id") < col(s"y.$id"))
      .filter(cosine(col("x.__v"), col("y.__v")) >= threshold)
      .select(col(s"y.$id").as(id))
      .distinct()
    a.select(col(id), col("cell"))
      .join(dupIds.withColumn("__d", lit(true)), Seq(id), "left")
      .select(col(id), col("cell"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** Connected components over a near-dup pair graph: every node gets
    * the MINIMUM reachable id as its cluster label (so the label is
    * also the canonical keeper — the end of the dedup story:
    * pairs → clusters → one survivor per cluster).
    *
    * Zero-shuffle partition-local union-find contraction first
    * ([[contractPartitions]]), then min-label propagation with POINTER
    * DOUBLING over the contracted star graph: each round a node takes
    * the min over (its label, its star-neighbors' labels, its label's
    * label — the doubling edges ride in the same join). Convergence is
    * O(log partition-hop-diameter) rounds — the contraction collapses
    * everything a task can see locally, so the loop only reconciles
    * across partitions (the sf0.1 percolation graph needed 12 rounds
    * of the uncontracted r4 loop, 4 of this one). Per round: ONE
    * join + one aggregate shuffle, plus an O(1) changed-count to the
    * driver (the allreduce-loop shape the iterative ML kernels use).
    *
    * Each round's label table is staged: without lineage truncation
    * the analyzed plan re-embeds the previous round's plan three times
    * (propagate join, union, changed-count join), i.e. grows
    * exponentially in rounds and OOMs the driver around round ~12 —
    * data-size-independent, purely a plan pathology. Staging
    * materializes O(|nodes|) rows per round, the same floor any
    * iterative CC pays. Fully deterministic — min is order-free.
    *
    * Round cost discipline (a first cut of this loop benched 3× worse
    * for reasons invisible in the plan): (a) the changed-count rides
    * IN the staged table — the previous round's label is carried
    * through the aggregate join, so counting changes is a scan of
    * already-materialized local blocks, not a second join-shuffle
    * job; (b) each round is freed once its successor exists — a loop
    * that leaves its rounds to the ContextCleaner accretes every
    * round's O(|nodes|) blocks in executor memory, evicting useful
    * cache and inflating GC (observed: first bench rep 2.5× slower
    * than steady state purely from leaked rounds). */
  /** Partition-local union-find contraction: one NARROW pass over the
    * edge partitions (zero shuffle) that collapses every connected set
    * visible inside a partition to its minimum member, emitting one
    * (node → local root) star edge per node per partition. The star
    * graph has exactly the original graph's components (each
    * partition's stars preserve its subgraph's connectivity; nodes
    * straddling partitions link their stars), but its diameter is the
    * partition-hop count, not the raw graph diameter — at 100 TB this
    * is the difference between rounds ~ log(component span across
    * tasks) and rounds ~ log(graph diameter), and the contraction
    * itself costs no shuffle at all. Roots are minima under the same
    * ordering as Spark's `min` (ids are Comparable: numeric/string). */
  private def contractPartitions(edges: DataFrame): DataFrame = {
    val uType = edges.schema("u").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u", uType, nullable = false),
      org.apache.spark.sql.types.StructField("lbl", uType, nullable = false)))
    val rows = edges.toDF("u", "v").rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def cmp(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
      def find(x: Any): Any = {
        var r = x
        var p = parent.get(r)
        while (p != null && p != r) { r = p; p = parent.get(r) }
        // path compression
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (cmp(ra, rb) <= 0) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val keys = parent.keySet().toArray
      keys.iterator.map(k => org.apache.spark.sql.Row(k, find(k)))
    }
    edges.sparkSession.createDataFrame(rows, schema)
  }

  def nearDupClusters(nodes: DataFrame, pairs: DataFrame,
                      id: String = "id"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rawEdges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    // The loop iterates over the CONTRACTED star graph (same
    // components, partition-hop diameter); both directions so roots
    // hear their members' labels and members their roots'.
    // After the zero-shuffle pass, TWO shuffled re-contractions:
    // repartition the bidirectional star by endpoint and union-find
    // again — every pair of roots sharing ANY co-located node merges,
    // so each pass collapses the star like several min-label rounds at
    // the cost of ONE node-sized shuffle + a narrow pass (no join, no
    // aggregate, no checkpoint). This is what keeps the ROUND COUNT
    // flat as the corpus grows: with 10× data a component's edges
    // spread over 10× more partitions, and the r5 sf1 audit measured
    // the single-contraction loop needing ~8 rounds (vs 4 at sf0.1);
    // the re-contractions collapse that cross-partition spread before
    // the first join runs.
    // Scale-adaptive re-contraction width (see [[Frames.loopWidth]]):
    // a constant `defaultParallelism` here pinned the star frame — and
    // every loop stage that scans it — to the core count regardless of
    // graph size (32 near-empty tasks per round at sf0.1; the CC
    // queries measured FASTER at 8 cores than 32). Derived from the
    // edge frame's size estimate instead; an unknown estimate falls
    // back to `spark.sql.shuffle.partitions`, which every graft.Session
    // sets to the core count. Fewer, fuller partitions also mean each
    // partition-local union-find sees MORE of every component, so the
    // loop converges in the same or fewer rounds — the output (the
    // converged min-label fixpoint) is partitioning-independent.
    val par = Frames.loopWidth(rawEdges)
    var star0 = contractPartitions(rawEdges)
    for (_ <- 1 to 2) {
      val bidir = star0.toDF("u", "v")
        .union(star0.select(col("lbl").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      star0 = contractPartitions(bidir.repartition(par, col("u")))
    }
    val star = star0.persist(MEMORY_AND_DISK)
    val edges = star.select(col("u"), col("lbl").as("v"))
      .union(star.select(col("lbl").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
    // Initial labels fold the contraction in: min over (identity,
    // local star roots) — most components are already fully labeled
    // here and the loop only reconciles across partitions.
    var labels = Frames.stage(
      nodes.select(col(id).as("u"), col(id).as("lbl"))
        .union(star)
        .groupBy("u").agg(min("lbl").as("lbl")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // Pointer doubling rides IN the propagate join (the r4 plan used
      // a dedicated labels⋈labels join — one extra shuffle per round):
      // each (u, lbl) contributes edges lbl→u (members hear their
      // root's current label: u gets lbl(lbl(u))) and u→lbl (roots
      // hear their members' labels), unioned into the same edge join.
      // Round 1 skips them — labels are still the contraction output,
      // whose star edges are already in `edges`.
      val propEdges =
        if (round == 1) edges
        else edges
          .union(labels.select(col("lbl").as("u"), col("u").as("v")))
          .union(labels.select(col("u"), col("lbl").as("v")))
          .filter(col("u") =!= col("v"))
      val viaEdge = labels.join(propEdges, "u")
        .select(col("v").as("u"), col("lbl"))
      // Carry the previous label through the aggregate: min(lbl) is the
      // new label, and since labels itself feeds the union, max-over-
      // nothing never happens; `old` arrives via a left join that reuses
      // the aggregate's partitioning. One staged job per round.
      val next = Frames.stage(
        labels.union(viaEdge)
          .groupBy("u").agg(min("lbl").as("lbl"))
          .join(labels.select(col("u"), col("lbl").as("__old")),
            Seq("u"), "left"))
      // Cheap: scans the just-materialized local blocks, no shuffle.
      // A null __old is a node first reached via an edge endpoint that
      // was absent from `nodes` — by definition changed.
      changed = next
        .filter(col("__old").isNull || col("lbl") =!= col("__old")).count()
      Frames.free(labels)
      labels = next.select(col("u"), col("lbl"))
    }
    star.unpersist(true)
    val out = labels.select(col("u").as(id), col("lbl").as("cluster"))
    // Caller gets a plan over the final stage; those blocks stay
    // (freeing them would hollow out the result) — they are one
    // round's O(|nodes|) rows, reclaimed by the context cleaner.
    out
  }

  /** Cross-document boilerplate scrub (the C4/RefinedWeb line-dedup
    * rule): a LINE that appears in at least `minDocs` distinct
    * documents is boilerplate (nav bars, cookie banners, license
    * headers) and is removed from every document; lines shorter than
    * `minLineChars` after trimming are exempt (too generic to be
    * evidence of shared provenance). Returns one row per input
    * document: (id, clean, n_kept) with `clean` the surviving lines
    * re-joined in original order ('' when everything was boilerplate).
    *
    * Scale: pass 1 aggregates lines to their distinct-document
    * frequency — partial-aggregable, and the HAVING keeps only the
    * frequent minority, so the boilerplate set is small relative to
    * the corpus; pass 2 is a left-anti join of lines against that set
    * followed by one per-document aggregate that reassembles order
    * via sort_array over (pos, line) structs — no window, no
    * per-document sort task, and document BODIES never shuffle (only
    * their lines, which the reassembly needs anyway). Deterministic:
    * sort_array on (pos, line) with distinct pos is a total order. */
  def stripBoilerplate(docs: DataFrame, id: String, text: String,
                       minDocs: Int = 2,
                       minLineChars: Int = 10): DataFrame = {
    val lines = docs.select(col(id),
      posexplode(split(col(text), "\n", -1)).as(Seq("pos", "line")))
    val boiler = lines
      .filter(length(trim(col("line"))) >= minLineChars)
      .groupBy(col("line"))
      .agg(countDistinct(col(id)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("line"))
    val rebuilt = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("pos"), col("line"))))
        .as("__ls"))
      .select(col(id),
        concat_ws("\n", expr("transform(__ls, x -> x.line)")).as("clean"),
        size(col("__ls")).cast("long").as("n_kept"))
    docs.select(col(id)).join(rebuilt, Seq(id), "left")
      .select(col(id), coalesce(col("clean"), lit("")).as("clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Eval-set decontamination: per corpus document, the number of its
    * distinct word k-shingles that also appear in `benchmark` (any
    * overlap = flag for exclusion before training). The benchmark's
    * shingle set is exploded, deduplicated, and BROADCAST — eval
    * suites are a vanishing fraction of a 100 TB corpus — so the
    * corpus side is one scan + a broadcast hash probe per shingle, no
    * corpus shuffle beyond the per-doc count; no pairwise anything.
    * Docs with zero overlap are absent (inner-join semantics). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, id: String,
                    text: String, k: Int = 5): DataFrame = {
    def sh(df: DataFrame) = df
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id), explode(array_distinct(
        Text.shinglesOfTokens(col("__toks"), k))).as("t"))
    val bench = broadcast(sh(benchmark).select(col("t")).distinct())
    sh(corpus).join(bench, "t")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"))
  }

  // --------------------------------------------------- fuzzy (edit≤1) join

  /** Edit-distance-≤1 fuzzy self-join for SHORT keys (entity names,
    * titles, product codes — record linkage, not document near-dup) via
    * deletion-neighborhood blocking (the FastSS / SymSpell family).
    * Each key emits itself plus its |key| single-character deletions as
    * blocking signatures; two keys within one edit (insert, delete or
    * substitute) provably share a signature — deleting the edited
    * position from both sides yields the same string — so an equi-join
    * on the signature generates a COMPLETE candidate set, and an exact
    * `levenshtein` check keeps only true pairs (signature collisions
    * like "ab"/"ba" are rejected there).
    *
    * Scale: |key|+1 signatures per row, built in the scan stage; the
    * candidate join shuffles (signature, id, key) triples — short keys
    * only, never document bodies. A signature shared by more than
    * `maxBucket` keys is dropped exactly like the LSH hot buckets: at
    * 100 TB such a family is an exact-dup cluster, [[exactKeepers]]'
    * job, not a pairwise one. Returns (id_a, id_b, key_a, key_b, dist)
    * with id_a < id_b and dist ∈ {0, 1}.
    */
  def fuzzyPairsD1(df: DataFrame, id: String, key: String,
                   maxBucket: Int = 1024): DataFrame = {
    val k0 = col("__k")
    val dels = transform(sequence(lit(0), length(k0) - 1),
      i => concat(k0.substr(lit(1), i), k0.substr(i + lit(2), length(k0))))
    val sigs = df
      .select(col(id), col(key).as("__k"))
      .select(col(id), k0,
        explode(array_union(array(k0),
          when(length(k0) > 0, dels)
            .otherwise(array().cast("array<string>")))).as("__sig"))
    val capped = capBuckets(sigs, maxBucket, "__sig")
    capped.as("a")
      .join(capped.as("b"), col("a.__sig") === col("b.__sig"))
      .filter(col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.__k").as("key_a"), col("b.__k").as("key_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast("long"))
      .filter(col("dist") <= 1)
  }

  // --------------------------------------------- duplicated-span fraction

  /** Per-document duplicated-span statistics — the distributed
    * approximation of exact-substring corpus dedup (the suffix-array
    * method of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): a token k-gram OCCURRENCE is
    * duplicated iff that k-gram occurs ≥ 2 times anywhere in the corpus
    * (another document, or again in the same one — exactly the spans a
    * suffix-array dedup would cut). Returns per document
    * `(id, n_grams, dup_grams, dup_frac)`; documents shorter than `k`
    * tokens have no grams and are absent.
    *
    * Scale: the corpus text never shuffles — grams are hashed to 64-bit
    * fingerprints in the scan stage, within-doc occurrence counts are
    * partially aggregated on (id, hash) BEFORE the global gram-count
    * shuffle, and the count join + per-doc rollup carry (long, long,
    * long) triples only. Hot grams (boilerplate) compact to one row per
    * doc on the map side, so the fingerprint join skew is bounded by
    * doc count, not occurrence count. Collision risk of the 64-bit
    * fingerprint is ~n²/2⁶⁵ — negligible against the signal's own
    * k-gram approximation error. */
  def dupSpanStats(df: DataFrame, id: String, text: String,
                   k: Int = 8): DataFrame = {
    val perDoc = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id),
        explode(Text.shinglesOfTokens(col("__toks"), k)).as("g"))
      .select(col(id), xxhash64(col("g")).as("h"))
      .groupBy(col(id), col("h"))
      .agg(count(lit(1)).as("n"))
    val global = perDoc.groupBy(col("h")).agg(sum(col("n")).as("tot"))
    perDoc.join(global, "h")
      .groupBy(col(id))
      .agg(sum(col("n")).as("n_grams"),
        sum(when(col("tot") > 1, col("n")).otherwise(lit(0L)))
          .as("dup_grams"))
      .withColumn("dup_frac",
        col("dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Exact duplicated-substring REMOVAL (the scrub counterpart of
    * [[dupSpanStats]]; Lee et al. arXiv:2107.06499 §"ExactSubstr"):
    * every occurrence of a corpus-duplicated token k-gram is deleted
    * EXCEPT the canonical one — canonical = the occurrence in the
    * smallest doc id, earliest position there (a deterministic
    * keep-first rule both engines can mirror as two chained MINs, no
    * struct-ordering portability assumptions). A token is dropped iff
    * some non-canonical duplicated gram occurrence covers it; the doc
    * is rebuilt from the surviving tokens in order.
    *
    * Scale shape: text never shuffles. Grams become 64-bit
    * fingerprints in the scan stage; the global count and the
    * canonical-position lookup shuffle (hash, id, pos) longs; only
    * occurrences of DUPLICATED grams (tot ≥ 2 minus one canonical per
    * gram) explode to covered token indices (k longs each), so the
    * removal set is proportional to the duplication actually present,
    * not to corpus size. Reassembly is one sort_array per doc over
    * surviving (pos, token) pairs — the same bounded per-doc rollup
    * as [[stripBoilerplate]], no window, no per-doc sort task.
    *
    * Returns (id, n_kept, n_removed, scrub_fp): counts + md5 of the
    * rebuilt text (order-sensitive, so the fingerprint certifies the
    * reassembly, not just the kept-set). */
  def scrubDupSpans(df: DataFrame, id: String, text: String,
                    k: Int = 8): DataFrame = {
    val toks = df.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
    val tokPos = toks.select(col(id),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
    val grams = toks.select(col(id),
        posexplode(Text.shinglesOfTokens(col("__toks"), k))
          .as(Seq("pos", "g")))
      .select(col(id), col("pos"), xxhash64(col("g")).as("h"))
    // Renamed join keys (dh/ch/rid) sidestep self-join ambiguity: every
    // frame joined here derives from `toks`.
    val dupStats = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("tot"), min(col(id)).as("cd"))
      .filter(col("tot") >= 2)
      .select(col("h").as("dh"), col("cd"))
    val canonPos = grams.join(dupStats,
        col("h") === col("dh") && col(id) === col("cd"))
      .groupBy(col("h")).agg(min(col("pos")).as("cp"))
      .select(col("h").as("ch"), col("cp"))
    val removedPos = grams
      .join(dupStats, col("h") === col("dh")).drop("dh")
      .join(canonPos, col("h") === col("ch")).drop("ch")
      .filter(!(col(id) === col("cd") && col("pos") === col("cp")))
      .select(col(id).as("rid"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("rp"))
      .distinct()
    val kept = tokPos.join(removedPos,
      col(id) === col("rid") && col("pos") === col("rp"), "left_anti")
    val rebuilt = kept.groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("__s"))
    df.select(col(id), size(Text.tokens(col(text))).as("__n_total"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        md5(coalesce(col("__s"), lit("")).cast("binary")).as("scrub_fp"))
  }
}
