package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal
import graft.streaming.{Sessionize, StreamCms, StreamDedup, StreamDrift,
  StreamSketch, WindowAgg}

/** Sessionization (oracle-matched gaps-and-islands) and multimodal
  * plumbing queries (rows-only: the stub decoder is not
  * SQL-expressible; the plumbing is covered by MultimodalSpec).
  */
object StreamTextQueries {

  /** events.ts is epoch-nanos long (Spark 4 legacy nanosAsLong read);
    * integer-divide to micros — a double division would lose precision
    * above 2^53. */
  private val tsUs = expr("ts DIV 1000")

  /** Regenerate the synthetic-image pixel grid for a source relation
    * with a `media_id` column — the DuckDB mirror of
    * [[Multimodal.synthPng]]'s closed-form field, one row per
    * (media, x, y, channel). The fixed 32×24 grid is filtered by each
    * image's (w, h); pixel values are exact BIGINT arithmetic. */
  private def pixelCtes(srcCte: String): String =
    s"""geo AS (
       | SELECT media_id, media_id % 100000 AS seed,
       |  (media_id % 100000) % 24 + 9 AS w,
       |  (media_id % 100000) % 16 + 9 AS h
       | FROM $srcCte),
       |px AS (
       | SELECT media_id, w, h, x.x AS x, y.y AS y, c.c AS c,
       |  (seed * 7919 + x.x * 104729 + y.y * 1299709
       |    + c.c * 15485863) % 256 AS v
       | FROM geo CROSS JOIN range(0, 32) x(x)
       |  CROSS JOIN range(0, 24) y(y) CROSS JOIN range(0, 3) c(c)
       | WHERE x.x < w AND y.y < h)""".stripMargin

  /** DuckDB mirror of [[Multimodal.phash64]] + phashDedup over the
    * regenerated pixels: channel-sum grayscale, 8×8 block pooling,
    * integer cross-multiplied mean bits, then a brute-force over all
    * distinct-hash pairs — ground truth that also certifies the Spark
    * side's banding recall. */
  private def phashOracle: String = {
    val pow2 = (0 to 63).map(j => (BigInt(1) << j).toString)
      .mkString("[", ",", "]")
    s"""WITH src AS (
       |  SELECT doc_id AS media_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 FROM documents WHERE doc_id < 25),
       |${pixelCtes("src")},
       |ps AS (
       |  SELECT media_id, w, h, x, y, SUM(v) AS s
       |  FROM px GROUP BY 1, 2, 3, 4, 5),
       |cells AS (
       |  SELECT media_id, ((y * 8) // h) * 8 + (x * 8) // w AS j,
       |   SUM(s) AS cs, COUNT(*) AS cc
       |  FROM ps GROUP BY 1, 2),
       |tot AS (
       |  SELECT media_id, SUM(cs) AS ts, SUM(cc) AS n
       |  FROM cells GROUP BY 1),
       |hb AS (
       |  SELECT c.media_id,
       |   SUM(CASE WHEN c.cs * t.n > t.ts * c.cc
       |    THEN ($pow2)[CAST(c.j + 1 AS INT)]::HUGEINT
       |    ELSE 0::HUGEINT END) AS hu
       |  FROM cells c JOIN tot t USING (media_id) GROUP BY 1),
       |hs AS (
       |  SELECT media_id, CAST(CASE WHEN hu >= 9223372036854775808
       |    THEN hu - 18446744073709551616::HUGEINT ELSE hu END
       |    AS BIGINT) AS h FROM hb),
       |g AS (SELECT h, MIN(media_id) AS rep FROM hs GROUP BY 1),
       |ident AS (
       |  SELECT g.rep AS id_a, hs.media_id AS id_b, 0 AS dist
       |  FROM hs JOIN g USING (h) WHERE hs.media_id <> g.rep),
       |near AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b,
       |    bit_count(xor(a.h, b.h)) AS dist
       |  FROM g a JOIN g b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.h, b.h)) <= 3)
       |SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM
       | (SELECT * FROM ident UNION ALL SELECT * FROM near)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // Session windows per user, 30-minute gap. Same operator serves
    // Structured Streaming via Sessionize.byGapStreaming.
    QuerySpec("q_sessionize", (s, dir) =>
      Sessionize.byGap(Tables.load(s, dir, "events"),
        col("user_id"), tsUs, col("value"), "30 minutes"),
      // Gaps-and-islands mirror of session_window: break when the gap to
      // the previous event is >= 30 min; session end = last event + gap.
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
          |m AS (
          |  SELECT user_id, us, value,
          |   CASE WHEN lag(us) OVER w IS NULL
          |         OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
          |g AS (
          |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
          |    ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM m)
          |SELECT user_id, MIN(us) AS session_start_us,
          |  MAX(us) + 1800000000 AS session_end_us,
          |  CAST(COUNT(*) AS BIGINT) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM g GROUP BY user_id, sid""".stripMargin)),

    // Tumbling 1-hour event-time windows per event type — the canonical
    // Structured Streaming aggregation, run in batch mode (the streaming
    // variant with watermark is covered by StreamingSpec).
    QuerySpec("q_window_agg", (s, dir) =>
      WindowAgg.tumbling(Tables.load(s, dir, "events"),
        tsUs, "1 hour", "event_type", col("value")),
      // Spark's window() aligns tumbling windows to the epoch, so the
      // window start is plain integer arithmetic on epoch-micros.
      Some(
        """WITH e AS (
          |  SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events)
          |SELECT us - us % 3600000000 AS window_start_us,
          |  us - us % 3600000000 + 3600000000 AS window_end_us,
          |  event_type,
          |  CAST(COUNT(*) AS BIGINT) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM e GROUP BY 1, 2, 3""".stripMargin)),

    // Sliding (hopping) 1-hour windows advancing every 15 minutes —
    // each event lands in 4 overlapping windows; same
    // partial/final hash aggregate, fixed 4× grouping expansion.
    QuerySpec("q_window_sliding", (s, dir) =>
      WindowAgg.sliding(Tables.load(s, dir, "events"),
        tsUs, "1 hour", "15 minutes", "event_type", col("value")),
      // Sliding windows align to the epoch in multiples of the slide;
      // an event at `us` is covered by the 4 starts from its aligned
      // slide going back width − slide.
      Some(
        """WITH e AS (
          |  SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events),
          |x AS (
          |  SELECT us, event_type, value,
          |    unnest(range(us - us % 900000000 - 2700000000,
          |                 us - us % 900000000 + 1, 900000000)) AS ws
          |  FROM e)
          |SELECT ws AS window_start_us, ws + 3600000000 AS window_end_us,
          |  event_type,
          |  CAST(COUNT(*) AS BIGINT) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM x GROUP BY 1, 2, 3""".stripMargin)),

    // Stateful first-seen dedup (flatMapGroupsWithState) run in batch
    // mode: first event per user — reduces to groupBy.min, which is
    // the oracle.
    QuerySpec("q_first_seen", (s, dir) =>
      StreamDedup.firstSeen(Tables.load(s, dir, "events"),
        col("user_id"), tsUs).toDF(),
      Some(
        """SELECT user_id AS k, MIN(epoch_ns(ts) // 1000) AS first_ts
          |FROM events GROUP BY user_id""".stripMargin)),

    // Online MinHash+LSH near-dup (flatMapGroupsWithState over band
    // buckets, signatures in state) run in batch mode. Pairs trigger
    // on the signature-agreement Jaccard estimate; the fixtures' pair
    // similarity is cleanly bimodal (planted J≥0.98, background
    // <0.15), so the est≥0.8 cut recovers exactly the brute-force
    // J≥0.8 oracle set. Synthetic event time = doc_id (arrival order).
    QuerySpec("q_neardup_stream", (s, dir) =>
      graft.streaming.StreamNearDup.nearDups(
        Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), col("doc_id") * lit(1000000L))
        .toDF()
        .select(col("id_a"), col("id_b")).distinct(),
      // Exact-Jaccard J≥0.8 pairs (the DedupQueries sparse formulation —
      // the list-based all-pairs form was pathological at sf0.1) — valid
      // for the est≥0.8 signature cut because the fixture similarity
      // distribution is bimodal (see the query comment).
      Some(
        s"""WITH sh AS (SELECT doc_id, ${DedupQueries.shingleSet} AS s
           |  FROM documents),
           |${DedupQueries.sparseJacCtes("sh", 0.8)}
           |SELECT id_a, id_b FROM prs""".stripMargin)),

    // Streaming HLL (mapGroupsWithState, 64 bytes of state per group)
    // run in batch mode: its register derivation and estimate
    // arithmetic mirror operators.Sketch bit-for-bit, so the SAME
    // DuckDB estimate SQL oracles the stateful code path.
    // r6: the SUB-SHARDED state topology (state keyed (group,
    // hash(key) % 8), registers max-merged downstream) — identical
    // numbers to the unsharded kernel (StreamingSpec law) under the
    // same oracle, but the stateful stage parallelizes at
    // groups·shards instead of being capped at the 5-value enum (the
    // sf0.1 stream audit's 1000-executor funnel, SURVEY 8.8).
    QuerySpec("q_hll_stream", (s, dir) =>
      StreamSketch.approxDistinctSharded(Tables.load(s, dir, "events"),
        col("event_type"), col("user_id"), shards = 8,
        groupOut = "event_type"),
      Some(
        graft.operators.Sketch.estimateSql(
          "events", "user_id", "event_type", "n_approx"))),

    // Per-day drift monitor: each day's value histogram scored (PSI)
    // against a uniform reference — the windowed batch twin of
    // streaming.StreamDrift.psiPerWindowStreaming (state-path parity
    // pinned by StreamingSpec); decimal-staged term sum, 6 dp.
    QuerySpec("q_drift_window", (s, dir) =>
      StreamDrift.psiPerWindow(Tables.load(s, dir, "events"),
        timestamp_micros(expr("ts DIV 1000")), col("value"),
        lo = 0.0, hi = 100.0, bins = 10,
        ref = Seq.fill(10)(0.1), windowDur = "1 day"),
      // Mirrors StreamDrift.psiPerWindow: same floor/clamp bin, the bin
      // grid completed per day, ε-clamped proportions against the
      // CAST(0.1 AS DOUBLE) uniform reference, (p−r)·ln(p/r) terms,
      // DECIMAL(38,18)-staged sum, 6 dp + signed-zero canonicalization.
      Some(
        """WITH binned AS (
          | SELECT date_trunc('day', ts) AS w,
          |  LEAST(GREATEST(CAST(FLOOR((value - CAST(0.0 AS DOUBLE))
          |    / CAST(10.0 AS DOUBLE)) AS BIGINT), 0), 9) AS bin
          | FROM events),
          |g AS (SELECT w, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
          |tot AS (SELECT w, SUM(n) AS tot FROM g GROUP BY 1),
          |grid AS (
          | SELECT t.w, b.bin, COALESCE(g.n, 0) AS n, t.tot
          | FROM tot t CROSS JOIN range(0, 10) b(bin)
          |  LEFT JOIN g ON g.w = t.w AND g.bin = b.bin),
          |terms AS (
          | SELECT w, tot,
          |  (CASE WHEN n = 0 THEN 1e-6
          |    ELSE CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) END
          |   - CAST(0.1 AS DOUBLE))
          |  * ln((CASE WHEN n = 0 THEN 1e-6
          |     ELSE CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) END)
          |    / CAST(0.1 AS DOUBLE)) AS term
          | FROM grid)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w,
          | CAST(MAX(tot) AS BIGINT) AS n,
          | round(CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE), 6)
          |  + 0.0 AS psi
          |FROM terms GROUP BY w""".stripMargin)),

    // Streaming count-min (flatMapGroupsWithState, 8 KiB of counters
    // per group) run in batch mode: bucket derivation and min-estimate
    // mirror operators.Sketch.cmsSketch bit-for-bit, so the DuckDB
    // count-min mirror oracles the stateful code path.
    // r6: sub-sharded like q_hll_stream (counters sum exactly); the
    // estimate stage is fully relational — no per-task distinct-item
    // buffering — under the unchanged count-min mirror oracle.
    QuerySpec("q_cms_stream", (s, dir) =>
      StreamCms.estimatesSharded(Tables.load(s, dir, "events"),
        col("event_type"), col("user_id"), shards = 8,
        groupOut = "event_type", itemOut = "user_id"),
      Some {
        val cellB = graft.operators.Sketch.cmsBucketSql("item", "r")
        val addrB = graft.operators.Sketch.cmsBucketSql("pr.item", "d.r")
        s"""WITH d AS (SELECT unnest([0, 1, 2, 3]) AS r),
           |p AS (
           | SELECT event_type, CAST(user_id AS VARCHAR) AS item FROM events),
           |cells AS (
           | SELECT event_type, r, $cellB AS b,
           |  CAST(COUNT(*) AS BIGINT) AS cnt
           | FROM p CROSS JOIN d GROUP BY 1, 2, 3),
           |probes AS (SELECT DISTINCT event_type, item FROM p),
           |addr AS (
           | SELECT pr.event_type, pr.item, d.r, $addrB AS b
           | FROM probes pr CROSS JOIN d)
           |SELECT a.event_type, a.item AS user_id,
           | CAST(MIN(c.cnt) AS BIGINT) AS est
           |FROM addr a JOIN cells c
           | ON a.event_type = c.event_type AND a.r = c.r AND a.b = c.b
           |GROUP BY 1, 2""".stripMargin
      }),

    // Streaming Misra–Gries heavy hitters run in batch mode: top-10
    // users per event type. Capacity 4096 covers the fixtures' 1500
    // distinct users/group, so the summary is EXACT here (the MG bound
    // under pressure is pinned by StreamingSpec) and the plain
    // count/rank oracle applies.
    QuerySpec("q_heavy_hitters", (s, dir) =>
      graft.streaming.StreamHeavyHitters.topK(
        Tables.load(s, dir, "events"),
        col("event_type"), col("user_id"), col("event_id"),
        capacity = 4096, k = 10).toDF(),
      Some(
        """SELECT g, item, est FROM (
          | SELECT event_type AS g, CAST(user_id AS VARCHAR) AS item,
          |  CAST(COUNT(*) AS BIGINT) AS est,
          |  ROW_NUMBER() OVER (PARTITION BY event_type
          |   ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR) ASC) AS rn
          | FROM events GROUP BY 1, 2) t
          |WHERE rn <= 10""".stripMargin)),

    // The EXACT batch twin of q_heavy_hitters — the cluster-scale path
    // §8.8 points to where Misra–Gries cannot sub-shard (its merge is
    // only error-bounded): one map-side-combinable (group, item) count
    // keyed by item cardinality, then a per-group bounded-heap top-k
    // whose partials merge k-sized buffers — NO stage is bounded by
    // the 5-value group enum, so 1000 executors all work. Counts ride
    // the heap as doubles (exact below 2⁵³) with (est desc, item asc)
    // tie-break.
    QuerySpec("q_heavy_hitters_exact", (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("event_type").cast("string").as("g"),
          col("user_id").as("item"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("g"))
        .agg(graft.functions.TopKFunctions
          .topK(col("item"), col("cnt").cast("double"), 10).as("topk"))
        .select(col("g"), explode(col("topk")).as("t"))
        .select(col("g"), col("t.id").as("item"),
          col("t.score").cast("long").as("est")),
      // Exact twin: numeric item tie-break (the heap keys on the long
      // id), counts exact.
      Some(
        """SELECT g, item, est FROM (
          | SELECT event_type AS g, user_id AS item,
          |  CAST(COUNT(*) AS BIGINT) AS est,
          |  ROW_NUMBER() OVER (PARTITION BY event_type
          |   ORDER BY COUNT(*) DESC, user_id ASC) AS rn
          | FROM events GROUP BY 1, 2) t
          |WHERE rn <= 10""".stripMargin)),

    // Streaming binned-quantile sketch (mapGroupsWithState, one count
    // per occupied bin) run in batch mode: rank-selected p50/p90 bin
    // edges per order priority, $1000 bins.
    QuerySpec("q_quantile_stream", (s, dir) =>
      graft.streaming.StreamQuantile.quantiles(
        Tables.load(s, dir, "orders"),
        col("o_orderpriority"), col("o_totalprice"), binWidth = 1000.0,
        groupOut = "o_orderpriority"),
      // Mirror of the binned rank selection: smallest bin whose
      // cumulative count reaches ceil(q·n), lower edge out.
      Some(
        """WITH b AS (
          | SELECT o_orderpriority AS g,
          |  CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin,
          |  COUNT(*) AS cnt
          | FROM orders GROUP BY 1, 2),
          |t AS (SELECT g, SUM(cnt) AS n FROM b GROUP BY 1),
          |c AS (SELECT g, bin, cnt,
          |  SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM b)
          |SELECT c.g AS o_orderpriority, CAST(t.n AS BIGINT) AS n,
          | CAST(MIN(CASE WHEN cum >= CEIL(0.5 * t.n) THEN bin END)
          |  AS DOUBLE) * 1000.0 AS p50,
          | CAST(MIN(CASE WHEN cum >= CEIL(0.9 * t.n) THEN bin END)
          |  AS DOUBLE) * 1000.0 AS p90
          |FROM c JOIN t ON c.g = t.g
          |GROUP BY 1, 2""".stripMargin)),

    // Multimodal: REAL image path — one PNG per document (closed-form
    // pixel field), decoded with javax.imageio in the feature kernel.
    // The oracle regenerates the pixels and replays the residue-class
    // sums, so a wrong byte anywhere in encode → decode → arithmetic
    // hash-mismatches.
    QuerySpec("q_mm_features", (s, dir) => {
      val media = Multimodal.syntheticImages(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"), size(col("feature")).as("dim"),
          element_at(col("feature"), 1).as("f0"),
          aggregate(col("feature"), lit(0L), (a, x) => a + x).as("fsum"))
    }, Some(
      // Regenerated-pixel replay of the REAL decode path: feature j is
      // the exact integer sum of channel bytes at flat index ≡ j (mod
      // 16); PNG is lossless, so the decoded bytes must equal the
      // closed-form field bit for bit.
      s"""WITH src AS (SELECT doc_id AS media_id FROM documents),
         |${pixelCtes("src")},
         |f AS (
         |  SELECT media_id, ((y * w + x) * 3 + c) % 16 AS j,
         |   SUM(v) AS fv
         |  FROM px GROUP BY 1, 2)
         |SELECT media_id, CAST(16 AS INT) AS dim,
         |  CAST(MAX(CASE WHEN j = 0 THEN fv END) AS BIGINT) AS f0,
         |  CAST(SUM(fv) AS BIGINT) AS fsum
         |FROM f GROUP BY media_id""".stripMargin)),

    // Multimodal: real resize (decode → exact block-average pool →
    // re-encode PNG) verified through a second decode — the oracle
    // replays the pooled pixels with integer floor division.
    QuerySpec("q_mm_resize", (s, dir) => {
      val media = Multimodal.syntheticImages(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractFeatures(Multimodal.resize(media, 8, 8), dim = 4)
        .select(col("media_id"),
          element_at(col("feature"), 1).as("f0"),
          aggregate(col("feature"), lit(0L), (a, x) => a + x).as("psum"))
    }, Some(
      // Pooled-pixel replay of the real resize: target cell (x·8 ÷ w,
      // y·8 ÷ h), channel mean with floor division, then the dim-4
      // residue-class feature sums over the pooled 8×8×3 stream.
      s"""WITH src AS (SELECT doc_id AS media_id FROM documents),
         |${pixelCtes("src")},
         |pool AS (
         |  SELECT media_id, (y * 8) // h AS j, (x * 8) // w AS i, c,
         |   SUM(v) // COUNT(*) AS pv
         |  FROM px GROUP BY 1, 2, 3, 4)
         |SELECT media_id,
         |  CAST(SUM(CASE WHEN ((j * 8 + i) * 3 + c) % 4 = 0
         |   THEN pv ELSE 0 END) AS BIGINT) AS f0,
         |  CAST(SUM(pv) AS BIGINT) AS psum
         |FROM pool GROUP BY media_id""".stripMargin)),

    // Multimodal: perceptual-hash image near-dup — average-hash bits
    // over real decoded pixels (integer cross-multiplied mean
    // comparison), identical-hash collapse + 4x16 banding, hamming <= 3
    // verify. Oracle rebuilds every hash bit from the regenerated
    // pixels and brute-forces the pairs, which also proves the
    // banding's pigeonhole completeness. Image content keys on
    // doc_id % 100000, so re-ingesting docs 0..24 under shifted ids
    // (the re-crawl scenario) yields byte-identical PNGs whose pHashes
    // must collapse onto the originals.
    QuerySpec("q_mm_phash", (s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"))
      val recrawl = base.filter(col("doc_id") < 25)
        .select((col("doc_id") + 100000L).as("doc_id"))
      val media = Multimodal.syntheticImages(
        base.unionByName(recrawl), "doc_id")
      Multimodal.phashDedup(media, maxHamming = 3)
    }, Some(phashOracle)),

    // Multimodal: frame sampling (every 2nd frame), frames per media.
    // Pure byte-slice plumbing (no stub decode), so it IS
    // SQL-expressible — oracle mirrors the int frame arithmetic.
    QuerySpec("q_mm_frames", (s, dir) => {
      val media = Multimodal.asMedia(Tables.load(s, dir, "documents"),
        "doc_id", "text", "video")
      Multimodal.sampleFrames(media, stride = 2)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(length(col("frame_bytes")).cast("long")).as("bytes_sampled"))
    }, Some(
      // asMedia: n_frames = length % 16 + 1; sampleFrames: frameLen =
      // greatest(length // n_frames, 1), frame i = substr(i*fl+1, fl),
      // keep i % 2 = 0 (fixture text is ASCII: char ops == byte ops).
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    length(text) % 16 + 1 AS nf,
        |    greatest(length(text) // (length(text) % 16 + 1), 1) AS fl
        |  FROM documents)
        |SELECT media_id,
        |  CAST(len(list_filter(range(0, nf), i -> i % 2 = 0)) AS BIGINT)
        |    AS n_sampled,
        |  CAST(list_sum(list_transform(list_filter(range(0, nf), i -> i % 2 = 0),
        |    i -> length(substr(text, CAST(i*fl + 1 AS INT), CAST(fl AS INT)))))
        |    AS BIGINT) AS bytes_sampled
        |FROM m""".stripMargin))
  )
}
