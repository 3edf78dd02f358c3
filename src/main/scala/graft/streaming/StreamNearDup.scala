package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Text
import graft.operators.Dedup

/** Online MinHash+LSH near-dup detection — the streaming form of
  * [[graft.operators.Dedup.minhashDedup]], for incremental crawl
  * ingestion: as each document arrives, report which already-ingested
  * documents it near-duplicates, without ever rescanning the corpus.
  *
  * Architecture: the signature stage is the SAME codegen'd column
  * pipeline as batch (tokens → distinct k-shingles → 64-hash MinHash →
  * 16 band hashes — stateless, so it runs identically under
  * micro-batches), then documents are exploded to their (band, bhash)
  * bucket keys and `flatMapGroupsWithState` keeps per-bucket state =
  * the (doc_id, signature) entries seen so far. A new arrival is
  * compared against its bucket's entries by SIGNATURE AGREEMENT
  * (matching minima / 64 — the standard unbiased Jaccard estimator);
  * agreement ≥ `threshold` emits a pair. Signatures, never documents,
  * sit in state: 64 longs per doc per bucket.
  *
  * Bounded state, bounded skew:
  *  - event-time TTL (`horizonUs`): a bucket idle past the watermark
  *    horizon is dropped whole — the "compare against documents from
  *    the recent crawl window" contract;
  *  - `maxBucket` caps entries stored per bucket; past the cap, new
  *    arrivals are still COMPARED (pairs are not lost) but not stored
  *    as future candidates — a saturated bucket is an exact-dup
  *    family, [[StreamDedup]]'s job to collapse upstream.
  *
  * Emission is at-least-once per pair (two docs can share several
  * band buckets); downstream exactly-once = `.distinct()` in batch or
  * a keyed [[StreamDedup.firstSeenStreaming]] on the pair key online.
  * Within a micro-batch, bucket rows are processed in (ts, doc_id)
  * order, so the output set is trigger-plan-independent.
  */
object StreamNearDup {

  /** Exploded bucket row: bucket key, doc, signature, event time. */
  private[streaming] case class BucketRow(
      band: Int, bhash: Long, docId: Long, sig: Seq[Long], ts: Long,
      ets: java.sql.Timestamp)

  /** Per-bucket state: stored (doc, signature) entries + last activity. */
  private[streaming] case class Bucket(
      ids: Seq[Long], sigs: Seq[Seq[Long]], lastTs: Long)

  /** Emitted near-dup pair (id_a < id_b), with the signature-agreement
    * Jaccard estimate that triggered it. */
  case class NearPair(id_a: Long, id_b: Long, est: Double)

  private def agreement(a: Seq[Long], b: Seq[Long]): Double = {
    var m = 0; var i = 0
    val n = a.length
    while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / n
  }

  private def core(rows: Dataset[BucketRow], threshold: Double,
                   maxBucket: Int, horizonUs: Long): Dataset[NearPair] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val timeout =
      if (horizonUs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(r => (r.band, r.bhash))
      .flatMapGroupsWithState[Bucket, NearPair](
        OutputMode.Append(), timeout) {
        (_: (Int, Long), it: Iterator[BucketRow], state: GroupState[Bucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // Deterministic within-batch order regardless of shuffle
            // arrival order: (ts, doc_id) ascending.
            val batch = it.toArray.sortBy(r => (r.ts, r.docId))
            var st = state.getOption.getOrElse(Bucket(Vector.empty,
              Vector.empty, Long.MinValue))
            val out = Vector.newBuilder[NearPair]
            batch.foreach { r =>
              var i = 0
              while (i < st.ids.length) {
                if (st.ids(i) != r.docId) {
                  val est = agreement(st.sigs(i), r.sig)
                  if (est >= threshold)
                    out += NearPair(math.min(st.ids(i), r.docId),
                      math.max(st.ids(i), r.docId), est)
                }
                i += 1
              }
              if (st.ids.length < maxBucket && !st.ids.contains(r.docId))
                st = Bucket(st.ids :+ r.docId, st.sigs :+ r.sig,
                  math.max(st.lastTs, r.ts))
              else
                st = st.copy(lastTs = math.max(st.lastTs, r.ts))
            }
            state.update(st)
            if (horizonUs > 0) {
              // Sliding TTL anchored at the bucket's last activity,
              // clamped above the watermark (a straggler bucket would
              // otherwise compute a timeout in the past).
              val base = st.lastTs / 1000L + horizonUs / 1000L
              state.setTimeoutTimestamp(
                math.max(base, state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Stateless signature + bucket-explode stage — identical column
    * pipeline to the batch LSH path. */
  private def explodeBuckets(docs: DataFrame, id: Column, text: Column,
                             ts: Column, k: Int, numHashes: Int,
                             bands: Int): DataFrame =
    docs
      .select(id.cast("long").as("docId"), Text.tokens(text).as("__toks"),
        ts.cast("long").as("ts"), col("__ets"))
      .select(col("docId"),
        array_distinct(Text.shinglesOfTokens(col("__toks"), k)).as("sh"),
        col("ts"), col("__ets"))
      .select(col("docId"),
        Dedup.minhashSignature(col("sh"), numHashes).as("sig"),
        col("ts"), col("__ets"))
      .select(col("docId"), col("sig"),
        posexplode(Dedup.bandHashes(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "bhash")),
        col("ts"), col("__ets"))
      .select(col("band"), col("bhash"), col("docId"), col("sig"),
        col("ts"), col("__ets").as("ets"))

  /** Batch form: one state scope per job — the full LSH
    * candidates-and-estimate pass through the stateful code path. */
  def nearDups(docs: DataFrame, id: Column, text: Column, tsMicros: Column,
               k: Int = 3, numHashes: Int = 64, bands: Int = 16,
               threshold: Double = 0.8,
               maxBucket: Int = 64): Dataset[NearPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    core(explodeBuckets(
        docs.withColumn("__ets", timestamp_micros(tsMicros.cast("long"))),
        id, text, tsMicros, k, numHashes, bands)
      .as[BucketRow], threshold, maxBucket, horizonUs = 0L)
  }

  /** Streaming form: bounded per-bucket state with an event-time TTL —
    * buckets idle past `horizon` (watermark time) are dropped whole. */
  def nearDupsStreaming(docs: DataFrame, id: Column, text: Column,
                        tsMicros: Column, watermark: String,
                        horizonUs: Long, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.8,
                        maxBucket: Int = 64): Dataset[NearPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    core(explodeBuckets(
        docs.withColumn("__ets", timestamp_micros(tsMicros.cast("long")))
          .withWatermark("__ets", watermark),
        id, text, tsMicros, k, numHashes, bands)
      .as[BucketRow], threshold, maxBucket, horizonUs)
  }
}
